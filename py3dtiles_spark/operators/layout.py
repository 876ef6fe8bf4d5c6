"""Z-order (Morton) key for scan pruning and spatial bucketing.

Parquet/Iceberg data skipping works off per-file and per-row-group
min/max statistics: a multi-dimensional predicate can only prune files if
rows that are close in THAT space are close in file order. Interleaving
the quantized bits of all predicate columns (Z-order — the same Morton
construction as the tiler's grid key, functions/geometry xyz_to_key, and
the S2 quad id) bounds every key range to a small hyper-rectangle.

The key is ONE native expression, no UDF: `zorder_key_expr` feeds
`repartitionByRange` + `sortWithinPartitions` for a clustered write (or
Iceberg `sort_order`), and its coarse prefix is the spatial bucket of
`zorder_key` and `llm_pipeline` in `__spark_entry__.py`.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

MAX_TOTAL_BITS = 62        # signed long, sign bit free


def zorder_key_expr(cols: list[str], bounds: list[tuple[float, float]],
                    bits: int = 16) -> Column:
    """Interleaved Morton key over 2+ numeric columns as one native
    expression. `bounds` gives (lo, hi) per column (values clamp);
    `bits` is the per-column resolution. Total bits = len(cols)*bits must
    fit a signed long."""
    if len(cols) < 2:
        raise ValueError("z-order needs >= 2 columns")
    if len(bounds) != len(cols):
        raise ValueError(
            f"bounds has {len(bounds)} entries for {len(cols)} cols — "
            "zip would silently drop trailing columns from the key")
    if len(cols) * bits > MAX_TOTAL_BITS:
        raise ValueError(
            f"{len(cols)} cols x {bits} bits > {MAX_TOTAL_BITS}")
    quant = []
    n = 1 << bits
    for c, (lo, hi) in zip(cols, bounds):
        raw = F.floor((F.col(c).cast("double") - lo) / (hi - lo) * n) \
            .cast("long")
        quant.append(F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1)))
    key = F.lit(0).cast("long")
    d = len(cols)
    for b in range(bits):
        for ci, qc in enumerate(quant):
            # bit b (from LSB) of column ci lands at position b*d + ci
            key = key.bitwiseOR(F.shiftleft(
                F.shiftright(qc, b).bitwiseAND(F.lit(1)), b * d + ci))
    return key
