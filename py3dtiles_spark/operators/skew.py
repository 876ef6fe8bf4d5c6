"""Skew-handling join/agg utilities — the explicit salting tools for the
zipfian keys every web corpus has (hot domains, megacity cells, viral
urls). AQE's runtime skew-join split handles most cases for free (the
engine enables AQE in session.get_spark); these are the deterministic,
plan-time tools for when a key is ALWAYS hot and you don't want to rely
on runtime stats — e.g. a known head-domain join at 100 TB.

`salted_join` is pure DataFrame composition (no UDF, no shuffle beyond
the salted exchange itself) and deterministic: the salt is
pmod(xxhash64(row-identity), n_salt), never rand().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_join(big: DataFrame, small: DataFrame, key: str,
                n_salt: int = 8, how: str = "inner",
                salt_by: str | None = None) -> DataFrame:
    """Equi-join where `key` is skewed on the BIG side: the big side gets
    a deterministic salt in [0, n_salt) derived from `salt_by` (a unique
    row column; defaults to all big-side columns), the small side is
    replicated n_salt times via a literal explode, and the join runs on
    (key, salt) — a hot key's rows now land in n_salt reducers instead of
    one. Result rows are identical to big.join(small, key, how) for
    inner/left joins ONLY: right/full outer would emit one null-padded
    row PER SALT REPLICA for every unmatched small-side key (n_salt
    duplicates), so those modes are rejected.

    Cost model: small side ships n_salt copies (use for dim-table-sized
    smalls; for broadcastable smalls just broadcast — salting is for the
    in-between: too big to broadcast, key too hot for one reducer)."""
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left joins, not {how!r}: an "
            "outer small side would duplicate unmatched rows n_salt "
            "times (one per replica)")
    salt_src = (F.xxhash64(*[F.col(c) for c in big.columns])
                if salt_by is None else F.xxhash64(F.col(salt_by)))
    b = big.withColumn("_salt", F.pmod(salt_src, F.lit(n_salt)).cast("int"))
    s = (small.withColumn(
            "_salt",
            F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))))
    out = b.join(s, [key, "_salt"], how)
    return out.drop("_salt")
