"""Raster <-> vector tile operators (north-rule "raster<->vector ... tile
rollups").

Raster model: a sparse cell table (cell_x long, cell_y long, value
double) on a uniform grid of `cell_size` — the Spark-native raster at
100 TB (dense arrays don't shard; sparse cell rows shuffle, roll up and
join like any other table, and empty sky costs nothing).

- rasterize_rects: axis-aligned footprints -> covered cells, pure native
  (bounded sequence-explode per feature + center-in-rect rule). The
  fan-out per feature is area/cell_size^2, so partitions stay bounded by
  choosing cell_size; no driver involvement.
- raster_pyramid: 2x2 rollup per level, one groupBy per level, map-side
  partial aggregation; the classic tile-pyramid build.
- vectorize_raster: raster -> rectangle cover, ZERO Python: two cascaded
  gaps-and-islands windows (merge horizontal runs per row, then merge
  vertically aligned runs) — the inverse direction expressed entirely in
  Spark SQL semantics, DuckDB-oracle-checkable.

Reference tie-in: the reference's geometry path is vector-only
(wkb_utils.py triangle soup); raster rollup is the pages-payload analogue
of its LOD pyramid (node.py geometricError halving per level).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _cell_range(lo_col, hi_col, cell_size: float):
    """Cells whose CENTER falls in [lo, hi): k in
    [ceil(lo/cs - 0.5), ceil(hi/cs - 0.5) - 1]."""
    lo_k = F.ceil(lo_col / cell_size - 0.5).cast("long")
    hi_k = (F.ceil(hi_col / cell_size - 0.5) - 1).cast("long")
    return lo_k, hi_k


def explode_rect_cells(rects: DataFrame, cell_size: float,
                       x0="x0", y0="y0", x1="x1", y1="y1") -> DataFrame:
    """One row per (input row, covered cell): adds cell_x/cell_y columns,
    every other column passes through. Coverage rule: cell CENTER inside
    the rectangle (GDAL ALL_TOUCHED=FALSE analogue); empty ranges guarded
    (a rect thinner than a cell may cover nothing). Pure native and
    stateless, so it composes into any aggregation (rasterize_rects)."""
    kx0, kx1 = _cell_range(F.col(x0), F.col(x1), cell_size)
    ky0, ky1 = _cell_range(F.col(y0), F.col(y1), cell_size)
    empty = F.array().cast("array<long>")
    xs = F.when(kx1 >= kx0, F.sequence(kx0, kx1)).otherwise(empty)
    ys = F.when(ky1 >= ky0, F.sequence(ky0, ky1)).otherwise(empty)
    return (rects.withColumn("_xs", xs).withColumn("_ys", ys)
            .withColumn("cell_x", F.explode("_xs"))
            .withColumn("cell_y", F.explode("_ys"))
            .drop("_xs", "_ys"))


def rasterize_rects(rects: DataFrame, cell_size: float,
                    value_col: str | None = None,
                    x0="x0", y0="y0", x1="x1", y1="y1") -> DataFrame:
    """Axis-aligned rectangles -> (cell_x, cell_y, value) with value =
    sum of covering features' value_col (1.0 if None)."""
    val = (F.col(value_col) if value_col else F.lit(1.0)).cast("double")
    cells = explode_rect_cells(rects.select(val.alias("_v"),
                                            F.col(x0).alias("x0"),
                                            F.col(y0).alias("y0"),
                                            F.col(x1).alias("x1"),
                                            F.col(y1).alias("y1")),
                               cell_size)
    return (cells.groupBy("cell_x", "cell_y")
            .agg(F.sum("_v").alias("value")))


def raster_pyramid(cells: DataFrame, levels: int,
                   agg: str = "sum") -> DataFrame:
    """Tile-pyramid rollup: level 0 = input, level k halves resolution by
    2x2 aggregation (sum | max | mean of the 4 children). One groupBy per
    level with map-side combine; returns the full pyramid with a `level`
    column. floor-division indexing keeps negative cells correct."""
    agg_fn = {"sum": F.sum, "max": F.max, "mean": F.avg}[agg]
    out = [cells.select(F.lit(0).alias("level"), "cell_x", "cell_y",
                        "value")]
    cur = out[0]
    for lv in range(1, levels + 1):
        cur = (cur.groupBy(
                   F.floor(F.col("cell_x") / 2.0).cast("long").alias("cell_x"),
                   F.floor(F.col("cell_y") / 2.0).cast("long").alias("cell_y"))
               .agg(agg_fn("value").alias("value"))
               .select(F.lit(lv).alias("level"), "cell_x", "cell_y", "value"))
        out.append(cur)
    from functools import reduce
    return reduce(DataFrame.unionByName, out)


def vectorize_raster(cells: DataFrame,
                     min_value: float | None = None) -> DataFrame:
    """Raster -> vector rectangle cover, zero Python. Two cascaded
    gaps-and-islands passes:

    1. per row (cell_y), consecutive cell_x runs collapse to segments
       (island key = cell_x - row_number over the row) — one window + agg
    2. vertically adjacent segments with identical [x0, x1] collapse to
       rectangles (island key = cell_y - row_number over the segment
       column) — second window + agg

    Returns (x0, x1, y0, y1, n_cells) in CELL indices (inclusive). The
    greedy row-merge cover is deterministic and exact: union of output
    rectangles == input cell set, pairwise disjoint."""
    f = cells
    if min_value is not None:
        f = f.filter(F.col("value") >= min_value)
    w1 = Window.partitionBy("cell_y").orderBy("cell_x")
    runs = (f.withColumn("_k", F.col("cell_x") - F.row_number().over(w1))
            .groupBy("cell_y", "_k")
            .agg(F.min("cell_x").alias("x0"), F.max("cell_x").alias("x1"))
            .drop("_k"))
    w2 = Window.partitionBy("x0", "x1").orderBy("cell_y")
    return (runs.withColumn("_k", F.col("cell_y") - F.row_number().over(w2))
            .groupBy("x0", "x1", "_k")
            .agg(F.min("cell_y").alias("y0"), F.max("cell_y").alias("y1"))
            .drop("_k")
            .withColumn("n_cells", (F.col("x1") - F.col("x0") + 1)
                        * (F.col("y1") - F.col("y0") + 1)))
