"""Raster<->vector operators: coverage rule, pyramid conservation,
and rectangle-cover exactness."""

from pyspark.sql import functions as F

from py3dtiles_spark.operators.raster import (
    rasterize_rects, raster_pyramid, vectorize_raster)


def _rects(spark):
    rows = [
        (1, 0.0, 0.0, 4.0, 2.0, 2.0),     # 4x2 cells at cs=1
        (2, 10.0, 10.0, 10.4, 10.4, 1.0),  # thinner than a cell: 0 cells
        (3, 2.0, 1.0, 6.0, 3.0, 1.0),      # overlaps rect 1
        (4, -3.0, -2.0, -1.0, 0.0, 5.0),   # negative quadrant
    ]
    return spark.createDataFrame(
        rows, "geom_id long, x0 double, y0 double, x1 double, y1 double,"
              " weight double")


def test_rasterize_rects_coverage(spark):
    cells = rasterize_rects(_rects(spark), 1.0, value_col="weight")
    got = {(r.cell_x, r.cell_y): r.value for r in cells.collect()}
    # rect 1 covers centers (0.5..3.5, 0.5..1.5) -> x 0..3, y 0..1
    assert got[(0, 0)] == 2.0 and got[(3, 0)] == 2.0
    # overlap zone: rect1 (w=2) + rect3 (w=1) at x 2..3, y 1
    assert got[(2, 1)] == 3.0
    # rect 3 alone: x 4..5, y 1..2
    assert got[(5, 2)] == 1.0
    # rect 2 covers no center
    assert not any(cx >= 10 for cx, _ in got)
    # negative cells: rect 4 -> x -3..-2, y -2..-1
    assert got[(-3, -2)] == 5.0 and got[(-2, -1)] == 5.0
    n1 = 4 * 2 + 4 * 2 + 2 * 2   # rects 1, 3, 4 cell counts
    total = sum(1 for _ in got)
    assert total == n1 - 2 * 1    # minus the 2-cell overlap strip


def test_pyramid_conserves_sum_and_floors_negatives(spark):
    cells = rasterize_rects(_rects(spark), 1.0, value_col="weight")
    pyr = raster_pyramid(cells, levels=3, agg="sum")
    sums = {r.level: r.s for r in
            pyr.groupBy("level").agg(F.sum("value").alias("s")).collect()}
    assert sums[0] == sums[1] == sums[2] == sums[3]
    lvl1 = {(r.cell_x, r.cell_y) for r in
            pyr.filter("level = 1").collect()}
    assert (-2, -1) in lvl1          # floor(-3/2) = -2, not trunc -1


def test_vectorize_exact_cover(spark):
    cells = rasterize_rects(_rects(spark), 1.0)
    rects = vectorize_raster(cells).collect()
    # rectangles reproduce the cell set exactly and disjointly
    covered = set()
    for r in rects:
        for cx in range(r.x0, r.x1 + 1):
            for cy in range(r.y0, r.y1 + 1):
                assert (cx, cy) not in covered
                covered.add((cx, cy))
    original = {(r.cell_x, r.cell_y) for r in cells.collect()}
    assert covered == original
    # a solid block vectorizes to ONE rectangle
    solo = spark.createDataFrame(
        [(0, 0.0, 0.0, 8.0, 8.0, 1.0)],
        "geom_id long, x0 double, y0 double, x1 double, y1 double,"
        " weight double")
    one = vectorize_raster(rasterize_rects(solo, 1.0)).collect()
    assert len(one) == 1 and one[0].n_cells == 64


def test_vectorize_min_value_threshold(spark):
    cells = rasterize_rects(_rects(spark), 1.0, value_col="weight")
    high = vectorize_raster(cells, min_value=3.0).collect()
    # only the overlap strip (value 3.0) and rect-4 cells (5.0) survive
    kept = set()
    for r in high:
        for cx in range(r.x0, r.x1 + 1):
            for cy in range(r.y0, r.y1 + 1):
                kept.add((cx, cy))
    assert kept == {(2, 1), (3, 1), (-3, -2), (-3, -1), (-2, -2), (-2, -1)}
