"""End-to-end flagship pipeline: pages -> geocode -> tiling -> tileset,
with the per-row byte-identical-text invariant (BASELINE.json input_hint)."""

import pytest

from py3dtiles_spark.operators.tiling import TilingConfig
from py3dtiles_spark.plans.pipeline import tile_pages, verify_text_invariant
from py3dtiles_spark.sources.pages import generate_pages, geocode


def test_generate_pages_deterministic(spark):
    a = generate_pages(spark, 200).orderBy("url").collect()
    b = generate_pages(spark, 200).orderBy("url").collect()
    assert a == b
    assert len({r.url for r in a}) == 200
    r0 = a[0]
    assert r0.html.decode("utf-8") == f"<html><body>{r0.text}</body></html>"
    assert r0.lang in {"en", "fr", "de", "es", "zh"}


def test_geocode_ranges_and_determinism(spark):
    g = geocode(generate_pages(spark, 500))
    row = g.selectExpr("min(x)", "max(x)", "min(y)", "max(y)",
                       "min(z)", "max(z)").collect()[0]
    assert -180 <= row[0] and row[1] <= 180
    assert -85 <= row[2] and row[3] <= 85
    assert 0 <= row[4] and row[5] <= 50


def test_pipeline_end_to_end(spark, tmp_path):
    pages = generate_pages(spark, 4000)
    cfg = TilingConfig(split_threshold=500, in_kernel_threshold=1500,
                       checkpoint_dir=str(tmp_path / "ckpt"))
    res = tile_pages(spark, pages, cfg)

    assert res.pages_tiled.count() == 4000
    assert res.tiling.counters["points_assigned"] == 4000
    # per-row invariant: byte-identical text per url
    assert verify_text_invariant(pages, res.pages_tiled) == 0

    ts = res.tileset_docs["tileset.json"]
    assert ts["root"]["refine"] == "REPLACE"
    n_tiles = res.tiles.count()
    assert n_tiles >= 1
    # rollup: no tile below merge threshold except possibly the root
    small = (res.tiles.filter("point_count < 100 and tile_id <> ''")).count()
    assert small == 0


def test_pipeline_skew_variant(spark, tmp_path):
    """Megacity hot cells must still complete (per-cell fan-out + deeper
    recursion around hot spots)."""
    pages = generate_pages(spark, 3000)
    cfg = TilingConfig(split_threshold=400, in_kernel_threshold=1000,
                       checkpoint_dir=str(tmp_path / "skew"))
    res = tile_pages(spark, pages, cfg, skew=True)
    assert res.tiling.counters["points_assigned"] == 3000
    # the tile histogram is skewed: megacity tiles are much hotter than the
    # uniform background, yet the run completes with exact counts
    counts = sorted(r.point_count for r in res.tiles.collect())
    assert counts[-1] > 3 * counts[len(counts) // 2]


def test_salted_join_matches_plain(spark):
    """Salted equi-join result == plain join on a zipfian-hot key, and
    the join runs on (key, _salt) so a hot key spreads across reducers."""
    from py3dtiles_spark.operators.skew import salted_join
    from pyspark.sql import functions as F
    big = spark.range(0, 20000).select(
        F.col("id"),
        # 70% of rows hit key 0 — the hot-domain shape
        F.when(F.pmod("id", F.lit(10)) < 7, 0)
         .otherwise(F.pmod("id", F.lit(50))).cast("long").alias("k"))
    small = spark.createDataFrame(
        [(int(i), f"meta{i}") for i in range(50)], "k long, meta string")
    got = salted_join(big, small, "k", n_salt=8)
    plain = big.join(small, "k")
    assert got.count() == plain.count() == 20000
    assert got.exceptAll(plain).count() == 0
    assert plain.exceptAll(got).count() == 0
    assert "_salt" not in got.columns


def test_zorder_layout_prunes_files(spark, tmp_path):
    """Z-order clustering must (a) keep rows identical and (b) make
    per-file x/y min-max boxes tight enough that a small box predicate
    touches a small fraction of files — the parquet data-skipping win a
    linear sort cannot give on the second column."""
    import pyarrow.parquet as pq
    import glob
    from py3dtiles_spark.operators.layout import zorder_layout
    from pyspark.sql import functions as F
    df = spark.range(0, 40000).select(
        F.col("id"),
        (F.pmod(F.xxhash64("id"), F.lit(10000)) / 100.0).alias("x"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10000)) / 100.0).alias("y"))
    n_files = 16
    zed = zorder_layout(df, ["x", "y"], [(0.0, 100.0), (0.0, 100.0)],
                        n_files)
    out = str(tmp_path / "z")
    zed.write.parquet(out)
    # rows unchanged
    back = spark.read.parquet(out)
    assert back.count() == 40000
    assert back.exceptAll(df).count() == 0
    # per-file bbox area: z-ordered files must be far tighter than the
    # unclustered layout (each file ~ the full domain)
    def file_boxes(path):
        boxes = []
        for f in glob.glob(path + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            xmin = ymin = float("inf"); xmax = ymax = float("-inf")
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    if st is None:
                        continue
                    if name == "x":
                        xmin, xmax = min(xmin, st.min), max(xmax, st.max)
                    if name == "y":
                        ymin, ymax = min(ymin, st.min), max(ymax, st.max)
            boxes.append((xmin, xmax, ymin, ymax))
        return boxes
    plain_out = str(tmp_path / "p")
    df.repartition(n_files).write.parquet(plain_out)
    area = lambda bs: sum((x1 - x0) * (y1 - y0) for x0, x1, y0, y1 in bs)
    z_area, p_area = area(file_boxes(out)), area(file_boxes(plain_out))
    assert z_area < p_area * 0.35        # >=65% tighter file bboxes
    # a 10x10 box predicate overlaps few z-files, ~all plain files
    def touched(bs):
        return sum(1 for x0, x1, y0, y1 in bs
                   if x1 >= 40 and x0 <= 50 and y1 >= 40 and y0 <= 50)
    assert touched(file_boxes(out)) <= n_files // 2
    assert touched(file_boxes(plain_out)) == n_files


def test_read_pending_hive_checkpoint(spark, tmp_path):
    """A level checkpoint is hive-partitioned by `accepted`: pending rows
    come from the accepted=false subdir, and a fully-accepted level (no
    such subdir) reads as empty rather than failing."""
    from py3dtiles_spark.operators.tiling import _read_pending
    rows = [(i, float(i), 0.0, 0.0, "0", i % 2 == 0) for i in range(20)]
    df = spark.createDataFrame(
        rows, "point_id long, x float, y float, z float, "
              "tile_id string, accepted boolean")
    hive = str(tmp_path / "hive_out")
    df.write.partitionBy("accepted").parquet(hive)
    pend = _read_pending(spark, hive)
    assert pend.count() == 10
    assert "accepted" not in pend.columns
    alldone = str(tmp_path / "done_out")
    df.filter("accepted").write.partitionBy("accepted").parquet(alldone)
    assert _read_pending(spark, alldone).count() == 0


def test_salted_join_rejects_outer(spark):
    from py3dtiles_spark.operators.skew import salted_join
    import pytest as _pytest
    df = spark.range(5).withColumnRenamed("id", "k")
    with _pytest.raises(ValueError, match="outer"):
        salted_join(df, df, "k", how="full")


def test_zorder_bounds_length_check():
    from py3dtiles_spark.operators.layout import zorder_key_expr
    import pytest as _pytest
    with _pytest.raises(ValueError, match="bounds"):
        zorder_key_expr(["x", "y", "z"], [(0.0, 1.0), (0.0, 1.0)])
