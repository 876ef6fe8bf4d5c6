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


def test_failed_pnts_write_leaves_no_tileset(spark, tmp_path, monkeypatch):
    """tileset.json is written last: a run whose pnts write fails leaves
    no tileset.json pointing at missing tiles."""
    from py3dtiles_spark.plans import pipeline
    from py3dtiles_spark.sources.pages import pages_as_points

    def fail(pnts_df, out_dir):
        raise OSError("disk full")

    monkeypatch.setattr(pipeline, "write_pnts_files", fail)
    out = tmp_path / "out"
    cfg = TilingConfig(split_threshold=500, in_kernel_threshold=1500)
    with pytest.raises(OSError, match="disk full"):
        pipeline.tile_points(spark, pages_as_points(generate_pages(spark, 2000)),
                             cfg, out_dir=str(out), write_pnts=True)
    assert not (out / "tileset.json").exists()


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
