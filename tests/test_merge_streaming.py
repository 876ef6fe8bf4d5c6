import pytest

from py3dtiles_spark.operators.merge import merge_tilesets, overview_sample
from py3dtiles_spark.sources.pages import generate_pages
from py3dtiles_spark.streaming.pipeline import run_stream_to_memory


def _six_tilesets():
    # six disjoint mini-clouds (FIXTURES.md §5)
    rows = []
    for i in range(6):
        cx, cy = (i % 3) * 100.0, (i // 3) * 100.0
        rows.append({"tileset_id": i,
                     "min_x": cx, "min_y": cy, "min_z": 0.0,
                     "max_x": cx + 10, "max_y": cy + 10, "max_z": 5.0,
                     "point_count": 1000 + i})
    return rows


def test_merge_routes_by_center_quadrant():
    doc = merge_tilesets(_six_tilesets(), min_diag=1.0)
    assert doc["asset"]["version"] == "1.0"
    root = doc["root"]
    assert root["refine"] == "ADD"
    # geometricError = sum of children (merger.py:229)
    assert root["geometricError"] == pytest.approx(
        sum(c["geometricError"] for c in root["children"]))

    # every leaf content uri appears exactly once
    uris = []
    def walk(n):
        if "content" in n:
            uris.append(n["content"]["uri"])
        for c in n.get("children", []):
            walk(c)
    walk(root)
    assert sorted(uris) == [f"tileset_{i}.json" for i in range(6)]


def test_merge_single_tileset_is_leaf():
    doc = merge_tilesets(_six_tilesets()[:1])
    assert doc["root"]["content"]["uri"] == "tileset_0.json"


def test_overview_sample_ratio_and_determinism(spark):
    df = spark.range(10000).withColumnRenamed("id", "point_id")
    s1 = overview_sample(df, total=10000, cap=2000)
    s2 = overview_sample(df, total=10000, cap=2000)
    n = s1.count()
    assert abs(n - 2000) < 300          # ratio = 0.2 within tolerance
    assert s1.collect() == s2.collect()  # hash-ordered, reproducible
    half = overview_sample(df, total=10000, cap=999999).count()
    assert abs(half - 5000) < 400       # capped at 0.5


def test_streaming_windowed_cell_counts(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    generate_pages(spark, 500).write.parquet(src)
    result = run_stream_to_memory(spark, src, query_name="t_cells")
    rows = result.collect()
    assert sum(r.docs for r in rows) == 500
    assert all(r.window_start is not None and r.cell_id is not None
               for r in rows)


def test_streaming_raster_rollup(spark, tmp_path):
    """Streaming vector->raster: footprint cells match the BATCH
    rasterization of the same pages exactly (stateless explode + window
    agg is replay-deterministic)."""
    from py3dtiles_spark.operators.raster import rasterize_rects
    from py3dtiles_spark.streaming.pipeline import (
        cell_assignments_stream, stream_pages_from_files,
        windowed_raster_stream)

    src = str(tmp_path / "raster_src")
    pages = generate_pages(spark, 300)
    pages.write.parquet(src)

    stream = cell_assignments_stream(stream_pages_from_files(spark, src))
    cells = windowed_raster_stream(stream, footprint_deg=1.0, cell_size=0.25)
    q = (cells.writeStream.format("memory").queryName("t_raster")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    # synthetic warc_ts spans many tumbling windows: sum them per cell
    got: dict = {}
    for r in spark.table("t_raster").collect():
        assert r.window_start is not None
        key = (r.cell_x, r.cell_y)
        got[key] = got.get(key, 0) + r.docs

    from pyspark.sql import functions as F
    from py3dtiles_spark.sources.pages import geocode
    g = geocode(pages)
    rects = g.select((F.col("x") - 0.5).alias("x0"),
                     (F.col("x") + 0.5).alias("x1"),
                     (F.col("y") - 0.5).alias("y0"),
                     (F.col("y") + 0.5).alias("y1"))
    want = {(r.cell_x, r.cell_y): int(r.value)
            for r in rasterize_rects(rects, 0.25).collect()}
    assert got == want


def test_streaming_checkpoint_restart_exactly_once(spark, tmp_path):
    """VERDICT r3 #7: kill-and-resume on a real checkpointLocation. Run 1
    processes drops 1-2 into a parquet sink; the query stops; run 2 is a
    NEW query over the same checkpoint with drops 3-4 added. The source
    log must skip the already-committed files (no duplicated windows) and
    the watermark must resume from the checkpoint (no lost windows): the
    final sink equals the batch windowed agg over all events, filtered to
    windows finalized under the resumed watermark, with zero duplicate
    (window_start, cell_id) keys."""
    import glob
    import shutil
    from datetime import datetime
    from py3dtiles_spark.streaming.pipeline import windowed_cell_counts
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    schema = "warc_ts timestamp, cell_id long, lang string"

    def drop(name, hour, n):
        rows = [(datetime(2025, 1, 1, hour, (i * 7) % 60), i % 3,
                 ["en", "fr"][i % 2]) for i in range(n)]
        df = spark.createDataFrame(rows, schema)
        stage = tmp_path / "stage" / name
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = glob.glob(str(stage / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{name}.parquet")
        return rows

    def run():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)   # one file per batch
                  .parquet(str(src)))
        counts = windowed_cell_counts(stream, window="10 minutes",
                                      watermark="0 seconds")
        q = (counts.writeStream.format("parquet")
             .option("path", str(tmp_path / "sink"))
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    all_rows = []
    all_rows += drop("d1", 0, 20)
    all_rows += drop("d2", 1, 20)
    run()                                   # run 1: drops 1-2, then stop
    n_after_run1 = spark.read.schema(
        "window_start timestamp, window_end timestamp, cell_id long, "
        "docs long, langs long").parquet(str(tmp_path / "sink")).count()
    all_rows += drop("d3", 2, 20)
    all_rows += drop("d4", 4, 3)            # sentinel: flushes hour 0-2
    run()                                   # run 2: RESUME from checkpoint

    got = spark.read.parquet(str(tmp_path / "sink"))
    assert got.count() > n_after_run1       # resume emitted new windows
    # exactly-once: no window emitted twice across the restart boundary
    assert got.count() == got.select("window_start", "cell_id") \
        .distinct().count()
    # completeness: every window finalized under the final watermark is
    # present with the exact batch-computed counts (the terminal no-data
    # micro-batch advances the watermark to the max event time seen, so
    # final watermark = max over ALL drops)
    wm = max(r[0] for r in all_rows)
    batch = spark.createDataFrame(all_rows, schema)
    want = {(r[0], r.cell_id): r.docs for r in
            (batch.groupBy(F.window("warc_ts", "10 minutes").alias("w"),
                           "cell_id")
             .agg(F.count(F.lit(1)).alias("docs"))
             .select(F.col("w.start").alias("ws"),
                     F.col("w.end").alias("we"), "cell_id", "docs")
             .collect()) if r.we <= wm}
    have = {(r.window_start, r.cell_id): r.docs for r in got.collect()}
    assert have == want
    assert all(r.langs >= 1 for r in got.collect())


def test_dedup_stream_across_batches(spark, tmp_path):
    """Streaming exact dedup: duplicates arriving in LATER micro-batches
    (within the watermark horizon) are dropped — state persists across
    batches via the checkpoint — while distinct keys all survive."""
    import glob
    import shutil
    from datetime import datetime
    from py3dtiles_spark.streaming.pipeline import dedup_stream

    src = tmp_path / "src"
    src.mkdir()
    schema = "url string, warc_ts timestamp, text string"

    def drop(name, rows):
        df = spark.createDataFrame(rows, schema)
        stage = tmp_path / "stage" / name
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = glob.glob(str(stage / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{name}.parquet")

    t0 = datetime(2025, 1, 1, 0, 0)
    t5 = datetime(2025, 1, 1, 0, 5)
    drop("d1", [("u/a", t0, "ta"), ("u/b", t0, "tb"), ("u/a", t0, "ta")])
    drop("d2", [("u/a", t5, "ta2"),          # dup of batch-1 key -> drop
                ("u/c", t5, "tc")])          # new key -> keep
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    deduped = dedup_stream(stream, key_cols=("url",), watermark="1 hour")
    q = (deduped.writeStream.format("parquet")
         .option("path", str(tmp_path / "sink"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.read.parquet(str(tmp_path / "sink")).collect()
    assert sorted(r.url for r in rows) == ["u/a", "u/b", "u/c"]
    texts = {r.url: r.text for r in rows}
    assert texts["u/a"] == "ta"            # FIRST record kept


def test_curate_stream_end_to_end(spark, tmp_path):
    """Streaming curation: token-floor gate, cross-batch content dedup,
    and per-record eval decontamination — duplicates in a LATER batch
    drop via checkpointed state, eval-overlapping docs never emit."""
    import glob
    import shutil
    from datetime import datetime

    from py3dtiles_spark.streaming.pipeline import curate_stream

    src = tmp_path / "src"
    src.mkdir()
    schema = "url string, warc_ts timestamp, text string, lang string"

    def drop(name, rows):
        df = spark.createDataFrame(rows, schema)
        stage = tmp_path / "stage" / name
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = glob.glob(str(stage / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{name}.parquet")

    long = "w%d " * 12
    keep_a = (long % tuple(range(12))).strip()
    keep_b = ("x%d " * 12 % tuple(range(12))).strip()
    eval_text = ("e%d " * 12 % tuple(range(12))).strip()
    t0 = datetime(2025, 1, 1, 0, 0)
    t5 = datetime(2025, 1, 1, 0, 5)
    drop("d1", [("u/a", t0, keep_a, "en"),
                ("u/short", t0, "too short", "en"),        # gated out
                ("u/eval", t0, eval_text, "en")])          # contaminated
    drop("d2", [("u/a2", t5, keep_a, "en"),                # dup text
                ("u/b", t5, keep_b, "en")])
    ev = spark.createDataFrame([(0, eval_text)], "doc_id long, text string")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    kept = curate_stream(stream, ev, shingle_tokens=8, min_tokens=10)
    q = (kept.writeStream.format("parquet")
         .option("path", str(tmp_path / "sink"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.read.parquet(str(tmp_path / "sink")).collect()
    assert sorted(r.url for r in rows) == ["u/a", "u/b"]
    assert all(r.n_tokens == 12 for r in rows)


def test_curate_stream_eval_hash_guard(spark, tmp_path):
    """ADVICE r6: corpus-sized eval sets must be rejected instead of
    silently inflating every task's serialized plan."""
    from py3dtiles_spark.streaming.pipeline import curate_stream

    ev = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string")
    stream = (spark.readStream.format("rate").option("rowsPerSecond", 1)
              .load()
              .selectExpr("timestamp as warc_ts", "'u' as url",
                          "'some text here' as text", "'en' as lang"))
    with pytest.raises(ValueError, match="max_eval_hashes"):
        curate_stream(stream, ev, shingle_tokens=2, max_eval_hashes=3)
