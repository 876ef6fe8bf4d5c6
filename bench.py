"""Benchmark harness. Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]:
- flagship_tiling: docs/sec through the engine's points -> tileset plan
  (plans/pipeline.tile_points: geocode -> octree assignment -> small-tile
  rollup -> tiles table -> tileset.json) over a deterministically
  generated Common-Crawl-style pages table ($SPARK_GRAFT_BENCH_DOCS rows,
  default 300000, 30% skewed into 3 megacity cells)
- neardup_pairs / pip_polygon / tiling_octree / simhash_neardup /
  feature_quadtree / vector_b3dm / ... : __spark_entry__.queries() entries
  over the driver testdata tables
"""

from __future__ import annotations

import ctypes
import json
import mmap
import os
import shutil
import sys
import tempfile
import threading
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "300000"))


def _sentinel(threads: int = 8, mb_per_thread: int = 16) -> float:
    """Host-health probe: fresh-page memset throughput in GB/s (trimmed
    scripts/fault_bench.py). This VM's kernel serializes first-touch page
    faults (~65 us each) in episodes that inflate ANY alloc-heavy Spark
    stage 2-20x; timing the probe right before each query makes those
    episodes visible IN the bench output instead of being argued about
    after the fact. Healthy window ~>4 GB/s; a serialized episode
    collapses this to <0.5 GB/s. ~0.05 s healthy, ~2 s worst-case."""
    n_bytes = mb_per_thread * 1024 * 1024
    bufs = [mmap.mmap(-1, n_bytes) for _ in range(threads)]

    def _memset(buf):
        addr = ctypes.addressof(ctypes.c_char.from_buffer(buf))
        ctypes.memset(addr, 1, n_bytes)          # GIL released in the call

    ts = [threading.Thread(target=_memset, args=(b,)) for b in bufs]
    t0 = time.perf_counter()
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    wall = time.perf_counter() - t0
    for b in bufs:
        b.close()
    return round(threads * n_bytes / 1e9 / wall, 3)


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    # r5: THP+pretouch is the benchmarked default (BENCH.md r4 probes:
    # +25% on JVM-native stages, identical results) — must be set before
    # the JVM launches; export SPARK_GRAFT_PRETOUCH=0 to compare without
    os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    import __spark_entry__ as entrymod
    from py3dtiles_spark.operators.tiling import TilingConfig
    from py3dtiles_spark.plans.pipeline import tile_points
    from py3dtiles_spark.session import get_spark
    from py3dtiles_spark.sources.pages import generate_pages, pages_as_points

    spark = get_spark("bench", cpus=CPUS, shuffle_partitions=2 * CPUS)
    timings: dict[str, float] = {}
    extra: dict[str, float] = {}
    sentinel: dict[str, float] = {"start": _sentinel()}

    # ---- flagship: pages -> tileset.json --------------------------------
    # warmup: a small end-to-end build first (codegen, Python worker pool,
    # allocator high-water marks) so the timed run measures the steady
    # state a long-lived executor delivers, not JVM cold-start
    warm_pts = pages_as_points(generate_pages(spark, 30_000), skew=True)
    warm_ckpt = tempfile.mkdtemp()
    tile_points(spark, warm_pts, TilingConfig(checkpoint_dir=warm_ckpt))
    spark.catalog.clearCache()
    shutil.rmtree(warm_ckpt, ignore_errors=True)

    ckpt = tempfile.mkdtemp(prefix="bench_ckpt_")
    sentinel["flagship_tiling"] = _sentinel()
    t0 = time.time()
    points = pages_as_points(generate_pages(spark, BENCH_DOCS), skew=True)
    res = tile_points(spark, points, TilingConfig(checkpoint_dir=ckpt))
    counters = res.tiling.counters
    assert counters["points_assigned"] == BENCH_DOCS, counters
    assert "tileset.json" in res.tileset_docs
    timings["flagship_tiling"] = round(time.time() - t0, 3)
    extra["docs_per_sec"] = round(BENCH_DOCS / timings["flagship_tiling"], 1)
    shutil.rmtree(ckpt, ignore_errors=True)

    # ---- operator headliners over driver testdata -----------------------
    # one discarded warmup per query (Python worker pool + codegen spin-up
    # was 2-6x the steady-state cost and made single-shot numbers noise:
    # r1->r2 "regression" on neardup_pairs was exactly this), then the
    # median of RUNS warm executions, min/max spread recorded
    RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    qs = entrymod.queries()
    for name in ["neardup_pairs", "pip_polygon", "tiling_octree",
                 "simhash_neardup", "feature_quadtree", "vector_b3dm",
                 "s2_cells", "raster_cells", "knn_join",
                 "knn_join_bucketed", "geohash_cells", "tfidf_terms",
                 "utm_convert", "llm_pipeline", "substring_dup",
                 "unigram_logprob"]:
        n = qs[name](spark, SF_DIR).count()          # warmup, keep rows
        sentinel[name] = _sentinel()
        ts = []
        for _ in range(RUNS):
            t0 = time.time()
            qs[name](spark, SF_DIR).count()
            ts.append(time.time() - t0)
        ts.sort()
        timings[name] = round(ts[len(ts) // 2], 3)
        extra[f"{name}_rows"] = n
        extra[f"{name}_spread"] = [round(ts[0], 3), round(ts[-1], 3)]

    sentinel["end"] = _sentinel()
    # host_factor per query: how degraded the host was at that query's
    # window relative to the run's best window (>=1.0; ~1 means clean,
    # >>1 means a serialized-fault episode — divide the timing by it for
    # a rough normalization, or just distrust that row). The memory-
    # bandwidth probe is a proxy, not a law: it flags episodes, the raw
    # timings stay the numbers of record.
    best = max(sentinel.values())
    host_factor = {k: round(best / v, 2) for k, v in sentinel.items()
                   if k in timings}
    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(json.dumps({
        "metric": "bench_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "bench_docs": BENCH_DOCS,
        "sentinel_gbps": sentinel,
        "host_factor": host_factor,
        **extra,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
