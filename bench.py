"""Benchmark harness. Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]:
- flagship_tiling: docs/sec tiled end-to-end (geocode -> H3-style cell
  encode -> octree assignment -> tiles table) over a deterministically
  generated Common-Crawl-style pages table ($SPARK_GRAFT_BENCH_DOCS rows,
  default 300000, 30% skewed into 3 megacity cells)
- tileset_emit: BVH rollup + tileset.json from the flagship's output
- neardup_pairs / knn_top5 / pip_polygon / pricing_summary /
  hourly_events / tiling_octree / simhash_neardup / feature_quadtree /
  vector_b3dm over the driver testdata tables
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
    import numpy as np
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from py3dtiles_spark.operators.tileset import (
        build_tiles_df, build_tileset_json_distributed,
        rollup_small_children)
    from py3dtiles_spark.operators.tiling import TilingConfig, build_tiling
    from py3dtiles_spark.session import get_spark
    from py3dtiles_spark.sources.pages import generate_pages, pages_as_points

    spark = get_spark("bench", cpus=CPUS, shuffle_partitions=2 * CPUS)
    timings: dict[str, float] = {}
    extra: dict[str, float] = {}
    sentinel: dict[str, float] = {"start": _sentinel()}

    # ---- flagship: pages -> octree tiles --------------------------------
    # warmup: a small end-to-end build first (codegen, Python worker pool,
    # allocator high-water marks) so the timed run measures the steady
    # state a long-lived executor delivers, not JVM cold-start
    warm_pts = pages_as_points(generate_pages(spark, 30_000), skew=True)
    warm_ckpt = tempfile.mkdtemp()
    build_tiling(spark, warm_pts, TilingConfig(checkpoint_dir=warm_ckpt))
    spark.catalog.clearCache()
    shutil.rmtree(warm_ckpt, ignore_errors=True)

    ckpt = tempfile.mkdtemp(prefix="bench_ckpt_")
    sentinel["flagship_tiling"] = _sentinel()
    t0 = time.time()
    points = pages_as_points(generate_pages(spark, BENCH_DOCS), skew=True)
    res = build_tiling(spark, points,
                       TilingConfig(checkpoint_dir=ckpt,
                                    in_kernel_threshold=40_000))
    assert res.counters["points_assigned"] == BENCH_DOCS, res.counters
    timings["flagship_tiling"] = round(time.time() - t0, 3)
    extra["docs_per_sec"] = round(BENCH_DOCS / timings["flagship_tiling"], 1)

    sentinel["tileset_emit"] = _sentinel()
    t0 = time.time()
    assigned = points.join(res.assignments, "point_id")
    assigned = rollup_small_children(assigned)
    tiles = build_tiles_df(assigned)
    # r6: distributed assembly (subtree JSON built executor-side) — the
    # scale path is now also the benched path
    docs = build_tileset_json_distributed(tiles, res.root_aabb,
                                          res.root_spacing)
    assert "tileset.json" in docs
    timings["tileset_emit"] = round(time.time() - t0, 3)
    shutil.rmtree(ckpt, ignore_errors=True)

    # ---- operator headliners over driver testdata -----------------------
    # one discarded warmup per query (Python worker pool + codegen spin-up
    # was 2-6x the steady-state cost and made single-shot numbers noise:
    # r1->r2 "regression" on neardup_pairs was exactly this), then the
    # median of RUNS warm executions, min/max spread recorded
    RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # simhash_neardup's registry entry became an invariant wrapper (runs
    # the operator twice + cross-checks); keep timing the RAW operator so
    # round-over-round numbers stay comparable
    qs = {**entrymod.queries(), **entrymod.legacy_queries(),
          "simhash_neardup": entrymod.q_simhash_neardup_raw}
    for name in ["neardup_pairs", "knn_top5", "pip_polygon",
                 "pricing_summary", "hourly_events", "tiling_octree",
                 "simhash_neardup", "feature_quadtree", "vector_b3dm",
                 "s2_cells", "raster_cells", "knn_join",
                 "knn_join_bucketed", "geohash_cells", "tfidf_terms",
                 "utm_convert", "llm_pipeline", "substring_dup",
                 "unigram_logprob", "corpus_curation", "decontaminate",
                 "top_ngrams"]:
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
