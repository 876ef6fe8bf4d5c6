"""Distributed octree/quadtree LOD tiling — the flagship engine.

Spark-first re-expression of the reference tiler (py3dtiles/convert.py:318-673
master/worker loop). The reference shuffles point batches between processes
over ZMQ keyed by node name; here each "ZMQ hop" is one Spark shuffle and the
build is a level-synchronous iteration (SURVEY.md §3.1 "Spark shape").

Per level, two phases:

  1. routing: groupBy(tile_id).agg(count) — one row per live node,
     fetched through a BOUNDED limit probe (r5). One vectorized function,
     _route_nodes, maps each node's count to a mode, and for cell nodes to
     the float32 grid constants derived from the tile name (stateless,
     points/utils.py:83-88). Levels under NODE_BROADCAST_ROWS call it
     driver-side on the probe rows (pure-JVM probe job), and the routed
     node list goes back as an Arrow LocalRelation broadcast
     (session.local_frame: a LocalTableScan, so no Python task and no
     second worker daemon; measured on 4 cores, its broadcast job takes
     7-9 ms per level) — the fast common case; over-cap levels call it on
     the executors through mapInPandas and the driver sees just the
     <=3-row per-mode histogram. Modes:
       leaf    count < 20000 or spacing floor -> accept all (node.py:70-73)
       local   count <= local cutoff -> one task recurses the WHOLE
               subtree (the reference's depth-limited pipelining,
               node_process.py:82-90, taken to its limit: zero further
               shuffles for that subtree)
       cell    huge node -> fan out by LOD-grid cell: the acceptance test is
               per-cell independent (points_grid.py:22-31 scans only the
               same cell), so a hot node runs as 27+ parallel tasks instead
               of serializing on one worker — the skew answer for megacity
               cells at 10^12 docs.

  2. kernel: leaf rows are final as-is (a JVM filter); the rest take ONE
     shuffle on (tile_id, group_key) — group_key is the grid cell for
     'cell' nodes (computed NATIVELY in float32 column arithmetic,
     bit-identical to the numpy kernel; no Python pre-pass) and 0 otherwise
     — into ONE applyInPandas kernel handling local and cell groups, and
     both halves are written ONCE to parquet. That parquet is the per-level
     checkpoint: resumable, lineage-truncating; accepted rows and
     next-level forwards are both filters over it (no extra writes).

A phase is not one Spark job: AQE runs each shuffle stage as its own job.
A traced perfbench `tile_skew` build (150k skewed pages, 2 levels, 4
cores, pyspark 4.1.2) runs 19 tiling jobs by the event log's call sites:
3 for the root AABB pass, 3 per level for the routing probe's collect,
and 10 for the level kernels' checkpoint writes and the final
written==read count.

Points are carried NARROW through the loop (point_id + xyz float32 only);
payload columns (url, html, text...) are joined back once at the end — at
100 TB you never shuffle the html through the tree.

Driver traffic is BOUNDED by NODE_BROADCAST_ROWS (~12 MB at 200k rows):
at 10^12 docs a level can hold ~5e7 live nodes, which would make
an unbounded driver collect the reference master's State-dict bottleneck
reborn (convert.py:217-239) — those levels stay distributed (shuffled
node_meta join; only the per-mode histogram is collected for loop
termination and the manifest).

One checkpoint path: level N writes its kernel output once to
checkpoint_dir/level=N/out (hive-partitioned by `accepted`), then its
counters (points in / nodes / modes / phase seconds) to
level=N/_MANIFEST.json; meta.json holds the root geometry. A level is done
only once its manifest exists, so resume=True restarts at the first level
without one (a crash between a level's write and its manifest reruns that
level). The input is cached for level 0 alone; every later level reads the
previous level's parquet, and the final assignments are the union of the
levels' accepted rows. The written==read invariant of the reference
(convert.py:652-653) is checked on completion.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from py3dtiles_spark.functions.geometry import (
    GRID_INITIAL_CELL_COUNT,
    MIN_SPACING,
    SPLIT_THRESHOLD,
    node_frame,
    sequential_accept,
    child_index_for_node,
    compute_spacing,
)
from py3dtiles_spark.operators.replay import assign_subtree
from py3dtiles_spark.session import local_frame

PENDING_SCHEMA = "point_id long, x float, y float, z float, tile_id string"
KERNEL_SCHEMA = PENDING_SCHEMA + ", accepted boolean"
ASSIGN_SCHEMA = "point_id long, tile_id string"
# bound on the level loop; a build that still forwards points after this
# many levels returns with counters["complete"] = False
MAX_LEVELS = 32
# bound on any single local task's rows (see TilingConfig): a megacity
# node as one task is a multi-second straggler that caps scaling, so
# nodes above it fan out per cell
LOCAL_HARD_CAP = 300_000
# levels whose routed node list fits in this many rows ride to the
# executors as a LocalRelation broadcast (no extra job, no broadcast
# exchange — the sandbox/common case); bigger levels NEVER reach the
# driver: their node_meta stays a distributed frame and joins to pending
# with a shuffled join (at ~5e7 nodes the list is GBs, far past broadcast
# territory). 200k rows ~= 12 MB driver-side, a hard bound independent
# of data scale.
NODE_BROADCAST_ROWS = 200_000

# node_meta as joined to pending (_route_nodes output minus cnt): mn* grid
# aabb_min (float32, reference Grid constant); s* cell_count *
# inv_aabb_size — DOUBLE because the reference numba kernel promotes
# int32 * float32 to float64 (distance.py:24-27); zeros unless mode=cell
_NODE_META_SCHEMA = ("tile_id string, mode string, "
                     "mnx float, mny float, mnz float, "
                     "sx double, sy double, sz double")


@dataclass
class TilingConfig:
    scale: float = 1.0
    split_threshold: int = SPLIT_THRESHOLD
    # nodes at or below this size finish their whole subtree in one task;
    # keep near 2x split_threshold so big nodes keep fanning out per-cell.
    # Once a level has enough nodes to saturate the cluster, bigger nodes
    # resolve in-task too instead of paying shuffle+Arrow plumbing for
    # every remaining level. The effective local cutoff is
    #   max(in_kernel_threshold,
    #       min(LOCAL_HARD_CAP, level_points / defaultParallelism))
    # i.e. one local task's rows ~= one core's fair share, which measured
    # strictly better than half of it at 1.6M docs/skew: level count 5 -> 2
    # and 8-core wall time -23%.
    in_kernel_threshold: int = 40_000
    # parallelism used for the local-cutoff rule. None = the session's
    # defaultParallelism; set a fixed value to make the level plan
    # independent of the core count (identical plans across cluster sizes,
    # required for apples-to-apples scaling measurements)
    plan_parallelism: Optional[int] = None
    # every level lands here as parquet (resumable, lineage-truncating):
    # the level snapshot is the recovery unit and feeds the final
    # assignment read. None = a fresh temporary directory.
    checkpoint_dir: Optional[str] = None
    # explicit root geometry (float64 (2,3) + spacing). The LAS/XYZ convert
    # plan passes the header-derived float64 aabb here for exact reference
    # parity (convert.py:420-437); None = one agg pass over the points.
    root_aabb: Optional[object] = None
    root_spacing: Optional[float] = None


@dataclass
class TilingResult:
    assignments: DataFrame          # (point_id, tile_id)
    root_aabb: np.ndarray
    root_spacing: float
    counters: dict = field(default_factory=dict)
    checkpoint_dir: str = ""


def compute_root_aabb(points: DataFrame):
    """One aggregation pass over the cloud (reference las_reader.init
    header scan, las_reader.py:27-32). Returns (aabb float32 (2,3), spacing)."""
    row = points.agg(
        F.min("x"), F.min("y"), F.min("z"),
        F.max("x"), F.max("y"), F.max("z"),
    ).collect()[0]
    aabb = np.array([[row[0], row[1], row[2]], [row[3], row[4], row[5]]],
                    dtype=np.float32)
    return aabb, compute_spacing(aabb)


def _unified_kernel(cfg: TilingConfig, root_aabb, root_spacing):
    """One grouped-map kernel for the local and cell modes (leaf rows are
    final before the shuffle and never reach it). The group is
    (tile_id, group_key); `mode` rides as a column (constant per group)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        tile_id = pdf["tile_id"].iat[0]
        if pdf["mode"].iat[0] == "local":
            pdf = pdf.sort_values("point_id", kind="stable")
            ids = pdf["point_id"].to_numpy()
            xyz = pdf[["x", "y", "z"]].to_numpy(dtype=np.float32)
            tiles = assign_subtree(ids, xyz, tile_id, root_aabb,
                                   root_spacing, cfg.scale,
                                   cfg.split_threshold)
            return pd.DataFrame({
                "point_id": ids,
                "x": xyz[:, 0], "y": xyz[:, 1], "z": xyz[:, 2],
                "tile_id": tiles, "accepted": True})
        # cell mode: canonical-order accept within one grid cell
        pdf = (pdf[["point_id", "x", "y", "z", "tile_id"]]
               .sort_values("point_id", kind="stable").reset_index(drop=True))
        frame = node_frame(tile_id, root_aabb, root_spacing)
        xyz = pdf[["x", "y", "z"]].to_numpy(dtype=np.float32)
        accept = sequential_accept(xyz, frame.spacing * frame.spacing)
        out = pdf.copy()
        out["accepted"] = accept
        rej = ~accept
        if rej.any():
            digits = child_index_for_node(xyz[rej], frame)
            out.loc[rej, "tile_id"] = [tile_id + str(d) for d in digits]
        return out

    return kernel


def _route_nodes(pdf: pd.DataFrame, cfg: TilingConfig, root_aabb,
                 root_spacing, local_cutoff: int) -> pd.DataFrame:
    """The per-level routing rule: node counts (tile_id, cnt) ->
    (tile_id, mode, mnx, mny, mnz, sx, sy, sz, cnt). A node's mode depends
    on its count alone:

      leaf   cnt < split_threshold or spacing <= floor -> accept all
             (reference node.py:70-73)
      local  cnt <= local_cutoff -> whole subtree in one task
      cell   fan out per LOD-grid cell

    Cell nodes carry the reference Grid constants: mn* = aabb_min float32,
    s* = cell_count * inv_aabb_size, int32 * float32 -> float64
    (node.py:30, distance.py:24-27); other modes carry zeros. The leaf test
    and mode choice are numpy over the whole batch; the name-fold geometry
    runs only on the cell rows. Node-count sized, never point-count."""
    tids = pdf["tile_id"].to_numpy()
    cnt = pdf["cnt"].to_numpy(dtype=np.int64)
    n = len(pdf)
    spacing = root_spacing * np.power(0.5, pdf["tile_id"].str.len()
                                      .to_numpy(dtype=np.int64))
    leaf = (cnt < cfg.split_threshold) | (spacing <= MIN_SPACING * cfg.scale)
    mn = np.zeros((n, 3), dtype=np.float32)
    sc = np.zeros((n, 3), dtype=np.float64)
    cells = np.full(3, GRID_INITIAL_CELL_COUNT, dtype=np.int32)
    for i in np.flatnonzero(~leaf & (cnt > local_cutoff)):
        frame = node_frame(tids[i], root_aabb, root_spacing)
        mn[i] = frame.aabb[0]
        sc[i] = cells * (np.float32(1.0) / frame.size)
    mode = np.select([leaf, cnt <= local_cutoff], ["leaf", "local"], "cell")
    return pd.DataFrame({
        "tile_id": tids, "mode": mode,
        "mnx": mn[:, 0], "mny": mn[:, 1], "mnz": mn[:, 2],
        "sx": sc[:, 0], "sy": sc[:, 1], "sz": sc[:, 2], "cnt": cnt})


def _local_cutoff(cfg: TilingConfig, est_total: Optional[int],
                  parallelism: int) -> int:
    """Effective local-mode cutoff (see TilingConfig). `est_total` is the
    level's point total — known exactly on the driver as the PREVIOUS
    level's points_in (each level's input is a subset of the prior one),
    None for level 0 / resume without manifests, where the conservative
    in_kernel_threshold applies. The estimate can only overshoot, which
    only ever nudges a would-be 'cell' node to 'local' — a plan heuristic,
    never a semantics change (every mode computes identical assignments).
    For any level with total <= in_kernel_threshold * parallelism (all
    sandbox workloads) the estimate and the exact value produce the SAME
    cutoff, so plans are bit-identical to the exact-total rule there."""
    if est_total is None:
        return cfg.in_kernel_threshold
    return max(cfg.in_kernel_threshold,
               min(LOCAL_HARD_CAP, est_total // max(1, parallelism)))


def _root_route_expr(root_aabb, root_spacing):
    """Depth-1 octant digit as a native column expression (the reference's
    xyz_to_child_index vs the root center with the quadtree z-trick,
    node.py:123-131). Comparing the float32 column against the exact
    float32 center literal is equivalent to the reference's
    (xyz - center) >= 0 float32 test (nearby-operand subtraction is exact,
    and rounding never flips the sign of a nonzero difference)."""
    from py3dtiles_spark.functions.geometry import (
        QUADTREE, node_frame, subdivision_type)
    frame = node_frame("", root_aabb, root_spacing)
    cx, cy = float(frame.center[0]), float(frame.center[1])
    cz = (float(frame.aabb[1][2])
          if subdivision_type(frame.size) == QUADTREE
          else float(frame.center[2]))
    digit = ((F.col("x") >= cx).cast("int") * 4
             + (F.col("y") >= cy).cast("int") * 2
             + (F.col("z") >= cz).cast("int"))
    return digit.cast("string")


def grid_cell_key(mn, sc):
    """The reference xyz_to_key promotion (distance.py:24-32) as a native
    column expression; `mn`/`sc` are per-axis Columns, literal or per-row:
    the DOUBLE scale (int32 cell_count * float32 inv -> f64) times the FLOAT
    (xyz - aabb_min) difference widened to double (exact), truncated to
    long and clamped, packed x | y<<s | z<<2s. Keeping the product in f64
    matches the numpy/numba kernel bit-for-bit on boundary points where a
    float32 product would round 0.99999997 up to 1.0."""
    c = GRID_INITIAL_CELL_COUNT
    shift = int(c - 1).bit_length()
    kx, ky, kz = (
        F.least(F.greatest(
            (s * (F.col(a).cast("float") - m.cast("float")).cast("double"))
            .cast("long"), F.lit(0)), F.lit(c - 1))
        for a, m, s in zip("xyz", mn, sc))
    return kx + F.shiftleft(ky, shift) + F.shiftleft(kz, 2 * shift)


def build_tiling(spark: SparkSession, points: DataFrame,
                 cfg: TilingConfig | None = None,
                 resume: bool = False) -> TilingResult:
    """Run the level-synchronous octree build.

    points: DataFrame with (point_id: long, x, y, z numeric). Extra columns
    are dropped (join payload back on point_id afterwards).
    """
    cfg = cfg or TilingConfig()
    ckpt = cfg.checkpoint_dir or tempfile.mkdtemp(prefix="tiling_ckpt_")
    os.makedirs(ckpt, exist_ok=True)

    narrow = points.select(
        F.col("point_id").cast("long"),
        F.col("x").cast("float"), F.col("y").cast("float"),
        F.col("z").cast("float"),
    )

    meta_path = os.path.join(ckpt, "meta.json")
    resumed = resume and os.path.exists(meta_path)
    start_level = 0
    counters: dict = {"levels": []}
    if resumed:
        with open(meta_path) as f:
            meta = json.load(f)
        root_aabb = np.array(meta["root_aabb"], dtype=np.float64)
        root_spacing = float(meta["root_spacing"])
        done = sorted(int(d.split("=")[1]) for d in os.listdir(ckpt)
                      if d.startswith("level=") and
                      os.path.exists(os.path.join(ckpt, d, "_MANIFEST.json")))
        start_level = (done[-1] + 1) if done else 0
        for lv in done:
            with open(os.path.join(ckpt, f"level={lv}", "_MANIFEST.json")) as f:
                counters["levels"].append(json.load(f))
    else:
        # fresh run into a reused checkpoint_dir: stale level=* dirs from a
        # previous (possibly deeper or differently-configured) run would
        # leak into the final level=*/out glob — remove them first
        for d in os.listdir(ckpt):
            if d.startswith("level="):
                shutil.rmtree(os.path.join(ckpt, d), ignore_errors=True)

    if start_level == 0:
        # persist the narrow input BEFORE the AABB pass — level 0 consumes
        # the upstream lineage three times (AABB agg, per-node counts,
        # kernel pass); caching the 21 B/point narrow rows turns three
        # source-scan/generation executions into one. Released as soon as
        # level 0's checkpoint is written: later levels read only parquet.
        from pyspark import StorageLevel
        narrow = narrow.persist(StorageLevel.MEMORY_AND_DISK)
    if not resumed:
        if cfg.root_aabb is not None:
            root_aabb = np.asarray(cfg.root_aabb, dtype=np.float64)
            root_spacing = (float(cfg.root_spacing)
                            if cfg.root_spacing is not None
                            else compute_spacing(root_aabb))
        else:
            root_aabb, root_spacing = compute_root_aabb(narrow)
        with open(meta_path, "w") as f:
            json.dump({"root_aabb": root_aabb.tolist(),
                       "root_spacing": root_spacing,
                       "scale": cfg.scale}, f)

    if start_level == 0:
        # ROOT HOP — reference semantics: the root never retains points
        # (node_process.py:88,109 forces make_empty_node for name='', so
        # every point forwards to a depth-1 octant; the root pnts is a
        # post-hoc overview, operators/tileset.py root_overview). Pure JVM
        # column expression over the CACHED narrow rows: zero shuffle,
        # zero Python for the full-volume level — the cheapest possible
        # level 0 at 100 TB. The route expression re-evaluates per
        # consumer pass (cheap float compares), the cached input does not.
        pending = narrow.withColumn("tile_id", _root_route_expr(root_aabb,
                                                                root_spacing))
    else:
        pending = _read_pending(
            spark, os.path.join(ckpt, f"level={start_level - 1}", "out"))

    kernel = _unified_kernel(cfg, root_aabb, root_spacing)
    # the grid key of cell-mode rows (node_meta's per-node mn*/s* terms)
    group_key = F.when(F.col("mode") == "cell", grid_cell_key(
        [F.col(c) for c in ("mnx", "mny", "mnz")],
        [F.col(c) for c in ("sx", "sy", "sz")])).otherwise(F.lit(0))
    # level-total estimate for the local cutoff: the previous level's
    # points_in (this level's input is a subset of it); on resume, the
    # last completed manifest. None (level 0 of a fresh run) -> the
    # conservative in_kernel_threshold cutoff (see _local_cutoff).
    est_total = (counters["levels"][-1]["points_in"]
                 if counters["levels"] else None)
    complete = False

    # kernel groups are CPU-heavy but byte-tiny (narrow rows): AQE's
    # byte-based partition coalescing would serialize them onto a few
    # tasks — disable it for the level loop, restore after
    _coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    _coalesce_prev = spark.conf.get(_coalesce_key, "true")
    spark.conf.set(_coalesce_key, "false")
    # the bounded routing probe is a CollectLimit; by default Spark runs
    # it incrementally (1 partition, then scaleUpFactor more, ...) which
    # turns one routing job into several sequential mini-rounds per
    # level. The probe wants ALL partitions in one pass — the result is
    # node-count sized either way.
    _limit_key = "spark.sql.limit.initialNumPartitions"
    _limit_prev = spark.conf.get(_limit_key, None)
    spark.conf.set(_limit_key, "100000")

    try:
        for level in range(start_level, MAX_LEVELS):
            lv_dir = os.path.join(ckpt, f"level={level}")
            t0 = time.time()
            counts = pending.groupBy("tile_id").agg(F.count("*").alias("cnt"))
            parallelism = (cfg.plan_parallelism
                           or spark.sparkContext.defaultParallelism)
            # BOUNDED probe: a level with <= NODE_BROADCAST_ROWS live nodes
            # (every sandbox level; most real levels) comes back whole from
            # the ONE pure-JVM routing job — _route_nodes runs driver-side
            # over the O(cap) rows (exact level_total, r4-identical plans),
            # node list re-shipped as an Arrow LocalRelation (local_frame:
            # a LocalTableScan under the broadcast — pickled rows would add
            # a Python task per core and a second worker daemon). Over-cap
            # levels never reach the driver: _route_nodes runs on the
            # executors through mapInPandas, only the per-mode histogram
            # is collected, and node_meta joins to pending by shuffle (a
            # GB-sized node list has no business being broadcast anyway).
            cap = NODE_BROADCAST_ROWS
            node_meta_full = None
            # persisted so the over-cap path's routing pass reads the
            # cached node rows instead of re-running the full groupBy over
            # every pending point (the level's priciest pass); dropped
            # right after the probe on the common path
            counts = counts.persist()
            probe = counts.limit(cap + 1).collect()
            broadcast_path = len(probe) <= cap
            if broadcast_path:
                counts.unpersist()
                n_in = int(sum(r["cnt"] for r in probe))
                cutoff = _local_cutoff(cfg, n_in or None, parallelism)
                routed = _route_nodes(
                    pd.DataFrame(probe, columns=counts.columns), cfg,
                    root_aabb, root_spacing, cutoff)
                modes = dict(Counter(routed["mode"]))
                n_nodes = len(routed)
            else:
                cutoff = _local_cutoff(cfg, est_total, parallelism)

                def route(batches, cutoff=cutoff):
                    for pdf in batches:
                        yield _route_nodes(pdf, cfg, root_aabb,
                                           root_spacing, cutoff)

                node_meta_full = counts.mapInPandas(
                    route, _NODE_META_SCHEMA + ", cnt long").persist()
                stats_rows = (node_meta_full.groupBy("mode")
                              .agg(F.count("*").alias("nodes"),
                                   F.sum("cnt").alias("pts")).collect())
                counts.unpersist()
                modes = {r["mode"]: int(r["nodes"]) for r in stats_rows}
                n_nodes = int(sum(r["nodes"] for r in stats_rows))
                n_in = int(sum(r["pts"] for r in stats_rows))
            t_counts = time.time() - t0
            if n_in == 0:
                if node_meta_full is not None:
                    node_meta_full.unpersist()
                complete = True
                break
            est_total = n_in   # next level's input is a subset of this one's

            t0 = time.time()
            if broadcast_path:
                node_meta = local_frame(spark, routed, _NODE_META_SCHEMA)
                tagged = pending.join(F.broadcast(node_meta), "tile_id")
            else:
                tagged = pending.join(node_meta_full.drop("cnt"), "tile_id")
            # leaf rows (the bulk at deep levels) are final as-is: pure JVM
            # filter, NO shuffle, NO Python — node.py:70-73 leaf semantics
            leaf_rows = (tagged.filter(F.col("mode") == "leaf")
                         .select("point_id", "x", "y", "z", "tile_id",
                                 F.lit(True).alias("accepted")))
            if set(modes) == {"leaf"}:
                # ALL-LEAF level (always the build's final level): the
                # non-leaf branch is provably empty — skip its shuffle +
                # Arrow kernel plan entirely instead of scheduling an
                # empty applyInPandas stage (the mode histogram is already
                # known driver-side either way)
                out_df = leaf_rows
            else:
                nonleaf = (tagged.filter(F.col("mode") != "leaf")
                           .withColumn("gk", group_key)
                           .drop("mnx", "mny", "mnz", "sx", "sy", "sz")
                           .groupBy("tile_id", "gk")
                           .applyInPandas(kernel, schema=KERNEL_SCHEMA))
                out_df = nonleaf.unionByName(leaf_rows)
            # hive-partition by `accepted`: ONE write, but the next level's
            # NOT-accepted read partition-prunes the finalized rows away
            # entirely and the final assignments union reads only
            # accepted=true dirs — at deep levels (mostly-leaf output) this
            # halves checkpoint read volume, which on a fault-bound host is
            # wall-clock.
            # r7 (guide §6): decouple kernel parallelism from output file
            # count — the kernel fans out at shuffle width, but its output
            # is n_in narrow rows (~40 B each); letting every kernel/leaf
            # task open its own dynamic-partition writers produced
            # ~200 KB-sized files per level and paid seconds of open/commit
            # overhead. Repartition to a size-derived file count (128 MB
            # target) first: locally 1-2 write tasks, petabyte levels
            # thousands — never a constant tuned to either.
            target_files = max(1, -(-n_in * 40 // (128 << 20)))
            (out_df.repartition(target_files)
             .write.mode("overwrite").partitionBy("accepted")
             .parquet(os.path.join(lv_dir, "out")))
            if level == 0:
                narrow.unpersist()
            t_kernel = time.time() - t0
            if node_meta_full is not None:
                node_meta_full.unpersist()

            lv_stats = {"level": level, "points_in": n_in,
                        "nodes": n_nodes, "modes": modes,
                        "sec_counts": round(t_counts, 3),
                        "sec_kernel": round(t_kernel, 3)}
            with open(os.path.join(lv_dir, "_MANIFEST.json"), "w") as f:
                json.dump(lv_stats, f)
            counters["levels"].append(lv_stats)

            if modes.get("cell", 0) == 0:
                # leaf/local groups fully resolve their points — nothing forwards
                complete = True
                break
            pending = _read_pending(spark, os.path.join(lv_dir, "out"))

    finally:
        spark.conf.set(_coalesce_key, _coalesce_prev)
        if _limit_prev is None:
            spark.conf.unset(_limit_key)
        else:
            spark.conf.set(_limit_key, _limit_prev)
        if start_level == 0:
            # a no-op unless the build stopped before level 0's write
            # (empty input, an error)
            narrow.unpersist()
    # explicit per-level accepted=true subdirs (not a level=* glob): stale
    # dirs from other runs can never leak in, no multi-root partition
    # discovery, and the pending halves of every level are never even
    # listed — the union reads exactly the finalized rows.
    parts = []
    for s in counters["levels"]:
        p = os.path.join(ckpt, f"level={s['level']}", "out", "accepted=true")
        if os.path.isdir(p):
            parts.append(spark.read.schema(PENDING_SCHEMA).parquet(p)
                         .select("point_id", "tile_id"))
    if parts:
        from functools import reduce
        assignments = reduce(DataFrame.unionByName, parts)
    else:
        assignments = local_frame(spark, {}, ASSIGN_SCHEMA)

    counters["points_total"] = (counters["levels"][0]["points_in"]
                                if counters["levels"] else 0)
    counters["complete"] = complete
    if complete and counters["levels"]:
        # reference invariant: every point read is written (convert.py:652)
        assigned = assignments.count()
        counters["points_assigned"] = assigned
        if assigned != counters["points_total"]:
            raise RuntimeError(
                f"tiling assigned {assigned} points but read "
                f"{counters['points_total']} (checkpoint dir {ckpt})")
    return TilingResult(assignments=assignments, root_aabb=root_aabb,
                        root_spacing=root_spacing, counters=counters,
                        checkpoint_dir=ckpt)


def _read_pending(spark, out_dir: str) -> DataFrame:
    """Pending rows of a level checkpoint: target the hive accepted=false
    subdir directly — the finalized rows are never listed, let alone
    scanned; a level where everything finalized has no such dir (empty
    frame; the loop's next count pass then completes)."""
    if not os.path.isdir(out_dir):
        # a fully-accepted level HAS an out dir (with only accepted=true);
        # a missing dir means the checkpoint was never written — resuming
        # with a wrong start_level must fail loudly, not return an empty
        # pending that silently completes the build (ADVICE r4)
        raise FileNotFoundError(
            f"level checkpoint {out_dir} does not exist — wrong "
            "start_level / checkpoint_dir?")
    p = os.path.join(out_dir, "accepted=false")
    if not os.path.isdir(p):
        return local_frame(spark, {}, PENDING_SCHEMA)
    return spark.read.schema(PENDING_SCHEMA).parquet(p)


def cleanup_checkpoint(result: TilingResult) -> None:
    shutil.rmtree(result.checkpoint_dir, ignore_errors=True)
