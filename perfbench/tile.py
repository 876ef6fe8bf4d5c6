"""`tile_skew`: the flagship pages -> tileset.json pipeline, as users run it.

Each operation generates the seed's pages, tiles them with build_tiling
(default TilingConfig: durable parquet checkpoints), rolls small tiles into
their parents and assembles tileset.json. The warm-up builds the same
input WARMUP_BUILDS times before the timed window; the first build's
assignments are compared with replay_tiling over the same points, and
timed builds are checked against an order-independent digest of them.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys

from pyspark.sql import functions as F

import procs

from py3dtiles_spark.operators.replay import replay_tiling
from py3dtiles_spark.operators.tileset import (
    build_tiles_df, build_tileset_json_distributed, rollup_small_children)
from py3dtiles_spark.operators.tiling import TilingConfig, build_tiling
from py3dtiles_spark.sources.pages import generate_pages, pages_as_points

DOCS = 150_000
LEVELS = 4              # per-level metrics are reported for L0..L3
MODES = ("leaf", "local", "cell", "express")
# A build's CPU time halves over a process's first ten builds or so (JIT,
# Python worker pool): 19-24 CPU s for the second build, 15-16 for the
# third, about 10 from the eighth on. The warm-up takes the steepest part.
WARMUP_BUILDS = 2


class TileSkew:
    labels = ("tiling.build", "tileset")    # Spark job labels of a timed operation
    # timed builds per run, whatever --seconds allows; their median lets
    # the first of them run slow
    min_units = 3

    def __init__(self, spark, seed: int, work_dir: str, tracer):
        """`tracer` may be swapped between operations; a labelling one
        makes the next build a traced build."""
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.ckpt_root = os.path.join(work_dir, "ckpt")
        self.builds: list[dict] = []
        self.ref_digest = None
        self.failures = 0
        self.attempted = 0

    def points(self):
        # salting the url with the seed moves every doc (and which docs fall
        # in the three megacity clusters) while keeping the skew share at 30%
        pages = generate_pages(self.spark, DOCS).withColumn(
            "url", F.concat(F.col("url"), F.lit(f"?seed={self.seed}")))
        return pages_as_points(pages, skew=True)

    def _build(self, ckpt: str) -> dict:
        """One pages -> tileset.json operation; the root span is its wall."""
        tr = self.tracer
        b: dict = {"traced": tr.labelled}
        cpu0 = procs.tree_cpu_s(os.getpid())
        with tr.span("build") as root:
            with tr.span("pages.points", label="pages"):
                pts = self.points()
                if tr.labelled:
                    # generation is lazy; traced builds run it here so that
                    # it is not timed inside build_tiling's input pass
                    pts = pts.persist()
                    pts.count()
            with tr.span("tiling.build", label="tiling.build"):
                res = build_tiling(self.spark, pts,
                                   TilingConfig(checkpoint_dir=ckpt))
            with tr.span("tileset.rollup", label="tileset"):
                rolled = rollup_small_children(pts.join(res.assignments, "point_id"))
            with tr.span("tileset.tiles", label="tileset"):
                tiles = build_tiles_df(rolled)
                if tr.labelled:
                    # traced runs split tile aggregation from assembly
                    tiles = tiles.persist()
                    b["tiles"] = tiles.count()
            with tr.span("tileset.assemble", label="tileset"):
                docs = build_tileset_json_distributed(tiles, res.root_aabb,
                                                      res.root_spacing)
        b["cpu"] = procs.tree_cpu_s(os.getpid()) - cpu0
        if tr.labelled:
            tiles.unpersist()
            pts.unpersist()
        b.update(res=res, docs=docs, pts=pts, span=root,
                 wall=root["end"] - root["start"])
        return b

    def _digest(self, res):
        with self.tracer.span("tiling.assign_read", label="check") as sp:
            row = res.assignments.agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64("point_id", "tile_id").cast("decimal(38,0)"))
                .alias("h")).collect()[0]
        return (int(row["n"]), int(row["h"])), sp["end"] - sp["start"]

    def warmup(self) -> None:
        """WARMUP_BUILDS full builds of the run's input (Python kernels
        included); the first one's assignments are checked against the
        replay."""
        ckpt = os.path.join(self.ckpt_root, "warmup")
        b = self._build(ckpt)
        res = b["res"]
        modes = {m for lv in res.counters["levels"] for m in lv["modes"]}
        if not {"cell", "local"} <= modes:
            raise RuntimeError(f"warm-up routed only {sorted(modes)}; it must "
                               "reach the Python kernel via cell and local nodes")
        self.attempted += 1
        pts = b["pts"].toPandas()
        expected, _, _ = replay_tiling(pts["point_id"].to_numpy(),
                                       pts[["x", "y", "z"]].to_numpy())
        got = res.assignments.toPandas()
        exp = dict(zip(pts["point_id"].tolist(), expected.tolist()))
        ok = (len(got) == len(exp) and got["point_id"].is_unique and
              all(exp.get(p) == t for p, t in zip(got["point_id"].tolist(),
                                                  got["tile_id"].tolist())))
        if not ok:
            self.failures += 1
        self.ref_digest, _ = self._digest(res)
        self._cleanup(ckpt)
        for _ in range(WARMUP_BUILDS - 1):
            self._build(ckpt)
            self._cleanup(ckpt)

    def unit(self) -> list[float]:
        """One timed build, then its checks; returns its latency."""
        ckpt = os.path.join(self.ckpt_root, f"b{len(self.builds)}")
        self.attempted += 1
        try:
            b = self._build(ckpt)
            res = b["res"]
            ck_bytes, ck_files = _du(ckpt)
            digest, read_s = self._digest(res)
            ok = (res.counters.get("points_assigned") == DOCS
                  and digest == self.ref_digest
                  and "tileset.json" in b["docs"])
            b.update(ckpt_bytes=ck_bytes, ckpt_files=ck_files, assign_read_s=read_s,
                     json_bytes=sum(len(json.dumps(v)) for v in b["docs"].values()
                                    if v is not None),
                     n_docs=len(b.pop("docs")))
            del b["pts"]
        except Exception as e:          # a failed build is counted, not fatal
            print(f"tile_skew build failed: {type(e).__name__}: {e}", file=sys.stderr)
            ok, b = False, None
        finally:
            self._cleanup(ckpt)
        if not ok:
            self.failures += 1
        if b is None:
            return []
        self.builds.append(b)
        return [b["wall"]]

    def summary(self) -> dict[str, float]:
        """Over the first min_units untraced builds: the median build wall
        and CPU time, and builds per second of each (x DOCS: docs/s)."""
        plain = [b for b in self.builds if not b["traced"]][:self.min_units]
        wall = statistics.median(b["wall"] for b in plain)
        cpu = statistics.median(b["cpu"] for b in plain)
        return {"ops_per_s": 1 / wall, "op_p50_s": wall,
                "ops_per_cpu_s": 1 / cpu, "op_cpu_s": cpu}

    def _cleanup(self, ckpt: str) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(ckpt, ignore_errors=True)

    def layer_metrics(self, tr) -> dict[str, float]:
        """Per-layer medians over the traced builds, whose spans are in `tr`."""
        out: dict[str, list[float]] = {}

        def put(k, v):
            out.setdefault(k, []).append(float(v))

        for b in (b for b in self.builds if b["traced"]):
            lv = b["res"].counters["levels"]
            root = tr.spans.index(b["span"])
            kids = {s["name"]: tr.self_time(tr.spans.index(s))
                    for s in tr.children(root)}
            route = sum(x["sec_counts"] for x in lv)
            kernel = sum(x["sec_kernel"] for x in lv)
            put("pages.points_s", kids["pages.points"])
            put("tiling.build_s", kids["tiling.build"])
            put("tiling.route_s", route)
            put("tiling.kernel_s", kernel)
            put("tiling.rest_s", kids["tiling.build"] - route - kernel)
            for i in range(LEVELS):
                x = lv[i] if i < len(lv) else {}
                put(f"tiling.L{i}.route_s", x.get("sec_counts", 0))
                put(f"tiling.L{i}.kernel_s", x.get("sec_kernel", 0))
                put(f"tiling.L{i}.points_in", x.get("points_in", 0))
                put(f"tiling.L{i}.nodes", x.get("nodes", 0))
            put("tiling.levels", len(lv))
            for m in MODES:
                put(f"tiling.mode.{m}", sum(x["modes"].get(m, 0) for x in lv))
            put("tiling.ckpt_bytes", b["ckpt_bytes"])
            put("tiling.ckpt_files", b["ckpt_files"])
            put("tiling.ckpt_bytes_per_doc", b["ckpt_bytes"] / DOCS)
            put("tiling.assign_read_s", b["assign_read_s"])
            put("tileset.tiles_s", kids["tileset.rollup"] + kids["tileset.tiles"])
            put("tileset.assemble_s", kids["tileset.assemble"])
            put("tileset.tiles", b["tiles"])
            put("tileset.json_bytes", b["json_bytes"])
            put("tileset.docs", b["n_docs"])
        res = {k: statistics.median(v) for k, v in out.items()}
        # the four layers partition a traced build; their medians against
        # the median wall of the untraced builds of the same process
        plain = [b["wall"] for b in self.builds if not b["traced"]]
        res["trace.coverage"] = sum(res[k] for k in (
            "pages.points_s", "tiling.build_s", "tileset.tiles_s",
            "tileset.assemble_s")) / statistics.median(plain)
        return res


def _du(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files
