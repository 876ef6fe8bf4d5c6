"""Tiles dimension table + 3D Tiles tileset.json (BVH) emission.

Reference behavior being re-expressed (not ported):
- per-tile REAL AABB from the tile's own points, replacing the octree-
  theoretic box (node.py:202-206)
- small-child merge: children with < 100 points are absorbed into their
  parent, parent AABB extended (node.py:222-249) — here a DataFrame
  rollup pass, not a file rewrite
- geometricError: root = ||aabb diagonal|| / scale (convert.py:80-81),
  per tile = 10 * spacing / scale (node.py:209), leaves 0.0
- refine: REPLACE at root, ADD below (convert.py:72-74)
- subtrees whose JSON exceeds 100 000 chars spill to tileset.<name>.json
  and are referenced via content.uri (node.py:282-296)

`build_tileset_json_distributed` is the emission path: the BVH recursion
partitioned at a fixed subtree depth k. Executors build each depth-k
subtree's JSON (including the >100KB spill rule) via applyInPandas; the
driver composes only depths 0..k-1 from the returned subtree stubs.
Driver traffic is bounded by 8^k stubs, each spill-bounded (~100KB),
instead of the full tiles table (~5x10^7 rows at 10^12 points).
`build_tileset_json` is the same recursion over a collected tiles table,
single-threaded on the driver; it is the byte-identity oracle for the
distributed build (tests/test_tileset.py::
test_distributed_tileset_byte_identical), not a plan to run at scale.
"""

from __future__ import annotations

import json
import os
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, functions as F

from py3dtiles_spark.functions.geometry import SMALL_CHILD_MERGE
from py3dtiles_spark.sources.pnts import write_task_file

TILESET_JSON_SPILL_CHARS = 100_000


def build_tiles_df(assignments_with_xyz: DataFrame) -> DataFrame:
    """(point_id, x, y, z, tile_id) -> one row per tile with real AABB.

    One shuffle on tile_id; map-side partial aggregation makes this cheap
    at any scale.
    """
    return assignments_with_xyz.groupBy("tile_id").agg(
        F.count("*").alias("point_count"),
        F.min("x").alias("min_x"), F.min("y").alias("min_y"),
        F.min("z").alias("min_z"),
        F.max("x").alias("max_x"), F.max("y").alias("max_y"),
        F.max("z").alias("max_z"),
    )


def rollup_small_children(assignments: DataFrame,
                          threshold: int = SMALL_CHILD_MERGE) -> DataFrame:
    """Reassign points of tiny tiles to their parent (node.py:222-249).

    A tile below the split threshold can never have children, so one pass
    suffices. Implemented as a broadcast semi-join of the (tiny) merge list
    against the assignments — no full-table shuffle.
    Returns assignments with an updated tile_id column.
    """
    counts = assignments.groupBy("tile_id").count()
    merged = (counts
              .filter((F.col("count") < threshold) & (F.length("tile_id") > 0))
              .select(F.col("tile_id").alias("m_tile"),
                      F.expr("substring(m_tile, 1, length(m_tile)-1)")
                      .alias("m_parent")))
    return (assignments
            .join(F.broadcast(merged),
                  assignments.tile_id == merged.m_tile, "left")
            .withColumn("tile_id", F.coalesce("m_parent", "tile_id"))
            .drop("m_tile", "m_parent"))


def _node_json(tid: str, info: dict, prefixes, docs: dict,
               root_aabb, root_spacing: float, scale: float,
               spill_chars: Optional[int],
               subtree_overrides: Optional[dict] = None) -> dict:
    """The BVH node recursion shared by the driver-side and distributed
    assemblies. `subtree_overrides` maps a tile_id to an already-built
    (parsed) node JSON — the distributed path injects depth-k subtree
    stubs here so the driver recursion stops at the subtree seam. The
    recursion, float math, dict key order, and spill rule are identical
    on both paths, which is what makes the outputs byte-identical."""
    if subtree_overrides is not None and tid in subtree_overrides:
        return subtree_overrides[tid]
    spacing = root_spacing * (0.5 ** len(tid))
    t = {"geometricError": 10.0 * spacing / scale}
    d = info.get(tid)
    if d is not None:
        aabb_min = np.array([d["min_x"], d["min_y"], d["min_z"]], dtype=float)
        aabb_max = np.array([d["max_x"], d["max_y"], d["max_z"]], dtype=float)
        t["content"] = {"uri": f"r{tid}.pnts"}
    else:
        # internal node with no own points (shouldn't happen, but the
        # octree-theoretic box is the correct fallback)
        from py3dtiles_spark.functions.geometry import node_geometry
        box, _ = node_geometry(tid, root_aabb, root_spacing)
        aabb_min, aabb_max = box[0].astype(float), box[1].astype(float)
    children = []
    for digit in "01234567":
        child = tid + digit
        if child in prefixes:
            cj = _node_json(child, info, prefixes, docs, root_aabb,
                            root_spacing, scale, spill_chars,
                            subtree_overrides)
            children.append(cj)
            cb = cj["boundingVolume"]["box"]
            c, h = np.array(cb[:3]), np.array([cb[3], cb[7], cb[11]])
            aabb_min = np.minimum(aabb_min, c - h)
            aabb_max = np.maximum(aabb_max, c + h)
    center = (aabb_min + aabb_max) * 0.5
    half = (aabb_max - aabb_min) * 0.5
    t["boundingVolume"] = {"box": [
        center[0], center[1], center[2],
        half[0], 0, 0, 0, half[1], 0, 0, 0, half[2]]}
    if children:
        t["children"] = children
    else:
        t["geometricError"] = 0.0
    if tid and children and spill_chars is not None \
            and len(json.dumps(t)) > spill_chars:
        name = f"tileset.{tid}.json"
        docs[name] = {"asset": {"version": "1.0"}, "refine": "ADD",
                      "geometricError": t["geometricError"],
                      "root": dict(t)}
        t = {"geometricError": t["geometricError"],
             "boundingVolume": t["boundingVolume"],
             "content": {"uri": name}, "children": []}
    return t


def _finalize_root(root: dict, docs: dict, root_aabb, scale: float,
                   transform: Optional[list]) -> dict:
    # reference refine semantics (convert.py:72-74): REPLACE on the root,
    # ADD on the root's direct children (descendants inherit ADD)
    for child in root.get("children", []):
        child["refine"] = "ADD"
    diag = float(np.linalg.norm(
        np.asarray(root_aabb[1], dtype=float) - np.asarray(root_aabb[0], dtype=float)))
    root_doc = {**root, "refine": "REPLACE"}
    if transform is not None:
        root_doc["transform"] = list(transform)
    docs["tileset.json"] = {
        "asset": {"version": "1.0"},
        "geometricError": diag / scale,
        "root": root_doc,
    }
    return docs


def build_tileset_json(tiles_rows, root_aabb: np.ndarray, root_spacing: float,
                       scale: float = 1.0,
                       spill_chars: Optional[int] = TILESET_JSON_SPILL_CHARS,
                       transform: Optional[list] = None) -> dict:
    """Driver-side BVH assembly from collected tiles rows — the
    byte-identity oracle for build_tileset_json_distributed.

    tiles_rows: iterable of Rows/dicts with tile_id, point_count,
    min_x..max_z. Returns {"tileset.json": <dict>, "tileset.<name>.json":
    <dict>, ...} — the main document plus any spilled subtrees.

    transform: optional 16-float column-major root transform matrix
    (T(offset) . S(1/scale) . R^-1, reference convert.py:36-41,71) — build
    with functions.crs.tileset_transform.

    Production paths call build_tileset_json_distributed, which never
    collects the tiles table; this form exists to pin its output.
    """
    info = {}
    for r in tiles_rows:
        d = r.asDict() if hasattr(r, "asDict") else dict(r)
        info[d["tile_id"]] = d

    # every ancestor prefix of an existing tile is a live BVH node
    prefixes = set()
    for tid in info:
        for i in range(len(tid) + 1):
            prefixes.add(tid[:i])

    docs: dict = {}
    root = _node_json("", info, prefixes, docs, root_aabb, root_spacing,
                      scale, spill_chars)
    return _finalize_root(root, docs, root_aabb, scale, transform)


def build_tileset_json_distributed(
        tiles: DataFrame, root_aabb: np.ndarray, root_spacing: float,
        scale: float = 1.0,
        spill_chars: Optional[int] = TILESET_JSON_SPILL_CHARS,
        transform: Optional[list] = None,
        subtree_depth: int = 2,
        output_dir: Optional[str] = None) -> dict:
    """Distributed BVH assembly — byte-identical to build_tileset_json.

    The recursion is partitioned at `subtree_depth` (k): tiles at depth
    >= k group by their depth-k prefix and one applyInPandas kernel per
    subtree runs the SAME _node_json recursion (including the >100KB
    spill rule), emitting (a) every spilled tileset.<tid>.json document
    and (b) one post-spill subtree stub. The driver collects ONLY the
    bounded stub set (<= 8^k rows, each spill-bounded ~100KB) plus the
    <= sum(8^j, j<k) shallow tiles and composes depths 0..k-1 with the
    same recursion. At 10^12 points this turns a ~5x10^7-row collect +
    single-threaded JSON build into 8^k parallel kernels and a ~MB-scale
    driver merge.

    output_dir: when given, spilled subtree documents are written
    executor-side through the pnts writer's rule (write_task_file: a
    shared filesystem on a real cluster, a tmp file moved into place)
    and returned as {name: None}; only stubs travel to the driver.
    When None, spill bodies are returned in the dict like the driver-side
    API (they still travel once, straight from the kernel, never
    amplified through a tiles-table collect).

    Pick subtree_depth so 8^k is >= cluster parallelism; k=2 (64
    subtrees) suits hundreds of cores, k=3 (512) a large cluster.
    """
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    k = int(subtree_depth)
    if k < 1:
        raise ValueError("subtree_depth must be >= 1")
    spacing_f, scale_f = float(root_spacing), float(scale)
    aabb = np.asarray(root_aabb, dtype=float)
    spill = spill_chars
    out_dir = output_dir
    if out_dir is not None:
        os.makedirs(out_dir, exist_ok=True)

    def subtree_kernel(pdf):
        tids = pdf["tile_id"].tolist()
        info = {t: {"min_x": mx, "min_y": my, "min_z": mz,
                    "max_x": Mx, "max_y": My, "max_z": Mz}
                for t, mx, my, mz, Mx, My, Mz in zip(
                    tids, pdf["min_x"], pdf["min_y"], pdf["min_z"],
                    pdf["max_x"], pdf["max_y"], pdf["max_z"])}
        root_tid = tids[0][:k]
        prefixes = set()
        for t in tids:
            for i in range(k, len(t) + 1):
                prefixes.add(t[:i])
        docs: dict = {}
        stub = _node_json(root_tid, info, prefixes, docs, aabb, spacing_f,
                          scale_f, spill)
        rows = []
        for name, doc in docs.items():
            if out_dir is not None:
                write_task_file(os.path.join(out_dir, name),
                                json.dumps(doc).encode())
                rows.append((name, None))
            else:
                rows.append((name, json.dumps(doc)))
        rows.append(("\x00" + root_tid, json.dumps(stub)))
        import pandas as _pd
        return _pd.DataFrame(rows, columns=["name", "body"])

    # two consumers (deep kernel + shallow collect): persist the tiles
    # dim so its upstream lineage (typically a full points join + agg)
    # computes once — without this the whole chain re-executes for the
    # 2-row shallow read (measured 2x the assembly wall at bench scale).
    # The frame is one row per tile (narrow), so the cache is small even
    # at 10^12 points, and AQE right-sizes its partitioning
    # (canChangeCachedPlanOutputPartitioning).
    tiles = tiles.persist()
    try:
        return _assemble_distributed(tiles, k, subtree_kernel, aabb,
                                     spacing_f, scale_f, spill, transform)
    finally:
        tiles.unpersist()


def _assemble_distributed(tiles, k, subtree_kernel, aabb, spacing_f,
                          scale_f, spill, transform):
    # one shuffle: applyInPandas hash-partitions on the depth-k prefix
    deep = tiles.filter(F.length("tile_id") >= k)
    kernel_rows = (deep
                   .groupBy(F.substring("tile_id", 1, k).alias("_sub"))
                   .applyInPandas(
                       lambda key, pdf: subtree_kernel(pdf),
                       schema="name string, body string")
                   .collect())

    # json.loads/json.dumps round-trips Python floats exactly and
    # preserves key order, so re-serializing a stub inside the driver
    # composition reproduces the monolithic bytes
    overrides, docs = {}, {}
    for r in kernel_rows:
        if r["name"].startswith("\x00"):
            overrides[r["name"][1:]] = json.loads(r["body"])
        else:
            docs[r["name"]] = (None if r["body"] is None
                               else json.loads(r["body"]))

    shallow = tiles.filter(F.length("tile_id") < k).collect()
    info = {r["tile_id"]: r.asDict() for r in shallow}
    prefixes = set()
    for tid in list(info) + list(overrides):
        for i in range(len(tid) + 1):
            prefixes.add(tid[:i])
    prefixes.add("")

    root = _node_json("", info, prefixes, docs, aabb, spacing_f, scale_f,
                      spill, subtree_overrides=overrides)
    return _finalize_root(root, docs, aabb, scale_f, transform)


def root_overview(points_with_tiles: DataFrame, root_aabb, root_spacing,
                  include_rgb: bool = False) -> DataFrame:
    """The root tile's pnts content (reference write_tileset,
    convert.py:44-66): a grid-accept LOD subsample of the depth-1
    children's contents at DOUBLE the root spacing (Node('', aabb,
    spacing*2)). The root holds no assigned points (node_process forces it
    empty); its content is this overview.

    Relational form: rows assigned to a depth-1 tile, grouped by ROOT grid
    cell (native key expression — one shuffle on the cell key), canonical
    (tile_id, point_id) order, sequential accept per cell at (2*spacing)^2.
    The reference's insertion order is its children's pnts file order; the
    engine pins the canonical order instead (same determinism contract as
    the tree build).
    """
    import pandas as pd
    from py3dtiles_spark.functions.geometry import (
        GRID_INITIAL_CELL_COUNT, node_frame, sequential_accept)
    from py3dtiles_spark.operators.tiling import grid_cell_key

    frame = node_frame("", root_aabb, root_spacing)
    inv = np.float32(1.0) / frame.size     # int32 * f32 -> f64 below
    scale = np.array([GRID_INITIAL_CELL_COUNT] * 3, dtype=np.int32) * inv
    key = grid_cell_key([F.lit(float(v)) for v in frame.aabb[0]],
                        [F.lit(float(v)) for v in scale])

    sq = (2.0 * float(root_spacing)) ** 2
    cols = ["point_id", "x", "y", "z"] + (["r", "g", "b"] if include_rgb else [])
    schema = ("point_id long, x float, y float, z float"
              + (", r smallint, g smallint, b smallint" if include_rgb else ""))

    def accept_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["tile_id", "point_id"],
                              kind="stable").reset_index(drop=True)
        xyz = pdf[["x", "y", "z"]].to_numpy(dtype=np.float32)
        mask = sequential_accept(xyz, sq)
        return pdf.loc[mask, cols]

    depth1 = points_with_tiles.filter(F.length("tile_id") == 1)
    return (depth1.withColumn("_ck", key)
            .groupBy("_ck").applyInPandas(accept_cell, schema=schema))
