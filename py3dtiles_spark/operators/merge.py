"""Tileset federation (reference `py3dtiles merge`, merger.py:156-232).

Merges N input tilesets into one master tileset by recursively quad-splitting
the union AABB and routing each tileset to the quadrant containing its
center; internal quadrants get an LOD overview sampled from children.

Data sizes: tileset count is dozens-to-thousands (driver-friendly); only the
overview sampling touches point-scale data, done as a per-quadrant
deterministic sample (reference uses np.random.choice with
ratio = min(0.5, 50000/total), merger.py:201-213 — we use hash-ordered
selection so the result is reproducible, SURVEY.md §7.4).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, functions as F

from py3dtiles_spark.functions.geometry import split_aabb
from py3dtiles_spark.sources.pnts import PNTS_HEADER_LEN

OVERVIEW_POINT_CAP = 50_000


def union_aabb(tilesets: list[dict]) -> np.ndarray:
    mins = np.min([t["aabb"][0] for t in tilesets], axis=0)
    maxs = np.max([t["aabb"][1] for t in tilesets], axis=0)
    return np.array([mins, maxs], dtype=np.float64)


def build_merge_tree(tilesets: list[dict], aabb: np.ndarray | None = None,
                     min_diag: float = 1.0, _path: str = "") -> dict:
    """Recursive quadtree federation. Each tileset dict needs:
    {"uri": str, "aabb": (2,3) array, "center": (3,) array,
     "point_count": int, "geometric_error": float}.
    Returns the merged tileset root node (driver-side JSON-able dict).

    Every internal node carries `_node_path` (quadrant-digit string) and
    `_member_uris` (the input tilesets under it); `_federate` pops both so
    merge_with_overviews can attach an LOD overview pnts per internal node
    (merger.py:201-227).
    """
    if aabb is None:
        aabb = union_aabb(tilesets)
    diag = float(np.linalg.norm(aabb[1] - aabb[0]))
    if len(tilesets) == 1 or diag < min_diag:
        t = tilesets[0]
        node = {
            "geometricError": t["geometric_error"],
            "boundingVolume": _box(t["aabb"]),
            "content": {"uri": t["uri"]},
        }
        if len(tilesets) > 1:
            node["children"] = [build_merge_tree([x], x["aabb"], min_diag,
                                                 _path + "x")
                                for x in tilesets[1:]]
        return node

    # forced-quadtree split with child indices 0/2/4/6 (merger.py:104-110)
    members = [t["uri"] for t in tilesets]
    children = []
    child_error = 0.0
    for idx in (0, 2, 4, 6):
        sub = split_aabb(aabb, idx, force_quadtree=True).astype(np.float64)
        inside = [t for t in tilesets
                  if (sub[0][0] <= t["center"][0] <= sub[1][0]
                      and sub[0][1] <= t["center"][1] <= sub[1][1])]
        if not inside:
            continue
        child = build_merge_tree(inside, sub, min_diag, _path + str(idx))
        children.append(child)
        child_error += child["geometricError"]
        tilesets = [t for t in tilesets if t not in inside]

    node_aabb = union_aabb_boxes(children) if children else aabb
    return {
        # geometricError = sum of children's (merger.py:229)
        "geometricError": child_error,
        "boundingVolume": _box(node_aabb),
        "refine": "ADD",
        "children": children,
        "_node_path": _path,
        "_member_uris": members,
    }


def _box(aabb) -> dict:
    lo = np.asarray(aabb[0], dtype=float)
    hi = np.asarray(aabb[1], dtype=float)
    c, h = (lo + hi) / 2.0, (hi - lo) / 2.0
    return {"box": [c[0], c[1], c[2], h[0], 0, 0, 0, h[1], 0, 0, 0, h[2]]}


def union_aabb_boxes(children: list[dict]) -> np.ndarray:
    lows, highs = [], []
    for ch in children:
        b = ch["boundingVolume"]["box"]
        c = np.array(b[:3])
        h = np.array([b[3], b[7], b[11]])
        lows.append(c - h)
        highs.append(c + h)
    return np.array([np.min(lows, axis=0), np.max(highs, axis=0)])


def overview_sample(points: DataFrame, total: int,
                    cap: int = OVERVIEW_POINT_CAP, seed: int = 42) -> DataFrame:
    """Deterministic LOD overview sample: ratio = min(0.5, cap/total)
    (merger.py:201-213), chosen by hash order instead of RNG so reruns are
    identical. Pure window-free filter: keep rows whose hash bucket falls
    under the ratio."""
    if total <= 0:
        return points.limit(0)
    ratio = min(0.5, cap / total)
    denom = 1 << 20
    return points.filter(
        F.pmod(F.xxhash64("point_id", F.lit(seed)), F.lit(denom))
        < int(ratio * denom))


def scan_tilesets(root_dir: str) -> list[dict]:
    """S8 tileset-JSON scan (reference merger.py:59-101): walk root_dir for
    */tileset.json, load each, compute the root-transform-applied AABB and
    the root content's point count (pnts header only — O(1) bytes/file).

    Tileset counts are dozens-to-thousands: a driver loop IS the right
    plan; only overview point sampling (merge_with_overviews) touches
    point-scale data distributed."""
    import glob
    import json
    import struct as _struct

    out = []
    for path in sorted(glob.glob(os.path.join(root_dir, "*", "tileset.json"))):
        with open(path) as f:
            doc = json.load(f)
        root = doc["root"]
        box = root["boundingVolume"]["box"]
        c = np.array(box[:3], dtype=np.float64)
        h = np.array([box[3], box[7], box[11]], dtype=np.float64)
        lo, hi = c - h, c + h
        tf = root.get("transform")
        if tf is not None:
            m = np.array(tf, dtype=np.float64).reshape(4, 4).T
            corners = np.array([[x, y, z, 1.0]
                                for x in (lo[0], hi[0])
                                for y in (lo[1], hi[1])
                                for z in (lo[2], hi[2])])
            world = corners @ m.T
            lo = world[:, :3].min(axis=0)
            hi = world[:, :3].max(axis=0)
        count = 0
        uri = root.get("content", {}).get("uri")
        if uri:
            pnts_path = os.path.join(os.path.dirname(path), uri)
            if os.path.exists(pnts_path):
                # read the 28-byte header first, then EXACTLY the
                # feature-table JSON — a fixed 1024-byte slice truncated
                # third-party files with large feature tables
                with open(pnts_path, "rb") as f:
                    head = f.read(PNTS_HEADER_LEN)
                    ftj = _struct.unpack("<I", head[12:16])[0]
                    ft_bytes = f.read(ftj)
                import json as _json
                ft = _json.loads(ft_bytes)
                count = ft.get("POINTS_LENGTH", 0)
        out.append({"uri": os.path.relpath(path, root_dir),
                    "transform": (m if tf is not None else None),
                    "aabb": np.array([lo, hi]),
                    "center": (lo + hi) / 2.0,
                    "point_count": count,
                    "geometric_error": float(doc.get("geometricError", 0.0))})
    return out


def merge_with_overviews(spark, root_dir: str, out_dir: str,
                         min_diag: float = 1.0) -> dict:
    """Full merge (reference merger.py:156-232): federate all tilesets
    under root_dir AND give EVERY internal quadrant a pnts overview sampled
    from the points of the tilesets below it (merger.py:201-227).

    One distributed pnts scan covers all inputs; each internal node's
    overview is a deterministic hash-ratio sample of its members' points
    (ratio = min(0.5, 50000/member_total)), grouped and written in one
    executor-side pass — no per-node scan, no driver point loops."""
    import json

    from py3dtiles_spark.sources.pnts import (
        pnts_scan, tiles_to_pnts_df, write_pnts_files)

    tilesets = scan_tilesets(root_dir)
    if not tilesets:
        raise ValueError(f"no */tileset.json under {root_dir}")
    doc, internal = _federate(tilesets, min_diag)
    os.makedirs(out_dir, exist_ok=True)

    # per internal node: its overview uri and member point total
    count_by_uri = {t["uri"]: t["point_count"] for t in tilesets}
    nodes = []
    for node, path, members in internal:
        total = sum(count_by_uri[u] for u in members)
        if total > 0:
            node["content"] = {"uri": f"r{path}.pnts" if path else "r.pnts"}
            nodes.append((path, members, total))

    if nodes:
        # one lazy scan per input tileset dir; the per-node unions below
        # compose them into ONE Spark job at write time
        from pyspark.sql import DataFrame as _DF
        from functools import reduce as _reduce
        per_dir = {}
        for t in tilesets:
            d = os.path.dirname(os.path.join(root_dir, t["uri"]))
            df = pnts_scan(spark, d).withColumn(
                "point_id", F.xxhash64(F.lit(t["uri"]), "tile_id", "point_idx"))
            # apply the tileset's root transform so overview points live in
            # the same WORLD frame as the merged quadrant boxes (the
            # reference applies inv_base @ tile_transform, merger.py:211
            # _get_tile_points; our base transform is identity because
            # scan_tilesets already world-frames every AABB). withColumns
            # is one projection, so y/z exprs see the ORIGINAL x.
            if t.get("transform") is not None:
                m = np.asarray(t["transform"], dtype=np.float64)

                def _ax(i, _m=m):
                    return (F.lit(float(_m[i, 0])) * F.col("x").cast("double")
                            + F.lit(float(_m[i, 1])) * F.col("y").cast("double")
                            + F.lit(float(_m[i, 2])) * F.col("z").cast("double")
                            + F.lit(float(_m[i, 3]))).cast("float")

                df = df.withColumns({"x": _ax(0), "y": _ax(1), "z": _ax(2)})
            per_dir[t["uri"]] = df
        frames = []
        for path, members, total in nodes:
            ratio_src = _reduce(_DF.unionByName,
                                [per_dir[u] for u in members])
            samp = overview_sample(ratio_src, total).withColumn(
                "tile_id", F.lit(path))
            frames.append(samp)
        all_overviews = _reduce(_DF.unionByName, frames)
        write_pnts_files(
            tiles_to_pnts_df(all_overviews.select(
                "point_id", "x", "y", "z", "r", "g", "b", "tile_id"),
                include_rgb=True),
            out_dir)

    with open(os.path.join(out_dir, "tileset.json"), "w") as f:
        json.dump(doc, f)
    return doc


def merge_tilesets(tileset_rows, min_diag: float = 1.0) -> dict:
    """Entry point mirroring `py3dtiles merge`: rows/dicts with
    (tileset_id, uri, min_x..max_z or aabb, point_count, geometric_error)."""
    return _federate(tileset_rows, min_diag)[0]


def _federate(tileset_rows, min_diag: float):
    """(tileset document, internal nodes). The bookkeeping keys that
    build_merge_tree puts on internal nodes are removed here, so no merge
    path writes them; each internal node comes back as (node dict,
    quadrant path, member uris), in pre-order."""
    tilesets = []
    for r in tileset_rows:
        d = r.asDict() if hasattr(r, "asDict") else dict(r)
        if "aabb" not in d:
            d["aabb"] = np.array([[d["min_x"], d["min_y"], d["min_z"]],
                                  [d["max_x"], d["max_y"], d["max_z"]]])
        d.setdefault("uri", f"tileset_{d.get('tileset_id')}.json")
        d["center"] = (np.asarray(d["aabb"][0]) + np.asarray(d["aabb"][1])) / 2.0
        d.setdefault("geometric_error",
                     float(np.linalg.norm(
                         np.asarray(d["aabb"][1]) - np.asarray(d["aabb"][0]))))
        tilesets.append(d)
    root = build_merge_tree(tilesets, min_diag=min_diag)
    internal = []

    def walk(node):
        if "_node_path" in node:
            internal.append((node, node.pop("_node_path"),
                             node.pop("_member_uris")))
        for c in node.get("children", []):
            walk(c)

    walk(root)
    return ({"asset": {"version": "1.0"},
             "geometricError": root["geometricError"] or 1.0,
             "root": root}, internal)
