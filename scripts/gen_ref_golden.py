"""Generate checked-in golden tile assignments by running the REFERENCE
implementation's own Node/Grid/distance code (/root/reference) on
deterministic clouds, in canonical (file/id) order.

The reference's production orchestration (ZMQ workers) is insertion-order
nondeterministic; the engine pins canonical order = ascending point_id.
This driver feeds each node its full point set in exactly that order (one
batch per node, parents flushed before children), which is a legal
schedule of the reference — so the captured assignments are what the
reference itself produces under the engine's canonical schedule.

Point identity rides in the RGB channel (24-bit id) so per-node point sets
map back to ids without relying on coordinate uniqueness.

Outputs tests/golden/ref_assign_<case>.json: {"root_aabb": ..,
"root_spacing": .., "split_threshold": 20000, "assign": {id: tile_name}}.

Usage: python scripts/gen_ref_golden.py
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF = os.environ.get("PY3DTILES_REF", "/root/reference")
sys.path.insert(0, os.path.join(REPO, "tests", "ref_shim"))
sys.path.insert(0, REF)
sys.path.insert(0, REPO)

from collections import namedtuple  # noqa: E402

# Real numba casts the float64 squared-spacing argument to float32 at the
# is_point_far_enough call boundary (explicit float32 signature,
# distance.py:5). The identity-decorator stub skips that cast, so restore
# it here BEFORE points_grid binds the symbol.
import py3dtiles.points.distance as _ref_distance  # noqa: E402

_orig_far_enough = _ref_distance.is_point_far_enough


def _far_enough_f32(points, tested_point, squared_min_distance):
    return _orig_far_enough(points, tested_point,
                            np.float32(squared_min_distance))


_ref_distance.is_point_far_enough = _far_enough_f32

from py3dtiles.points.node_catalog import NodeCatalog  # noqa: E402  (reference)
from py3dtiles.points.utils import compute_spacing  # noqa: E402   (reference)

from py3dtiles_spark.sources.las import las_summary, read_las_points  # noqa: E402
from py3dtiles_spark.sources.ripple import ripple_cloud  # noqa: E402

OctreeMetadata = namedtuple("OctreeMetadata", ["aabb", "spacing", "scale"])


def ids_to_rgb(ids: np.ndarray) -> np.ndarray:
    rgb = np.zeros((len(ids), 3), dtype=np.uint8)
    rgb[:, 0] = (ids >> 16) & 0xFF
    rgb[:, 1] = (ids >> 8) & 0xFF
    rgb[:, 2] = ids & 0xFF
    return rgb


def rgb_to_ids(rgb: np.ndarray) -> np.ndarray:
    r = rgb.astype(np.int64)
    return (r[:, 0] << 16) | (r[:, 1] << 8) | r[:, 2]


def reference_assign(xyz32: np.ndarray, ids: np.ndarray,
                     root_aabb64: np.ndarray, scale: float = 1.0) -> dict:
    """Run the reference Node/Grid insertion to a fixed point and read back
    every node's resident points."""
    spacing = compute_spacing(root_aabb64)
    meta = OctreeMetadata(aabb=root_aabb64, spacing=spacing, scale=scale)
    cat = NodeCatalog(b"", b"", meta)
    root = cat.get_node(b"")
    # make_empty_node=True: exactly what node_process does for name=''
    # (node_process.py:88,109) — the root forwards everything to depth-1
    # children and never retains points; its pnts is a post-hoc overview
    root.insert(cat, scale, xyz32, ids_to_rgb(ids), make_empty_node=True)
    # flush until no node holds pending points (parents before children —
    # dict preserves insertion order, children are created after parents)
    progress = True
    while progress:
        progress = False
        for name in list(cat.nodes.keys()):
            node = cat.nodes[name]
            if node.pending_xyz:
                node.flush_pending_points(cat, scale)
                progress = True

    assign = {}
    for name, node in cat.nodes.items():
        tid = name.decode("ascii")
        if node.children is None:            # leaf: keeps raw batches
            for _, rgb in node.points:
                for i in rgb_to_ids(rgb):
                    assign[int(i)] = tid
        else:                                # internal: grid-accepted points
            for rgb in node.grid.cells_rgb:
                if rgb.shape[0]:
                    for i in rgb_to_ids(rgb):
                        assign[int(i)] = tid
    assert len(assign) == len(ids), (len(assign), len(ids))
    return {"root_aabb": root_aabb64.tolist(),
            "root_spacing": float(spacing),
            "scale": scale,
            "assign": {str(k): v for k, v in assign.items()}}


def case_ripple_las():
    """ripple.las through the reference conversion prelude
    (convert.py:420-437: offset by avg_min, root_scale rule)."""
    path = os.path.join(REF, "tests", "ripple.las")
    info = las_summary(path)
    hdr = info["headers"][0]
    xyz, _ = read_las_points(hdr, 0, hdr.point_count)
    avg_min = info["avg_min"]
    root_aabb = info["aabb"] - avg_min
    base_spacing = compute_spacing(root_aabb)
    root_scale = 0.01 if base_spacing > 10 else (0.1 if base_spacing > 1 else 1.0)
    root_aabb = root_aabb * root_scale
    pts = ((xyz - avg_min) * root_scale).astype(np.float32)
    ids = np.arange(len(pts), dtype=np.int64)
    return pts, ids, root_aabb, root_scale


def case_cloud(n, z_scale, seed):
    ids, xyz = ripple_cloud(n, z_scale=z_scale, seed=seed)
    aabb64 = np.array([xyz.min(axis=0), xyz.max(axis=0)], dtype=np.float64)
    return xyz, ids, aabb64, 1.0


def case_skewed(n, seed=7):
    """Megacity-style skew: 30% of points inside three ~1e-3-wide hot
    clusters (exercises deep single-child chains)."""
    rng = np.random.default_rng(seed)
    xyz = rng.uniform(0.0, 100.0, size=(n, 3)).astype(np.float32)
    xyz[:, 2] *= 0.01
    hot = rng.random(n) < 0.3
    centers = np.array([[10.0, 10.0, 0.5], [60.0, 40.0, 0.2],
                        [90.0, 90.0, 0.8]], dtype=np.float32)
    which = rng.integers(0, 3, size=n)
    jitter = rng.uniform(-5e-4, 5e-4, size=(n, 3)).astype(np.float32)
    xyz[hot] = centers[which[hot]] + jitter[hot]
    aabb64 = np.array([xyz.min(axis=0), xyz.max(axis=0)], dtype=np.float64)
    return xyz, np.arange(n, dtype=np.int64), aabb64, 1.0


def main():
    out_dir = os.path.join(REPO, "tests", "golden")
    os.makedirs(out_dir, exist_ok=True)
    cases = {
        "ripple_las": case_ripple_las(),
        "cloud60k_quadtree": case_cloud(60000, 1.0, 42),
        "cloud60k_octree": case_cloud(60000, 8.0, 43),
        "skew50k": case_skewed(50000),
    }
    for name, (pts, ids, aabb64, scale) in cases.items():
        doc = reference_assign(pts, ids, aabb64, scale)
        n_tiles = len(set(doc["assign"].values()))
        path = os.path.join(out_dir, f"ref_assign_{name}.json")
        with open(path, "w") as f:
            json.dump(doc, f)
        print(f"{name}: {len(ids)} pts -> {n_tiles} tiles -> {path}")


if __name__ == "__main__":
    main()
