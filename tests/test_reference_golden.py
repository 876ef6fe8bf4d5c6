"""Cross-validation against the ACTUAL reference implementation.

tests/golden/ref_assign_*.json are produced by scripts/gen_ref_golden.py,
which runs the reference's own Node/Grid/distance code (/root/reference,
numba stubbed to plain numpy — same IEEE semantics) on deterministic clouds
in the engine's canonical insertion order. These tests assert the engine's
replay oracle and the distributed engine produce IDENTICAL per-point tile
assignments — closing the north_star requirement that every point lands in
the same octree node as the reference's own conversion.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from conftest import needs_reference, reference_path
from py3dtiles_spark.operators.replay import assign_subtree

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")


def _load(case):
    path = os.path.join(GOLDEN_DIR, f"ref_assign_{case}.json")
    with open(path) as f:
        doc = json.load(f)
    return (np.array(doc["root_aabb"], dtype=np.float64),
            float(doc["root_spacing"]), float(doc["scale"]),
            {int(k): v for k, v in doc["assign"].items()})


def _cloud_for(case):
    from py3dtiles_spark.sources.ripple import ripple_cloud
    if case == "ripple_las":
        from py3dtiles_spark.sources.las import las_summary, read_las_points
        info = las_summary(reference_path("tests", "ripple.las"))
        hdr = info["headers"][0]
        xyz, _ = read_las_points(hdr, 0, hdr.point_count)
        root_aabb = info["aabb"] - info["avg_min"]
        from py3dtiles_spark.functions.geometry import compute_spacing
        base = compute_spacing(root_aabb)
        scale = 0.01 if base > 10 else (0.1 if base > 1 else 1.0)
        pts = ((xyz - info["avg_min"]) * scale).astype(np.float32)
        return np.arange(len(pts), dtype=np.int64), pts
    if case == "cloud60k_quadtree":
        return ripple_cloud(60000, z_scale=1.0, seed=42)
    if case == "cloud60k_octree":
        return ripple_cloud(60000, z_scale=8.0, seed=43)
    if case == "skew50k":
        rng = np.random.default_rng(7)
        n = 50000
        xyz = rng.uniform(0.0, 100.0, size=(n, 3)).astype(np.float32)
        xyz[:, 2] *= 0.01
        hot = rng.random(n) < 0.3
        centers = np.array([[10.0, 10.0, 0.5], [60.0, 40.0, 0.2],
                            [90.0, 90.0, 0.8]], dtype=np.float32)
        which = rng.integers(0, 3, size=n)
        jitter = rng.uniform(-5e-4, 5e-4, size=(n, 3)).astype(np.float32)
        xyz[hot] = centers[which[hot]] + jitter[hot]
        return np.arange(n, dtype=np.int64), xyz
    raise ValueError(case)


CASES = [pytest.param("ripple_las",
                      marks=needs_reference("tests", "ripple.las")),
         "cloud60k_quadtree", "cloud60k_octree", "skew50k"]


@pytest.mark.parametrize("case", CASES)
def test_replay_matches_reference(case):
    root_aabb, root_spacing, scale, expected = _load(case)
    ids, xyz = _cloud_for(case)
    got = assign_subtree(ids, xyz, "", root_aabb, root_spacing, scale,
                         split_threshold=20000)
    mismatches = [(int(i), expected[int(i)], t)
                  for i, t in zip(ids, got) if expected[int(i)] != t]
    assert not mismatches, (len(mismatches), mismatches[:10])


def test_engine_matches_reference_engine_side(spark):
    """Distributed engine vs the reference golden (one representative case;
    replay==engine is covered per-case above + in test_tiling_golden)."""
    case = "cloud60k_quadtree"
    root_aabb, root_spacing, scale, expected = _load(case)
    ids, xyz = _cloud_for(case)
    from py3dtiles_spark.operators.tiling import TilingConfig, build_tiling
    pts = spark.createDataFrame(pd.DataFrame(
        {"point_id": ids, "x": xyz[:, 0], "y": xyz[:, 1], "z": xyz[:, 2]}))
    res = build_tiling(spark, pts, TilingConfig(
        scale=scale, root_aabb=root_aabb, root_spacing=root_spacing,
        in_kernel_threshold=10_000, checkpoint="memory"))
    got = {r.point_id: r.tile_id for r in res.assignments.collect()}
    bad = [(i, expected[i], got[i]) for i in got if expected[i] != got[i]]
    assert not bad, (len(bad), bad[:10])
    assert len(got) == len(expected)
