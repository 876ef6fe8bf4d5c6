"""Golden tests: the distributed engine must reproduce the canonical replay
(single-threaded reference semantics) tile-for-tile, point-for-point —
the exact-tile-assignment requirement of BASELINE.json."""

import numpy as np
import pytest

from py3dtiles_spark.operators import tiling
from py3dtiles_spark.operators.replay import replay_tiling
from py3dtiles_spark.operators.tiling import (
    TilingConfig, build_tiling, cleanup_checkpoint, compute_root_aabb)
from py3dtiles_spark.sources.ripple import ripple_cloud


def _points_df(spark, ids, xyz):
    import pandas as pd
    pdf = pd.DataFrame({"point_id": ids,
                        "x": xyz[:, 0], "y": xyz[:, 1], "z": xyz[:, 2]})
    return spark.createDataFrame(pdf).repartition(8)


def _engine_assignments(spark, ids, xyz, cfg):
    df = _points_df(spark, ids, xyz)
    res = build_tiling(spark, df, cfg)
    rows = res.assignments.collect()
    got = {r.point_id: r.tile_id for r in rows}
    return got, res


@pytest.mark.parametrize("z_scale,label", [(1.0, "quadtree-flat"),
                                           (20.0, "octree-tall")])
def test_engine_matches_replay(spark, z_scale, label, tmp_path):
    ids, xyz = ripple_cloud(30_000, z_scale=z_scale)
    expected, _, _ = replay_tiling(ids, xyz, split_threshold=2000)

    cfg = TilingConfig(split_threshold=2000, in_kernel_threshold=6000,
                       checkpoint_dir=str(tmp_path / label))
    got, res = _engine_assignments(spark, ids, xyz, cfg)

    assert len(got) == len(ids)
    exp = {int(i): t for i, t in zip(ids, expected)}
    mismatches = {i: (exp[i], got[i]) for i in exp if exp[i] != got[i]}
    assert not mismatches, f"{len(mismatches)} mismatched assignments, e.g. " \
                           f"{list(mismatches.items())[:5]}"
    assert res.counters["points_assigned"] == len(ids)
    cleanup_checkpoint(res)


def test_engine_all_local_path(spark, tmp_path):
    """With a huge in-kernel threshold the whole tree builds in one task —
    must equal the multi-shuffle cell path."""
    ids, xyz = ripple_cloud(12_000)
    expected, _, _ = replay_tiling(ids, xyz, split_threshold=1500)
    cfg = TilingConfig(split_threshold=1500, in_kernel_threshold=10**9,
                       checkpoint_dir=str(tmp_path / "local"))
    got, res = _engine_assignments(spark, ids, xyz, cfg)
    assert all(got[int(i)] == t for i, t in zip(ids, expected))
    cleanup_checkpoint(res)


def test_root_aabb_and_leaf_small_cloud(spark, tmp_path):
    """The root never retains points (reference node_process.py:88,109):
    even a tiny cloud routes to depth-1 leaves, exactly like the reference
    (its ripple.las conversion produces r0.pnts, tests/test_convert.py)."""
    ids, xyz = ripple_cloud(500)
    df = _points_df(spark, ids, xyz)
    aabb, spacing = compute_root_aabb(df)
    np.testing.assert_allclose(aabb[0], xyz.min(axis=0), rtol=1e-6)
    np.testing.assert_allclose(aabb[1], xyz.max(axis=0), rtol=1e-6)

    cfg = TilingConfig(checkpoint_dir=str(tmp_path / "leaf"))
    got, res = _engine_assignments(spark, ids, xyz, cfg)
    tiles = set(got.values())
    assert "" not in tiles
    assert tiles <= set("01234567") and len(tiles) >= 2
    cleanup_checkpoint(res)


# ripple cloud whose build runs three levels (cell, cell, leaf): a pinned
# plan_parallelism keeps the local cutoff at in_kernel_threshold, so the
# level-1 nodes fan out per cell instead of finishing in one task
_THREE_LEVEL_CFG = dict(split_threshold=500, in_kernel_threshold=500,
                        plan_parallelism=64)


def _manifests(ckpt):
    import json
    return [json.loads(m.read_text())
            for m in sorted(ckpt.glob("level=*/_MANIFEST.json"),
                            key=lambda m: int(m.parent.name.split("=")[1]))]


@pytest.mark.parametrize("crash_level", [0, 1, 2])
def test_resume_from_checkpoint(spark, tmp_path, crash_level):
    """Crash between level k's parquet write and its _MANIFEST.json
    (manifests of levels >= k and directories of levels > k removed, level
    k's parquet kept), resume, and still match the uninterrupted build and
    the replay exactly (the north_rule resumability requirement). Every
    completed level's manifest equals its counters entry."""
    import shutil

    ids, xyz = ripple_cloud(20_000)
    expected, _, _ = replay_tiling(ids, xyz, split_threshold=500)
    ckpt = tmp_path / "resume"
    cfg = TilingConfig(**_THREE_LEVEL_CFG, checkpoint_dir=str(ckpt))
    df = _points_df(spark, ids, xyz)
    full = build_tiling(spark, df, cfg)
    levels = full.counters["levels"]
    assert len(levels) >= 3 and full.counters["complete"]
    assert _manifests(ckpt) == levels
    uninterrupted = {r.point_id: r.tile_id
                     for r in full.assignments.collect()}

    for lv in levels[crash_level + 1:]:
        shutil.rmtree(ckpt / f"level={lv['level']}")
    crashed = ckpt / f"level={crash_level}"
    (crashed / "_MANIFEST.json").unlink()
    assert (crashed / "out").is_dir()

    res = build_tiling(spark, df, cfg, resume=True)
    assert res.counters["complete"]
    assert res.counters["levels"][:crash_level] == levels[:crash_level]
    assert ([lv["level"] for lv in res.counters["levels"]]
            == [lv["level"] for lv in levels])
    assert _manifests(ckpt) == res.counters["levels"]
    got = {r.point_id: r.tile_id for r in res.assignments.collect()}
    assert got == uninterrupted
    assert all(got[int(i)] == t for i, t in zip(ids, expected))
    cleanup_checkpoint(res)


def test_input_released_after_level_zero(spark, tmp_path, monkeypatch):
    """The cached input serves level 0 only: by the time level 1 reads its
    pending rows from parquet, no RDD the build persisted is left."""
    jsc = spark.sparkContext._jsc
    reads = []
    read_pending = tiling._read_pending

    def spy(spark_, out_dir):
        reads.append(jsc.getPersistentRDDs().size())
        return read_pending(spark_, out_dir)

    monkeypatch.setattr(tiling, "_read_pending", spy)
    ids, xyz = ripple_cloud(20_000)
    df = _points_df(spark, ids, xyz)
    before = jsc.getPersistentRDDs().size()
    res = build_tiling(spark, df, TilingConfig(
        **_THREE_LEVEL_CFG, checkpoint_dir=str(tmp_path / "release")))
    assert reads and reads[0] == before, (before, reads)
    assert jsc.getPersistentRDDs().size() == before
    cleanup_checkpoint(res)


def _megacity_cloud():
    """Uniform flat cloud with 60% of its points in one tight cluster: the
    hot node sits far above the local cutoff inside ONE child octant."""
    rng = np.random.default_rng(11)
    n = 30_000
    xyz = np.empty((n, 3), dtype=np.float32)
    xyz[:, 0] = rng.uniform(0, 100, n)
    xyz[:, 1] = rng.uniform(0, 100, n)
    xyz[:, 2] = rng.uniform(0, 1, n)
    hot = rng.random(n) < 0.6
    xyz[hot, 0] = 20.0 + rng.uniform(-0.01, 0.01, hot.sum())
    xyz[hot, 1] = 30.0 + rng.uniform(-0.01, 0.01, hot.sum())
    return np.arange(n, dtype=np.int64), xyz


_MEGACITY_CFG = dict(split_threshold=500, in_kernel_threshold=1000)
# bound on one local task for the megacity cloud: its hot node stays far
# above the local cutoff for several levels
_MEGACITY_HARD_CAP = 2000


def test_megacity_chain_matches_replay(spark, tmp_path, monkeypatch):
    """A megacity-style node far above the local cutoff whose points sit
    in ONE child octant for several levels descends as a chain of cell
    levels (9 levels in all; a single-child in-task descent, since
    removed, took 7) — the routing uses only leaf, local and cell and the
    result must equal the replay."""
    monkeypatch.setattr(tiling, "LOCAL_HARD_CAP", _MEGACITY_HARD_CAP)
    ids, xyz = _megacity_cloud()
    expected, _, _ = replay_tiling(ids, xyz, split_threshold=500)
    cfg = TilingConfig(**_MEGACITY_CFG,
                       checkpoint_dir=str(tmp_path / "chain"))
    got, res = _engine_assignments(spark, ids, xyz, cfg)
    modes = {m for s in res.counters["levels"] for m in s["modes"]}
    assert modes <= {"leaf", "local", "cell"}, res.counters["levels"]
    assert all(got[int(i)] == t for i, t in zip(ids, expected))
    cleanup_checkpoint(res)


# the modes each cloud must route on over-cap levels; the megacity cloud
# covers all three
@pytest.mark.parametrize("cloud,cfg_kw,hard_cap,over_cap_modes", [
    (lambda: ripple_cloud(30_000),
     dict(split_threshold=2000, in_kernel_threshold=6000),
     tiling.LOCAL_HARD_CAP, {"leaf", "cell"}),
    (_megacity_cloud, _MEGACITY_CFG, _MEGACITY_HARD_CAP,
     {"leaf", "local", "cell"}),
], ids=["ripple", "megacity"])
def test_distributed_routing_over_cap(spark, tmp_path, monkeypatch, cloud,
                                      cfg_kw, hard_cap, over_cap_modes):
    """NODE_BROADCAST_ROWS below the live-node count forces the fully
    distributed routing path (_route_nodes through mapInPandas, shuffled
    node_meta join, histogram-only driver traffic) — must produce the
    exact same assignments as the replay."""
    monkeypatch.setattr(tiling, "LOCAL_HARD_CAP", hard_cap)
    monkeypatch.setattr(tiling, "NODE_BROADCAST_ROWS", 2)
    ids, xyz = cloud()
    expected, _, _ = replay_tiling(ids, xyz,
                                   split_threshold=cfg_kw["split_threshold"])
    cfg = TilingConfig(**cfg_kw, checkpoint_dir=str(tmp_path / "overcap"))
    got, res = _engine_assignments(spark, ids, xyz, cfg)
    exp = {int(i): t for i, t in zip(ids, expected)}
    mismatches = {i: (exp[i], got[i]) for i in exp if exp[i] != got[i]}
    assert not mismatches, f"{len(mismatches)} mismatches, e.g. " \
                           f"{list(mismatches.items())[:5]}"
    assert res.counters["points_assigned"] == len(ids)
    routed = {m for lv in res.counters["levels"]
              if lv["nodes"] > tiling.NODE_BROADCAST_ROWS for m in lv["modes"]}
    assert over_cap_modes <= routed, res.counters["levels"]
    cleanup_checkpoint(res)


def test_resume_missing_level_raises(spark, tmp_path):
    """ADVICE r4: resuming from a checkpoint whose claimed level dir was
    never written must raise, not silently complete with empty pending."""
    import json

    ckpt = tmp_path / "bad_resume"
    ckpt.mkdir()
    (ckpt / "meta.json").write_text(json.dumps(
        {"root_aabb": [[0, 0, 0], [1, 1, 1]], "root_spacing": 0.25,
         "scale": 1.0}))
    lv = ckpt / "level=0"
    lv.mkdir()
    (lv / "_MANIFEST.json").write_text(json.dumps(
        {"level": 0, "points_in": 10, "nodes": 1, "modes": {"cell": 1}}))
    # manifest says level 0 completed, but level=0/out was never written
    ids, xyz = ripple_cloud(100)
    df = _points_df(spark, ids, xyz)
    with pytest.raises(FileNotFoundError, match="does not exist"):
        build_tiling(spark, df,
                     TilingConfig(checkpoint_dir=str(ckpt)), resume=True)


def test_lost_accepted_rows_raise_on_resume(spark, tmp_path):
    """The written==read invariant is a raised error, not a bare assert
    (python -O would strip it): a level whose finalized rows vanished
    between runs fails the resumed build by name."""
    import re
    import shutil

    ids, xyz = ripple_cloud(8_000)
    ckpt = tmp_path / "lost"
    cfg = TilingConfig(split_threshold=1500, in_kernel_threshold=3000,
                       checkpoint_dir=str(ckpt))
    df = _points_df(spark, ids, xyz)
    res = build_tiling(spark, df, cfg)
    assert res.counters["points_assigned"] == len(ids)
    accepted = ckpt / "level=0" / "out" / "accepted=true"
    assert accepted.is_dir()
    shutil.rmtree(accepted)
    msg = rf"read {len(ids)} .*{re.escape(str(ckpt))}"
    with pytest.raises(RuntimeError, match=msg):
        build_tiling(spark, df, cfg, resume=True)
