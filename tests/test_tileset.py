"""Tileset/BVH emission + small-child rollup + pnts codec tests."""

import json

import numpy as np
import pytest

from py3dtiles_spark.operators.tileset import (
    build_tiles_df, build_tileset_json, rollup_small_children)
from py3dtiles_spark.sources.pnts import (
    decode_pnts, encode_pnts, name_to_relpath)


def test_pnts_roundtrip_and_golden_lengths():
    """Mirrors reference tests/test_pc.py golden byte lengths: 1000 points
    with RGB -> body 15000 bytes, header 28."""
    rng = np.random.default_rng(42)
    xyz = rng.uniform(0, 5, (1000, 3)).astype(np.float32)
    rgb = rng.integers(0, 256, (1000, 3), dtype=np.uint8)
    buf = encode_pnts(xyz, rgb, rtc_center=[1215012.88, -4736313.05, 4081605.22])
    import struct
    magic, ver, total, ftj, ftb, btj, btb = struct.unpack("<4sIIIIII", buf[:28])
    assert magic == b"pnts" and ver == 1
    assert ftb == 12000 + 3000  # float32 xyz + uint8 rgb
    assert total == len(buf) == 28 + ftj + 15000
    assert (28 + ftj) % 8 == 0  # body alignment
    # default decode applies RTC_CENTER (reference read semantics,
    # feature_table.py:232-237): positions come back in the tile frame
    rtc = [1215012.88, -4736313.05, 4081605.22]
    x2, r2, ft = decode_pnts(buf)
    np.testing.assert_array_equal(
        x2, (xyz.astype(np.float64) + np.array(rtc)).astype(np.float32))
    np.testing.assert_array_equal(r2, rgb)
    assert ft["RTC_CENTER"] == rtc
    # raw roundtrip with apply_rtc=False
    x3, _, _ = decode_pnts(buf, apply_rtc=False)
    np.testing.assert_array_equal(x3, xyz)


def test_pnts_no_rgb():
    xyz = np.zeros((3, 3), dtype=np.float32)
    x2, rgb, ft = decode_pnts(encode_pnts(xyz))
    assert rgb is None and ft["POINTS_LENGTH"] == 3


def test_name_sharding():
    assert name_to_relpath("") == "r.pnts"
    assert name_to_relpath("063") == "r063.pnts"
    assert name_to_relpath("012345670") == "01234567/r0.pnts"


def test_rollup_small_children(spark):
    rows = ([(i, "0") for i in range(500)]
            + [(1000 + i, "1") for i in range(50)]    # tiny -> parent ''
            + [(2000 + i, "") for i in range(10)])
    df = spark.createDataFrame(rows, "point_id long, tile_id string")
    out = rollup_small_children(df, threshold=100)
    counts = {r.tile_id: r["count"] for r in out.groupBy("tile_id").count().collect()}
    assert counts == {"0": 500, "": 60}


def test_rollup_keeps_root(spark):
    df = spark.createDataFrame([(i, "") for i in range(5)],
                               "point_id long, tile_id string")
    out = rollup_small_children(df, threshold=100)
    assert {r.tile_id for r in out.collect()} == {""}


def _mk_tiles(spark, data):
    return spark.createDataFrame(
        data, "point_id long, x float, y float, z float, tile_id string")


def test_tileset_json_structure(spark):
    data = ([(i, 0.5 + i * 1e-4, 0.5, 0.5, "") for i in range(10)]
            + [(100 + i, 0.2, 0.2, 0.2, "0") for i in range(10)]
            + [(200 + i, 0.9, 0.9, 0.9, "7") for i in range(10)])
    tiles = build_tiles_df(_mk_tiles(spark, data))
    root_aabb = np.array([[0, 0, 0], [1, 1, 1]], dtype=np.float32)
    docs = build_tileset_json(tiles.collect(), root_aabb, root_spacing=0.1,
                              scale=1.0)
    ts = docs["tileset.json"]
    assert ts["asset"]["version"] == "1.0"
    assert ts["geometricError"] == pytest.approx(np.sqrt(3.0))
    root = ts["root"]
    assert root["refine"] == "REPLACE"
    assert root["geometricError"] == pytest.approx(10 * 0.1)
    assert root["content"]["uri"] == "r.pnts"
    kids = {c["content"]["uri"] for c in root["children"]}
    assert kids == {"r0.pnts", "r7.pnts"}
    # children are leaves -> geometricError 0
    assert all(c["geometricError"] == 0.0 for c in root["children"])
    # bounding box encloses children
    box = root["boundingVolume"]["box"]
    assert box[3] > 0 and box[7] > 0 and box[11] > 0
    json.dumps(docs)  # serializable


def test_tileset_json_spill(spark):
    # deep chain with tiny spill limit -> subtree spilled to its own doc
    data = [(i, 0.1, 0.1, 0.1, "000") for i in range(5)] \
         + [(10 + i, 0.2, 0.2, 0.2, "00") for i in range(5)] \
         + [(20 + i, 0.3, 0.3, 0.3, "0") for i in range(5)] \
         + [(30 + i, 0.4, 0.4, 0.4, "") for i in range(5)]
    tiles = build_tiles_df(_mk_tiles(spark, data))
    root_aabb = np.array([[0, 0, 0], [1, 1, 1]], dtype=np.float32)
    docs = build_tileset_json(tiles.collect(), root_aabb, 0.1,
                              spill_chars=300)
    spilled = [k for k in docs if k != "tileset.json"]
    assert spilled, "expected at least one spilled subtree"
    assert all(docs[n]["refine"] == "ADD" for n in spilled)
    # every spilled doc is referenced via content.uri from some other doc
    for name in spilled:
        others = json.dumps({k: v for k, v in docs.items() if k != name})
        assert name in others


# ---------------------------------------------------- distributed assembly --

def _random_octree_tiles(spark, seed=7, n=4000, max_depth=5):
    """Random deep octree: points scattered so tiles exist at depths 0..5
    across many depth-2 subtrees (exercises every seam of the distributed
    assembly: shallow tiles, empty subtrees, spills at depths >= k AND
    < k)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        depth = int(rng.integers(0, max_depth + 1))
        tid = "".join(str(d) for d in rng.integers(0, 8, depth))
        x, y, z = rng.uniform(0, 1, 3)
        rows.append((i, float(x), float(y), float(z), tid))
    return build_tiles_df(_mk_tiles(spark, rows))


@pytest.mark.parametrize("spill_chars,subtree_depth", [
    (300, 2),      # heavy spilling, spills both executor- and driver-side
    (100_000, 2),  # no spills at this scale
    (300, 1), (300, 3),
])
def test_distributed_tileset_byte_identical(spark, spill_chars, subtree_depth):
    from py3dtiles_spark.operators.tileset import (
        build_tileset_json_distributed)
    tiles = _random_octree_tiles(spark)
    root_aabb = np.array([[0, 0, 0], [1, 1, 1]], dtype=np.float32)
    mono = build_tileset_json(tiles.collect(), root_aabb, 0.1,
                              spill_chars=spill_chars)
    dist = build_tileset_json_distributed(tiles, root_aabb, 0.1,
                                          spill_chars=spill_chars,
                                          subtree_depth=subtree_depth)
    assert set(mono) == set(dist)
    for name in mono:
        assert json.dumps(mono[name]) == json.dumps(dist[name]), name


def test_distributed_tileset_shallow_only(spark):
    """All tiles above the subtree seam -> pure driver fallback path."""
    from py3dtiles_spark.operators.tileset import (
        build_tileset_json_distributed)
    data = ([(i, 0.5, 0.5, 0.5, "") for i in range(5)]
            + [(10 + i, 0.2, 0.2, 0.2, "0") for i in range(5)])
    tiles = build_tiles_df(_mk_tiles(spark, data))
    root_aabb = np.array([[0, 0, 0], [1, 1, 1]], dtype=np.float32)
    mono = build_tileset_json(tiles.collect(), root_aabb, 0.1)
    dist = build_tileset_json_distributed(tiles, root_aabb, 0.1,
                                          subtree_depth=2)
    assert json.dumps(mono) == json.dumps(dist)


def test_distributed_tileset_executor_write(spark, tmp_path):
    """output_dir mode: spilled subtree docs are written executor-side,
    byte-identical to the monolithic build's docs and with no tmp file
    left behind; the driver dict carries None markers for them."""
    from py3dtiles_spark.operators.tileset import (
        build_tileset_json_distributed)
    tiles = _random_octree_tiles(spark, seed=11)
    root_aabb = np.array([[0, 0, 0], [1, 1, 1]], dtype=np.float32)
    mono = build_tileset_json(tiles.collect(), root_aabb, 0.1,
                              spill_chars=300)
    dist = build_tileset_json_distributed(tiles, root_aabb, 0.1,
                                          spill_chars=300, subtree_depth=2,
                                          output_dir=str(tmp_path))
    assert set(mono) == set(dist)
    deep_spills = [n for n, v in dist.items() if v is None]
    assert deep_spills, "expected executor-written spill docs"
    for name in mono:
        if dist[name] is None:
            assert ((tmp_path / name).read_bytes()
                    == json.dumps(mono[name]).encode()), name
        else:
            assert json.dumps(mono[name]) == json.dumps(dist[name])
    assert not list(tmp_path.glob("*.tmp"))


def test_root_overview_matches_numpy_replay(spark):
    """root_overview == a numpy replay: the depth-1 rows grouped by the
    root grid key (cell_keys_for_node), each cell accepted in
    (tile_id, point_id) order at (2 * spacing)^2 (sequential_accept)."""
    from py3dtiles_spark.functions.geometry import (
        cell_keys_for_node, compute_spacing, node_frame, sequential_accept)
    from py3dtiles_spark.operators.tileset import root_overview

    rng = np.random.default_rng(23)
    root_aabb = np.array([[-3.0, 2.0, 0.0], [7.0, 12.0, 10.0]])
    spacing = compute_spacing(root_aabb)
    # a uniform cloud and a dense clump (rows of every depth), then a
    # depth-1 clump inside the max corner and, later in cell order, points
    # on the corner itself: they fall in the corner clump's cell only
    # because the grid index clamps
    xyz = np.vstack([
        rng.uniform(root_aabb[0], root_aabb[1], (1500, 3)),
        rng.normal([2.0, 7.0, 5.0], 0.3, (1500, 3)),
        rng.uniform(root_aabb[1] - 0.1, root_aabb[1], (50, 3)),
        np.repeat(root_aabb[1:], 20, axis=0)]).astype(np.float32)
    pid = rng.permutation(len(xyz)).astype(np.int64) * 7 + 3
    tids = np.concatenate([
        rng.choice(["", "3", "0", "5", "07", "5", "12"], 3000),
        ["0"] * 50, ["5"] * 20])
    df = spark.createDataFrame(
        [(int(p), float(x), float(y), float(z), str(t))
         for p, (x, y, z), t in zip(pid, xyz, tids)],
        "point_id long, x float, y float, z float, tile_id string")

    d1 = np.flatnonzero(np.char.str_len(tids.astype(str)) == 1)
    keys = cell_keys_for_node(xyz[d1], node_frame("", root_aabb, spacing))
    want = set()
    for key in np.unique(keys):
        cell = sorted(d1[keys == key], key=lambda i: (tids[i], pid[i]))
        mask = sequential_accept(xyz[cell], (2.0 * spacing) ** 2)
        want |= {int(pid[i]) for i, m in zip(cell, mask) if m}
    assert 0 < len(want) < len(d1)

    got = [r.point_id for r in
           root_overview(df, root_aabb, spacing).collect()]
    assert len(got) == len(set(got))
    assert set(got) == want
