"""Vector export path: WKB parse/triangulate, b3dm codec goldens vs the
reference fixtures, quadtree feature tiling, tileset assembly."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from conftest import needs_reference, reference_path
from py3dtiles_spark.functions.wkb import (
    make_wkb_multipolygon, parse_wkb_multipolygon, triangulate_polygon,
    triangles_to_arrays, wkb_to_triangles)
from py3dtiles_spark.sources.b3dm import (
    b3dm_bytes, gltf_from_arrays, parse_b3dm)

needs_ref = needs_reference("tests")


def _square(z=0.0, s=10.0, x0=0.0, y0=0.0):
    return np.array([[x0, y0, z], [x0 + s, y0, z],
                     [x0 + s, y0 + s, z], [x0, y0 + s, z]])


def test_wkb_roundtrip():
    poly = [_square()]
    wkb = make_wkb_multipolygon([poly])
    parsed = parse_wkb_multipolygon(wkb)
    assert len(parsed) == 1 and len(parsed[0]) == 1
    np.testing.assert_allclose(parsed[0][0], poly[0])


def test_triangulate_square():
    tris = triangulate_polygon([_square().astype(np.float32)])
    assert len(tris) == 2                      # n - 2
    area = sum(0.5 * abs(np.cross(t[1] - t[0], t[2] - t[0])[2]) for t in tris)
    assert area == pytest.approx(100.0)


def test_triangulate_with_hole():
    outer = _square(s=10.0)
    hole = _square(s=2.0, x0=4.0, y0=4.0)[::-1]    # CW hole
    tris = triangulate_polygon([outer.astype(np.float32),
                                hole.astype(np.float32)])
    # bridged polygon: n + m + 2 vertices -> n + m triangles
    assert len(tris) == 8
    area = sum(0.5 * abs(np.cross(
        (t[1] - t[0]).astype(np.float64),
        (t[2] - t[0]).astype(np.float64))[2]) for t in tris)
    assert area == pytest.approx(96.0)         # 100 - 4
    # no triangle center inside the hole
    for t in tris:
        c = t.mean(axis=0)
        assert not (4.0 < c[0] < 6.0 and 4.0 < c[1] < 6.0)


def test_ear_clip_grid_matches_exhaustive():
    """The uniform-grid blocker index (large rings) must produce the exact
    same triangle ids as the exhaustive scan — it only narrows WHERE
    blockers are looked for, never the test itself. Star polygon (every
    other vertex reflex) with a hole exercises bridge duplicates."""
    from py3dtiles_spark.functions.wkb import ear_clip

    def star(n, seed=0, scale=1.0):
        rng = np.random.default_rng(seed)
        th = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(0.5, 1.0, n) * scale
        return np.stack([r * np.cos(th), r * np.sin(th)], axis=1)

    outer = star(500, seed=1, scale=10.0)
    hole = star(60, seed=2, scale=0.4)[::-1]
    exhaustive = ear_clip([outer, hole], grid_threshold=10 ** 9)
    gridded = ear_clip([outer, hole])           # 562 verts > threshold 128
    assert gridded == exhaustive
    assert len(gridded) == 500 + 60 + 2 - 2


def test_triangle_orientation_follows_normal():
    tris = triangulate_polygon([_square().astype(np.float32)])
    for t in tris:
        n = np.cross(t[1] - t[0], t[2] - t[0])
        assert n[2] > 0                        # outer ring is CCW -> +z


@needs_ref
def test_dragon_b3dm_read_golden():
    """Reference test_b3dm.py:13-25 header + glTF JSON goldens."""
    with open(reference_path("tests", "dragon_low.b3dm"), "rb") as f:
        d = parse_b3dm(f.read())
    assert d["tile_byte_length"] == 47246
    assert d["ft_json_byte_length"] == 20
    assert d["ft_bin_byte_length"] == 0
    assert d["bt_json_byte_length"] == 0
    with open(reference_path("tests", "dragon_low_gltf_header.json")) as f:
        assert d["gltf_header"] == json.load(f)


@needs_ref
def test_building_wkb_to_b3dm_byte_golden():
    """Reference test_b3dm.py:30-60: building.wkb -> b3dm of exactly 2952
    bytes (same triangle count + byte layout as the reference encoder)."""
    with open(reference_path("tests", "building.wkb"), "rb") as f:
        wkb = f.read()
    tris = wkb_to_triangles(wkb)
    pos, norm, bbox = triangles_to_arrays(tris)
    box = [[-8.74748499994166, -7.35523200035095, -2.05385796777344],
           [8.8036420000717, 7.29930999968201, 2.05386103222656]]
    transform = np.array([
        [1, 0, 0, 1842015.125], [0, 1, 0, 5177109.25],
        [0, 0, 1, 247.87364196777344], [0, 0, 0, 1]],
        dtype=float).flatten("F")
    glb = gltf_from_arrays([{"position": pos, "normal": norm, "bbox": box}],
                           transform, batched=True)
    t = b3dm_bytes(glb)
    assert len(t) == 2952
    d = parse_b3dm(t)
    assert d["tile_byte_length"] == 2952 and d["glb_version"] == 2


@needs_ref
def test_square_wkb_triangulation():
    with open(reference_path("tests", "square.wkb"), "rb") as f:
        wkb = f.read()
    tris = wkb_to_triangles(wkb)
    assert len(tris) == 2


def _features_df(spark, n=100, seed=2):
    """n small square buildings scattered over an 8000x8000 area, with a
    deterministic skew cluster so the quadtree recurses."""
    rng = np.random.default_rng(seed)
    rows = []
    for gid in range(n):
        if gid < 60:   # hot cluster inside one 2000-unit cell
            x0, y0 = 100 + rng.uniform(0, 500), 100 + rng.uniform(0, 500)
        else:
            x0, y0 = rng.uniform(0, 8000), rng.uniform(0, 8000)
        h = float(rng.uniform(3, 30))
        poly = [np.array([[x0, y0, 0], [x0 + 10, y0, 0],
                          [x0 + 10, y0 + 10, 0], [x0, y0 + 10, 0]])]
        rows.append((gid, bytearray(make_wkb_multipolygon([poly])), h))
    return spark.createDataFrame(rows, "geom_id long, wkb binary, weight double")


def test_quadtree_export_end_to_end(spark):
    from py3dtiles_spark.operators.export import (
        assign_quadtree, build_b3dm_tiles, build_vector_tileset, node_boxes,
        triangulate_features)
    feats = triangulate_features(_features_df(spark))   # weight passes through
    assert feats.count() == 100
    assert feats.agg({"n_tris": "sum"}).collect()[0][0] == 200
    assert "weight" in feats.columns

    assigned = assign_quadtree(feats, weight_col="weight")
    rows = assigned.collect()
    assert len(rows) == 100                        # nothing dropped
    by_node = {}
    for r in rows:
        by_node.setdefault(r.node_id, []).append(r)
    assert all(len(v) <= 20 for v in by_node.values())
    assert max(r.level for r in rows) >= 1         # hot cluster recursed
    # greedy rule: a level-1 feature's weight never exceeds the minimum
    # level-0 weight of the parent cell
    lvl0 = [r for r in rows if r.level == 0]
    assert len(lvl0) <= 20 * len({(r.cell_x, r.cell_y) for r in lvl0})

    tiles = build_b3dm_tiles(assigned).collect()
    assert sum(t.n_features for t in tiles) == 100
    for t in tiles:
        d = parse_b3dm(bytes(t.b3dm))
        assert d["bt_json_byte_length"] > 0        # batch table with ids
        assert d["gltf_header"]["buffers"][0]["byteLength"] > 0

    ts = build_vector_tileset(node_boxes(assigned).collect(),
                              transform=np.identity(4).flatten("F"))
    assert ts["root"]["children"]
    assert ts["root"]["refine"] == "add"
    child = ts["root"]["children"][0]
    assert child["content"]["uri"].endswith(".b3dm")
    # geometricError halves per level
    def geo_errors(t, depth=0):
        yield depth, t["geometricError"]
        for c in t.get("children", []):
            yield from geo_errors(c, depth + 1)
    for depth, err in geo_errors(ts["root"]["children"][0]):
        assert err == pytest.approx(500.0 / 2 ** depth)


def test_export_cli_parquet_offset(spark, tmp_path):
    """Drive the export CLI end-to-end on a parquet feature table with
    --offset: executor-side b3dm files land on disk and the root tileset
    carries the reference's column-major translation transform
    (reference export.py:286-291)."""
    import json
    from py3dtiles_spark.__main__ import main

    src = str(tmp_path / "feats.parquet")
    _features_df(spark, n=40).write.parquet(src)
    out = str(tmp_path / "out")
    rc = main(["export", "--wkb-dir", src, "--output", out,
               "--offset", "100", "200", "300", "--cpus", "4"])
    assert rc == 0
    with open(os.path.join(out, "tileset.json")) as f:
        ts = json.load(f)
    assert ts["root"]["transform"][12:15] == [100.0, 200.0, 300.0]
    assert ts["root"]["transform"][0] == 1.0
    tiles = os.listdir(os.path.join(out, "tiles"))
    # all(...) also rules out a writer's leftover *.tmp files
    assert tiles and all(t.endswith(".b3dm") for t in tiles)
    # every feature landed in some tile
    with open(os.path.join(os.path.join(out, "tiles"), tiles[0]), "rb") as f:
        assert f.read(4) == b"b3dm"


def test_export_cli_pg_requires_table(tmp_path):
    from py3dtiles_spark.__main__ import main
    with pytest.raises(SystemExit):
        main(["export", "--pg-url", "jdbc:postgresql://h/db",
              "--output", str(tmp_path)])


@needs_ref
def test_textured_square_b3dm_byte_golden():
    """Reference TestTexturedTileBuilder (test_b3dm.py:66-104):
    square.wkb + squareUV.wkb -> textured b3dm of exactly 1556 bytes —
    UV triangles threaded through the triangulation indices, body layout
    positions|normals|uvs|batchids, texture/image/sampler JSON blocks."""
    from py3dtiles_spark.functions.wkb import data_triangles_to_array
    with open(reference_path("tests", "square.wkb"), "rb") as f:
        wkb = f.read()
    with open(reference_path("tests", "squareUV.wkb"), "rb") as f:
        wkbuv = f.read()
    tris, (uvtris,) = wkb_to_triangles(wkb, associated=[wkbuv])
    pos, norm, _ = triangles_to_arrays(tris)
    uv = data_triangles_to_array(uvtris, dim=2)
    assert len(uv) * 3 == len(pos) * 2          # VEC2 vs VEC3, same count
    box = [[0, 0, 0], [10, 10, 0]]
    transform = np.identity(4).flatten("F")
    glb = gltf_from_arrays(
        [{"position": pos, "normal": norm, "uv": uv, "bbox": box}],
        transform, batched=True, texture_uri="squaretexture.jpg")
    t = b3dm_bytes(glb)
    assert len(t) == 1556
    d = parse_b3dm(t)
    assert d["tile_byte_length"] == 1556
    hdr = d["gltf_header"]
    assert hdr["images"] == [{"uri": "squaretexture.jpg"}]
    assert hdr["textures"] == [{"sampler": 0, "source": 0}]
    assert hdr["materials"][0]["pbrMetallicRoughness"]["baseColorTexture"] \
        == {"index": 0}
    assert hdr["meshes"][0]["primitives"][0]["attributes"]["TEXCOORD_0"] == 2
    assert hdr["meshes"][0]["primitives"][0]["attributes"]["_BATCHID"] == 3
    # buffer layout: uv view sits between normals and batchids
    views = hdr["bufferViews"]
    assert views[2]["byteOffset"] == 2 * views[0]["byteLength"]
    assert views[3]["byteOffset"] == views[2]["byteOffset"] \
        + views[2]["byteLength"]


def test_build_b3dm_tiles_textured(spark):
    """Distributed textured sink: a uvs column + texture_uri emit textured
    glb per node; without texture_uri the same input stays untextured."""
    from py3dtiles_spark.functions.wkb import data_triangles_to_array
    from py3dtiles_spark.operators.export import build_b3dm_tiles
    sq = _square().astype(np.float32)
    tris = triangulate_polygon([sq])
    pos, norm, bbox = triangles_to_arrays(tris)
    uvn = np.array([[0, 0, 0], [1, 0, 0], [1, 1, 0], [0, 1, 0]],
                   dtype=np.float32)
    uvtris = triangulate_polygon([uvn])
    uv = data_triangles_to_array(uvtris, dim=2)
    rows = [(i, "n0", bytearray(pos), bytearray(norm), bytearray(uv),
             *bbox[0], *bbox[1]) for i in range(3)]
    df = spark.createDataFrame(
        rows, "geom_id long, node_id string, positions binary, "
              "normals binary, uvs binary, min_x double, min_y double, "
              "min_z double, max_x double, max_y double, max_z double")
    tex = build_b3dm_tiles(df, texture_uri="atlas.jpg").collect()
    assert len(tex) == 1
    d = parse_b3dm(bytes(tex[0].b3dm))
    hdr = d["gltf_header"]
    assert hdr["images"] == [{"uri": "atlas.jpg"}]
    assert "TEXCOORD_0" in hdr["meshes"][0]["primitives"][0]["attributes"]
    assert len(hdr["bufferViews"]) == 4
    plain = build_b3dm_tiles(df.drop("uvs")).collect()
    hdr2 = parse_b3dm(bytes(plain[0].b3dm))["gltf_header"]
    assert "images" not in hdr2 and len(hdr2["bufferViews"]) == 3


@needs_ref
def test_export_cli_textured_parquet(spark, tmp_path):
    """CLI textured export: a parquet of (geom_id, wkb, uv_wkb) +
    --texture-uri produces textured b3dm tiles; the UV rings rode the
    same triangulation indices as the positions."""
    import json as _json
    from py3dtiles_spark.__main__ import main

    with open(reference_path("tests", "square.wkb"), "rb") as f:
        wkb = f.read()
    with open(reference_path("tests", "squareUV.wkb"), "rb") as f:
        wkbuv = f.read()
    src = str(tmp_path / "tex.parquet")
    spark.createDataFrame(
        [(i, bytearray(wkb), bytearray(wkbuv)) for i in range(5)],
        "geom_id long, wkb binary, uv_wkb binary").write.parquet(src)
    out = str(tmp_path / "out")
    rc = main(["export", "--wkb-dir", src, "--output", out,
               "--texture-uri", "atlas.jpg", "--cpus", "4"])
    assert rc == 0
    tiles = os.listdir(os.path.join(out, "tiles"))
    assert tiles
    with open(os.path.join(out, "tiles", tiles[0]), "rb") as f:
        d = parse_b3dm(f.read())
    hdr = d["gltf_header"]
    assert hdr["images"] == [{"uri": "atlas.jpg"}]
    assert "TEXCOORD_0" in hdr["meshes"][0]["primitives"][0]["attributes"]
    # uv stream is 2/3 the position stream (VEC2 vs VEC3)
    views = hdr["bufferViews"]
    assert views[2]["byteLength"] * 3 == views[0]["byteLength"] * 2


def test_triangulate_features_rejects_precomputed_uvs(spark):
    """A precomputed `uvs` input column can never match this
    triangulation's diagonals — must error clearly, not emit corrupt
    glb offsets."""
    df = spark.createDataFrame(
        [(1, bytearray(b"x"), bytearray(b"y"))],
        "geom_id long, wkb binary, uvs binary")
    from py3dtiles_spark.operators.export import triangulate_features
    with pytest.raises(ValueError, match="uv_wkb"):
        triangulate_features(df)


def _deep_node_boxes(spark):
    """node_boxes of 400 features, 320 in one hot 10x10 cluster: the
    quadtree recurses to level >= 3, past subtree_depth=2."""
    from py3dtiles_spark.operators.export import (
        assign_quadtree, node_boxes, triangulate_features)

    rng = np.random.default_rng(7)
    rows = []
    for gid in range(400):
        if gid < 320:
            x0, y0 = rng.uniform(100, 110), rng.uniform(100, 110)
        else:
            x0, y0 = rng.uniform(0, 8000), rng.uniform(0, 8000)
        poly = [np.array([[x0, y0, 0], [x0 + 5, y0, 0],
                          [x0 + 5, y0 + 5, 0], [x0, y0 + 5, 0]])]
        rows.append((gid, bytearray(make_wkb_multipolygon([poly])),
                     float(rng.uniform(1, 9))))
    feats = triangulate_features(
        spark.createDataFrame(rows, "geom_id long, wkb binary, weight double"))
    assigned = assign_quadtree(feats, weight_col="weight")
    assert assigned.agg({"level": "max"}).collect()[0][0] >= 3
    return node_boxes(assigned).persist()


def test_vector_tileset_distributed_byte_identical(spark):
    """r7: the distributed quadtree tileset assembly must reproduce the
    monolithic driver-side builder BYTE for byte, on an input deep
    enough (levels 0..4) that the subtree kernels actually run."""
    import json

    from py3dtiles_spark.operators.export import (
        build_vector_tileset, build_vector_tileset_distributed)

    boxes = _deep_node_boxes(spark)
    mono = build_vector_tileset(boxes.collect(), transform=[1.0] * 16)
    for k in (1, 2, 3):
        dist = build_vector_tileset_distributed(boxes, transform=[1.0] * 16,
                                                subtree_depth=k)
        assert json.dumps(dist, sort_keys=False) == \
            json.dumps(mono, sort_keys=False), f"subtree_depth={k}"
    # degenerate: k beyond the deepest level = pure driver assembly
    dist = build_vector_tileset_distributed(boxes, transform=[1.0] * 16,
                                            subtree_depth=9)
    assert json.dumps(dist) == json.dumps(mono)
    boxes.unpersist()


@pytest.mark.parametrize("level", [1, 2])
def test_vector_tileset_orphan_node_raises(spark, level):
    """A node whose parent cell is absent would be silently dropped by
    the recursion from the level-0 roots: both builders refuse it on the
    driver, naming the node, at every subtree depth."""
    import re

    from py3dtiles_spark.operators.export import (
        build_vector_tileset, build_vector_tileset_distributed)

    boxes = _deep_node_boxes(spark)
    rows = boxes.collect()
    children = sorted((r.level, r.cell_x, r.cell_y) for r in rows
                      if r.level == level + 1)
    gone = (level, children[0][1] >> 1, children[0][2] >> 1)
    cut = [r for r in rows if (r.level, r.cell_x, r.cell_y) != gone]
    assert len(cut) == len(rows) - 1
    named = re.escape(str(children[0]))
    with pytest.raises(ValueError, match=named):
        build_vector_tileset(_as_dicts(cut))
    cut_df = spark.createDataFrame(cut, boxes.schema)
    for k in (1, 2):
        with pytest.raises(ValueError, match=named):
            build_vector_tileset_distributed(cut_df, subtree_depth=k)
    boxes.unpersist()


_BOX_SCHEMA = ("level int, cell_x long, cell_y long, bx0 double, by0 double, "
               "bz0 double, bx1 double, by1 double, bz1 double, "
               "n_features long")

# a random sparse quadtree: every leaf path (level-0 cell, child quadrant
# digits, box jitter) adds itself and all its ancestors, so the node set
# is parent-closed by construction
_leaf_paths = st.lists(
    st.tuples(st.integers(0, 1), st.lists(st.integers(0, 3), max_size=4),
              st.floats(0.0, 1.0)),
    min_size=1, max_size=10)


def _quadtree_rows(paths) -> list:
    nodes = {}
    for cx0, digits, jitter in paths:
        key = (0, cx0, 0)
        keys = [key]
        for d in digits:
            key = (key[0] + 1, key[1] * 2 + (d >> 1), key[2] * 2 + (d & 1))
            keys.append(key)
        for level, cx, cy in keys:
            if (level, cx, cy) not in nodes:
                size = 1000.0 / 2 ** level
                x0, z0 = cx * size + jitter, cy * size + jitter * 0.5
                nodes[(level, cx, cy)] = (
                    level, cx, cy, x0, -3.0 - jitter, z0,
                    x0 + size * (0.25 + jitter / 2), 1.0,
                    z0 + size / 3, 1 + len(nodes))
    return sorted(nodes.values())


def _as_dicts(rows) -> list:
    names = [f.split()[0] for f in _BOX_SCHEMA.split(", ")]
    return [dict(zip(names, r)) for r in rows]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(paths=_leaf_paths, data=st.data())
def test_vector_tileset_random_sparse_quadtrees(spark, paths, data):
    """Random sparse parent-closed trees: the distributed builder is
    byte-identical to the monolithic one at subtree_depth 1-3, and with
    one non-root parent dropped both raise a ValueError naming an
    orphan."""
    import re

    from py3dtiles_spark.operators.export import (
        build_vector_tileset, build_vector_tileset_distributed)

    rows = _quadtree_rows(paths)
    mono = json.dumps(build_vector_tileset(_as_dicts(rows)))
    boxes = spark.createDataFrame(rows, _BOX_SCHEMA)
    for k in (1, 2, 3):
        assert json.dumps(build_vector_tileset_distributed(
            boxes, subtree_depth=k)) == mono, f"subtree_depth={k}"

    keys = {r[:3] for r in rows}
    parents = sorted({(lv - 1, cx >> 1, cy >> 1) for lv, cx, cy in keys
                      if lv >= 2})
    if not parents:
        return
    gone = data.draw(st.sampled_from(parents), label="dropped parent")
    orphan = min(k for k in keys
                 if (k[0] - 1, k[1] >> 1, k[2] >> 1) == gone)
    cut = [r for r in rows if r[:3] != gone]
    named = re.escape(str(orphan))
    with pytest.raises(ValueError, match=named):
        build_vector_tileset(_as_dicts(cut))
    cut_df = spark.createDataFrame(cut, _BOX_SCHEMA)
    for k in (1, 2, 3):
        with pytest.raises(ValueError, match=named):
            build_vector_tileset_distributed(cut_df, subtree_depth=k)
