"""pnts Spark source (S5), tileset-dir scan (S8), merge with overviews."""

from __future__ import annotations

import json
import os

import numpy as np

from conftest import needs_reference, reference_path
from py3dtiles_spark.sources.pnts import (
    decode_pnts, encode_pnts, name_to_relpath, relpath_to_name)


def test_relpath_roundtrip():
    for tid in ["", "0", "063", "01234567", "012345670", "0123456701234567"]:
        assert relpath_to_name("/out/" + name_to_relpath(tid)) == tid


def _write_tileset(out_dir, n_points, offset, seed):
    """A minimal single-tile tileset directory for merge tests."""
    rng = np.random.default_rng(seed)
    xyz = (rng.uniform(0, 10, size=(n_points, 3)) + offset).astype(np.float32)
    rgb = rng.integers(0, 255, size=(n_points, 3), dtype=np.uint8)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "r.pnts"), "wb") as f:
        f.write(encode_pnts(xyz, rgb))
    lo, hi = xyz.min(axis=0), xyz.max(axis=0)
    c, h = (lo + hi) / 2.0, (hi - lo) / 2.0
    doc = {"asset": {"version": "1.0"},
           "geometricError": float(np.linalg.norm(hi - lo)),
           "root": {"boundingVolume": {"box": [
               float(c[0]), float(c[1]), float(c[2]),
               float(h[0]), 0, 0, 0, float(h[1]), 0, 0, 0, float(h[2])]},
               "geometricError": 0.0, "refine": "REPLACE",
               "content": {"uri": "r.pnts"}}}
    with open(os.path.join(out_dir, "tileset.json"), "w") as f:
        json.dump(doc, f)
    return xyz


def test_pnts_scan_roundtrip(spark, tmp_path):
    xyz = _write_tileset(str(tmp_path / "a"), 1000, 0.0, 1)
    df = __import__("py3dtiles_spark.sources.pnts",
                    fromlist=["pnts_scan"]).pnts_scan(spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == 1000
    assert {r.tile_id for r in rows} == {""}
    got = sorted((r.x, r.y, r.z) for r in rows)
    exp = sorted(map(tuple, xyz.tolist()))
    np.testing.assert_allclose(got, exp, rtol=1e-6)


def test_scan_tilesets_and_merge_with_overviews(spark, tmp_path):
    from py3dtiles_spark.operators.merge import merge_with_overviews, scan_tilesets
    _write_tileset(str(tmp_path / "a"), 2000, 0.0, 1)
    _write_tileset(str(tmp_path / "b"), 3000, 100.0, 2)
    _write_tileset(str(tmp_path / "c"), 1000, 200.0, 3)

    ts = scan_tilesets(str(tmp_path))
    assert len(ts) == 3
    assert sum(t["point_count"] for t in ts) == 6000
    a = next(t for t in ts if t["uri"].startswith("a"))
    assert a["aabb"][0][0] >= 0.0 and a["aabb"][1][0] <= 10.0

    out = str(tmp_path / "merged")
    doc = merge_with_overviews(spark, str(tmp_path), out)
    assert os.path.exists(os.path.join(out, "tileset.json"))
    assert doc["root"]["content"]["uri"] == "r.pnts"
    with open(os.path.join(out, "r.pnts"), "rb") as f:
        oxyz, orgb, ft = decode_pnts(f.read())
    # ratio = min(0.5, 50000/6000) = 0.5 -> about half the points
    assert 2000 < ft["POINTS_LENGTH"] < 4000
    # every child quadrant references an input tileset
    uris = []

    def walk(t):
        if "content" in t and t["content"]["uri"].endswith("tileset.json"):
            uris.append(t["content"]["uri"])
        for c in t.get("children", []):
            walk(c)
    walk(doc["root"])
    assert len(uris) == 3


def test_scan_tilesets_applies_transform(tmp_path):
    from py3dtiles_spark.operators.merge import scan_tilesets
    _write_tileset(str(tmp_path / "a"), 100, 0.0, 4)
    # inject a root transform translating by (1000, 0, 0)
    p = os.path.join(str(tmp_path / "a"), "tileset.json")
    with open(p) as f:
        doc = json.load(f)
    tf = np.identity(4)
    tf[0, 3] = 1000.0
    doc["root"]["transform"] = tf.T.reshape(16).tolist()
    with open(p, "w") as f:
        json.dump(doc, f)
    ts = scan_tilesets(str(tmp_path))
    assert ts[0]["aabb"][0][0] >= 1000.0


def test_merge_overview_world_frames_transformed_tileset(spark, tmp_path):
    """ADVICE r2: a tileset whose root carries a transform must have its
    overview points world-framed (reference merger.py:211 _get_tile_points
    applies inv_base @ tile_transform; our base is identity)."""
    from py3dtiles_spark.operators.merge import merge_with_overviews
    _write_tileset(str(tmp_path / "a"), 2000, 100.0, 1)   # world x 100..110
    _write_tileset(str(tmp_path / "b"), 2000, 0.0, 2)     # local 0..10
    p = os.path.join(str(tmp_path / "b"), "tileset.json")
    with open(p) as f:
        doc = json.load(f)
    tf = np.identity(4)
    tf[0, 3] = 1000.0                                     # world x 1000..1010
    doc["root"]["transform"] = tf.T.reshape(16).tolist()
    with open(p, "w") as f:
        json.dump(doc, f)

    out = str(tmp_path / "merged")
    merge_with_overviews(spark, str(tmp_path), out)
    with open(os.path.join(out, "r.pnts"), "rb") as f:
        oxyz, _, ft = decode_pnts(f.read())
    assert ft["POINTS_LENGTH"] > 500
    xs = oxyz[:, 0]
    in_a = ((xs >= 99.0) & (xs <= 111.0)).sum()
    in_b = ((xs >= 999.0) & (xs <= 1011.0)).sum()
    # every overview point lies in one of the two WORLD-frame volumes
    assert in_a + in_b == len(xs)
    assert in_a > 0 and in_b > 0


def test_decode_pnts_quantized_rgba_rtc():
    """POSITION_QUANTIZED dequantization + RGBA + RTC_CENTER
    (reference feature_table.py:178-182,232-265)."""
    import struct
    n = 4
    q = np.array([[0, 0, 0], [65535, 65535, 65535],
                  [32767, 0, 65535], [100, 200, 300]], dtype=np.uint16)
    rgba = np.arange(4 * n, dtype=np.uint8).reshape(n, 4)
    ft = {"POINTS_LENGTH": n,
          "POSITION_QUANTIZED": {"byteOffset": 0},
          "RGBA": {"byteOffset": 6 * n},
          "QUANTIZED_VOLUME_SCALE": [10.0, 20.0, 30.0],
          "QUANTIZED_VOLUME_OFFSET": [100.0, 200.0, 300.0],
          "RTC_CENTER": [1.0, 2.0, 3.0]}
    body = q.tobytes() + rgba.tobytes()
    ftj = json.dumps(ft).encode()
    ftj += b" " * ((8 - (28 + len(ftj)) % 8) % 8)
    buf = struct.pack("<4sIIIIII", b"pnts", 1, 28 + len(ftj) + len(body),
                      len(ftj), len(body), 0, 0) + ftj + body
    xyz, rgb, _ = decode_pnts(buf)
    exp = (q.astype(np.float32) / np.float32(65535.0)
           * np.array([10, 20, 30], dtype=np.float32)
           + np.array([100, 200, 300], dtype=np.float32))
    exp = (exp.astype(np.float64) + np.array([1.0, 2.0, 3.0])).astype(np.float32)
    np.testing.assert_array_equal(xyz, exp)
    np.testing.assert_array_equal(rgb, rgba[:, :3])
    xyz_raw, _, _ = decode_pnts(buf, apply_rtc=False)
    assert xyz_raw[0][0] == np.float32(100.0)


@needs_reference("tests", "pointCloudRGB.pnts")
def test_pnts_scan_reference_fixture(spark, tmp_path):
    """Golden: the reference's own pointCloudRGB.pnts (1000 points,
    RTC_CENTER, first feature colors per reference tests/test_pc.py:12-26)
    decodes through the distributed pnts_scan."""
    import shutil
    shutil.copy(reference_path("tests", "pointCloudRGB.pnts"),
                str(tmp_path / "pointCloudRGB.pnts"))
    from py3dtiles_spark.sources.pnts import pnts_scan
    rows = pnts_scan(spark, str(tmp_path)).collect()
    assert len(rows) == 1000
    assert {r.tile_id for r in rows} == {"pointCloudRGB"}
    first = next(r for r in rows if r.point_idx == 0)
    assert (first.r, first.g, first.b) == (44, 243, 209)
    # RTC_CENTER applied: positions live near the ECEF center, not near 0
    rtc = np.array([1215012.8828876738, -4736313.051199594, 4081605.22126042])
    got = np.array([[r.x, r.y, r.z] for r in rows])
    assert np.all(np.abs(got - rtc) < 1000.0)
