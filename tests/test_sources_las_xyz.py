"""LAS/XYZ source + CRS conversion + end-to-end convert plan tests."""

from __future__ import annotations

import json
import os
import tempfile

import numpy as np
import pytest

from conftest import needs_reference, reference_path
from py3dtiles_spark.functions.crs import (
    WGS84_A, geodetic_to_ecef, tileset_transform)
from py3dtiles_spark.sources.las import (
    las_scan, las_summary, read_las_header, read_las_points)
from py3dtiles_spark.sources.xyz import xyz_chunks, xyz_scan

REF_LAS = reference_path("tests", "ripple.las")
needs_ref = needs_reference("tests", "ripple.las")


@needs_ref
def test_las_header_matches_file():
    h = read_las_header(REF_LAS)
    assert h.version == (1, 2) and h.point_format == 3
    assert h.point_count == 10201 and h.record_len == 34
    assert os.path.getsize(REF_LAS) == h.data_offset + 34 * h.point_count
    xyz, rgb = read_las_points(h, 0, h.point_count)
    # S1 invariant: actual extents match the header aabb
    np.testing.assert_allclose(xyz.min(axis=0), h.mins, atol=1e-7)
    np.testing.assert_allclose(xyz.max(axis=0), h.maxs, atol=1e-7)
    assert rgb is not None and rgb.max() > 255     # 16-bit colors


@needs_ref
def test_las_summary_color_scale_detection():
    s = las_summary(REF_LAS)
    assert s["point_count"] == 10201
    assert s["color_scale"] == pytest.approx(1.0 / 255)
    assert s["portions"] == [(os.path.abspath(REF_LAS), 0, 10201, 0)]


@needs_ref
def test_las_scan_distributed(spark):
    df = las_scan(spark, REF_LAS)
    assert df.count() == 10201
    row = df.agg({"x": "min", "x": "max", "point_id": "max"}).collect()[0]
    got = df.selectExpr("min(x) mnx", "max(x) mxx", "max(point_id) mid",
                        "count(distinct point_id) n").collect()[0]
    assert got.n == 10201 and got.mid == 10200
    assert got.mnx == pytest.approx(-5.0) and got.mxx == pytest.approx(5.0)
    # colors scaled to 8-bit
    mx = df.selectExpr("max(r) r", "max(g) g", "max(b) b").collect()[0]
    assert 0 < mx.r <= 255


def test_xyz_scan_roundtrip(spark, tmp_path):
    rng = np.random.default_rng(3)
    pts = rng.uniform(-10, 10, size=(5000, 3))
    path = tmp_path / "cloud.xyz"
    with open(path, "w") as f:
        for p in pts:
            f.write(f"{p[0]:.6f} {p[1]:.6f} {p[2]:.6f}\n")
    # tiny chunks to exercise the boundary-straddling line logic
    df = xyz_scan(spark, str(path), chunk_bytes=16 * 1024)
    assert df.count() == 5000
    got = df.selectExpr("round(sum(x), 3) sx", "round(sum(y), 3) sy").collect()[0]
    assert got.sx == pytest.approx(round(float(np.round(pts[:, 0], 6).sum()), 3), abs=0.01)
    assert len(xyz_chunks(str(path), 16 * 1024)) > 1
    # ids unique
    assert df.select("point_id").distinct().count() == 5000


def test_xyz_chunk_boundary_ownership(tmp_path):
    """Every split point — including splits landing exactly on a line
    start — yields each line exactly once across chunks (r3 review: the
    unconditional first-line skip lost lines starting at a boundary; the
    earlier code duplicated lines longer than a chunk)."""
    from py3dtiles_spark.sources.xyz import _parse_chunk
    path = str(tmp_path / "b.xyz")
    lines = [f"{i}.0 {i}.5 {i}.25\n" for i in range(10)]   # 12 bytes each
    with open(path, "w") as f:
        f.writelines(lines)
    size = os.path.getsize(path)
    for split in range(1, size):
        a, _ = _parse_chunk(path, 0, split)
        b, _ = _parse_chunk(path, split, size)
        got = sorted(list(a[:, 0]) + list(b[:, 0]))
        assert got == [float(i) for i in range(10)], f"split={split}"
    # three-way splits across boundaries too
    for s1, s2 in [(12, 24), (12, 60), (30, 72), (59, 61)]:
        parts = [_parse_chunk(path, lo, hi)[0][:, 0]
                 for lo, hi in [(0, s1), (s1, s2), (s2, size)]]
        got = sorted(v for p in parts for v in p)
        assert got == [float(i) for i in range(10)], (s1, s2)


def test_xyz_scan_rgb_dialect(spark, tmp_path):
    path = tmp_path / "c.xyz"
    with open(path, "w") as f:
        f.write("0 0 0 10 20 30\n1 1 1 40 50 60\n")
    rows = xyz_scan(spark, str(path)).orderBy("x").collect()
    assert [r.r for r in rows] == [10, 40] and [r.b for r in rows] == [30, 60]


def test_geodetic_to_ecef_reference_golden():
    """The reference's own gdaltransform golden (tests/test_convert.py:10-18)."""
    x, y, z = geodetic_to_ecef(-75.61200462622627, 40.03886513981721,
                               2848.448771114095)
    assert x == pytest.approx(1215626.30684538, abs=1e-5)
    assert y == pytest.approx(-4738673.45914053, abs=1e-5)
    assert z == pytest.approx(4083122.83975827, abs=1e-5)
    # closed-form invariants
    x, y, z = geodetic_to_ecef(0.0, 0.0, 0.0)
    assert (x, y, z) == pytest.approx((WGS84_A, 0.0, 0.0))
    _, _, zp = geodetic_to_ecef(0.0, 90.0, 0.0)
    assert zp == pytest.approx(6356752.314245179)       # WGS84 semi-minor


def test_ecef_exprs_match_numpy(spark):
    import pandas as pd
    from py3dtiles_spark.functions.crs import ecef_exprs
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({"x": rng.uniform(-180, 180, 100),
                        "y": rng.uniform(-85, 85, 100),
                        "z": rng.uniform(0, 1000, 100)})
    df = spark.createDataFrame(pdf)
    ex, ey, ez = ecef_exprs()
    got = df.select(ex.alias("ex"), ey.alias("ey"), ez.alias("ez")).toPandas()
    wx, wy, wz = geodetic_to_ecef(pdf.x.values, pdf.y.values, pdf.z.values)
    np.testing.assert_allclose(got.ex.values, wx, rtol=1e-12)
    np.testing.assert_allclose(got.ey.values, wy, rtol=1e-12)
    np.testing.assert_allclose(got.ez.values, wz, rtol=1e-12)


def test_tileset_transform_composition():
    rot = np.identity(4)
    t = tileset_transform([100.0, 200.0, 300.0], 0.1, rot)
    m = np.array(t).reshape(4, 4).T       # un-transpose -> row-major
    # applies scale then translation: p' = p/0.1 ... wait: transform maps
    # tile-local -> world: world = T(offset) @ S(1/scale) @ local
    local = np.array([1.0, 2.0, 3.0, 1.0])
    world = m @ local
    np.testing.assert_allclose(world[:3], [110.0, 220.0, 330.0])


@needs_ref
def test_convert_files_las_end_to_end(spark, tmp_path):
    from py3dtiles_spark.plans.convert import convert_files
    out = str(tmp_path / "tiles")
    res = convert_files(spark, REF_LAS, out_dir=out, write_pnts=True)
    assert res.tiling.counters["points_assigned"] == 10201
    assert res.root_scale == 1.0
    with open(os.path.join(out, "tileset.json")) as f:
        ts = json.load(f)
    assert ts["root"]["refine"] == "REPLACE"
    assert "transform" in ts["root"]
    # transform translates by avg_min (identity rotation, scale 1)
    tr = np.array(ts["root"]["transform"]).reshape(4, 4).T
    np.testing.assert_allclose(tr[:3, 3], res.offset, rtol=1e-12)
    # reference shape: the root forwards everything to depth-1 leaves
    # (its own test asserts tmp/r0.pnts exists) and r.pnts is the
    # 2x-spacing overview of the children (convert.py:44-66)
    assert os.path.exists(os.path.join(out, "r0.pnts"))
    from py3dtiles_spark.sources.pnts import decode_pnts
    total = 0
    for d in "01234567":
        p = os.path.join(out, f"r{d}.pnts")
        if os.path.exists(p):
            with open(p, "rb") as f:
                _, rgb, ft = decode_pnts(f.read())
            total += ft["POINTS_LENGTH"]
            assert rgb is not None
    assert total == 10201
    with open(os.path.join(out, "r.pnts"), "rb") as f:
        _, rgb, ft = decode_pnts(f.read())
    assert 0 < ft["POINTS_LENGTH"] < 10201      # overview is a subsample
    assert ts["root"]["content"]["uri"] == "r.pnts"


@needs_ref
def test_convert_files_ecef_path(spark, tmp_path):
    """EPSG:4979 -> 4978 conversion + alignment rotation end-to-end on a
    synthetic geodetic xyz file."""
    from py3dtiles_spark.plans.convert import convert_files
    rng = np.random.default_rng(5)
    lon = rng.uniform(2.0, 2.1, 2000)
    lat = rng.uniform(48.8, 48.9, 2000)
    h = rng.uniform(0, 50, 2000)
    path = tmp_path / "geo.xyz"
    with open(path, "w") as f:
        for a, b, c in zip(lon, lat, h):
            f.write(f"{a:.8f} {b:.8f} {c:.3f}\n")
    res = convert_files(spark, str(path), srs_in=4326, srs_out=4978)
    assert res.tiling.counters["points_assigned"] == 2000
    assert res.rotation is not None
    assert res.root_scale == pytest.approx(0.01)   # ~13 km bbox -> 0.01 rule
    # after alignment + offset + scale the cloud is near the origin, flat
    # (x ~ [0, 73], y ~ [0, 111], z ~ [-0.5, 0.5] in scaled units)
    tiles = res.tiles.collect()
    assert sum(t.point_count for t in tiles) == 2000
    zs = [abs(t.min_z) for t in tiles] + [abs(t.max_z) for t in tiles]
    assert max(zs) < 5
    xs = [t.max_x for t in tiles]
    assert max(xs) < 200


REF_LCC_LAS = reference_path("tests", "fixtures", "without_srs.las")


@needs_reference("tests", "fixtures", "without_srs.las")
def test_convert_files_lambert_cc_srs_in(spark, tmp_path):
    """The one reference conversion test the engine previously could not
    run (tests/test_convert.py:29-42): srs_in=3949 (RGF93/CC49, Lambert
    conformal conic) -> EPSG:4978 via the closed-form EPSG 9802 inverse."""
    from py3dtiles_spark.functions.crs import (
        LCC_ZONES, geodetic_to_ecef, lcc_inverse)
    from py3dtiles_spark.plans.convert import convert_files

    # reference parity: srs_out without srs_in raises (SrsInMissingException)
    with pytest.raises(ValueError, match="srs_in"):
        convert_files(spark, REF_LCC_LAS, srs_out=4978)

    res = convert_files(spark, REF_LCC_LAS, srs_in=3949, srs_out=4978,
                        out_dir=str(tmp_path / "out"), write_pnts=True)
    assert res.tiling.counters["points_assigned"] == 10
    assert res.rotation is not None
    assert os.path.exists(str(tmp_path / "out" / "tileset.json"))
    assert os.path.exists(str(tmp_path / "out" / "r.pnts"))

    # the offset is the avg_min reprojected through LCC inverse -> ECEF
    info_lo = [1650813.91, 8181479.14, 44.26]     # header-scan avg_min
    lon, lat = lcc_inverse(LCC_ZONES[3949], info_lo[0], info_lo[1])
    assert lon == pytest.approx(2.33, abs=0.05)   # Paris-ish
    assert lat == pytest.approx(48.83, abs=0.05)
    exp = np.array(geodetic_to_ecef(lon, lat, info_lo[2]))
    np.testing.assert_allclose(res.offset, exp, atol=1.0)

    # after offset+rotation the local cloud is meters-sized near the origin
    tiles = res.tiles.collect()
    assert sum(t.point_count for t in tiles) == 10
    ext = max(max(abs(t.min_x), abs(t.max_x), abs(t.min_y), abs(t.max_y),
                  abs(t.min_z), abs(t.max_z)) for t in tiles)
    assert ext < 20.0


def test_xyz_ragged_majority_vote(spark, tmp_path):
    """ADVICE r3: a truncated first data row must not pin the column
    count — majority vote keeps the 6-col xyzrgb layout and its colors."""
    p = tmp_path / "ragged.xyz"
    p.write_text("# comment header\n"
                 "1.0 2.0 3.0\n"                 # anomalous 3-col row
                 "4.0 5.0 6.0 10 20 30\n"
                 "7.0 8.0 9.0 40 50 60\n"
                 "1.5 2.5 3.5 70 80 90\n")
    from py3dtiles_spark.sources.xyz import _parse_chunk
    import os
    xyz, rgb = _parse_chunk(str(p), 0, os.path.getsize(p))
    assert xyz.shape == (3, 3)                   # majority = 6 cols
    assert rgb is not None and rgb.shape == (3, 3)
    assert rgb[0].tolist() == [10.0, 20.0, 30.0]


def _sparse_cloud(path):
    """A flat 100 x 100 XYZ cloud: 7,500 points in each of three quadrants
    and 40 in the fourth, whose depth-1 tile rolls up into the root.
    Returns the 40 points."""
    rng = np.random.default_rng(11)
    parts = [np.c_[rng.uniform(0, 50, (7500, 2)) + off,
                   rng.uniform(0, 1, 7500)]
             for off in ((0, 0), (50, 0), (0, 50))]
    small = np.c_[rng.uniform(50.5, 99.5, (40, 2)), rng.uniform(0, 1, 40)]
    np.savetxt(path, np.vstack(parts + [small]), fmt="%.4f")
    return np.round(small, 4)


def test_root_pnts_keeps_rolled_up_points(spark, tmp_path):
    """r.pnts has one writer: the points of a depth-1 tile under 100
    points belong to the root tile and sit in r.pnts next to the
    overview instead of being overwritten by it."""
    from py3dtiles_spark.plans.convert import convert_files
    from py3dtiles_spark.sources.pnts import decode_pnts
    small = _sparse_cloud(tmp_path / "sparse.xyz")
    out = tmp_path / "out"
    res = convert_files(spark, str(tmp_path / "sparse.xyz"),
                        out_dir=str(out), write_pnts=True)
    assert res.tiling.counters["points_assigned"] == 22540
    ts = json.loads((out / "tileset.json").read_text())
    assert ts["root"]["content"] == {"uri": "r.pnts"}
    m = np.array(ts["root"]["transform"]).reshape(4, 4).T
    local, _, _ = decode_pnts((out / "r.pnts").read_bytes())
    world = local.astype(np.float64) @ m[:3, :3].T + m[:3, 3]
    nearest = np.abs(world[None] - small[:, None]).max(axis=2).min(axis=1)
    assert (nearest < 1e-3).all(), f"{(nearest >= 1e-3).sum()} of 40 missing"
    assert not list(out.rglob("*.tmp"))      # every pnts write committed


def test_cli_resume_xyz_keeps_checkpoint(spark, tmp_path):
    """`convert --resume` on LAS/XYZ input resumes the completed build: the
    second run rewrites neither meta.json nor a level manifest and gives
    the same tileset.json."""
    from py3dtiles_spark.__main__ import main
    _sparse_cloud(tmp_path / "sparse.xyz")
    out = tmp_path / "out"
    argv = ["convert", "--input", str(tmp_path / "sparse.xyz"),
            "--output", str(out), "--resume", "--cpus", "4"]
    ckpt = [out / "checkpoint" / "meta.json",
            out / "checkpoint" / "level=0" / "_MANIFEST.json"]

    def state():
        return ([(p.stat().st_mtime_ns, p.read_bytes()) for p in ckpt],
                (out / "tileset.json").read_bytes())

    assert main(argv) == 0
    first = state()
    assert main(argv) == 0
    assert state() == first
