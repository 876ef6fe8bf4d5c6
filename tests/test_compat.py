"""The reference's OWN test patterns (tests/test_pc.py, tests/test_b3dm.py)
run verbatim against the compat facade — same fixtures, same asserted
byte lengths — proving a reference-library user can switch imports to
`py3dtiles_spark.compat` and keep their code."""

from __future__ import annotations

import json

import numpy as np
import pytest

from conftest import needs_reference, reference_path
from py3dtiles_spark.compat import (
    B3dm, Feature, GlTF, Pnts, TileContentReader, TriangleSoup)

needs_ref = needs_reference("tests")
PNTS_RGB = reference_path("tests", "pointCloudRGB.pnts")


@needs_ref
def test_tile_content_reader_pnts():
    """Reference test_pc.py:12-25 verbatim."""
    tile = TileContentReader().read_file(PNTS_RGB)
    assert tile.header.version == 1.0
    assert tile.header.tile_byte_length == 15176
    assert tile.header.ft_json_byte_length == 148
    assert tile.header.ft_bin_byte_length == 15000
    assert tile.header.bt_json_byte_length == 0
    assert tile.header.bt_bin_byte_length == 0
    feature = tile.body.feature_table.feature(0)
    assert feature.colors == {"Red": 44, "Blue": 209, "Green": 243}


@needs_ref
def test_build_without_colors():
    """Reference test_pc.py:30-68 verbatim: rebuild positions-only tile
    from decoded features; byte lengths must match the reference's."""
    tread = TileContentReader().read_file(PNTS_RGB)
    f0_ref = tread.body.feature_table.feature(0).positions
    pdt = np.dtype([("X", "<f4"), ("Y", "<f4"), ("Z", "<f4")])
    features = []
    for i in range(tread.body.feature_table.header.points_length):
        p = tread.body.feature_table.feature(i).positions
        pos = np.array([(p["X"], p["Y"], p["Z"])], dtype=pdt).view("uint8")
        features.append(Feature.from_array(pdt, pos))
    t = Pnts.from_features(pdt, None, features)
    t.body.feature_table.header.rtc = [1215012.8828876738,
                                       -4736313.051199594,
                                       4081605.22126042]
    tile_arr = t.to_array()
    t2 = Pnts.from_array(tile_arr)
    assert t2.header.version == 1.0
    assert t2.header.tile_byte_length == 12152
    assert t2.header.ft_json_byte_length == 124
    assert t2.header.ft_bin_byte_length == 12000
    assert t2.header.bt_json_byte_length == 0
    assert t2.header.bt_bin_byte_length == 0
    f0 = t.body.feature_table.feature(0).positions
    for axis in "XYZ":
        assert f0[axis] == pytest.approx(f0_ref[axis])


@needs_ref
def test_build_with_colors():
    """Reference test_pc.py:70-111 verbatim (RGB round trip)."""
    tread = TileContentReader().read_file(PNTS_RGB)
    pdt = np.dtype([("X", "<f4"), ("Y", "<f4"), ("Z", "<f4")])
    cdt = np.dtype([("Red", "u1"), ("Green", "u1"), ("Blue", "u1")])
    features = []
    for i in range(tread.body.feature_table.header.points_length):
        f = tread.body.feature_table.feature(i)
        pos = np.array([(f.positions["X"], f.positions["Y"],
                         f.positions["Z"])], dtype=pdt).view("uint8")
        col = np.array([(f.colors["Red"], f.colors["Green"],
                         f.colors["Blue"])], dtype=cdt).view("uint8")
        features.append(Feature.from_array(pdt, pos, cdt, col))
    t = Pnts.from_features(pdt, cdt, features)
    t.body.feature_table.header.rtc = [1215012.8828876738,
                                       -4736313.051199594,
                                       4081605.22126042]
    t2 = Pnts.from_array(t.to_array())
    assert t2.header.tile_byte_length == 15176
    assert t2.header.ft_json_byte_length == 148
    assert t2.header.ft_bin_byte_length == 15000
    assert t.body.feature_table.feature(0).colors == \
        {"Red": 44, "Blue": 209, "Green": 243}


@needs_ref
def test_b3dm_reader_dragon():
    """Reference test_b3dm.py:13-25 verbatim."""
    tile = TileContentReader().read_file(
        reference_path("tests", "dragon_low.b3dm"))
    assert tile.header.version == 1.0
    assert tile.header.tile_byte_length == 47246
    assert tile.header.ft_json_byte_length == 20
    assert tile.header.ft_bin_byte_length == 0
    assert tile.header.bt_json_byte_length == 0
    assert tile.header.bt_bin_byte_length == 0
    with open(reference_path("tests", "dragon_low_gltf_header.json")) as f:
        assert tile.body.glTF.header == json.load(f)


@needs_ref
def test_b3dm_build_building():
    """Reference test_b3dm.py:30-60 verbatim (TriangleSoup -> GlTF ->
    B3dm, 2952 bytes)."""
    with open(reference_path("tests", "building.wkb"), "rb") as f:
        wkb = f.read()
    ts = TriangleSoup.from_wkb_multipolygon(wkb)
    arrays = [{
        "position": ts.getPositionArray(),
        "normal": ts.getNormalArray(),
        "bbox": [[-8.74748499994166, -7.35523200035095, -2.05385796777344],
                 [8.8036420000717, 7.29930999968201, 2.05386103222656]]}]
    transform = np.array([
        [1, 0, 0, 1842015.125], [0, 1, 0, 5177109.25],
        [0, 0, 1, 247.87364196777344], [0, 0, 0, 1]],
        dtype=float).flatten("F")
    t = B3dm.from_glTF(GlTF.from_binary_arrays(arrays, transform))
    t.to_array()
    assert t.header.version == 1.0
    assert t.header.tile_byte_length == 2952
    assert t.header.ft_json_byte_length == 0
    assert t.header.bt_json_byte_length == 0


@needs_ref
def test_b3dm_build_textured_square():
    """Reference test_b3dm.py:66-104 verbatim (textured, 1556 bytes)."""
    with open(reference_path("tests", "square.wkb"), "rb") as f:
        wkb = f.read()
    with open(reference_path("tests", "squareUV.wkb"), "rb") as f:
        wkbuv = f.read()
    ts = TriangleSoup.from_wkb_multipolygon(wkb, [wkbuv])
    arrays = [{
        "position": ts.getPositionArray(),
        "normal": ts.getNormalArray(),
        "uv": ts.getDataArray(0),
        "bbox": [[0, 0, 0], [10, 10, 0]]}]
    transform = np.identity(4).flatten("F")
    t = B3dm.from_glTF(GlTF.from_binary_arrays(
        arrays, transform, textureUri="squaretexture.jpg"))
    assert t.header.version == 1.0
    assert t.header.tile_byte_length == 1556
    assert t.header.ft_json_byte_length == 0
