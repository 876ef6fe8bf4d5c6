"""Transverse Mercator (EPSG 9807 / UTM) closed-form validation.

No pyproj in this environment, so correctness is established the way the
LCC module was validated: (1) the Krueger/Karney order-n^6 series is
cross-checked against an INDEPENDENT implementation — Snyder's Working
Manual eq. 8-9..8-17 truncated series, a different derivation entirely;
(2) the central meridian is checked against a numerically integrated
meridian arc (absolute ground truth from the ellipsoid integral, no series
at all); (3) forward/inverse roundtrip; (4) native Column exprs match the
numpy path bit-for-bit through Spark; (5) srs_in=32633 end-to-end convert.
"""

import math
import os

import numpy as np
import pytest

from py3dtiles_spark.functions.crs import (
    TMParams, WGS84_A, WGS84_E2, WebMercatorParams, geodetic_to_ecef,
    projection_for_epsg, tm_forward, tm_inverse, tm_inverse_exprs,
    utm_params)


def snyder_tm_forward(lon_deg, lat_deg, lon0_deg, k0=0.9996,
                      x0=500_000.0, y0=0.0):
    """Independent check implementation: Snyder, Map Projections — A
    Working Manual, eqs. 8-9..8-13 (forward) with the meridian-arc series
    eq. 3-21. Truncated at A^6 — good to ~mm within a UTM zone."""
    a, e2 = WGS84_A, WGS84_E2
    ep2 = e2 / (1.0 - e2)
    lat = math.radians(lat_deg)
    dlon = math.radians(lon_deg - lon0_deg)
    sin_lat, cos_lat, tan_lat = math.sin(lat), math.cos(lat), math.tan(lat)
    N = a / math.sqrt(1.0 - e2 * sin_lat ** 2)
    T = tan_lat ** 2
    C = ep2 * cos_lat ** 2
    A = dlon * cos_lat
    M = a * ((1 - e2 / 4 - 3 * e2 ** 2 / 64 - 5 * e2 ** 3 / 256) * lat
             - (3 * e2 / 8 + 3 * e2 ** 2 / 32 + 45 * e2 ** 3 / 1024)
             * math.sin(2 * lat)
             + (15 * e2 ** 2 / 256 + 45 * e2 ** 3 / 1024)
             * math.sin(4 * lat)
             - (35 * e2 ** 3 / 3072) * math.sin(6 * lat))
    x = k0 * N * (A + (1 - T + C) * A ** 3 / 6
                  + (5 - 18 * T + T ** 2 + 72 * C - 58 * ep2)
                  * A ** 5 / 120)
    y = k0 * (M + N * tan_lat * (A ** 2 / 2
                                 + (5 - T + 9 * C + 4 * C ** 2) * A ** 4 / 24
                                 + (61 - 58 * T + T ** 2 + 600 * C
                                    - 330 * ep2) * A ** 6 / 720))
    return x0 + x, y0 + y


def meridian_arc_integral(lat_deg, steps=200_000):
    """Absolute ground truth: numerically integrate the meridian radius
    a(1-e2)/(1-e2 sin^2 phi)^(3/2) from 0 to lat (composite Simpson)."""
    lat = math.radians(lat_deg)
    phi = np.linspace(0.0, lat, steps + 1)
    s = np.sin(phi)
    integrand = WGS84_A * (1 - WGS84_E2) / (1 - WGS84_E2 * s * s) ** 1.5
    h = lat / steps
    w = np.ones(steps + 1)
    w[1:-1:2], w[2:-1:2] = 4.0, 2.0
    return float(h / 3.0 * np.dot(w, integrand))


def test_krueger_matches_snyder_across_zone():
    """Two independent published series must agree to ~mm everywhere a UTM
    zone is used (|dlon| <= 3 deg, lat -80..84)."""
    p = utm_params(32633)                  # zone 33N, lon0 = 15E
    rng = np.random.default_rng(42)
    lons = 15.0 + rng.uniform(-3.0, 3.0, 300)
    lats = rng.uniform(-80.0, 84.0, 300)
    e_k, n_k = tm_forward(p, lons, lats)
    for lon, lat, ek, nk in zip(lons, lats, e_k, n_k):
        es, ns = snyder_tm_forward(lon, lat, 15.0)
        assert abs(ek - es) < 0.01, (lon, lat)
        assert abs(nk - ns) < 0.01, (lon, lat)


def test_central_meridian_against_integrated_arc():
    """On the central meridian E = x0 exactly and N = k0 * meridian arc —
    checked against the raw ellipsoid integral (no series anywhere)."""
    p = utm_params(32633)
    for lat in (0.0, 12.5, 45.0, 60.0, 83.0):
        e, n = tm_forward(p, 15.0, lat)
        assert abs(float(e) - 500_000.0) < 1e-6
        assert abs(float(n) - 0.9996 * meridian_arc_integral(lat)) < 1e-4


def test_roundtrip_and_southern_hemisphere():
    pn = utm_params(32633)
    ps = utm_params(32733)
    rng = np.random.default_rng(7)
    lons = 15.0 + rng.uniform(-3.0, 3.0, 500)
    lats = rng.uniform(-80.0, 84.0, 500)
    e, n = tm_forward(pn, lons, lats)
    lon2, lat2 = tm_inverse(pn, e, n)
    np.testing.assert_allclose(lon2, lons, atol=1e-9)
    np.testing.assert_allclose(lat2, lats, atol=1e-9)
    # south zone: same easting, northing offset by the 10,000,000 m bias
    lat_s = -33.5
    e_n, n_n = tm_forward(pn, 16.0, lat_s)
    e_s, n_s = tm_forward(ps, 16.0, lat_s)
    assert abs(float(e_s) - float(e_n)) < 1e-9
    assert abs((float(n_s) - 10_000_000.0) - float(n_n)) < 1e-9
    lon3, lat3 = tm_inverse(ps, e_s, n_s)
    assert abs(float(lon3) - 16.0) < 1e-9
    assert abs(float(lat3) - lat_s) < 1e-9


def test_utm_params_epsg_mapping():
    assert utm_params(32601).lon0 == pytest.approx(math.radians(-177.0))
    assert utm_params(32660).lon0 == pytest.approx(math.radians(177.0))
    assert utm_params(32733).y0 == 10_000_000.0
    for bad in (32600, 32661, 32700, 32761, 4326):
        with pytest.raises(ValueError):
            utm_params(bad)
    assert projection_for_epsg(4326) is None
    assert isinstance(projection_for_epsg(32633), TMParams)
    assert isinstance(projection_for_epsg(3857), WebMercatorParams)
    from py3dtiles_spark.functions.crs import _pyproj_available
    if not _pyproj_available():
        # with pyproj installed 27700 (OSGB) resolves via the fallback
        with pytest.raises(ValueError, match="no closed-form projection"):
            projection_for_epsg(27700)


def test_web_mercator_inverse():
    wm = WebMercatorParams()
    lon, lat = wm.inverse(0.0, 0.0)
    assert abs(float(lon)) < 1e-12 and abs(float(lat)) < 1e-12
    # known closed form: y = R * ln(tan(pi/4 + lat/2))
    lat_t = 48.8566
    y = WGS84_A * math.log(math.tan(math.pi / 4 + math.radians(lat_t) / 2))
    lon2, lat2 = wm.inverse(WGS84_A * math.radians(2.3522), y)
    assert abs(float(lon2) - 2.3522) < 1e-9
    assert abs(float(lat2) - lat_t) < 1e-9


def test_tm_inverse_exprs_matches_numpy(spark):
    """The native Column inverse must match the numpy inverse to float64
    round-off through a real Spark plan."""
    import pandas as pd
    from pyspark.sql import functions as F

    p = utm_params(32633)
    rng = np.random.default_rng(11)
    e = 500_000.0 + rng.uniform(-250_000.0, 250_000.0, 200)
    n = rng.uniform(0.0, 9_000_000.0, 200)
    lon_np, lat_np = tm_inverse(p, e, n)
    df = spark.createDataFrame(pd.DataFrame({"x": e, "y": n, "i": range(200)}))
    lon_e, lat_e = tm_inverse_exprs(p, "x", "y")
    rows = (df.select("i", lon_e.alias("lon"), lat_e.alias("lat"))
            .orderBy("i").collect())
    np.testing.assert_allclose([r.lon for r in rows], lon_np, atol=1e-12)
    np.testing.assert_allclose([r.lat for r in rows], lat_np, atol=1e-12)


def test_convert_files_utm_srs_in(spark, tmp_path):
    """End-to-end: an XYZ cloud in UTM 33N coordinates converts with
    srs_in=32633 -> EPSG:4978, matching the reference's pyproj path
    (las_reader.py:110, convert.py:387-399) via the closed form."""
    from py3dtiles_spark.plans.convert import convert_files

    p = utm_params(32633)
    rng = np.random.default_rng(3)
    lons = 15.0 + rng.uniform(-0.01, 0.01, 400)
    lats = 52.0 + rng.uniform(-0.01, 0.01, 400)
    hs = rng.uniform(0.0, 30.0, 400)
    e, n = tm_forward(p, lons, lats)
    xyz = tmp_path / "utm.xyz"
    with open(xyz, "w") as f:
        for ei, ni, hi in zip(e, n, hs):
            f.write(f"{ei:.3f} {ni:.3f} {hi:.3f}\n")

    res = convert_files(spark, str(xyz), srs_in=32633, srs_out=4978,
                        out_dir=str(tmp_path / "out"), write_pnts=True)
    assert res.tiling.counters["points_assigned"] == 400
    assert res.rotation is not None
    assert os.path.exists(str(tmp_path / "out" / "tileset.json"))

    # the offset is avg_min unprojected through the TM inverse -> ECEF;
    # cross-check against the ORIGINAL geodetic coordinates
    exp = np.array(geodetic_to_ecef(lons.min(), lats.min(), hs.min()))
    got = np.asarray(res.offset, dtype=np.float64)
    assert np.linalg.norm(got - exp) < 2_000.0   # same km-neighborhood
    # after offset+rotation the local cloud is ~km-sized near the origin
    tiles = res.tiles.collect()
    assert sum(t.point_count for t in tiles) == 400
    ext = max(max(abs(t.min_x), abs(t.max_x), abs(t.min_y), abs(t.max_y))
              for t in tiles)
    assert ext < 4_000.0


# ------------------------------------------------- pyproj fallback (r6) --
# The generic-EPSG fallback activates only when pyproj is installed (not
# in this container): the live test is skip-gated exactly like the
# PostGIS one, and the no-pyproj error contract is tested for real.

def test_unsupported_epsg_raises_without_pyproj():
    import pytest

    from py3dtiles_spark.functions.crs import (_pyproj_available,
                                               projection_for_epsg)
    if _pyproj_available():
        pytest.skip("pyproj installed — fallback active, see live test")
    with pytest.raises(ValueError, match="pyproj"):
        projection_for_epsg(2056)          # Swiss LV95: no closed form


def test_pyproj_fallback_matches_closed_form_live(spark):
    """LIVE (needs pyproj): the generic fallback must agree with the
    native closed-form UTM series on a zone both can handle."""
    import pytest

    from py3dtiles_spark.functions.crs import (PyprojParams,
                                               _pyproj_available,
                                               utm_params)
    if not _pyproj_available():
        pytest.skip("pyproj not installed in this container")
    import numpy as np
    p_native = utm_params(32633)
    p_proj = PyprojParams(32633)
    e = np.array([350000.0, 500000.0, 650000.0])
    n = np.array([5600000.0, 5700000.0, 5800000.0])
    lon_a, lat_a = p_native.inverse(e, n)
    lon_b, lat_b = p_proj.inverse(e, n)
    assert np.allclose(lon_a, lon_b, atol=1e-9)
    assert np.allclose(lat_a, lat_b, atol=1e-9)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(e, n)], "x double, y double")
    lon_e, lat_e = p_proj.inverse_exprs("x", "y")
    rows = df.select(lon_e.alias("lon"), lat_e.alias("lat")).collect()
    assert np.allclose([r.lon for r in rows], lon_a, atol=1e-9)
