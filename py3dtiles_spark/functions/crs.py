"""WGS84 CRS conversion + rotation alignment — closed-form, no pyproj.

Re-expresses the reference's projection path (utils.py:9-12 convert_to_ecef,
convert.py:387-416 reprojection + EPSG:4978 alignment rotation) with the
standard WGS84 ellipsoid equations. pyproj is not installed in this
environment; geodetic (EPSG:4326/4979) -> geocentric ECEF (EPSG:4978) has an
exact closed form, which is also the only CRS pair the engine's web-page
payload needs (pages geocode to lon/lat). Projected inputs in the Lambert
conformal conic family (Lambert-93 EPSG:2154, CC zones EPSG:3942-3950 — the
reference's own conversion test drives srs_in=3949) are unprojected with the
closed-form EPSG 9802 inverse below; other projected CRS raise clearly.

Validated against the reference's own gdaltransform goldens
(tests/test_convert.py:10-18) in tests/test_crs.py.

Three forms of the same math:
- numpy (driver / Arrow-kernel side)
- native Column expressions (JVM-side, whole-stage codegen — the 100 TB path)
- 4x4 matrix helpers for the tileset `transform` (convert.py:36-41)
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, functions as F

WGS84_A = 6378137.0                       # semi-major axis (m)
WGS84_F = 1.0 / 298.257223563             # flattening
WGS84_E2 = WGS84_F * (2.0 - WGS84_F)      # first eccentricity squared


def geodetic_to_ecef(lon_deg, lat_deg, h):
    """numpy: WGS84 geodetic -> ECEF. Accepts scalars or arrays."""
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    h = np.asarray(h, dtype=np.float64)
    sin_lat = np.sin(lat)
    n = WGS84_A / np.sqrt(1.0 - WGS84_E2 * sin_lat * sin_lat)
    x = (n + h) * np.cos(lat) * np.cos(lon)
    y = (n + h) * np.cos(lat) * np.sin(lon)
    z = (n * (1.0 - WGS84_E2) + h) * sin_lat
    return x, y, z


def ecef_exprs(lon_col="x", lat_col="y", h_col="z") -> tuple[Column, Column, Column]:
    """Native Column expressions for the same conversion — zero Python in
    the hot path; Catalyst folds the constants and codegens the trig."""
    lon = F.radians(F.col(lon_col).cast("double"))
    lat = F.radians(F.col(lat_col).cast("double"))
    h = F.col(h_col).cast("double")
    sin_lat = F.sin(lat)
    n = WGS84_A / F.sqrt(1.0 - WGS84_E2 * sin_lat * sin_lat)
    return ((n + h) * F.cos(lat) * F.cos(lon),
            (n + h) * F.cos(lat) * F.sin(lon),
            (n * (1.0 - WGS84_E2) + h) * sin_lat)


# ---------------------------------------------------------------- matrices --
# Standard homogeneous-transform builders (textbook Rodrigues/affine forms;
# same operations the reference takes from the vendored Gohlke
# transformations.py — re-derived, not copied).

def translation_matrix(direction) -> np.ndarray:
    m = np.identity(4)
    m[:3, 3] = direction[:3]
    return m


def scale_matrix(factor: float) -> np.ndarray:
    m = np.identity(4) * factor
    m[3, 3] = 1.0
    return m


def rotation_matrix(angle: float, axis) -> np.ndarray:
    """4x4 rotation of `angle` radians about `axis` through the origin."""
    u = np.asarray(axis, dtype=np.float64)
    norm = np.linalg.norm(u)
    if norm == 0.0:
        return np.identity(4)
    u = u / norm
    c, s = math.cos(angle), math.sin(angle)
    ux, uy, uz = u
    r = np.array([
        [c + ux * ux * (1 - c), ux * uy * (1 - c) - uz * s, ux * uz * (1 - c) + uy * s],
        [uy * ux * (1 - c) + uz * s, c + uy * uy * (1 - c), uy * uz * (1 - c) - ux * s],
        [uz * ux * (1 - c) - uy * s, uz * uy * (1 - c) + ux * s, c + uz * uz * (1 - c)],
    ])
    m = np.identity(4)
    m[:3, :3] = r
    return m


def align_vector_matrix(v_from, v_to) -> np.ndarray:
    """4x4 rotation taking direction v_from to v_to (reference
    make_rotation_matrix, convert.py:89-95)."""
    a = np.asarray(v_from, dtype=np.float64)
    b = np.asarray(v_to, dtype=np.float64)
    a = a / np.linalg.norm(a)
    b = b / np.linalg.norm(b)
    cross = np.cross(a, b)
    dot = float(np.clip(np.dot(a, b), -1.0, 1.0))
    angle = math.atan2(np.linalg.norm(cross), dot)
    if np.linalg.norm(cross) == 0.0:
        # parallel or anti-parallel: pick any perpendicular axis for pi
        if dot > 0:
            return np.identity(4)
        perp = np.cross(a, [1.0, 0.0, 0.0])
        if np.linalg.norm(perp) == 0.0:
            perp = np.cross(a, [0.0, 1.0, 0.0])
        return rotation_matrix(math.pi, perp)
    return rotation_matrix(angle, cross)


def ecef_alignment_rotation(avg_min_ecef, x_axis_ecef) -> np.ndarray:
    """P3: the EPSG:4978 'nicely aligned local frame' rotation
    (convert.py:406-416): geocentric normal -> (0,0,1), then the bbox
    x-axis -> (1,0,0)."""
    r1 = align_vector_matrix(avg_min_ecef, np.array([0.0, 0.0, 1.0]))
    r2 = align_vector_matrix(x_axis_ecef, np.array([1.0, 0.0, 0.0]))
    return np.dot(r2, r1)


def tileset_transform(offset, scale: float,
                      rotation: np.ndarray | None = None) -> list[float]:
    """The root tile `transform` = T(offset) . S(1/scale) . R^-1
    (convert.py:36-41), column-major-flattened (transform.T.reshape(16))."""
    t = np.identity(4) if rotation is None else np.linalg.inv(rotation)
    t = np.dot(t, scale_matrix(1.0 / scale))
    t = np.dot(translation_matrix(offset), t)
    return t.T.reshape(16).tolist()


# -------------------------------------------------- Lambert Conformal Conic --
# Generic LCC 2SP (EPSG method 9802) closed form — covers the reference's own
# conversion test (srs_in=3949, tests/test_convert.py:29-42, convert.py:387-
# 399) without proj machinery. Formulas are the published EPSG Guidance
# Note 7-2 / Snyder eq. 15-1..15-11 equations; validated in
# tests/test_crs_lcc.py against Snyder's Clarke-1866 worked example, the
# grid origins of the French RGF93 zones, roundtrip, and expr/numpy parity.

GRS80_A = 6378137.0
GRS80_F = 1.0 / 298.257222101
GRS80_E2 = GRS80_F * (2.0 - GRS80_F)


class LCCParams:
    """Lambert Conformal Conic 2SP projection constants (EPSG 9802)."""

    def __init__(self, lat0, lat1, lat2, lon0, x0, y0,
                 a=GRS80_A, e2=GRS80_E2):
        self.a, self.e2, self.e = a, e2, math.sqrt(e2)
        self.lat0, self.lon0 = math.radians(lat0), math.radians(lon0)
        self.x0, self.y0 = x0, y0
        p1, p2 = math.radians(lat1), math.radians(lat2)
        e = self.e

        def m(p):
            s = math.sin(p)
            return math.cos(p) / math.sqrt(1.0 - e2 * s * s)

        def t(p):
            s = math.sin(p)
            return (math.tan(math.pi / 4 - p / 2)
                    / ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2))

        m1, m2 = m(p1), m(p2)
        t0, t1, t2 = t(self.lat0), t(p1), t(p2)
        self.n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
        self.F = m1 / (self.n * t1 ** self.n)
        self.r0 = a * self.F * t0 ** self.n


# French RGF93 zones on GRS80: Lambert-93 + the 9 "conic conformal" zones
# CC42..CC50 (EPSG:3942-3950 — the reference test's 3949 is CC49)
LCC_ZONES: dict[int, LCCParams] = {
    2154: LCCParams(46.5, 44.0, 49.0, 3.0, 700_000.0, 6_600_000.0),
    **{3942 + i: LCCParams(42.0 + i, 41.25 + i, 42.75 + i, 3.0,
                           1_700_000.0, (i + 1) * 1_000_000.0 + 200_000.0)
       for i in range(9)},
}

_LCC_LAT_ITERS = 8   # linear convergence factor ~e^2/2: 8 double-converges


def _chi_to_lat_coeffs(e2: float):
    """Series coefficients for the inverse conformal-latitude expansion
    (Snyder, Map Projections — A Working Manual, eq. 3-5):
    lat = chi + A sin2chi + B sin4chi + C sin6chi + D sin8chi.
    Truncation error O(e^10) ~ 1e-11 deg on GRS80 — below float32 point
    precision by 5 orders of magnitude."""
    return (e2 / 2 + 5 * e2 ** 2 / 24 + e2 ** 3 / 12 + 13 * e2 ** 4 / 360,
            7 * e2 ** 2 / 48 + 29 * e2 ** 3 / 240 + 811 * e2 ** 4 / 11520,
            7 * e2 ** 3 / 120 + 81 * e2 ** 4 / 1120,
            4279 * e2 ** 4 / 161280)


def lcc_forward(p: LCCParams, lon_deg, lat_deg):
    """numpy LCC 2SP forward: geodetic degrees -> projected (E, N) meters."""
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    s = np.sin(lat)
    t = (np.tan(np.pi / 4 - lat / 2)
         / ((1.0 - p.e * s) / (1.0 + p.e * s)) ** (p.e / 2))
    r = p.a * p.F * t ** p.n
    th = p.n * (lon - p.lon0)
    return p.x0 + r * np.sin(th), p.y0 + p.r0 - r * np.cos(th)


def lcc_inverse(p: LCCParams, easting, northing):
    """numpy LCC 2SP inverse: projected meters -> geodetic degrees."""
    de = np.asarray(easting, dtype=np.float64) - p.x0
    dn = p.r0 - (np.asarray(northing, dtype=np.float64) - p.y0)
    sgn = 1.0 if p.n >= 0 else -1.0
    r = sgn * np.sqrt(de * de + dn * dn)
    t = (r / (p.a * p.F)) ** (1.0 / p.n)
    lon = np.arctan2(sgn * de, sgn * dn) / p.n + p.lon0
    lat = np.pi / 2 - 2.0 * np.arctan(t)
    for _ in range(_LCC_LAT_ITERS):
        s = p.e * np.sin(lat)
        lat = np.pi / 2 - 2.0 * np.arctan(
            t * ((1.0 - s) / (1.0 + s)) ** (p.e / 2))
    return np.degrees(lon), np.degrees(lat)


def lcc_inverse_exprs(p: LCCParams, e_col="x", n_col="y"):
    """Native Column LCC inverse (degrees out) — pure JVM expressions so
    projected->ECEF stays whole-stage-codegen with zero Python (the 100 TB
    path). The latitude uses the closed-form Snyder eq. 3-5 series, NOT an
    unrolled fixed-point iteration: each iteration embeds the previous lat
    expression twice, so 8 unrolled steps grow the Catalyst tree ~2^8x and
    the downstream ECEF/rotation reuse multiplies it again — enough to OOM
    the JVM during codegen. The series references chi linearly."""
    de = F.col(e_col).cast("double") - F.lit(p.x0)
    dn = F.lit(p.r0) - (F.col(n_col).cast("double") - F.lit(p.y0))
    sgn = 1.0 if p.n >= 0 else -1.0
    r = sgn * F.sqrt(de * de + dn * dn)
    t = F.pow(r / (p.a * p.F), 1.0 / p.n)
    lon = F.atan2(sgn * de, sgn * dn) / p.n + F.lit(p.lon0)
    chi = math.pi / 2 - 2.0 * F.atan(t)
    ca, cb, cc, cd = _chi_to_lat_coeffs(p.e2)
    lat = (chi + ca * F.sin(2.0 * chi) + cb * F.sin(4.0 * chi)
           + cc * F.sin(6.0 * chi) + cd * F.sin(8.0 * chi))
    return F.degrees(lon), F.degrees(lat)


# ----------------------------------------------------- Transverse Mercator --
# EPSG method 9807 (UTM zones EPSG:326xx north / 327xx south) via the
# Krueger/Karney series in the third flattening n — the published
# closed-form series (Karney 2011, "Transverse Mercator with an accuracy of
# a few nanometers", eqs. 35-36 and the alpha/beta coefficient tables; same
# series EPSG Guidance Note 7-2 prints as its 9807 formula). Order n^6:
# truncation below a nanometer inside a UTM zone. Matches the reference's
# pyproj path (las_reader.py:110, convert.py:387-399) for UTM srs_in without
# proj machinery. Validated in tests/test_crs_tm.py against an INDEPENDENT
# Snyder eq. 8-9..8-17 implementation, a numerically integrated meridian
# arc on the central meridian, and forward/inverse roundtrip.

def _tm_alpha(n: float) -> tuple[float, ...]:
    """Forward series coefficients alpha_1..alpha_6 (Karney 2011, eq. 35)."""
    return (
        n / 2 - 2 * n**2 / 3 + 5 * n**3 / 16 + 41 * n**4 / 180
        - 127 * n**5 / 288 + 7891 * n**6 / 37800,
        13 * n**2 / 48 - 3 * n**3 / 5 + 557 * n**4 / 1440
        + 281 * n**5 / 630 - 1983433 * n**6 / 1935360,
        61 * n**3 / 240 - 103 * n**4 / 140 + 15061 * n**5 / 26880
        + 167603 * n**6 / 181440,
        49561 * n**4 / 161280 - 179 * n**5 / 168 + 6601661 * n**6 / 7257600,
        34729 * n**5 / 80640 - 3418889 * n**6 / 1995840,
        212378941 * n**6 / 319334400,
    )


def _tm_beta(n: float) -> tuple[float, ...]:
    """Inverse series coefficients beta_1..beta_6 (Karney 2011, eq. 36)."""
    return (
        n / 2 - 2 * n**2 / 3 + 37 * n**3 / 96 - n**4 / 360
        - 81 * n**5 / 512 + 96199 * n**6 / 604800,
        n**2 / 48 + n**3 / 15 - 437 * n**4 / 1440 + 46 * n**5 / 105
        - 1118711 * n**6 / 3870720,
        17 * n**3 / 480 - 37 * n**4 / 840 - 209 * n**5 / 4480
        + 5569 * n**6 / 90720,
        4397 * n**4 / 161280 - 11 * n**5 / 504 - 830251 * n**6 / 7257600,
        4583 * n**5 / 161280 - 108847 * n**6 / 3991680,
        20648693 * n**6 / 638668800,
    )


class TMParams:
    """Transverse Mercator projection constants (EPSG 9807)."""

    def __init__(self, lon0_deg: float, k0: float = 0.9996,
                 x0: float = 500_000.0, y0: float = 0.0,
                 a: float = WGS84_A, f: float = WGS84_F):
        self.lon0 = math.radians(lon0_deg)
        self.k0, self.x0, self.y0 = k0, x0, y0
        self.a, self.f = a, f
        self.e2 = f * (2.0 - f)
        self.e = math.sqrt(self.e2)
        n = f / (2.0 - f)
        self.n3 = n
        # rectifying radius A (Karney eq. 14, order n^6)
        self.A = a / (1.0 + n) * (1.0 + n**2 / 4 + n**4 / 64 + n**6 / 256)
        self.alpha = _tm_alpha(n)
        self.beta = _tm_beta(n)

    # LCCParams-compatible projection interface (plans/convert.py dispatch)
    def inverse(self, easting, northing):
        return tm_inverse(self, easting, northing)

    def inverse_exprs(self, e_col="x", n_col="y"):
        return tm_inverse_exprs(self, e_col, n_col)


def tm_forward(p: TMParams, lon_deg, lat_deg):
    """numpy TM forward: geodetic degrees -> projected (E, N) meters."""
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64)) - p.lon0
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    # conformal latitude: tau' = sinh(asinh-form Gauss-Schreiber mapping)
    s = np.sin(lat)
    taup = np.sinh(np.arctanh(s) - p.e * np.arctanh(p.e * s))
    xi = np.arctan2(taup, np.cos(lon))
    eta = np.arcsinh(np.sin(lon) / np.hypot(taup, np.cos(lon)))
    xs, es = xi.copy(), eta.copy()
    for j, aj in enumerate(p.alpha, start=1):
        xs = xs + aj * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        es = es + aj * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    return p.x0 + p.k0 * p.A * es, p.y0 + p.k0 * p.A * xs


def tm_inverse(p: TMParams, easting, northing):
    """numpy TM inverse: projected meters -> geodetic degrees. Latitude
    comes from the conformal latitude via the same closed-form Snyder
    eq. 3-5 series the LCC inverse uses."""
    xi = (np.asarray(northing, dtype=np.float64) - p.y0) / (p.k0 * p.A)
    eta = (np.asarray(easting, dtype=np.float64) - p.x0) / (p.k0 * p.A)
    xp, ep = xi.copy(), eta.copy()
    for j, bj in enumerate(p.beta, start=1):
        xp = xp - bj * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        ep = ep - bj * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    lon = p.lon0 + np.arctan2(np.sinh(ep), np.cos(xp))
    chi = np.arctan2(np.sin(xp), np.hypot(np.sinh(ep), np.cos(xp)))
    ca, cb, cc, cd = _chi_to_lat_coeffs(p.e2)
    lat = (chi + ca * np.sin(2 * chi) + cb * np.sin(4 * chi)
           + cc * np.sin(6 * chi) + cd * np.sin(8 * chi))
    return np.degrees(lon), np.degrees(lat)


def tm_inverse_exprs(p: TMParams, e_col="x", n_col="y"):
    """Native Column TM inverse (degrees out) — the fixed 6-term beta sums
    are LINEAR in (xi, eta) trig terms, so the Catalyst tree stays flat
    (no unrolled fixed-point iteration; same codegen-blowup discipline as
    lcc_inverse_exprs) and projected->ECEF remains whole-stage-codegen
    with zero Python."""
    k = 1.0 / (p.k0 * p.A)
    xi = (F.col(n_col).cast("double") - F.lit(p.y0)) * k
    eta = (F.col(e_col).cast("double") - F.lit(p.x0)) * k
    xp, ep = xi, eta
    for j, bj in enumerate(p.beta, start=1):
        xp = xp - bj * F.sin(2.0 * j * xi) * F.cosh(2.0 * j * eta)
        ep = ep - bj * F.cos(2.0 * j * xi) * F.sinh(2.0 * j * eta)
    lon = F.lit(p.lon0) + F.atan2(F.sinh(ep), F.cos(xp))
    chi = F.atan2(F.sin(xp), F.hypot(F.sinh(ep), F.cos(xp)))
    ca, cb, cc, cd = _chi_to_lat_coeffs(p.e2)
    lat = (chi + ca * F.sin(2.0 * chi) + cb * F.sin(4.0 * chi)
           + cc * F.sin(6.0 * chi) + cd * F.sin(8.0 * chi))
    return F.degrees(lon), F.degrees(lat)


def utm_params(epsg: int) -> TMParams:
    """UTM zone constants from the EPSG code (326xx north, 327xx south)."""
    epsg = int(epsg)
    zone = epsg % 100
    if not (32601 <= epsg <= 32660 or 32701 <= epsg <= 32760):
        raise ValueError(f"EPSG:{epsg} is not a WGS84 UTM zone")
    return TMParams(lon0_deg=zone * 6.0 - 183.0,
                    y0=0.0 if epsg < 32700 else 10_000_000.0)


# --------------------------------------------------------- Web Mercator 3857 --
# Spherical Pseudo-Mercator (EPSG 1024): the exact closed-form inverse on
# the authalic sphere R = WGS84_A. Ubiquitous for web-map-derived inputs.

class WebMercatorParams:
    def inverse(self, easting, northing):
        x = np.asarray(easting, dtype=np.float64)
        y = np.asarray(northing, dtype=np.float64)
        return (np.degrees(x / WGS84_A),
                np.degrees(np.arctan(np.sinh(y / WGS84_A))))

    def inverse_exprs(self, e_col="x", n_col="y"):
        return (F.degrees(F.col(e_col).cast("double") / WGS84_A),
                F.degrees(F.atan(F.sinh(F.col(n_col).cast("double")
                                        / WGS84_A))))


# back-compat interface shims so every projection object exposes
# inverse/inverse_exprs (plans/convert.py dispatches through these)
LCCParams.inverse = lambda self, e, n: lcc_inverse(self, e, n)
LCCParams.inverse_exprs = (
    lambda self, e_col="x", n_col="y": lcc_inverse_exprs(self, e_col, n_col))


# ------------------------------------------------- pyproj fallback (optional) --
# The closed-form set above covers the common cases natively (pure Catalyst
# expressions, zero Python in the hot path). The long tail — national
# grids, NAD zones, anything PROJ knows — falls back to pyproj WHEN
# INSTALLED, mirroring the reference's pyproj dependency
# (py3dtiles/points/task/las_reader.py:110, convert.py:387-399) without
# making it a hard requirement. The exprs path is an Arrow-batched pandas
# UDF (the documented slow path: batch-vectorized, never per-row).

def _pyproj_available() -> bool:
    try:
        import pyproj  # noqa: F401
        return True
    except ImportError:
        return False


class PyprojParams:
    """Generic EPSG unprojection via pyproj (optional dependency).

    `inverse` runs the transform driver-side on numpy arrays;
    `inverse_exprs` ships the EPSG code (an int — cheap to serialize) and
    builds the Transformer lazily per executor process."""

    def __init__(self, epsg: int):
        import pyproj

        self.epsg = int(epsg)
        try:
            self._tr = pyproj.Transformer.from_crs(
                f"EPSG:{self.epsg}", "EPSG:4326", always_xy=True)
        except Exception as exc:
            # keep the dispatch's ValueError contract even when pyproj is
            # present but the code is unknown to PROJ (CRSError otherwise
            # leaks a raw pyproj traceback to CLI users)
            raise ValueError(
                f"EPSG:{self.epsg} is unknown to pyproj/PROJ and has no "
                "closed-form projection in this engine") from exc

    def inverse(self, easting, northing):
        lon, lat = self._tr.transform(
            np.asarray(easting, dtype=np.float64),
            np.asarray(northing, dtype=np.float64))
        return lon, lat

    def inverse_exprs(self, e_col="x", n_col="y"):
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        epsg = self.epsg

        @pandas_udf("struct<lon:double,lat:double>")
        def _unproject(e: pd.Series, n: pd.Series) -> pd.DataFrame:
            import pyproj
            tr = pyproj.Transformer.from_crs(
                f"EPSG:{epsg}", "EPSG:4326", always_xy=True)
            lon, lat = tr.transform(e.to_numpy(np.float64),
                                    n.to_numpy(np.float64))
            return pd.DataFrame({"lon": lon, "lat": lat})

        s = _unproject(F.col(e_col).cast("double"),
                       F.col(n_col).cast("double"))
        return s.getField("lon"), s.getField("lat")


def projection_for_epsg(srs_in: int):
    """Projection object for a projected EPSG code, or None for geodetic
    4326/4979. Closed-form native-expression projections (LCC zones, UTM,
    Web Mercator) are preferred; any OTHER code dispatches to pyproj when
    importable and raises otherwise."""
    srs_in = int(srs_in)
    if srs_in in (4326, 4979):
        return None
    if srs_in in LCC_ZONES:
        return LCC_ZONES[srs_in]
    if 32601 <= srs_in <= 32660 or 32701 <= srs_in <= 32760:
        return utm_params(srs_in)
    if srs_in == 3857:
        return WebMercatorParams()
    if _pyproj_available():
        return PyprojParams(srs_in)
    raise ValueError(
        f"EPSG:{srs_in} has no closed-form projection in this engine "
        "(native: UTM 32601-32660/32701-32760, Web Mercator 3857, "
        "Lambert-93 2154, CC zones 3942-3950; geodetic 4326/4979 need no "
        "unprojection) and pyproj is not installed — `pip install pyproj` "
        "enables the generic fallback")


def convert_to_ecef(x, y, z, epsg_input: int):
    """API parity with the reference's public `convert_to_ecef`
    (utils.py:9-12): (x, y, z, source EPSG) -> EPSG:4978 ECEF meters.
    Geodetic input (4326/4979) takes the closed form directly; supported
    projected CRS (LCC zones, UTM, Web Mercator) unproject first. Accepts
    scalars or arrays."""
    proj = projection_for_epsg(epsg_input)
    if proj is None:
        return geodetic_to_ecef(x, y, z)
    lon, lat = proj.inverse(x, y)
    return geodetic_to_ecef(lon, lat, z)


def projected_to_geodetic(srs_in: int, easting, northing):
    """numpy dispatch: known projected EPSG -> (lon_deg, lat_deg)."""
    proj = projection_for_epsg(srs_in)
    if proj is None:
        return (np.asarray(easting, dtype=np.float64),
                np.asarray(northing, dtype=np.float64))
    return proj.inverse(easting, northing)
