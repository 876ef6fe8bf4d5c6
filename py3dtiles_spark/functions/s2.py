"""S2 spherical cell index — the north-rule "H3/S2 encode" operator.

Implements the S2 construction from the published s2geometry scheme
(https://s2geometry.io/devguide/s2cell_hierarchy): unit sphere -> cube
face (0-5) -> quadratic ST projection -> leaf (i, j) -> Morton
curve position. One id:

- **quad id** (`s2_quad_id_expr`, `with_s2_quad`): face << 2L |
  morton(i, j). Pure native column expressions end to end
  (cos/sin/sqrt/floor/bit ops), zero Python — the 100 TB bucketing path.
  Morton order preserves the hierarchy (parent = id >> 2) and is exactly
  reproducible in ANSI SQL (`s2_quad_id_sql`), so this id is
  DuckDB-oracle-checked (`s2_cells` in `__spark_entry__.py`).
- `_lonlat_to_face_ij` is the numpy twin of the (face, i, j) stage; the
  tests compare the native expressions against it.

Reference tie-in: the same Morton-family packing as the tiler's LOD grid
key (functions/geometry.py xyz_to_key, reference distance.py:24-32) —
S2 is the spherical analogue used to bucket geocoded web pages before
the octree assignment.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

MAX_LEVEL = 30


# ------------------------------------------------------------ native exprs --

def _lonlat_to_xyz(lon: Column, lat: Column):
    rl, rp = F.radians(lon), F.radians(lat)
    cp = F.cos(rp)
    return cp * F.cos(rl), cp * F.sin(rl), F.sin(rp)


def _face_uv_from_xyz(x: Column, y: Column, z: Column):
    """(face, u, v) exprs from unit-sphere xyz Columns. Face selection
    mirrors s2geometry's LargestAbsComponent tie-breaking (x wins only
    strictly; then y; then z), and the per-face (u, v) formulas are the
    published ValidFaceXYZtoUV table. Shared by the one-expression and
    staged builders so the mapping exists exactly once."""
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    axis = (F.when((ax > ay) & (ax > az), F.lit(0))
            .when(ay > az, F.lit(1)).otherwise(F.lit(2)))
    comp = F.when(axis == 0, x).when(axis == 1, y).otherwise(z)
    face = axis + F.when(comp < 0, F.lit(3)).otherwise(F.lit(0))
    u = (F.when(face == 0, y / x).when(face == 1, -x / y)
         .when(face == 2, -x / z).when(face == 3, z / x)
         .when(face == 4, z / y).otherwise(-y / z))
    v = (F.when(face == 0, z / x).when(face == 1, z / y)
         .when(face == 2, -y / z).when(face == 3, y / x)
         .when(face == 4, -x / y).otherwise(-x / z))
    return face.cast("long"), u, v


def _ij_expr(st: Column, level: int) -> Column:
    """Quantize an ST coordinate to [0, 2^level) with the S2 clamp."""
    lim = 1 << level
    raw = F.floor(st * F.lit(float(lim))).cast("long")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(lim - 1))


def _morton_expr(i: Column, j: Column, level: int) -> Column:
    morton = F.lit(0).cast("long")
    for k in range(level):
        morton = (morton
                  .bitwiseOR(F.shiftleft(F.shiftright(i, k).bitwiseAND(F.lit(1)),
                                         2 * k + 1))
                  .bitwiseOR(F.shiftleft(F.shiftright(j, k).bitwiseAND(F.lit(1)),
                                         2 * k)))
    return morton


def s2_face_uv_exprs(lon_col: str = "x", lat_col: str = "y"):
    """(face, u, v) native columns from lon/lat degree columns."""
    x, y, z = _lonlat_to_xyz(F.col(lon_col).cast("double"),
                             F.col(lat_col).cast("double"))
    return _face_uv_from_xyz(x, y, z)


def _uv_to_st(u: Column) -> Column:
    # S2's quadratic projection: equal-area to within ~2.1x (vs ~5.2 for
    # linear), closed-form both ways
    return F.when(u >= 0, 0.5 * F.sqrt(1.0 + 3.0 * u)) \
            .otherwise(1.0 - 0.5 * F.sqrt(1.0 - 3.0 * u))


def s2_face_ij_exprs(level: int, lon_col: str = "x", lat_col: str = "y"):
    """(face, i, j) native columns at `level` (i, j in [0, 2^level))."""
    face, u, v = s2_face_uv_exprs(lon_col, lat_col)
    return (face, _ij_expr(_uv_to_st(u), level),
            _ij_expr(_uv_to_st(v), level))


def s2_quad_id_expr(level: int, lon_col: str = "x",
                    lat_col: str = "y") -> Column:
    """face << 2L | morton(i, j) as one native column — hierarchical
    (parent cell = id >> 2), JVM-only, and reproducible in plain SQL
    (the driver-gate oracle builds the identical arithmetic).

    Level cap: face (3 bits, faces 4-5 need all three) sits at bit
    positions [2*level, 2*level+2], which must stay below the sign bit
    (position 63) of a signed long — 2*level+2 <= 62, i.e. level in
    [0, MAX_LEVEL]."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
    face, i, j = s2_face_ij_exprs(level, lon_col, lat_col)
    return (F.shiftleft(face, 2 * level)
            .bitwiseOR(_morton_expr(i, j, level)).alias("s2_quad"))


def with_s2_quad(df, level: int, lon_col: str = "x", lat_col: str = "y",
                 out_col: str = "s2_quad"):
    """`out_col` = the level-`level` quad id, built as STAGED projections
    (face/u/v -> st -> ij -> morton) instead of one composed expression.

    Why this exists next to s2_quad_id_expr: composing everything into a
    single Column duplicates subtrees combinatorially — morton references
    i/j 2x per level, ij references st 2x (clamp), st references u 3x
    (sign branch), and every u branch embeds the xyz trig — ~70 copies of
    the trig tree at level 6, a huge codegen unit (measured 5.6x slower
    than geohash on identical input at sf0.1). Separate Projects keep
    each subexpression computed ONCE; Catalyst's CollapseProject will not
    re-inline them because the producers are non-cheap and multiply
    referenced. Same result, same zero-Python plan, ~5x less expression
    tree."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
    tmp = ["_s2x", "_s2y", "_s2z", "_s2f", "_s2u", "_s2v", "_s2i", "_s2j"]
    # stage the trig once: face/u/v reference the xyz columns ~15x total
    xe, ye, ze = _lonlat_to_xyz(F.col(lon_col).cast("double"),
                                F.col(lat_col).cast("double"))
    df = df.withColumns({"_s2x": xe, "_s2y": ye, "_s2z": ze})
    face, u, v = _face_uv_from_xyz(F.col("_s2x"), F.col("_s2y"),
                                   F.col("_s2z"))
    df = df.withColumns({"_s2f": face, "_s2u": u, "_s2v": v})
    df = df.withColumns({
        "_s2i": _ij_expr(_uv_to_st(F.col("_s2u")), level),
        "_s2j": _ij_expr(_uv_to_st(F.col("_s2v")), level)})
    out = (F.shiftleft(F.col("_s2f"), 2 * level)
           .bitwiseOR(_morton_expr(F.col("_s2i"), F.col("_s2j"), level)))
    return df.withColumn(out_col, out).drop(*tmp)


def s2_quad_id_sql(level: int, lon_sql: str, lat_sql: str) -> str:
    """The DuckDB/ANSI twin of s2_quad_id_expr, as a SQL scalar expression
    string over lon/lat SQL sub-expressions — used by oracle_sql()."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
    lim = 1 << level
    xyz = (f"cos(radians({lat_sql})) * cos(radians({lon_sql}))",
           f"cos(radians({lat_sql})) * sin(radians({lon_sql}))",
           f"sin(radians({lat_sql}))")
    x, y, z = xyz
    axis = (f"(CASE WHEN abs({x}) > abs({y}) AND abs({x}) > abs({z}) THEN 0 "
            f"WHEN abs({y}) > abs({z}) THEN 1 ELSE 2 END)")
    comp = f"(CASE {axis} WHEN 0 THEN {x} WHEN 1 THEN {y} ELSE {z} END)"
    face = f"({axis} + CASE WHEN {comp} < 0 THEN 3 ELSE 0 END)"
    u = (f"(CASE {face} WHEN 0 THEN ({y})/({x}) WHEN 1 THEN -({x})/({y}) "
         f"WHEN 2 THEN -({x})/({z}) WHEN 3 THEN ({z})/({x}) "
         f"WHEN 4 THEN ({z})/({y}) ELSE -({y})/({z}) END)")
    v = (f"(CASE {face} WHEN 0 THEN ({z})/({x}) WHEN 1 THEN ({z})/({y}) "
         f"WHEN 2 THEN -({y})/({z}) WHEN 3 THEN ({y})/({x}) "
         f"WHEN 4 THEN -({x})/({y}) ELSE -({x})/({z}) END)")

    def st(uu: str) -> str:
        return (f"(CASE WHEN {uu} >= 0 THEN 0.5*sqrt(1.0 + 3.0*{uu}) "
                f"ELSE 1.0 - 0.5*sqrt(1.0 - 3.0*{uu}) END)")

    def ij(ss: str) -> str:
        return (f"least(greatest(CAST(floor({ss} * {float(lim)}) AS BIGINT),"
                f" 0), {lim - 1})")

    i, j = ij(st(u)), ij(st(v))
    morton = " | ".join(
        f"((({i} >> {k}) & 1) << {2 * k + 1}) | ((({j} >> {k}) & 1) << {2 * k})"
        for k in range(level))
    return f"(CAST({face} AS BIGINT) << {2 * level}) | ({morton})"


# --------------------------------------------------------- numpy reference --

def _lonlat_to_face_ij(lon, lat, level: int):
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    x = np.cos(lat) * np.cos(lon)
    y = np.cos(lat) * np.sin(lon)
    z = np.sin(lat)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where((ax > ay) & (ax > az), 0, np.where(ay > az, 1, 2))
    comp = np.choose(axis, [x, y, z])
    face = axis + np.where(comp < 0, 3, 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.choose(face, [y / x, -x / y, -x / z, z / x, z / y, -y / z])
        v = np.choose(face, [z / x, z / y, -y / z, y / x, -x / y, -x / z])

    def st(uu):
        with np.errstate(invalid="ignore"):   # untaken where-branch
            return np.where(uu >= 0, 0.5 * np.sqrt(1.0 + 3.0 * uu),
                            1.0 - 0.5 * np.sqrt(1.0 - 3.0 * uu))

    lim = 1 << level

    def ij(ss):
        return np.clip(np.floor(ss * lim).astype(np.int64), 0, lim - 1)

    return face.astype(np.int64), ij(st(u)), ij(st(v))
