"""End-to-end `convert` plan: LAS/XYZ/parquet -> 3D Tiles tileset.

Mirrors the reference's conversion orchestration (convert.py:318-480) with
Spark physical strategy:

1. header scan (S1) -> global AABB, avg_min, color scale      [driver, O(files)]
2. offset = -avg_min; optional EPSG:4326 -> 4978 reprojection of the AABB
   corners + the 4978 alignment rotation (convert.py:387-416)
3. root_scale in {1, 0.1, 0.01} from base spacing (convert.py:428-435)
4. distributed portion read with the affine chain baked in (S2)
5. level-synchronous octree build (operators/tiling.py)
6. points -> tileset plan (plans/pipeline.tile_points) with the root
   `transform` = T(offset) . S(1/scale) . R^-1 (convert.py:36-41)
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import SparkSession, functions as F

from py3dtiles_spark.functions.crs import (
    convert_to_ecef, ecef_alignment_rotation, tileset_transform)
from py3dtiles_spark.functions.geometry import compute_spacing
from py3dtiles_spark.operators.tiling import TilingConfig
from py3dtiles_spark.plans.pipeline import TiledPoints, tile_points
from py3dtiles_spark.sources.las import las_scan, las_summary
from py3dtiles_spark.sources.xyz import xyz_scan, xyz_summary


@dataclass
class ConvertResult(TiledPoints):
    offset: np.ndarray = None
    root_scale: float = 1.0
    rotation: np.ndarray | None = None


def pick_root_scale(base_spacing: float) -> float:
    """Reference scale rule (convert.py:428-435)."""
    if base_spacing > 10:
        return 0.01
    if base_spacing > 1:
        return 0.1
    return 1.0


def convert_files(spark: SparkSession, paths, out_dir: str | None = None,
                  srs_in: int | None = None, srs_out: int | None = None,
                  rgb: bool = True, fraction: int = 100,
                  cfg: TilingConfig | None = None,
                  color_scale: float | None = None,
                  write_pnts: bool = False,
                  resume: bool = False) -> ConvertResult:
    """The reference `convert()` as a Spark plan. srs_out=4978 with
    srs_in=4326/4979 triggers the ECEF + alignment-rotation path;
    srs_in in {2154, 3942..3950} (Lambert conformal conic) additionally
    unprojects natively first (reference tests/test_convert.py:29-42 runs
    srs_in=3949); other projected CRS raise."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    ext = os.path.splitext(paths[0])[1].lower()

    rotation = None
    if ext == ".las":
        # color_scale=None -> auto-detect (reference --color_scale force)
        info = las_summary(paths, color_scale=color_scale, fraction=fraction)
    elif ext == ".xyz":
        info = xyz_summary(spark, paths)
    else:
        raise ValueError(f"unsupported input {ext} (las/xyz)")

    aabb, avg_min = info["aabb"], info["avg_min"]

    unproject = None
    if srs_out is not None:
        from py3dtiles_spark.functions.crs import projection_for_epsg
        if srs_in is None:
            # reference SrsInMissingException (convert.py:379-384)
            raise ValueError("srs_out given but the input carries no CRS: "
                             "pass srs_in explicitly")
        if int(srs_out) != 4978:
            raise ValueError(
                f"only EPSG:4978 (ECEF) output is supported; got {srs_out}")
        # None for geodetic input; LCC / UTM (EPSG 9807) / Web Mercator
        # unproject via their closed forms; unsupported codes raise here
        unproject = projection_for_epsg(int(srs_in))

        def _to_ecef(v):
            return np.array(convert_to_ecef(*v, int(srs_in)))

        # reproject the aabb corners + avg_min (convert.py:387-405)
        bl = _to_ecef(aabb[0])
        tr = _to_ecef(aabb[1])
        br = _to_ecef([aabb[1][0], aabb[0][1], aabb[0][2]])
        avg_min = _to_ecef(avg_min)
        x_axis = br - bl
        bl = bl - avg_min
        tr = tr - avg_min
        rotation = ecef_alignment_rotation(avg_min, x_axis)
        bl = np.dot(bl, rotation[:3, :3].T)
        tr = np.dot(tr, rotation[:3, :3].T)
        root_aabb = np.array([np.minimum(bl, tr), np.maximum(bl, tr)])
    else:
        root_aabb = aabb - avg_min

    root_scale = pick_root_scale(compute_spacing(root_aabb))
    root_aabb = root_aabb * root_scale

    # portion scan with the affine chain baked in (reader-side, no extra
    # pass). With srs_out the reader emits RAW geodetic coords and the
    # whole chain (ECEF -> offset -> scale -> rotation) runs as native
    # column expressions below instead.
    matrix = rotation[:3, :3].T if rotation is not None else None
    scan = las_scan if ext == ".las" else xyz_scan
    if srs_out is not None:
        kwargs = dict(offset=None, scale=None, matrix=None)
    else:
        kwargs = dict(offset=-avg_min, scale=[root_scale] * 3, matrix=matrix)
    if ext == ".las":
        kwargs["summary"] = info
        kwargs["fraction"] = fraction
    points = scan(spark, paths, **kwargs)

    if srs_out is not None:
        from py3dtiles_spark.functions.crs import ecef_exprs
        if unproject is not None:
            # projected -> geodetic stays native too: every projection's
            # inverse is a closed-form series in pure JVM expressions
            lon_e, lat_e = unproject.inverse_exprs("x", "y")
            points = points.select(
                "point_id", lon_e.alias("x"), lat_e.alias("y"),
                F.col("z").cast("double").alias("z"), "r", "g", "b")
        ex, ey, ez = ecef_exprs("x", "y", "z")
        points = points.select(
            "point_id", ex.alias("ex"), ey.alias("ey"), ez.alias("ez"),
            "r", "g", "b")
        m = matrix
        xx = (F.col("ex") + float(-avg_min[0])) * root_scale
        yy = (F.col("ey") + float(-avg_min[1])) * root_scale
        zz = (F.col("ez") + float(-avg_min[2])) * root_scale
        points = points.select(
            "point_id",
            (xx * float(m[0][0]) + yy * float(m[1][0]) + zz * float(m[2][0]))
            .cast("float").alias("x"),
            (xx * float(m[0][1]) + yy * float(m[1][1]) + zz * float(m[2][1]))
            .cast("float").alias("y"),
            (xx * float(m[0][2]) + yy * float(m[1][2]) + zz * float(m[2][2]))
            .cast("float").alias("z"),
            "r", "g", "b")

    if not rgb:
        points = points.drop("r", "g", "b")
    cfg = cfg or TilingConfig()
    cfg.scale = root_scale
    # exact reference parity: the tree folds from the header-derived
    # float64 aabb, not a float32 re-aggregation of the points
    cfg.root_aabb = root_aabb
    cfg.root_spacing = compute_spacing(root_aabb)
    res = tile_points(spark, points, cfg, resume=resume,
                      transform=tileset_transform(avg_min, root_scale,
                                                  rotation),
                      out_dir=out_dir, write_pnts=write_pnts)
    return ConvertResult(**vars(res), offset=avg_min, root_scale=root_scale,
                         rotation=rotation)
