"""Spatial joins: point-in-polygon, point-in-rectangle, tileset routing.

Reference semantics being generalized (SURVEY.md §2.4):
- J2 point-in-tile containment: half-open range test min <= p < max
  (export.py:19-21, 141-160) drives quadtree placement
- J3 tileset->quadrant routing by center containment (merger.py:113-114)
- north_rule "point-in-polygon joins against tile boundaries": exact
  polygon PIP = bbox prefilter + vectorized even-odd ray-cast

Physical strategy: the polygon set is dimension-table sized (admin
boundaries, tile footprints), so it is collected and broadcast; a bbox
prefilter and the exact even-odd ray cast run inside one Arrow-batched
mapInPandas over the points — zero shuffle on the points side.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def point_in_rect_join(points: DataFrame, rects: DataFrame,
                       broadcast: bool = True) -> DataFrame:
    """Half-open containment join: rects (rect_id, xmin, ymin, xmax, ymax);
    points need (x, y). The reference BoundingBox.inside test."""
    r = F.broadcast(rects) if broadcast else rects
    cond = ((points.x >= r.xmin) & (points.x < r.xmax)
            & (points.y >= r.ymin) & (points.y < r.ymax))
    return points.join(r, cond, "inner")


def ray_cast_mask(px: np.ndarray, py: np.ndarray,
                  xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast of N points against ONE polygon ring.
    Float64; edges handled with the standard crossing rule."""
    inside = np.zeros(len(px), dtype=bool)
    n = len(xs)
    j = n - 1
    for i in range(n):
        xi, yi, xj, yj = xs[i], ys[i], xs[j], ys[j]
        crosses = ((yi > py) != (yj > py))
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (py - yi) / (yj - yi)
        xint = xi + t * (xj - xi)
        inside ^= crosses & (px < xint)
        j = i
    return inside


def even_odd_mask(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd containment of N points against a polygon given as a list
    of rings [(xs, ys), ...] — exterior first, then holes. XOR of the
    per-ring crossing masks IS the even-odd rule over the whole boundary:
    a point inside the exterior but also inside a hole ring crosses an odd
    number of edges twice, so the bits cancel and it tests OUTSIDE (the
    donut semantics real admin boundaries — enclaves, lake islands —
    need)."""
    inside = np.zeros(len(px), dtype=bool)
    for xs, ys in rings:
        inside ^= ray_cast_mask(px, py, xs, ys)
    return inside


def _collect_rings(polygons: DataFrame):
    """[(geom_id, [(xs, ys) exterior, (xs, ys) hole, ...]), ...] from a
    polygons DataFrame with exterior `xs`/`ys` and optional hole columns
    `hxs`/`hys` (array<array<double>>, one entry per hole ring)."""
    has_holes = "hxs" in polygons.columns and "hys" in polygons.columns
    cols = ["geom_id", "xs", "ys"] + (["hxs", "hys"] if has_holes else [])
    out = []
    for r in polygons.select(*cols).collect():
        rings = [(np.asarray(r["xs"], dtype=np.float64),
                  np.asarray(r["ys"], dtype=np.float64))]
        if has_holes and r["hxs"] is not None:
            rings += [(np.asarray(hx, dtype=np.float64),
                       np.asarray(hy, dtype=np.float64))
                      for hx, hy in zip(r["hxs"], r["hys"])]
        out.append((r["geom_id"], rings))
    return out


def point_in_polygon_join(points: DataFrame, polygons: DataFrame,
                          keep_cols=("point_id",)) -> DataFrame:
    """Exact PIP join. polygons: (geom_id, xs array<double>, ys
    array<double>) exterior rings, plus OPTIONAL hole rings as
    `hxs`/`hys` array<array<double>> columns — containment is then the
    even-odd rule across all rings (donut polygons supported). Polygons
    are collected + broadcast (dim-table sized); the ray cast runs as one
    Arrow-batched mapInPandas over the points — no per-row Python, no
    shuffle.

    Returns one row per (point, containing polygon): keep_cols + geom_id.
    """
    polys = _collect_rings(polygons)
    # bbox prefilter from the exterior ring only (holes lie inside it)
    bboxes = [(g, rings[0][0].min(), rings[0][0].max(),
               rings[0][1].min(), rings[0][1].max())
              for g, rings in polys]
    keep = list(keep_cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            px = pdf["x"].to_numpy(dtype=np.float64)
            py = pdf["y"].to_numpy(dtype=np.float64)
            outs = []
            for (g, rings), (_, x0, x1, y0, y1) in zip(polys, bboxes):
                cand = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
                if not cand.any():
                    continue
                idx = np.flatnonzero(cand)
                hit = even_odd_mask(px[idx], py[idx], rings)
                if hit.any():
                    rows = pdf.iloc[idx[hit]][keep].copy()
                    rows["geom_id"] = g
                    outs.append(rows)
            if outs:
                yield pd.concat(outs, ignore_index=True)

    schema = ", ".join(
        f"{c} {dict(points.dtypes)[c]}" for c in keep) + ", geom_id long"
    return points.mapInPandas(run, schema=schema)


def route_to_quadrant(items: DataFrame, aabb) -> DataFrame:
    """Tileset->quadrant routing (merger.py:104-114): which forced-quadtree
    child of `aabb` contains each item's (x, y) center. Pure expression."""
    cx = (aabb[0][0] + aabb[1][0]) / 2.0
    cy = (aabb[0][1] + aabb[1][1]) / 2.0
    return items.withColumn(
        "quadrant",
        (F.when(F.col("x") >= cx, 4).otherwise(0)
         + F.when(F.col("y") >= cy, 2).otherwise(0)).cast("int"))
