"""The points -> tileset plan behind every `convert` input, and the flagship
pages pipeline built on it.

points (point_id, x, y, z[, payload])
  -> build_tiling level loop on (point_id, x, y, z)      [shuffles on
                                                          (tile_id, cell_key)]
  -> join tile assignments back to the full points       [one shuffle]
  -> <100-point rollup, tiles table, tileset.json, optional pnts files

The payload (html/text for pages, rgb for LAS/XYZ) never enters the tiling
loop — at 100 TB only ~28 bytes/row (id + 3 floats + tile id) move through
the tree; the single wide join at the end is an equi-join on point_id that
AQE plans as a sort-merge join with both sides already hash-partitionable.

Per-row invariant (BASELINE.json input_hint): `text` is byte-identical per
`url` through the pages pipeline — checked by `verify_text_invariant`.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from py3dtiles_spark.operators.tiling import TilingConfig, TilingResult, build_tiling
from py3dtiles_spark.operators.tileset import (
    build_tiles_df, build_tileset_json_distributed, rollup_small_children,
    root_overview)
from py3dtiles_spark.sources.pages import geocode, page_ids, pages_as_points
from py3dtiles_spark.sources.pnts import tiles_to_pnts_df, write_pnts_files


@dataclass
class TiledPoints:
    assigned: DataFrame      # points + tile_id after the small-tile rollup
    tiles: DataFrame
    n_tiles: int
    tileset_docs: dict
    tiling: TilingResult


def tile_points(spark: SparkSession, points: DataFrame,
                cfg: TilingConfig | None = None, resume: bool = False,
                transform: Optional[list] = None,
                out_dir: Optional[str] = None,
                write_pnts: bool = False) -> TiledPoints:
    """Tile `points` (point_id, x, y, z plus any payload columns) into a
    tileset. The root's content is always `r.pnts`, the reference shape
    (convert.py:44-66). With `out_dir`, the tileset documents are written
    there (checkpoints under `out_dir/checkpoint` unless cfg names a
    directory); with `write_pnts` also one pnts file per tile, RGB when
    `points` carries r, g, b columns."""
    cfg = cfg or TilingConfig()
    if out_dir and not cfg.checkpoint_dir:
        cfg.checkpoint_dir = os.path.join(out_dir, "checkpoint")
    tiling = build_tiling(spark, points, cfg, resume=resume)

    assigned = rollup_small_children(points.join(tiling.assignments,
                                                 "point_id"))
    # persisted for the count; the assembly reuses the cache and releases it
    tiles = build_tiles_df(assigned).persist()
    n_tiles = tiles.count()
    if out_dir and write_pnts:
        rgb = {"r", "g", "b"} <= set(points.columns)
        rows = assigned.select(["point_id", "x", "y", "z", "tile_id"]
                               + (["r", "g", "b"] if rgb else []))
        # r.pnts has one writer: the root's own rows (depth-1 tiles
        # rolled up into it) plus the overview of the depth-1 tiles
        overview = root_overview(rows, tiling.root_aabb,
                                 tiling.root_spacing, include_rgb=rgb)
        rows = rows.unionByName(overview.withColumn("tile_id", F.lit("")))
        write_pnts_files(tiles_to_pnts_df(rows, include_rgb=rgb), out_dir)
    # spilled subtree docs are written executor-side straight into out_dir
    # (None markers); the driver writes only the root-composition docs
    docs = build_tileset_json_distributed(tiles, tiling.root_aabb,
                                          tiling.root_spacing, cfg.scale,
                                          transform=transform,
                                          output_dir=out_dir or None)
    docs["tileset.json"]["root"]["content"] = {"uri": "r.pnts"}
    if out_dir:
        # tileset.json is the commit marker: written after every file it
        # references, so a run that stops early leaves none
        for name in sorted(docs, key=lambda name: name == "tileset.json"):
            if docs[name] is not None:
                with open(os.path.join(out_dir, name), "w") as f:
                    json.dump(docs[name], f)
    return TiledPoints(assigned=assigned, tiles=tiles, n_tiles=n_tiles,
                       tileset_docs=docs, tiling=tiling)


@dataclass
class PipelineResult(TiledPoints):
    pages_tiled: DataFrame = None   # full payload + x,y,z + tile_id


def tile_pages(spark: SparkSession, pages: DataFrame,
               cfg: TilingConfig | None = None,
               skew: bool = False) -> PipelineResult:
    res = tile_points(spark, pages_as_points(pages, skew=skew), cfg)
    pages_tiled = (geocode(pages, skew=skew)
                   .withColumn("point_id", page_ids(pages))
                   .join(res.assigned.select("point_id", "tile_id"),
                         "point_id"))
    return PipelineResult(**vars(res), pages_tiled=pages_tiled)


def verify_text_invariant(pages_in: DataFrame, pages_out: DataFrame) -> int:
    """Rows whose text bytes changed url-wise through the pipeline.
    Must be 0. One hash equi-join (input_hint per-row invariant)."""
    a = pages_in.select("url", F.md5(F.encode("text", "UTF-8")).alias("h_in"))
    b = pages_out.select("url", F.md5(F.encode("text", "UTF-8")).alias("h_out"))
    return a.join(b, "url").filter("h_in <> h_out").count()
