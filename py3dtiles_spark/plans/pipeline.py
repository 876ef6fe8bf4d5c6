"""Flagship end-to-end pipeline: Common-Crawl-style pages -> 3D Tiles.

pages (url, warc_ts, html, text, lang)
  -> geocode (native exprs, url-hash deterministic)      [no shuffle]
  -> narrow to (point_id, x, y, z)                       [column pruning]
  -> build_tiling level loop                             [shuffles on
                                                          (tile_id, cell_key)]
  -> join tile assignments back to the full payload      [one shuffle]
  -> tiles table + tileset.json + optional pnts payloads

The payload (html/text) never enters the tiling loop — at 100 TB only
~28 bytes/row (id + 3 floats + tile id) move through the tree; the single
wide join at the end is an equi-join on point_id that AQE plans as a
sort-merge join with both sides already hash-partitionable.

Per-row invariant (BASELINE.json input_hint): `text` is byte-identical per
`url` through the pipeline — checked by `verify_text_invariant`.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from py3dtiles_spark.operators.tiling import TilingConfig, TilingResult, build_tiling
from py3dtiles_spark.operators.tileset import (
    build_tiles_df, build_tileset_json_distributed, rollup_small_children)
from py3dtiles_spark.sources.pages import geocode


@dataclass
class PipelineResult:
    pages_tiled: DataFrame   # full payload + x,y,z + tile_id
    tiles: DataFrame
    tileset_docs: dict
    tiling: TilingResult


def tile_pages(spark: SparkSession, pages: DataFrame,
               cfg: TilingConfig | None = None, skew: bool = False,
               rollup: bool = True, build_json: bool = True) -> PipelineResult:
    geo = geocode(pages, skew=skew)
    # unique surrogate key when present (required at 10^12 rows — a 64-bit
    # url hash has ~30k expected birthday collisions there)
    pid = (F.col("page_id").cast("long") if "page_id" in pages.columns
           else F.xxhash64("url"))
    points = geo.select(
        pid.alias("point_id"),
        F.col("x").cast("float"), F.col("y").cast("float"),
        F.col("z").cast("float"))

    tiling = build_tiling(spark, points, cfg)

    assigned = points.join(tiling.assignments, "point_id")
    if rollup:
        assigned = rollup_small_children(assigned)
    tiles = build_tiles_df(assigned)

    docs = {}
    if build_json:
        docs = build_tileset_json_distributed(tiles, tiling.root_aabb,
                                              tiling.root_spacing)

    pages_tiled = geo.withColumn("point_id", pid).join(
        assigned.select("point_id", "tile_id"), "point_id")
    return PipelineResult(pages_tiled=pages_tiled, tiles=tiles,
                          tileset_docs=docs, tiling=tiling)


def verify_text_invariant(pages_in: DataFrame, pages_out: DataFrame) -> int:
    """Rows whose text bytes changed url-wise through the pipeline.
    Must be 0. One hash equi-join (input_hint per-row invariant)."""
    a = pages_in.select("url", F.md5(F.encode("text", "UTF-8")).alias("h_in"))
    b = pages_out.select("url", F.md5(F.encode("text", "UTF-8")).alias("h_out"))
    return a.join(b, "url").filter("h_in <> h_out").count()
