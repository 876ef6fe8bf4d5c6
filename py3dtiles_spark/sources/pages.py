"""Deterministic Common-Crawl-style page table synthesis (FIXTURES.md §1).

The authoritative input shape per BASELINE.json input_hint:
  (url: string, warc_ts: timestamp, html: binary, text: string, lang: string)
plus a `page_id: bigint` surrogate key (the spark.range id) — unique at any
scale, which the narrow tiler view needs as its join-back key (a 64-bit url
hash collides ~30k times at 10^12 rows).

Everything is generated with native Spark expressions from spark.range —
fully distributed, no driver-side data, no UDFs — so the same generator
runs at 6k rows (tests) or 10^12 rows (a range scan parallelizes for free).
`text` is a pure function of `url`, which makes the per-row invariant
(byte-identical text per url through the whole pipeline) checkable with one
hash join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

_VOCAB = [
    "the", "data", "web", "page", "crawl", "spark", "tile", "point", "cloud",
    "query", "index", "join", "scan", "merge", "filter", "group", "window",
    "batch", "stream", "shuffle", "node", "tree", "cell", "grid", "space",
    "city", "river", "mountain", "ocean", "forest", "road", "bridge", "tower",
    "light", "stone", "metal", "glass", "paper", "cotton", "amber", "signal",
    "vector", "raster", "layer", "zoom", "level", "depth", "north", "east",
    "value",
]


def generate_pages(spark: SparkSession, n: int, num_partitions: int | None = None) -> DataFrame:
    """n rows of (url, warc_ts, html, text, lang), deterministic in n."""
    df = spark.range(0, n, 1, num_partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")
    url = F.concat(F.lit("https://host"), (i % 1000).cast("string"),
                   F.lit(".example/p/"), i.cast("string"))
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    n_tokens = (F.lit(10) + F.pmod(i * 7919, F.lit(191))).cast("int")
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_tokens - 1),
            lambda j: F.element_at(
                vocab, (F.pmod(F.xxhash64(url, j), F.lit(len(_VOCAB))) + 1).cast("int")),
        ), " ")
    return df.select(
        i.alias("page_id"),
        url.alias("url"),
        (F.to_timestamp(F.lit("2025-01-01 00:00:00"))
         + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                              F.pmod(i * 137, F.lit(31536000)).cast("double"))
         ).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), text, F.lit("</body></html>")),
                 "UTF-8").alias("html"),
        text.alias("text"),
        F.element_at(F.array(F.lit("en"), F.lit("fr"), F.lit("de"),
                             F.lit("es"), F.lit("zh")),
                     (i % 5 + 1).cast("int")).alias("lang"),
    )


# Three "megacity" hot cells for skew tests (FIXTURES.md §1 skew variant)
_MEGACITIES = [(-74.0, 40.7), (139.7, 35.7), (2.35, 48.85)]


def geocode(pages: DataFrame, skew: bool = False) -> DataFrame:
    """Deterministic url -> (x=lon, y=lat, z=elev) geocoding, native exprs.

    With skew=True, ~30% of urls land within +-0.05 degrees of one of three
    megacities — the hot-cell scenario that salted/per-cell fan-out must
    survive (SURVEY.md §7.4 item 5).
    """
    u32 = F.lit(2 ** 32)
    h = lambda *salts: F.pmod(F.xxhash64(F.col("url"), *[F.lit(s) for s in salts]), u32) / u32
    lon = (F.lit(-180.0) + h() * 360.0)
    lat = (F.lit(-85.0) + h("lat") * 170.0)
    # flat-earth elevations (0-50): web pages geocode to the surface, which
    # keeps the tiler in quadtree mode (utils.py:47-51) like real map data
    elev = h("z") * 50.0
    if skew:
        city = F.pmod(F.xxhash64(F.col("url"), F.lit("city")), F.lit(3))
        city_lon = F.element_at(
            F.array(*[F.lit(c[0]) for c in _MEGACITIES]), (city + 1).cast("int"))
        city_lat = F.element_at(
            F.array(*[F.lit(c[1]) for c in _MEGACITIES]), (city + 1).cast("int"))
        is_hot = F.pmod(F.xxhash64(F.col("url"), F.lit("skew")), F.lit(10)) < 3
        lon = F.when(is_hot, city_lon + (h("jx") - 0.5) * 0.1).otherwise(lon)
        lat = F.when(is_hot, city_lat + (h("jy") - 0.5) * 0.1).otherwise(lat)
    return pages.withColumn("x", lon).withColumn("y", lat).withColumn("z", elev)


def page_ids(pages: DataFrame) -> Column:
    """The point_id of each page: the table's own unique surrogate key
    (page_id) when present — REQUIRED at 10^12-doc scale, where a 64-bit url
    hash would produce ~30k expected birthday collisions and break the
    written==read invariant. The xxhash64(url) fallback is a convenience for
    ad-hoc tables without a key column and is only collision-safe at test
    scale (<~1e8 rows)."""
    return (F.col("page_id").cast("long") if "page_id" in pages.columns
            else F.xxhash64("url"))


def pages_as_points(pages: DataFrame, skew: bool = False) -> DataFrame:
    """Narrow (point_id, x, y, z) view for the tiler."""
    return geocode(pages, skew=skew).select(
        page_ids(pages).alias("point_id"),
        F.col("x").cast("float"), F.col("y").cast("float"),
        F.col("z").cast("float"))
