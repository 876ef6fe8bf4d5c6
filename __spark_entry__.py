"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    -> flagship octree tiling over sf0.001 documents.
queries()       -> one callable per implemented operator (SURVEY.md §2).
oracle_sql()    -> matching ANSI SQL for DuckDB over the same parquet views.

Convention shared by both sides so value-hashes line up:
- deterministic geocode from doc_id, pure 64-bit integer arithmetic:
    lon = -180 + ((doc_id*2654435761) % 2^32) / 2^32 * 360
    lat =  -85 + ((doc_id*2246822519) % 2^32) / 2^32 * 170
    z   =  (doc_id*97) % 1000
- every aggregate/computed column aliased identically on both sides
- float outputs rounded (6 dp unless noted); int-ish outputs cast to BIGINT
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from py3dtiles_spark.session import local_frame

U32 = 4294967296

# ---------------------------------------------------------------- geocode --

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    return d.select(
        "doc_id", "lang", "source", "n_chars", "text",
        (F.lit(-180.0) + (F.pmod(i * 2654435761, F.lit(U32)) / F.lit(U32)) * 360.0).alias("x"),
        (F.lit(-85.0) + (F.pmod(i * 2246822519, F.lit(U32)) / F.lit(U32)) * 170.0).alias("y"),
        F.pmod(i * 97, F.lit(1000)).cast("double").alias("z"),
    )


_BYTE_SHIFT = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def _byte_size(value: str) -> int:
    """A Spark byte-size string as bytes: `134217728`, `128m`, `128mb`,
    `128MiB`, `1g`, `512b` (binary units, like Spark's own parser)."""
    m = re.fullmatch(r"\s*(\d+)\s*(?:([kmgtp])(?:i?b)?|b)?\s*",
                     value.lower())
    if m is None:
        raise ValueError(f"not a byte size: {value!r}")
    return int(m.group(1)) << _BYTE_SHIFT[m.group(2) or ""]


def _par(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan-parallelism floor (guide §2.2/§6, r7). The
    driver testdata tables are SINGLE-row-group parquet files, so the
    scan yields one split regardless of session cores and every
    downstream per-row transform (shingle hashing, n-gram builds, LSH
    kernels) runs on ONE task. When the planned scan has fewer
    partitions than the session's default parallelism, round-robin
    repartition up to it — a few-MB shuffle of the base rows that
    unlocks the full core count. A real multi-file table (any cluster-
    scale input) already planes >= parallelism splits and skips the
    shuffle entirely, so nothing here is tuned to local[32]. The split
    estimate comes from file metadata (inputFiles + sizes, ~20 ms) —
    df.rdd.getNumPartitions() would be exact but costs ~0.5 s of
    driver-side planning per fresh plan, a constant that swamped the
    win on sub-second queries when measured (r7)."""
    import os as _os

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    max_split = _byte_size(spark.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728"))
    files = df.inputFiles()
    paths = [f[len("file:"):] if f.startswith("file:") else f
             for f in files]
    try:
        total = sum(_os.path.getsize(p) for p in paths)
    except OSError:
        return df          # non-local fs: leave the scan alone
    est_splits = max(len(files), -(-total // max_split))
    if est_splits < target:
        return df.repartition(target)
    return df


_GEO_SQL = """
    SELECT doc_id, lang, source, n_chars, text,
           -180.0 + ((doc_id*2654435761) % 4294967296) / 4294967296 * 360.0 AS x,
            -85.0 + ((doc_id*2246822519) % 4294967296) / 4294967296 * 170.0 AS y,
           CAST((doc_id*97) % 1000 AS DOUBLE) AS z
    FROM documents
"""

# ----------------------------------------------------------------- entry ---

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: geocode sf0.001 documents, build the octree, return the
    tiles table (tile_id, point_count)."""
    from py3dtiles_spark.operators.tiling import TilingConfig, build_tiling

    pts = (_geo(spark, "/root/testdata/sf0.001")
           .select(F.col("doc_id").alias("point_id"), "x", "y", "z"))
    res = build_tiling(spark, pts,
                       TilingConfig(split_threshold=200,
                                    in_kernel_threshold=1000))
    return (res.assignments.groupBy("tile_id")
            .agg(F.count("*").alias("point_count"))
            .orderBy("tile_id"))


# --------------------------------------------------------------- queries ---

def q_aabb_agg(spark, sf_dir):
    """A1 global AABB: one agg pass (reference las_reader.init)."""
    return _geo(spark, sf_dir).agg(
        F.round(F.min("x"), 6).alias("min_x"), F.round(F.max("x"), 6).alias("max_x"),
        F.round(F.min("y"), 6).alias("min_y"), F.round(F.max("y"), 6).alias("max_y"),
        F.round(F.min("z"), 6).alias("min_z"), F.round(F.max("z"), 6).alias("max_z"))


def q_octant_hist(spark, sf_dir):
    """X1 octant index as a pure column expr (distance.py:18-21)."""
    g = _geo(spark, sf_dir)
    digit = ((F.col("x") >= 0).cast("long") * 4
             + (F.col("y") >= 0).cast("long") * 2
             + (F.col("z") >= 500).cast("long"))
    return (g.select(digit.alias("octant"))
            .groupBy("octant").agg(F.count("*").alias("n"))
            .orderBy("octant"))


def q_tile_quadkey(spark, sf_dir):
    """J1/X5 two-level hierarchical tile id from fixed-space octants."""
    g = _geo(spark, sf_dir)
    x, y, z = F.col("x"), F.col("y"), F.col("z")
    d0 = ((x >= 0).cast("int") * 4 + (y >= 0).cast("int") * 2
          + (z >= 500).cast("int"))
    cx = F.when(x >= 0, 90.0).otherwise(-90.0)
    cy = F.when(y >= 0, 42.5).otherwise(-42.5)
    cz = F.when(z >= 500, 750.0).otherwise(250.0)
    d1 = ((x >= cx).cast("int") * 4 + (y >= cy).cast("int") * 2
          + (z >= cz).cast("int"))
    tile = F.concat(d0.cast("string"), d1.cast("string"))
    return (g.select(tile.alias("tile_id"))
            .groupBy("tile_id").agg(F.count("*").alias("n"))
            .orderBy("tile_id"))


def q_cell_key(spark, sf_dir):
    """X2 bit-packed LOD grid key (clamped 3-cell axes, shift=2)."""
    g = _geo(spark, sf_dir)

    def cell(col, lo, size):
        raw = F.floor(3.0 * (F.col(col) - lo) / size)
        return F.least(F.greatest(raw, F.lit(0)), F.lit(2))

    key = (cell("x", -180.0, 360.0)
           + cell("y", -85.0, 170.0) * 4
           + cell("z", 0.0, 1000.0) * 16).cast("long")
    return (g.select(key.alias("cell_key"))
            .groupBy("cell_key").agg(F.count("*").alias("n"))
            .orderBy("cell_key"))


_RECTS = [(1, -90.0, -45.0, 0.0, 0.0), (2, 0.0, 0.0, 180.0, 85.0),
          (3, -10.0, -10.0, 10.0, 10.0)]


def q_pip_rect(spark, sf_dir):
    """P7/J2 half-open point-in-rectangle containment join."""
    from py3dtiles_spark.operators.spatial_join import point_in_rect_join
    rects = local_frame(
        spark, dict(zip(("rect_id", "xmin", "ymin", "xmax", "ymax"),
                        zip(*_RECTS))),
        "rect_id long, xmin double, ymin double, xmax double, ymax double")
    pts = _geo(spark, sf_dir).select("doc_id", "x", "y")
    j = point_in_rect_join(pts, rects)
    return j.groupBy("rect_id").agg(F.count("*").alias("hits")).orderBy("rect_id")


_TRI = {"geom_id": 7, "xs": [-150.0, 150.0, 0.0], "ys": [-80.0, -80.0, 80.0]}
# donut: square with a square hole — a point inside the hole must NOT match
# (even-odd across rings; VERDICT r3 missing #1)
_DONUT = {"geom_id": 8,
          "xs": [-100.0, 100.0, 100.0, -100.0],
          "ys": [-60.0, -60.0, 60.0, 60.0],
          "hxs": [[-50.0, 50.0, 50.0, -50.0]],
          "hys": [[-30.0, -30.0, 30.0, 30.0]]}


# the triangle (no hole rings: null hxs/hys) and the donut, by column
_PIP_POLYGONS = {c: [p.get(c) for p in (_TRI, _DONUT)]
                 for c in ("geom_id", "xs", "ys", "hxs", "hys")}
_PIP_POLYGON_DDL = ("geom_id long, xs array<double>, ys array<double>, "
                    "hxs array<array<double>>, hys array<array<double>>")


def q_pip_polygon(spark, sf_dir):
    """J2 exact point-in-polygon (even-odd ray cast UDF) vs an independent
    SQL oracle: a convex triangle (half-plane signs) AND a donut polygon
    (outer-rect AND NOT hole-rect) — hole rings exercised end to end."""
    from py3dtiles_spark.operators.spatial_join import point_in_polygon_join
    polys = local_frame(spark, _PIP_POLYGONS, _PIP_POLYGON_DDL)
    pts = _geo(spark, sf_dir).select("doc_id", "x", "y")
    j = point_in_polygon_join(pts, polys, keep_cols=("doc_id",))
    return j.select("doc_id", "geom_id").orderBy("doc_id", "geom_id")


def q_topk_per_lang(spark, sf_dir):
    """O2 top-k per group window (export.py greedy top-20/tile)."""
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(),
                                           F.col("doc_id").asc())
    return (d.withColumn("rk", F.row_number().over(w))
            .filter("rk <= 3")
            .select("lang", F.col("rk").cast("long").alias("rk"),
                    "doc_id", "n_chars")
            .orderBy("lang", "rk"))


def q_small_cell_rollup(spark, sf_dir):
    """O6 small-child rollup: cells under 50 docs absorbed into the coarser
    parent cell."""
    g = _geo(spark, sf_dir)
    fine = F.concat(F.lit("f"), F.floor((F.col("x") + 180.0) / 10.0).cast("string"))
    coarse = F.concat(F.lit("c"), F.floor((F.col("x") + 180.0) / 40.0).cast("string"))
    cells = g.select(fine.alias("fine"), coarse.alias("coarse"))
    counts = cells.groupBy("fine", "coarse").agg(F.count("*").alias("cnt"))
    lab = F.when(F.col("cnt") < 50, F.col("coarse")).otherwise(F.col("fine"))
    return (counts.select(lab.alias("cell"), "cnt")
            .groupBy("cell").agg(F.sum("cnt").alias("n"))
            .orderBy("cell"))


def q_spacing_levels(spark, sf_dir):
    """X5 spacing law: ||diag||/125, halved per level, from the data AABB."""
    g = _geo(spark, sf_dir)
    agg = g.agg(F.min("x").alias("x0"), F.max("x").alias("x1"),
                F.min("y").alias("y0"), F.max("y").alias("y1"),
                F.min("z").alias("z0"), F.max("z").alias("z1"))
    diag = F.sqrt(F.pow(F.col("x1") - F.col("x0"), 2)
                  + F.pow(F.col("y1") - F.col("y0"), 2)
                  + F.pow(F.col("z1") - F.col("z0"), 2))
    lv = agg.select(diag.alias("diag"),
                    F.explode(F.sequence(F.lit(0), F.lit(5))).alias("level"))
    return (lv.select(F.col("level").cast("long").alias("level"),
                      F.round(F.col("diag") / 125.0 / F.pow(2.0, F.col("level")), 6)
                      .alias("spacing"))
            .orderBy("level"))


def q_count_invariant(spark, sf_dir):
    """A4 written==read invariant as a relational check."""
    g = _geo(spark, sf_dir)
    per_cell = (g.groupBy(((F.col("x") >= 0).cast("long") * 2
                           + (F.col("y") >= 0).cast("long")).alias("q"))
                .agg(F.count("*").alias("n")))
    return per_cell.agg(F.sum("n").alias("points_assigned"),
                        F.count("*").cast("long").alias("n_cells"))


def _ntok():
    """Space-separated token count of `text`."""
    return F.size(F.split("text", " ")).cast("long")


def _quality_gate(df: DataFrame) -> DataFrame:
    """llm_pipeline's curation quality gate:
    length >= 80, >= 10 tokens, punctuation ratio <= 0.2."""
    punct = F.length(F.regexp_replace("text", "[^.,;:!?'\"()-]", ""))
    return df.filter((F.length("text") >= 80) & (_ntok() >= 10)
                     & ((punct / F.greatest(F.length("text"), F.lit(1)))
                        <= 0.2))


def q_dedup_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"))


def q_token_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (d.select("lang", _ntok().alias("ntok"))
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("ntok").alias("sum_tokens"),
                 F.round(F.avg("ntok"), 4).alias("avg_tokens"))
            .orderBy("lang"))


def q_quality_metrics(spark, sf_dir):
    d = _docs(spark, sf_dir).filter("doc_id < 100")
    return d.select(
        "doc_id",
        _ntok().alias("n_tokens"),
        F.length(F.regexp_replace("text", "[^.,;:!?'\"()-]", "")).cast("long")
        .alias("punct_len"),
        F.length("text").cast("long").alias("text_len"),
    ).orderBy("doc_id")


def q_tfidf_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per doc (canonical corpus statistics): explode
    -> two map-side-combined aggs -> term equi-join -> window top-k, all
    native expressions; 6-dp rounding before ranking pins the tie-break
    across engines."""
    from py3dtiles_spark.functions.text import tfidf_top_terms
    d = _docs(spark, sf_dir).filter("doc_id < 200")
    return tfidf_top_terms(d, k=3).orderBy("doc_id", "rk")


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filter signal: per-lang average and max
    duplicate-3-gram fraction (1 - distinct/total n-grams per doc) —
    pure per-row native exprs (transform+slice, no explode), one
    map-side-combined agg."""
    from py3dtiles_spark.functions.text import dup_ngram_fraction
    d = _docs(spark, sf_dir).filter("doc_id < 400")
    frac = F.round(dup_ngram_fraction("text", 3), 6)
    return (d.select("lang", frac.alias("f"))
            .groupBy("lang")
            .agg(F.round(F.avg("f"), 6).alias("avg_dup3"),
                 F.max("f").alias("max_dup3"),
                 F.count(F.lit(1)).alias("n"))
            .orderBy("lang"))


def q_llm_pipeline(spark, sf_dir):
    """Composed LLM-pipeline flagship (r5): the separately-verified stages
    chained as ONE declarative plan, proving they compose without seams —
    quality gate -> exact dedup (window) -> deterministic geocode ->
    Z-order layout key (operators/layout.py zorder_key_expr) ->
    grid-bucketed kNN join over the kept docs (operators/knn.py
    knn_join_points, provably-complete config) -> payload (lang) joined
    back once at the end as a broadcast of the tiny result side.

    Shuffle audit (scripts/plan_audit.py `llm_pipeline`): one exchange for
    the dedup window, the kNN's cell equi-join + two-stage top-k, and
    nothing else — the zorder key is pure expressions, the geocode re-
    derivation avoids a join, and the lang join broadcasts the 36-row
    result side, so no stage adds a shuffle at a seam."""
    from py3dtiles_spark.operators.dedup import exact_dedup
    from py3dtiles_spark.operators.knn import knn_join_points
    from py3dtiles_spark.operators.layout import zorder_key_expr
    # selecting `text` away above the dedup prunes it below the window's
    # exchange: the shuffle ships the md5 key, never the document body
    # (the dominant shuffle width at 100 TB), and the persisted frame (and
    # the kNN inputs) stay narrow
    kept = (exact_dedup(_quality_gate(_geo(spark, sf_dir)))
            .select("doc_id", "lang", "x", "y", "z"))
    if os.environ.get("SPARK_GRAFT_PLAN_AUDIT") != "1":
        # three consumers (points / queries / payload): compute the
        # gate+dedup once — the production shape for a reused curated set.
        # Narrow (no text), so the retained cache is a few MB even at
        # bench scale. Audit mode keeps raw lineage so the seam shuffles
        # stay visible.
        kept = kept.persist()
    pts = kept.select(F.col("doc_id").alias("point_id"), "x", "y", "z")
    q = (kept.filter("doc_id < 12")
         .select(F.col("doc_id").alias("q_id"), "x", "y", "z"))
    nn = knn_join_points(pts, q, k=3, cell_size=400.0, n_rings=1)
    # q's Z-order bucket re-derived from q_id (geocode is deterministic):
    # pure expressions instead of a join back to kept
    i = F.col("q_id")
    qx = F.lit(-180.0) + (F.pmod(i * 2654435761, F.lit(U32)) / F.lit(U32)) * 360.0
    qy = F.lit(-85.0) + (F.pmod(i * 2246822519, F.lit(U32)) / F.lit(U32)) * 170.0
    nn = (nn.withColumn("x", qx).withColumn("y", qy)
          .withColumn("q_zbucket", F.shiftright(
              zorder_key_expr(["x", "y"], [(-180.0, 180.0), (-90.0, 90.0)],
                              bits=8), 8))
          .drop("x", "y"))
    lang = kept.select(F.col("doc_id").alias("n_id"),
                       F.col("lang").alias("n_lang"))
    return (lang.join(F.broadcast(nn), "n_id")
            .select("q_id", "rank", "n_id", "q_zbucket", "n_lang",
                    F.col("complete").cast("long").alias("complete"))
            .orderBy("q_id", "rank"))


def q_fingerprint(spark, sf_dir):
    """Winnowing-style fingerprint: min md5 over 8-token rolling shingles."""
    from py3dtiles_spark.functions.text import fingerprint
    d = _docs(spark, sf_dir).filter("doc_id < 300")
    return d.select("doc_id", fingerprint().alias("fp")).orderBy("doc_id")


def q_substring_dup(spark, sf_dir):
    """Exact-substring duplication rate (Lee et al. 2022 substring-dedup
    signal): fraction of each doc's 8-token rolling windows occurring at
    >= 2 positions corpus-wide. explode -> md5 map-side -> one
    map-side-combined groupBy(hash) -> equi-join back -> per-doc agg;
    no pair materialization, so hot shingles cost one counter."""
    from py3dtiles_spark.functions.text import substring_dup_stats
    d = _par(_docs(spark, sf_dir))
    return substring_dup_stats(d, shingle_tokens=8).orderBy("doc_id")


def q_unigram_logprob(spark, sf_dir):
    """Self-trained unigram-LM quality score (CCNet KenLM-filter
    analogue): add-one-smoothed corpus unigram model, per-doc mean token
    ln-probability. explode -> two map-side aggs -> scalar broadcast ->
    term equi-join -> per-doc agg, zero Python."""
    from py3dtiles_spark.functions.text import unigram_logprob
    d = _par(_docs(spark, sf_dir))
    return unigram_logprob(d).orderBy("doc_id")


def q_neardup_pairs(spark, sf_dir):
    """MinHash-LSH + exact-Jaccard near-dup pairs vs DuckDB's exhaustive
    quadratic oracle (word-5-shingles, jaccard >= 0.9, doc_id < 1500)."""
    from py3dtiles_spark.operators.dedup import minhash_lsh_pairs
    d = _docs(spark, sf_dir).filter("doc_id < 1500")
    pairs = minhash_lsh_pairs(d, num_perm=16, bands=8, threshold=0.9,
                              shingle_n=5)
    return (pairs.select("a", "b", F.round("jaccard", 4).alias("jaccard"))
            .orderBy("a", "b"))


def q_ngram_jaccard(spark, sf_dir):
    """Exact character-3-gram Jaccard pairs (the quadratic validation
    variant, ids < 200) vs DuckDB computing the identical set algebra."""
    from py3dtiles_spark.operators.dedup import ngram_jaccard_pairs
    d = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.8, max_id=200)
    return (pairs.select("a", "b", F.round("jaccard", 4).alias("jaccard"))
            .orderBy("a", "b"))


def q_dedup_clusters(spark, sf_dir):
    """Transitive near-dup clusters: MinHash-LSH pairs -> connected
    components (min-label propagation) vs DuckDB's recursive-CTE closure
    over the exhaustively computed pair graph."""
    from py3dtiles_spark.operators.dedup import (
        connected_components, minhash_lsh_pairs)
    d = _docs(spark, sf_dir).filter("doc_id < 1500")
    pairs = minhash_lsh_pairs(d, num_perm=16, bands=8, threshold=0.9,
                              shingle_n=5)
    return (connected_components(pairs)
            .withColumnRenamed("id", "doc_id").orderBy("doc_id"))


def q_knn_join(spark, sf_dir):
    """Distributed exact kNN JOIN (query side is a DataFrame, broadcast —
    no driver collect): top-3 neighbours for 20 query vectors."""
    from py3dtiles_spark.operators.knn import knn_join
    emb = _par(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    q = (emb.filter("vec_id < 20")
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("qv")))
    return (knn_join(emb, q, k=3).select("q_id", "n_id", "rank")
            .orderBy("q_id", "rank"))


def q_knn_points_grid(spark, sf_dir):
    """Grid-bucketed distributed point kNN join (both sides DataFrames,
    zero Python): rings sized so every gate query is provably complete,
    hence exactly the brute-force kNN — the DuckDB cross-join oracle
    applies. The completeness flag itself is part of the check (pinned
    true)."""
    from py3dtiles_spark.operators.knn import knn_join_points
    pts = (_geo(spark, sf_dir)
           .select(F.col("doc_id").alias("point_id"), "x", "y", "z"))
    q = (pts.filter("point_id < 6")
         .select(F.col("point_id").alias("q_id"), "x", "y", "z"))
    out = knn_join_points(pts, q, k=4, cell_size=400.0, n_rings=1)
    return (out.select("q_id", "n_id", "rank",
                       F.col("complete").cast("long").alias("complete"))
            .orderBy("q_id", "rank"))


def q_knn_join_bucketed(spark, sf_dir):
    """Bucketed batch kNN JOIN — BOTH sides stay DataFrames (LSH-bucket
    equi-join; no broadcast, no driver collect): the scale path for query
    sets too big to broadcast. Exhaustive-probe config
    (n_probes = 2^n_planes) probes every bucket, so the result is exactly
    the exact kNN join and the DuckDB exact-kNN oracle applies; recall at
    production probe counts is pytest-asserted (test_knn_dedup)."""
    from py3dtiles_spark.operators.knn import knn_join_bucketed
    emb = _par(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    q = (emb.filter("vec_id < 20")
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("qv")))
    return (knn_join_bucketed(emb, q, k=3, n_planes=3, n_probes=8)
            .select("q_id", "n_id", "rank").orderBy("q_id", "rank"))


def q_embedding_norms(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    norm = F.sqrt(F.aggregate(
        F.transform("embedding", lambda v: v.cast("double") * v.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))
    return (emb.select("label", norm.alias("norm"))
            .groupBy("label")
            .agg(F.count("*").alias("n"), F.round(F.avg("norm"), 6).alias("avg_norm"))
            .orderBy("label"))


def q_affine_transform(spark, sf_dir):
    """P1 affine (v + offset) * scale with float rounding (reference
    las_reader.py:112-121), plus the P5-style value rescale."""
    g = _geo(spark, sf_dir)
    return g.select(
        "doc_id",
        F.round((F.col("x") + 180.0) * 0.1, 6).alias("tx"),
        F.round((F.col("y") + 85.0) * 0.1, 6).alias("ty"),
        F.round((F.col("z") + 0.0) * 0.01, 6).alias("tz"),
    ).orderBy("doc_id").limit(500)


def q_ecef_convert(spark, sf_dir):
    """P2 true CRS reprojection: WGS84 geodetic (EPSG:4979) -> geocentric
    ECEF (EPSG:4978), the ellipsoidal closed form the reference gets from
    pyproj (convert_to_ecef, utils.py:9-12) — pure trig expressions.

    Output rounded to whole meters and cast BIGINT: sub-meter agreement is
    covered by the pytest goldens; the cross-engine value hash must not
    depend on which libm produced the last ulp of cos()."""
    g = _geo(spark, sf_dir).filter("doc_id < 500")
    a = 6378137.0                 # WGS84 semi-major axis
    e2 = 0.0066943799901413165    # first eccentricity squared = f*(2-f)
    lat = F.radians("y")
    lon = F.radians("x")
    n = a / F.sqrt(1.0 - e2 * F.sin(lat) * F.sin(lat))
    return g.select(
        "doc_id",
        F.round((n + F.col("z")) * F.cos(lat) * F.cos(lon), 0).cast("bigint").alias("ecef_x"),
        F.round((n + F.col("z")) * F.cos(lat) * F.sin(lon), 0).cast("bigint").alias("ecef_y"),
        F.round((n * (1.0 - e2) + F.col("z")) * F.sin(lat), 0).cast("bigint").alias("ecef_z"),
    ).orderBy("doc_id")


def q_utm_convert(spark, sf_dir):
    """P2 projected-CRS input (r5): UTM 33N (EPSG:32633) -> geodetic via
    the engine's closed-form Transverse Mercator inverse (EPSG method
    9807, Krueger order-n^6 series — functions/crs.py tm_inverse_exprs),
    matching the reference's pyproj srs_in path (las_reader.py:110).
    Native Column expressions end-to-end; the oracle re-derives the same
    published series independently in SQL. Rounded to 6 dp (~0.1 m) so the
    hash is libm-independent."""
    from py3dtiles_spark.functions.crs import tm_inverse_exprs, utm_params
    g = _geo(spark, sf_dir).filter("doc_id < 400")
    g = g.select(
        "doc_id",
        (500_000.0 + F.col("x") * 1000.0).alias("x"),
        ((F.col("y") + 85.0) * 50_000.0).alias("y"))
    lon_e, lat_e = tm_inverse_exprs(utm_params(32633), "x", "y")
    return g.select(
        "doc_id",
        F.round(lon_e, 6).alias("lon"),
        F.round(lat_e, 6).alias("lat")).orderBy("doc_id")


def _utm_oracle_sql(geo: str) -> str:
    """DuckDB twin of q_utm_convert: the Karney series written out as SQL
    with the coefficients computed from the same published formulas."""
    from py3dtiles_spark.functions.crs import utm_params
    p = utm_params(32633)
    k = 1.0 / (p.k0 * p.A)
    from py3dtiles_spark.functions.crs import _chi_to_lat_coeffs
    ca, cb, cc, cd = _chi_to_lat_coeffs(p.e2)
    beta = p.beta
    # DuckDB has no sinh/cosh: expand to the exponential definitions
    def sh(t):
        return f"((exp({t}) - exp(-({t}))) / 2)"

    def ch(t):
        return f"((exp({t}) + exp(-({t}))) / 2)"

    xi = f"((y + 85.0) * 50000.0 - {p.y0!r}) * {k!r}"
    eta = f"(500000.0 + x * 1000.0 - {p.x0!r}) * {k!r}"
    terms_x = " - ".join(
        [f"{b!r} * sin({2 * j} * xi) * {ch(f'{2 * j} * eta')}"
         for j, b in enumerate(beta, start=1)])
    terms_e = " - ".join(
        [f"{b!r} * cos({2 * j} * xi) * {sh(f'{2 * j} * eta')}"
         for j, b in enumerate(beta, start=1)])
    return f"""{geo},
    u AS (SELECT doc_id, {xi} AS xi, {eta} AS eta
          FROM geo WHERE doc_id < 400),
    v AS (SELECT doc_id, xi - {terms_x} AS xp, eta - {terms_e} AS ep
          FROM u),
    w AS (SELECT doc_id,
                 {p.lon0!r} + atan2({sh('ep')}, cos(xp)) AS lon_r,
                 atan2(sin(xp), sqrt({sh('ep')}*{sh('ep')}
                       + cos(xp)*cos(xp))) AS chi
          FROM v)
    SELECT doc_id, round(degrees(lon_r), 6) AS lon,
           round(degrees(chi + {ca!r}*sin(2*chi) + {cb!r}*sin(4*chi)
                 + {cc!r}*sin(6*chi) + {cd!r}*sin(8*chi)), 6) AS lat
    FROM w ORDER BY doc_id"""


_ROT = [[0.8, -0.6, 0.0], [0.6, 0.8, 0.0], [0.0, 0.0, 1.0]]


def q_matrix_transform(spark, sf_dir):
    """P3 rotation-matrix application as linear-combination expressions."""
    g = _geo(spark, sf_dir).filter("doc_id < 500")
    m = _ROT
    return g.select(
        "doc_id",
        F.round(m[0][0] * F.col("x") + m[0][1] * F.col("y") + m[0][2] * F.col("z"), 6).alias("rx"),
        F.round(m[1][0] * F.col("x") + m[1][1] * F.col("y") + m[1][2] * F.col("z"), 6).alias("ry"),
        F.round(m[2][0] * F.col("x") + m[2][1] * F.col("y") + m[2][2] * F.col("z"), 6).alias("rz"),
    ).orderBy("doc_id")


def q_fraction_sample(spark, sf_dir):
    """P6/O3 deterministic fraction sampling by multiplicative hash —
    reproducible overview selection (reference merger.py:201-213 made
    deterministic)."""
    d = _docs(spark, sf_dir)
    keep = F.pmod(F.col("doc_id") * 2654435761, F.lit(100)) < 20
    return (d.filter(keep)
            .agg(F.count("*").alias("n_sampled"),
                 F.sum("n_chars").alias("sum_chars")))


def q_quadrant_route(spark, sf_dir):
    """J3 tileset->quadrant routing by center containment
    (merger.py:104-114) as a pure expression."""
    from py3dtiles_spark.operators.spatial_join import route_to_quadrant
    g = _geo(spark, sf_dir).select("doc_id", "x", "y")
    aabb = [[-180.0, -85.0, 0.0], [180.0, 85.0, 50.0]]
    return (route_to_quadrant(g, aabb)
            .groupBy(F.col("quadrant").cast("long").alias("quadrant"))
            .agg(F.count("*").alias("n")).orderBy("quadrant"))


def q_union_dedup(spark, sf_dir):
    """§2.7 set ops: union of two overlapping slices + distinct count."""
    d = _docs(spark, sf_dir)
    a = d.filter("doc_id < 300").select("doc_id", "lang")
    b = d.filter("doc_id >= 150 AND doc_id < 450").select("doc_id", "lang")
    u = a.union(b)
    return u.agg(F.count("*").alias("n_rows"),
                 F.countDistinct("doc_id").alias("n_distinct"))


def q_event_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via window lag +
    running sum — the classic stateful-analytics op, fully native."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts")
    epoch = F.unix_timestamp(F.col("ts"))  # NTZ-safe (session tz is UTC)
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (ev.withColumn("ns", new_sess)
            .withColumn("session_no", F.sum("ns").over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("user_id")
            .agg(F.max("session_no").cast("long").alias("n_sessions"),
                 F.count("*").alias("n_events"))
            .orderBy("user_id"))


def _rect_features(spark, sf_dir, max_id=3000):
    """Deterministic 0.1-degree square footprints centered on the geocoded
    docs — the synthetic vector layer for the export-path queries. Uses the
    reference's input convention (export.py:244 ST_RotateX(-pi/2)): glTF
    frame, y = height (0 for footprints), z = -northing; the quadtree's
    z-up unrotate then tiles on (x, northing)."""
    g = _geo(spark, sf_dir).filter(f"doc_id < {max_id}")
    return g.select(
        F.col("doc_id").alias("geom_id"),
        (F.col("x") - 0.05).alias("min_x"), F.lit(0.0).alias("min_y"),
        (-(F.col("y") + 0.05)).alias("min_z"),
        (F.col("x") + 0.05).alias("max_x"), F.lit(0.0).alias("max_y"),
        (-(F.col("y") - 0.05)).alias("max_z"),
        F.col("n_chars").cast("double").alias("weight"))


def q_vector_triangulate(spark, sf_dir):
    """§3.3 WKB parse + triangulation (reference TriangleSoup,
    wkb_utils.py:139-233): rectangle footprints -> 2 triangles each with
    exact float32 bboxes (oracle casts through REAL for bit-parity)."""
    import pandas as pd
    import numpy as np
    from py3dtiles_spark.functions.wkb import make_wkb_multipolygon
    from py3dtiles_spark.operators.export import triangulate_features
    g = _geo(spark, sf_dir).filter("doc_id < 2000").select("doc_id", "x", "y")

    def mk(batches):
        for pdf in batches:
            wkbs = [make_wkb_multipolygon([[np.array(
                [[x, y, 0.0], [x + 1.0, y, 0.0],
                 [x + 1.0, y + 0.5, 0.0], [x, y + 0.5, 0.0]])]])
                for x, y in zip(pdf["x"], pdf["y"])]
            yield pd.DataFrame({"geom_id": pdf["doc_id"], "wkb": wkbs})

    f = triangulate_features(g.mapInPandas(mk, "geom_id long, wkb binary"))
    return f.select(
        "geom_id", "n_tris",
        F.round("min_x", 6).alias("bx0"), F.round("min_y", 6).alias("by0"),
        F.round("max_x", 6).alias("bx1"), F.round("max_y", 6).alias("by1"),
    ).orderBy("geom_id")


def q_feature_quadtree(spark, sf_dir):
    """§3.3 quadtree feature tiling (export.py:141-160 greedy top-20 per
    cell, remainder into 2x2 children) — pure window-function loop."""
    from py3dtiles_spark.operators.export import assign_quadtree
    feats = _rect_features(spark, sf_dir)
    # SPARK_GRAFT_PLAN_AUDIT=1: return the raw lineage (no per-level
    # persist/localCheckpoint) so plan_audit can inspect the windows
    assigned = assign_quadtree(
        feats, max_tile_size=45.0, features_per_tile=20,
        weight_col="weight", max_levels=3,
        materialize=os.environ.get("SPARK_GRAFT_PLAN_AUDIT") != "1")
    return (assigned.select("geom_id", F.col("level").cast("long").alias("level"),
                            "cell_x", "cell_y")
            .orderBy("geom_id"))


def q_vector_b3dm(spark, sf_dir):
    """§3.3 b3dm emission: per-node feature counts of the packed tiles
    (binary payloads themselves are golden-tested in pytest vs the
    reference's dragon_low.b3dm / building.wkb fixtures)."""
    import pandas as pd
    import numpy as np
    from py3dtiles_spark.functions.wkb import make_wkb_multipolygon
    from py3dtiles_spark.operators.export import (
        assign_quadtree, build_b3dm_tiles, triangulate_features)
    g = _geo(spark, sf_dir).filter("doc_id < 1000").select(
        "doc_id", "x", "y", "n_chars")

    def mk(batches):
        for pdf in batches:
            # glTF-frame footprints (y = height = 0, z = -northing)
            wkbs = [make_wkb_multipolygon([[np.array(
                [[x - 0.05, 0.0, -(y - 0.05)], [x + 0.05, 0.0, -(y - 0.05)],
                 [x + 0.05, 0.0, -(y + 0.05)], [x - 0.05, 0.0, -(y + 0.05)]])]])
                for x, y in zip(pdf["x"], pdf["y"])]
            yield pd.DataFrame({"geom_id": pdf["doc_id"], "wkb": wkbs,
                                "weight": pdf["n_chars"].astype(float)})

    geoms = g.mapInPandas(mk, "geom_id long, wkb binary, weight double")
    feats = triangulate_features(geoms)     # weight passes through
    assigned = assign_quadtree(feats, max_tile_size=45.0,
                               features_per_tile=20, weight_col="weight",
                               max_levels=3)
    tiles = build_b3dm_tiles(assigned)
    return (tiles.select("node_id", "n_features",
                         (F.length("b3dm") > 100).alias("has_payload"))
            .orderBy("node_id"))


# ------------------------------- octree build (checkpoint-twin oracle, r6) --

def _octree_ckpt_dir(sf_dir: str) -> str:
    """Deterministic per-sf checkpoint path for q_tiling_octree, shared
    with its DuckDB twin, which reads the accepted=true partitions in the
    SAME process (the driver gate and check_oracle.py both run the Spark
    query, then the oracle). The path is the same in every process, so
    oracle_sql() renders byte-identical text; the isolation of concurrent
    gate/bench/dev runs is _own_octree_ckpt's lock, not the path."""
    import hashlib
    tag = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:8]
    return f"/tmp/sg_octree_ckpt_{tag}"


def _own_octree_ckpt(path: str, wait_s: float = 600.0) -> None:
    """Hold `path` for the rest of this process: an exclusive lock on
    `path`.lock, taken once, released by the OS when the process exits,
    after the directory is removed at interpreter exit. While another
    process holds it, wait up to `wait_s` seconds, then raise."""
    if path in _OCTREE_CKPT_LOCKS:
        return
    import atexit
    import fcntl
    import shutil
    import time
    f = open(path + ".lock", "w")
    deadline = time.monotonic() + wait_s
    while True:
        try:
            fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
            break
        except BlockingIOError:
            if time.monotonic() >= deadline:
                f.close()
                raise RuntimeError(
                    f"octree checkpoint {path} is held by another process "
                    f"(lock {path}.lock); it is freed when that process "
                    "exits") from None
            time.sleep(0.5)
    _OCTREE_CKPT_LOCKS[path] = f
    atexit.register(shutil.rmtree, path, ignore_errors=True)


_OCTREE_CKPT_LOCKS: dict = {}


def q_tiling_octree(spark, sf_dir):
    """Full order-dependent octree build. The grid accept itself is not
    SQL-expressible (pinned by the pytest replay goldens instead), but
    since r6 the entry is oracle-checked end-to-end anyway: the build
    checkpoints every level to parquet at a deterministic path, and the
    DuckDB twin recomputes the identical per-tile projection straight
    from the accepted=true checkpoint partitions — verifying that the
    assignments the engine RETURNS are exactly what it durably WROTE
    (manifest/checkpoint consistency, the convert.py:652 written==read
    invariant at per-tile granularity)."""
    import shutil
    from py3dtiles_spark.operators.tiling import TilingConfig, build_tiling
    ckpt = _octree_ckpt_dir(sf_dir)
    _own_octree_ckpt(ckpt)
    shutil.rmtree(ckpt, ignore_errors=True)
    pts = (_geo(spark, sf_dir)
           .select(F.col("doc_id").alias("point_id"), "x", "y", "z"))
    res = build_tiling(spark, pts, TilingConfig(split_threshold=2000,
                                                in_kernel_threshold=50_000,
                                                checkpoint_dir=ckpt))
    return (res.assignments.groupBy("tile_id")
            .agg(F.count("*").alias("point_count")).orderBy("tile_id"))


def q_tiling_invariants(spark, sf_dir):
    """The SQL-expressible invariants of the octree build (the full
    order-dependent accept is not SQL-expressible, but its contract is):
    every input point is assigned exactly once, every tile name is drawn
    from the 0-7 octant alphabet, and every non-root tile's parent prefix
    is a live tile. The DuckDB twin pins assigned/distinct counts to the
    input table and the violation counters to zero (reference invariant
    convert.py:652: points written == points read)."""
    from py3dtiles_spark.operators.tiling import TilingConfig, build_tiling
    split_threshold = 2000
    pts = (_geo(spark, sf_dir)
           .select(F.col("doc_id").alias("point_id"), "x", "y", "z"))
    res = build_tiling(spark, pts,
                       TilingConfig(split_threshold=split_threshold,
                                    in_kernel_threshold=50_000))
    a = res.assignments
    tiles = a.groupBy("tile_id").agg(F.count(F.lit(1)).alias("cnt"))
    # a live tile's ancestor may legitimately hold zero points only if it
    # SPLIT (root always forwards, node_process.py:88-89,108; a non-root
    # node splits at >= split_threshold points, node.py:70-72) — so a
    # missing non-root ancestor is an orphan only when its subtree holds
    # FEWER than split_threshold points (>= threshold means it split)
    prefixes = (tiles.filter(F.length("tile_id") > 0)
                .select("cnt", F.explode(F.expr(
                    "transform(sequence(1, length(tile_id)), "
                    "i -> substring(tile_id, 1, i - 1))")).alias("p")))
    subtree = prefixes.groupBy("p").agg(F.sum("cnt").alias("sub_cnt"))
    orphans = (subtree
               .join(tiles.select(F.col("tile_id").alias("p")), "p",
                     "left_anti")
               .filter((F.length("p") >= 1)
                       & (F.col("sub_cnt") < split_threshold)))
    s1 = a.agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.countDistinct("point_id").alias("n_points"),
        F.coalesce(F.sum((~F.col("tile_id").rlike("^[0-7]*$")).cast("long")),
                   F.lit(0).cast("long")).alias("bad_alphabet"))
    s2 = orphans.agg(F.count(F.lit(1)).alias("orphan_tiles"))
    return s1.crossJoin(s2)


def q_s2_cells(spark, sf_dir):
    """North-rule "H3/S2 encode": geocoded docs bucketed into level-6 S2
    cells (unit sphere -> cube face -> quadratic ST -> Morton ij), pure
    native expressions — zero Python, zero UDF.
    Uses the STAGED projection builder (with_s2_quad): the one-expression
    variant duplicated the trig subtree ~70x into a single codegen unit
    and ran 5.6x slower than geohash on the same input (r4 VERDICT)."""
    from py3dtiles_spark.functions.s2 import with_s2_quad
    g = _geo(spark, sf_dir)
    return (with_s2_quad(g, 6).select(F.col("s2_quad").alias("cell"))
            .groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("cell"))


def _doc_raster(spark, sf_dir):
    """1-degree document footprints rasterized at 0.25-degree cells —
    shared input of the raster-family queries."""
    from py3dtiles_spark.operators.raster import rasterize_rects
    g = _geo(spark, sf_dir).filter("doc_id < 300")
    rects = g.select(
        (F.col("x") - 0.5).alias("x0"), (F.col("x") + 0.5).alias("x1"),
        (F.col("y") - 0.5).alias("y0"), (F.col("y") + 0.5).alias("y1"),
        F.col("n_chars").cast("double").alias("w"))
    return rasterize_rects(rects, 0.25, value_col="w")


def q_geohash_cells(spark, sf_dir):
    """Geohash bucketing (the third north-rule spatial index next to the
    S2 quad id and the Morton grid key): precision-4 geohash per geocoded
    doc as ONE native expression — zero Python — with a character-
    identical generated SQL twin."""
    from py3dtiles_spark.functions.geohash import geohash_expr
    g = _geo(spark, sf_dir)
    return (g.select(geohash_expr(4).alias("gh"))
            .groupBy("gh").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("gh"))


def q_domain_stats(spark, sf_dir):
    """Web-corpus URL curation: deterministic synthetic urls per doc_id
    (both engines build the same strings), then the Spark side PARSES
    them back with native regex (url_host/registrable_domain), drops a
    blocklisted domain via broadcast anti-join, and aggregates per-domain
    crawl stats — while the oracle derives host/domain from the
    construction arithmetic, so the regex extraction is genuinely
    cross-checked."""
    from py3dtiles_spark.functions.url import (
        domain_stats, filter_domain_blocklist)
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    urls = d.select(
        "doc_id", "n_chars",
        F.concat(F.lit("https://h"), (i % 7).cast("string"),
                 F.lit(".site"), (i % 3).cast("string"),
                 F.lit(".example/p/"), i.cast("string")).alias("url"))
    bl = local_frame(spark, {"domain": ["site2.example"]}, "domain string")
    kept = filter_domain_blocklist(urls, bl)
    return (domain_stats(kept, chars_col="n_chars").orderBy("domain"))


def q_salted_join(spark, sf_dir):
    """Skew-tool correctness as a gate row: the deterministic salted
    equi-join (hot-key spread over n_salt reducers) must aggregate
    identically to the plain SQL join — events joined to a user-tier dim
    derived from the same table, rolled up per tier."""
    from py3dtiles_spark.operators.skew import salted_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = (ev.select("user_id").distinct()
           .select("user_id", F.pmod("user_id", F.lit(4)).cast("long")
                   .alias("tier")))
    j = salted_join(ev.select("event_id", "user_id", "value"), dim,
                    "user_id", n_salt=8)
    return (j.groupBy("tier")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 4).alias("total"))
            .orderBy("tier"))


def q_zorder_key(spark, sf_dir):
    """Z-order layout key math as a gate row: the native Morton
    interleave over quantized (x, y) — the key llm_pipeline buckets its
    kNN queries by — bucketed by its coarse prefix (top 8 of 16
    interleaved bits), counted. The DuckDB twin rebuilds the identical
    bit arithmetic."""
    from py3dtiles_spark.operators.layout import zorder_key_expr
    g = _geo(spark, sf_dir)
    key = zorder_key_expr(["x", "y"], [(-180.0, 180.0), (-90.0, 90.0)],
                          bits=8)
    return (g.select(F.shiftright(key, 8).alias("zbucket"))
            .groupBy("zbucket").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("zbucket"))


def q_raster_cells(spark, sf_dir):
    """North-rule vector->raster: footprint rasterization (center-in-rect
    coverage), native sequence-explode — zero Python."""
    return (_doc_raster(spark, sf_dir)
            .select("cell_x", "cell_y", "value")
            .orderBy("cell_x", "cell_y"))


def q_raster_pyramid(spark, sf_dir):
    """North-rule tile rollup: 2x2 pyramid over the rasterized cells,
    per-level summary (cell count, value conserved under sum)."""
    from py3dtiles_spark.operators.raster import raster_pyramid
    pyr = raster_pyramid(_doc_raster(spark, sf_dir), levels=3, agg="sum")
    return (pyr.groupBy("level")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("value").alias("total"),
                 F.min("cell_x").alias("min_cx"),
                 F.max("cell_y").alias("max_cy"))
            .orderBy("level"))


def q_raster_vectorize(spark, sf_dir):
    """North-rule raster->vector: rectangle-cover vectorization, two
    cascaded gaps-and-islands windows — zero Python."""
    from py3dtiles_spark.operators.raster import vectorize_raster
    return (vectorize_raster(_doc_raster(spark, sf_dir))
            .orderBy("x0", "x1", "y0"))


def q_simhash_neardup(spark, sf_dir):
    """SimHash near-dup INVARIANTS (VERDICT r3 #5: the raw pair list has
    no SQL twin because DuckDB lacks xxhash64, but the operator's contract
    is SQL-checkable): over base docs plus planted exact duplicates
    (doc_id+1000, same text — both engines synthesize them identically),
    assert (1) a<b ordering, (2) hamming <= max, (3) no duplicate pairs,
    (4) EVERY exact-duplicate pair is found with hamming 0 (identical text
    -> identical signature -> shared band, pigeonhole-guaranteed), and
    (5) two independent runs return identical rows (determinism). The
    DuckDB twin computes the planted-pair count from the same tables and
    pins the violation counters to zero."""
    from py3dtiles_spark.operators.dedup import simhash_near_dup_pairs
    base = _docs(spark, sf_dir).select("doc_id", "text").filter("doc_id < 300")
    dup = (base.filter("doc_id < 100")
           .select((F.col("doc_id") + 1000).alias("doc_id"), "text"))
    d = base.unionByName(dup)
    pairs = simhash_near_dup_pairs(d, max_hamming=3)
    pairs2 = simhash_near_dup_pairs(d, max_hamming=3)
    ex = (d.join(d.select(F.col("doc_id").alias("rid"), "text"), "text")
          .filter(F.col("doc_id") < F.col("rid"))
          .select(F.col("doc_id").alias("a"), F.col("rid").alias("b")))
    s1 = pairs.agg(
        F.coalesce(F.sum((F.col("a") >= F.col("b")).cast("long")),
                   F.lit(0).cast("long")).alias("bad_order"),
        F.coalesce(F.sum((F.col("hamming") > 3).cast("long")),
                   F.lit(0).cast("long")).alias("bad_hamming"),
        (F.count(F.lit(1)) - F.countDistinct("a", "b")).alias("dup_pairs"))
    s2 = ex.agg(F.count(F.lit(1)).alias("exact_pairs"))
    s3 = (ex.join(pairs.filter(F.col("hamming") == 0), ["a", "b"],
                  "left_semi")
          .agg(F.count(F.lit(1)).alias("exact_found_h0")))
    s4 = (pairs.exceptAll(pairs2).unionAll(pairs2.exceptAll(pairs))
          .agg(F.count(F.lit(1)).alias("nondet_rows")))
    return s1.crossJoin(s2).crossJoin(s3).crossJoin(s4)


def q_ann_lsh(spark, sf_dir):
    """LSH ANN INVARIANTS (VERDICT r3 #5): the approximate result set is
    seed-dependent so the raw rows have no SQL twin, but its contract is
    SQL-checkable: per-query result count == k, each query finds itself
    at cos ~1.0, every returned neighbour's signature lies in the probed
    bucket set (candidates ⊆ probed buckets, recomputed with the same
    planes/seed), and recall@5 vs the exact knn_join answer holds the
    >= 0.8 floor (raw recall pytest: test_ann_recall_floor_sf001)."""
    import numpy as np
    from py3dtiles_spark.operators.knn import (
        _lsh_buckets, _lsh_planes, _probe_buckets, ann_lsh_embeddings,
        knn_join)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id IN (0, 7)").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    qs = [(int(r.q_id), np.array(r.qv, dtype=np.float64)) for r in q.collect()]
    # 24 probes per query: measured recall 0.9 for these two queries at
    # sf0.01 (16 probes sits at 0.7 — below the 0.8 gate floor). The two
    # queries' probes cover 38 of the 64 buckets, and both queries are
    # ranked against that whole union.
    n_planes, n_probes, seed, k = 6, 24, 42, 5
    planes = _lsh_planes(n_planes, len(qs[0][1]), seed)
    wanted = sorted({b for _, v in qs
                     for b in _probe_buckets(planes @ v, n_planes, n_probes)})
    ann = ann_lsh_embeddings(emb, qs, k=k, n_planes=n_planes,
                             n_probes=n_probes, seed=seed)
    exact = knn_join(emb, q, k=k)
    bucketed = _lsh_buckets(emb, planes, "vec_id", "embedding")
    s1 = ann.agg(
        F.count(F.lit(1)).alias("n_results"),
        F.sum((F.col("q_id") == F.col("n_id")).cast("long")).alias("self_found"))
    s2 = (ann.join(bucketed.select("n_id", "bucket"), "n_id")
          .agg(F.coalesce(
              F.sum((~F.col("bucket").isin(wanted)).cast("long")),
              F.lit(0).cast("long")).alias("outside_bucket")))
    s3 = (exact.join(ann.select("q_id", "n_id"), ["q_id", "n_id"],
                     "left_semi")
          .agg((F.count(F.lit(1)) >= int(0.8 * len(qs) * k)).cast("long")
               .alias("recall_floor_ok")))
    return s1.crossJoin(s2).crossJoin(s3)


def q_ann_ivf(spark, sf_dir):
    """IVF ANN INVARIANTS (VERDICT r3 #5): per-query result count == k,
    self found, candidates ⊆ probed lists (the n_probe nearest centroid
    lists, recomputed from the trained centroids), KMeans assignment
    deterministic for the fixed seed (two trainings agree), recall@5 vs
    the exact knn_join answer >= 0.85 floor (raw recall pytest:
    test_ivf_recall_floor_sf001)."""
    import numpy as np
    from py3dtiles_spark.operators.knn import ivf_index, ivf_search, knn_join
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id IN (0, 7)").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    qs = [(int(r.q_id), np.array(r.qv, dtype=np.float64)) for r in q.collect()]
    k, n_lists, n_probe, seed = 5, 16, 2, 42
    assigned, cents = ivf_index(emb, n_lists=n_lists, seed=seed)
    assigned2, _ = ivf_index(emb, n_lists=n_lists, seed=seed)
    res = ivf_search(assigned, cents, qs, k=k, n_probe=n_probe)
    exact = knn_join(emb, q, k=k)
    # at sf0.01 the two queries' probes cover 4 of the 16 lists (184 of
    # the 500 rows)
    wanted = sorted({
        int(l) for _, v in qs
        for l in np.argsort(((cents - v) ** 2).sum(axis=1))[:n_probe]})
    s1 = res.agg(
        F.count(F.lit(1)).alias("n_results"),
        F.sum((F.col("q_id") == F.col("n_id")).cast("long")).alias("self_found"))
    s2 = (res.join(assigned.select(F.col("vec_id").alias("n_id"), "list_id"),
                   "n_id")
          .agg(F.coalesce(
              F.sum((~F.col("list_id").isin(wanted)).cast("long")),
              F.lit(0).cast("long")).alias("outside_list")))
    s3 = (assigned.select("vec_id", "list_id")
          .exceptAll(assigned2.select("vec_id", "list_id"))
          .agg(F.count(F.lit(1)).alias("nondet_assignments")))
    s4 = (exact.join(res.select("q_id", "n_id"), ["q_id", "n_id"],
                     "left_semi")
          .agg((F.count(F.lit(1)) >= int(np.ceil(0.85 * len(qs) * k)))
               .cast("long").alias("recall_floor_ok")))
    return s1.crossJoin(s2).crossJoin(s3).crossJoin(s4)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "aabb_agg": q_aabb_agg,
        "octant_hist": q_octant_hist,
        "tile_quadkey": q_tile_quadkey,
        "cell_key": q_cell_key,
        "pip_rect": q_pip_rect,
        "pip_polygon": q_pip_polygon,
        "topk_per_lang": q_topk_per_lang,
        "small_cell_rollup": q_small_cell_rollup,
        "spacing_levels": q_spacing_levels,
        "count_invariant": q_count_invariant,
        "dedup_stats": q_dedup_stats,
        "token_stats": q_token_stats,
        "quality_metrics": q_quality_metrics,
        "llm_pipeline": q_llm_pipeline,
        "tfidf_terms": q_tfidf_terms,
        "repetition_stats": q_repetition_stats,
        "fingerprint": q_fingerprint,
        "substring_dup": q_substring_dup,
        "unigram_logprob": q_unigram_logprob,
        "neardup_pairs": q_neardup_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "knn_join": q_knn_join,
        "knn_join_bucketed": q_knn_join_bucketed,
        "knn_points_grid": q_knn_points_grid,
        "embedding_norms": q_embedding_norms,
        "affine_transform": q_affine_transform,
        "ecef_convert": q_ecef_convert,
        "utm_convert": q_utm_convert,
        "matrix_transform": q_matrix_transform,
        "fraction_sample": q_fraction_sample,
        "quadrant_route": q_quadrant_route,
        "union_dedup": q_union_dedup,
        "event_sessions": q_event_sessions,
        "vector_triangulate": q_vector_triangulate,
        "feature_quadtree": q_feature_quadtree,
        "vector_b3dm": q_vector_b3dm,
        # the octree build's SQL-expressible contract (oracle-checked);
        # the per-tile histogram is oracle-checked too since r6 (below)
        "tiling_invariants": q_tiling_invariants,
        "s2_cells": q_s2_cells,
        "geohash_cells": q_geohash_cells,
        "domain_stats": q_domain_stats,
        "salted_join": q_salted_join,
        "zorder_key": q_zorder_key,
        "raster_cells": q_raster_cells,
        "raster_pyramid": q_raster_pyramid,
        "raster_vectorize": q_raster_vectorize,
        # invariant-oracle entries (r4): the raw outputs are seed/hash
        # dependent, so the entries check the operators' SQL-expressible
        # contracts instead (raw truth tables live in pytest)
        "simhash_neardup": q_simhash_neardup,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        # r6: oracle-checked via the level-checkpoint twin (DuckDB reads
        # the accepted=true partitions the build wrote) — no longer
        # rows-only; the order-dependent accept stays pinned by the
        # replay goldens + the tiling_invariants companion above
        "tiling_octree": q_tiling_octree,
    }
    # the registry is exactly the oracle-checked window: every entry has
    # an oracle_sql() twin, and every q_* def in this module is an entry
    # (tests/test_spark_entry.py checks both)


# shared CTE of the raster-family oracles — the exact SQL twin of
# _doc_raster (rasterize_rects center-in-rect rule via generate_series;
# an empty series when the rect is thinner than a cell, same as the
# operator's empty-array guard)
_RASTER_CELLS_SQL = """,
    r AS (SELECT CAST(n_chars AS DOUBLE) AS w,
                 x - 0.5 AS x0, x + 0.5 AS x1,
                 y - 0.5 AS y0, y + 0.5 AS y1
          FROM geo WHERE doc_id < 300),
    cells AS (
        SELECT gx.cell_x, gy.cell_y, sum(w) AS value
        FROM r,
        LATERAL unnest(generate_series(
            CAST(ceil(x0/0.25 - 0.5) AS BIGINT),
            CAST(ceil(x1/0.25 - 0.5) AS BIGINT) - 1)) AS gx(cell_x),
        LATERAL unnest(generate_series(
            CAST(ceil(y0/0.25 - 0.5) AS BIGINT),
            CAST(ceil(y1/0.25 - 0.5) AS BIGINT) - 1)) AS gy(cell_y)
        GROUP BY 1, 2)
"""


def oracle_sql() -> dict[str, str]:
    from py3dtiles_spark.functions.geohash import geohash_sql
    from py3dtiles_spark.functions.s2 import s2_quad_id_sql
    geo = f"WITH geo AS ({_GEO_SQL})"
    s2_sql = s2_quad_id_sql(6, "x", "y")
    gh_sql = geohash_sql(4, "x", "y")
    return {
        "aabb_agg": f"""{geo}
            SELECT round(min(x),6) AS min_x, round(max(x),6) AS max_x,
                   round(min(y),6) AS min_y, round(max(y),6) AS max_y,
                   round(min(z),6) AS min_z, round(max(z),6) AS max_z
            FROM geo""",
        "octant_hist": f"""{geo}
            SELECT (CASE WHEN x>=0 THEN 4 ELSE 0 END
                  + CASE WHEN y>=0 THEN 2 ELSE 0 END
                  + CASE WHEN z>=500 THEN 1 ELSE 0 END)::BIGINT AS octant,
                   count(*) AS n
            FROM geo GROUP BY 1 ORDER BY octant""",
        "tile_quadkey": f"""{geo}
            SELECT CAST((CASE WHEN x>=0 THEN 4 ELSE 0 END
                       + CASE WHEN y>=0 THEN 2 ELSE 0 END
                       + CASE WHEN z>=500 THEN 1 ELSE 0 END) AS VARCHAR)
                || CAST((CASE WHEN x >= (CASE WHEN x>=0 THEN 90.0 ELSE -90.0 END) THEN 4 ELSE 0 END
                       + CASE WHEN y >= (CASE WHEN y>=0 THEN 42.5 ELSE -42.5 END) THEN 2 ELSE 0 END
                       + CASE WHEN z >= (CASE WHEN z>=500 THEN 750.0 ELSE 250.0 END) THEN 1 ELSE 0 END) AS VARCHAR)
                   AS tile_id, count(*) AS n
            FROM geo GROUP BY 1 ORDER BY tile_id""",
        "cell_key": f"""{geo}
            SELECT (least(greatest(floor(3.0*(x+180.0)/360.0), 0), 2)
                  + least(greatest(floor(3.0*(y+85.0)/170.0), 0), 2) * 4
                  + least(greatest(floor(3.0*(z-0.0)/1000.0), 0), 2) * 16)::BIGINT
                   AS cell_key, count(*) AS n
            FROM geo GROUP BY 1 ORDER BY cell_key""",
        "pip_rect": f"""{geo}, rects(rect_id, xmin, ymin, xmax, ymax) AS (
                VALUES {", ".join(str(r) for r in _RECTS)})
            SELECT rect_id::BIGINT AS rect_id, count(*) AS hits
            FROM geo JOIN rects
              ON geo.x >= xmin AND geo.x < xmax
             AND geo.y >= ymin AND geo.y < ymax
            GROUP BY 1 ORDER BY rect_id""",
        "pip_polygon": f"""{geo}
            SELECT doc_id, geom_id FROM (
                SELECT doc_id, 7::BIGINT AS geom_id FROM geo
                WHERE ((150.0 - (-150.0))*(y - (-80.0)) - ((-80.0) - (-80.0))*(x - (-150.0))) > 0
                  AND ((0.0 - 150.0)*(y - (-80.0)) - (80.0 - (-80.0))*(x - 150.0)) > 0
                  AND (((-150.0) - 0.0)*(y - 80.0) - ((-80.0) - 80.0)*(x - 0.0)) > 0
                UNION ALL
                SELECT doc_id, 8::BIGINT AS geom_id FROM geo
                WHERE x > -100.0 AND x < 100.0 AND y > -60.0 AND y < 60.0
                  AND NOT (x > -50.0 AND x < 50.0
                           AND y > -30.0 AND y < 30.0))
            ORDER BY doc_id, geom_id""",
        "topk_per_lang": """
            SELECT lang, rk, doc_id, n_chars FROM (
                SELECT lang, doc_id, n_chars,
                       row_number() OVER (PARTITION BY lang
                           ORDER BY n_chars DESC, doc_id ASC)::BIGINT AS rk
                FROM documents)
            WHERE rk <= 3 ORDER BY lang, rk""",
        "small_cell_rollup": f"""{geo}, cells AS (
                SELECT 'f' || CAST(floor((x+180.0)/10.0)::BIGINT AS VARCHAR) AS fine,
                       'c' || CAST(floor((x+180.0)/40.0)::BIGINT AS VARCHAR) AS coarse
                FROM geo),
            counts AS (
                SELECT fine, coarse, count(*) AS cnt FROM cells GROUP BY 1, 2)
            SELECT CASE WHEN cnt < 50 THEN coarse ELSE fine END AS cell,
                   sum(cnt)::BIGINT AS n
            FROM counts GROUP BY 1 ORDER BY cell""",
        "spacing_levels": f"""{geo}, agg AS (
                SELECT sqrt(pow(max(x)-min(x),2) + pow(max(y)-min(y),2)
                          + pow(max(z)-min(z),2)) AS diag FROM geo)
            SELECT level::BIGINT AS level,
                   round(diag/125.0/pow(2.0, level), 6) AS spacing
            FROM agg, generate_series(0, 5) AS t(level)
            ORDER BY level""",
        "count_invariant": f"""{geo}, per AS (
                SELECT (CASE WHEN x>=0 THEN 2 ELSE 0 END
                      + CASE WHEN y>=0 THEN 1 ELSE 0 END) AS q, count(*) AS n
                FROM geo GROUP BY 1)
            SELECT sum(n)::BIGINT AS points_assigned,
                   count(*)::BIGINT AS n_cells FROM per""",
        "dedup_stats": """
            SELECT count(*) AS n_docs,
                   count(DISTINCT md5(text)) AS n_unique_texts
            FROM documents""",
        "token_stats": """
            SELECT lang, count(*) AS n_docs,
                   sum(len(string_split(text, ' ')))::BIGINT AS sum_tokens,
                   round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
            FROM documents GROUP BY lang ORDER BY lang""",
        "quality_metrics": """
            SELECT doc_id,
                   len(string_split(text, ' '))::BIGINT AS n_tokens,
                   length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))::BIGINT
                       AS punct_len,
                   length(text)::BIGINT AS text_len
            FROM documents WHERE doc_id < 100 ORDER BY doc_id""",
        "substring_dup": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '),
                                   t -> t <> '') AS t
                FROM documents),
            sh AS (
                -- coalesce: DuckDB's array_to_string([]) is NULL where
                -- Spark's array_join([]) is '' — token-less docs must
                -- keep their whole-doc window on both sides
                SELECT doc_id,
                       md5(coalesce(array_to_string(
                           t[g.i:g.i + 7], ' '), '')) AS h
                FROM toks,
                LATERAL unnest(generate_series(
                    1, greatest(len(t) - 7, 1))) AS g(i)),
            cnt AS (SELECT h, count(*) AS c FROM sh GROUP BY h)
            SELECT sh.doc_id,
                   count(*)::BIGINT AS n_shingles,
                   sum(CASE WHEN cnt.c >= 2 THEN 1 ELSE 0 END)::BIGINT
                       AS dup_shingles,
                   round(sum(CASE WHEN cnt.c >= 2 THEN 1 ELSE 0 END)
                         ::DOUBLE / count(*), 6) AS dup_frac
            FROM sh JOIN cnt USING (h)
            GROUP BY sh.doc_id ORDER BY sh.doc_id""",
        "unigram_logprob": """
            WITH toks AS (
                SELECT doc_id, t.term
                FROM documents,
                LATERAL unnest(string_split(text, ' ')) AS t(term)
                WHERE t.term <> ''),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM toks GROUP BY 1, 2),
            vocab AS (SELECT term, sum(tf) AS c FROM tf GROUP BY term),
            scal AS (SELECT sum(c) AS T, count(*) AS V FROM vocab),
            lp AS (SELECT term, ln((c + 1.0) / (scal.T + scal.V)) AS lp
                   FROM vocab, scal)
            SELECT tf.doc_id,
                   sum(tf.tf)::BIGINT AS n_tokens,
                   round(sum(tf.tf * lp.lp) / sum(tf.tf), 6) AS logprob
            FROM tf JOIN lp USING (term)
            GROUP BY tf.doc_id ORDER BY tf.doc_id""",
        "llm_pipeline": f"""{geo},
            g2 AS (SELECT doc_id, lang, text, x, y, z,
                          len(string_split(text, ' '))::BIGINT AS ntok,
                          length(regexp_replace(text, '[^.,;:!?''"()-]',
                                 '', 'g'))::DOUBLE
                              / greatest(length(text), 1) AS punct_ratio
                   FROM geo WHERE length(text) >= 80),
            gated AS (SELECT * FROM g2
                      WHERE ntok >= 10 AND punct_ratio <= 0.2),
            kept AS (SELECT * FROM (
                        SELECT *, row_number() OVER (PARTITION BY md5(text)
                                            ORDER BY doc_id) AS rk
                        FROM gated) WHERE rk = 1),
            qs AS (SELECT doc_id AS q_id, x, y, z,
                          least(greatest(CAST(floor((x - (-180.0)) / 360.0
                              * 256) AS BIGINT), 0), 255) AS qx,
                          least(greatest(CAST(floor((y - (-90.0)) / 180.0
                              * 256) AS BIGINT), 0), 255) AS qy
                   FROM kept WHERE doc_id < 12),
            qz AS (SELECT q_id, (({" | ".join(
                        f"(((qx >> {b}) & 1) << {2 * b}) | "
                        f"(((qy >> {b}) & 1) << {2 * b + 1})"
                        for b in range(8))}) >> 8) AS q_zbucket FROM qs),
            pairs AS (SELECT q.q_id, k2.doc_id AS n_id, k2.lang AS n_lang,
                             sqrt((q.x - k2.x) * (q.x - k2.x)
                                + (q.y - k2.y) * (q.y - k2.y)
                                + (q.z - k2.z) * (q.z - k2.z)) AS dist
                      FROM qs q, kept k2),
            ranked AS (SELECT q_id, n_id, n_lang,
                              row_number() OVER (PARTITION BY q_id
                                  ORDER BY dist, n_id) AS rank
                       FROM pairs)
            SELECT r.q_id, r.rank::BIGINT AS rank, r.n_id, z.q_zbucket,
                   r.n_lang, 1::BIGINT AS complete
            FROM ranked r JOIN qz z ON r.q_id = z.q_id
            WHERE r.rank <= 3 ORDER BY r.q_id, r.rank""",
        "fingerprint": """
            SELECT doc_id,
                   list_aggregate(
                     list_transform(
                       generate_series(1, greatest(len(string_split(text,' ')) - 7, 1)),
                       i -> md5(array_to_string(string_split(text,' ')[i:i+7], ' '))),
                     'min') AS fp
            FROM documents WHERE doc_id < 300 ORDER BY doc_id""",
        "neardup_pairs": """
            WITH g AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                         generate_series(1, greatest(len(string_split(text,' ')) - 4, 1)),
                         i -> array_to_string(string_split(text,' ')[i:i+4], ' '))) AS sh
                FROM documents WHERE doc_id < 1500),
            p AS (
                SELECT a.doc_id AS a, b.doc_id AS b,
                       len(list_intersect(a.sh, b.sh))::DOUBLE
                       / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
                FROM g a JOIN g b ON a.doc_id < b.doc_id)
            SELECT a, b, round(jac, 4) AS jaccard FROM p
            WHERE jac >= 0.9 ORDER BY a, b""",
        "ngram_jaccard": """
            WITH g AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                         generate_series(1, greatest(length(text) - 2, 1)),
                         i -> text[i:i+2])) AS gr
                FROM documents WHERE doc_id < 200),
            p AS (
                SELECT a.doc_id AS a, b.doc_id AS b,
                       len(list_intersect(a.gr, b.gr))::DOUBLE
                       / len(list_distinct(list_concat(a.gr, b.gr))) AS jac
                FROM g a JOIN g b ON a.doc_id < b.doc_id)
            SELECT a, b, round(jac, 4) AS jaccard FROM p
            WHERE jac >= 0.8 ORDER BY a, b""",
        "dedup_clusters": """
            WITH RECURSIVE g AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                         generate_series(1, greatest(len(string_split(text,' ')) - 4, 1)),
                         i -> array_to_string(string_split(text,' ')[i:i+4], ' '))) AS sh
                FROM documents WHERE doc_id < 1500),
            p AS (
                SELECT a.doc_id AS a, b.doc_id AS b
                FROM g a JOIN g b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.9),
            e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
            reach(id, lbl) AS (
                SELECT DISTINCT a, a FROM e
                UNION
                SELECT e.a, r.lbl FROM e JOIN reach r ON e.b = r.id)
            SELECT id AS doc_id, min(lbl)::BIGINT AS cluster_id
            FROM reach GROUP BY id ORDER BY doc_id""",
        "knn_join": """
            WITH q AS (SELECT vec_id AS q_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 20),
            sims AS (
                SELECT q.q_id, e.vec_id AS n_id,
                       list_cosine_similarity(q.qv, e.embedding) AS cos
                FROM q CROSS JOIN embeddings e),
            ranked AS (
                SELECT q_id, n_id,
                       row_number() OVER (PARTITION BY q_id
                           ORDER BY cos DESC, n_id ASC)::BIGINT AS rank
                FROM sims)
            SELECT q_id, n_id, rank FROM ranked WHERE rank <= 3
            ORDER BY q_id, rank""",
        "knn_points_grid": f"""{geo},
            pts AS (SELECT doc_id AS point_id, x, y, z FROM geo),
            q AS (SELECT point_id AS q_id, x AS qx, y AS qy, z AS qz
                  FROM pts WHERE point_id < 6),
            d AS (SELECT q.q_id, p.point_id AS n_id,
                         sqrt(pow(p.x - q.qx, 2) + pow(p.y - q.qy, 2)
                            + pow(p.z - q.qz, 2)) AS dist
                  FROM q CROSS JOIN pts p),
            ranked AS (
                SELECT q_id, n_id,
                       row_number() OVER (PARTITION BY q_id
                           ORDER BY dist ASC, n_id ASC)::BIGINT AS rank
                FROM d)
            SELECT q_id, n_id, rank, 1::BIGINT AS complete
            FROM ranked WHERE rank <= 4 ORDER BY q_id, rank""",
        # exhaustive-probe config == exact kNN join: same oracle shape
        "knn_join_bucketed": """
            WITH q AS (SELECT vec_id AS q_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 20),
            sims AS (
                SELECT q.q_id, e.vec_id AS n_id,
                       list_cosine_similarity(q.qv, e.embedding) AS cos
                FROM q CROSS JOIN embeddings e),
            ranked AS (
                SELECT q_id, n_id,
                       row_number() OVER (PARTITION BY q_id
                           ORDER BY cos DESC, n_id ASC)::BIGINT AS rank
                FROM sims)
            SELECT q_id, n_id, rank FROM ranked WHERE rank <= 3
            ORDER BY q_id, rank""",
        "embedding_norms": """
            SELECT label, count(*) AS n,
                   round(avg(sqrt(list_sum(list_transform(embedding,
                         v -> v::DOUBLE * v::DOUBLE)))), 6) AS avg_norm
            FROM embeddings GROUP BY label ORDER BY label""",
        "affine_transform": f"""{geo}
            SELECT doc_id, round((x + 180.0) * 0.1, 6) AS tx,
                   round((y + 85.0) * 0.1, 6) AS ty,
                   round((z + 0.0) * 0.01, 6) AS tz
            FROM geo ORDER BY doc_id LIMIT 500""",
        "ecef_convert": f"""{geo}
            SELECT doc_id,
                   CAST(round((6378137.0 / sqrt(1.0 - 0.0066943799901413165 * sin(radians(y)) * sin(radians(y))) + z)
                        * cos(radians(y)) * cos(radians(x)), 0) AS BIGINT) AS ecef_x,
                   CAST(round((6378137.0 / sqrt(1.0 - 0.0066943799901413165 * sin(radians(y)) * sin(radians(y))) + z)
                        * cos(radians(y)) * sin(radians(x)), 0) AS BIGINT) AS ecef_y,
                   CAST(round((6378137.0 / sqrt(1.0 - 0.0066943799901413165 * sin(radians(y)) * sin(radians(y))) * (1.0 - 0.0066943799901413165) + z)
                        * sin(radians(y)), 0) AS BIGINT) AS ecef_z
            FROM geo WHERE doc_id < 500 ORDER BY doc_id""",
        "utm_convert": _utm_oracle_sql(geo),
        "matrix_transform": f"""{geo}
            SELECT doc_id,
                   round(0.8 * x + -0.6 * y + 0.0 * z, 6) AS rx,
                   round(0.6 * x + 0.8 * y + 0.0 * z, 6) AS ry,
                   round(0.0 * x + 0.0 * y + 1.0 * z, 6) AS rz
            FROM geo WHERE doc_id < 500 ORDER BY doc_id""",
        "fraction_sample": """
            SELECT count(*) AS n_sampled, sum(n_chars)::BIGINT AS sum_chars
            FROM documents WHERE (doc_id * 2654435761) % 100 < 20""",
        "quadrant_route": f"""{geo}
            SELECT (CASE WHEN x >= 0 THEN 4 ELSE 0 END
                  + CASE WHEN y >= 0 THEN 2 ELSE 0 END)::BIGINT AS quadrant,
                   count(*) AS n
            FROM geo GROUP BY 1 ORDER BY quadrant""",
        "tiling_invariants": f"""{geo}
            SELECT count(*)::BIGINT AS n_assigned,
                   count(DISTINCT doc_id)::BIGINT AS n_points,
                   0::BIGINT AS bad_alphabet,
                   0::BIGINT AS orphan_tiles
            FROM geo""",
        "simhash_neardup": """
            WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300
                       UNION ALL
                       SELECT doc_id + 1000, text FROM documents
                       WHERE doc_id < 100),
            ex AS (SELECT l.doc_id AS a, r.doc_id AS b
                   FROM d l JOIN d r
                     ON l.text = r.text AND l.doc_id < r.doc_id)
            SELECT 0::BIGINT AS bad_order, 0::BIGINT AS bad_hamming,
                   0::BIGINT AS dup_pairs,
                   (SELECT count(*) FROM ex)::BIGINT AS exact_pairs,
                   (SELECT count(*) FROM ex)::BIGINT AS exact_found_h0,
                   0::BIGINT AS nondet_rows""",
        "ann_lsh": """
            SELECT 10::BIGINT AS n_results, 2::BIGINT AS self_found,
                   0::BIGINT AS outside_bucket,
                   1::BIGINT AS recall_floor_ok""",
        "ann_ivf": """
            SELECT 10::BIGINT AS n_results, 2::BIGINT AS self_found,
                   0::BIGINT AS outside_list,
                   0::BIGINT AS nondet_assignments,
                   1::BIGINT AS recall_floor_ok""",
        "s2_cells": f"""{geo}
            SELECT {s2_sql} AS cell, count(*) AS n
            FROM geo GROUP BY 1 ORDER BY cell""",
        "geohash_cells": f"""{geo}
            SELECT {gh_sql} AS gh, count(*) AS n
            FROM geo GROUP BY 1 ORDER BY gh""",
        "repetition_stats": """
            WITH d AS (SELECT doc_id, lang,
                              list_filter(string_split(text, ' '),
                                          t -> t <> '') AS toks
                       FROM documents WHERE doc_id < 400),
            g AS (SELECT doc_id, lang,
                         CASE WHEN len(toks) >= 3 THEN len(toks) - 2
                              ELSE 0 END AS cnt, toks
                  FROM d),
            frac AS (SELECT doc_id, lang,
                round(CASE WHEN cnt <= 0 THEN 0.0
                      ELSE 1.0 - len(list_distinct(list_transform(
                               range(1, cnt + 1),
                               i -> toks[i] || ' ' || toks[i+1]
                                    || ' ' || toks[i+2])))
                           / CAST(cnt AS DOUBLE) END, 6) AS f
                FROM g)
            SELECT lang, round(avg(f), 6) AS avg_dup3,
                   max(f) AS max_dup3, count(*) AS n
            FROM frac GROUP BY lang ORDER BY lang""",
        "salted_join": """
            WITH dim AS (SELECT DISTINCT user_id,
                                (user_id % 4)::BIGINT AS tier FROM events)
            SELECT tier, count(*) AS n, round(sum(value), 4) AS total
            FROM events e JOIN dim USING (user_id)
            GROUP BY tier ORDER BY tier""",
        "zorder_key": f"""{geo}, q AS (
                SELECT least(greatest(CAST(floor((x - (-180.0)) / 360.0
                           * 256) AS BIGINT), 0), 255) AS qx,
                       least(greatest(CAST(floor((y - (-90.0)) / 180.0
                           * 256) AS BIGINT), 0), 255) AS qy
                FROM geo),
            k AS (SELECT ({" | ".join(
                f"(((qx >> {b}) & 1) << {2 * b}) | "
                f"(((qy >> {b}) & 1) << {2 * b + 1})"
                for b in range(8))}) AS zkey FROM q)
            SELECT (zkey >> 8) AS zbucket, count(*) AS n
            FROM k GROUP BY 1 ORDER BY zbucket""",
        "tfidf_terms": """
            WITH d AS (SELECT doc_id, text FROM documents
                       WHERE doc_id < 200),
            toks AS (SELECT doc_id, t.term
                     FROM d, LATERAL unnest(string_split(text, ' '))
                          AS t(term)
                     WHERE t.term <> ''),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM toks GROUP BY 1, 2),
            dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            nd AS (SELECT count(DISTINCT doc_id) AS n FROM d),
            scored AS (
                SELECT tf.doc_id, tf.term, tf.tf,
                       round(tf.tf * ln((nd.n + 1.0) / (dfx.df + 1.0)), 6)
                           AS score
                FROM tf JOIN dfx USING(term), nd),
            ranked AS (
                SELECT doc_id, term, tf, score,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, term ASC)::BIGINT AS rk
                FROM scored)
            SELECT doc_id, term, tf, score, rk FROM ranked
            WHERE rk <= 3 ORDER BY doc_id, rk""",
        "domain_stats": """
            WITH u AS (
                SELECT doc_id, n_chars,
                       'site' || CAST(doc_id % 3 AS VARCHAR)
                           || '.example' AS domain,
                       'h' || CAST(doc_id % 7 AS VARCHAR) || '.site'
                           || CAST(doc_id % 3 AS VARCHAR)
                           || '.example' AS host
                FROM documents)
            SELECT domain, count(*) AS docs,
                   count(DISTINCT host) AS hosts,
                   sum(n_chars)::BIGINT AS total_chars
            FROM u WHERE domain <> 'site2.example'
            GROUP BY domain ORDER BY domain""",
        "raster_cells": f"""{geo}{_RASTER_CELLS_SQL}
            SELECT cell_x, cell_y, value FROM cells
            ORDER BY cell_x, cell_y""",
        "raster_pyramid": f"""{geo}{_RASTER_CELLS_SQL}
            SELECT level, count(*)::BIGINT AS n_cells, sum(value) AS total,
                   min(cell_x) AS min_cx, max(cell_y) AS max_cy
            FROM (
                SELECT 0 AS level, cell_x, cell_y, value FROM cells
                UNION ALL SELECT 1, CAST(floor(cell_x/2.0) AS BIGINT),
                    CAST(floor(cell_y/2.0) AS BIGINT), sum(value)
                    FROM cells GROUP BY 2, 3
                UNION ALL SELECT 2, CAST(floor(cell_x/4.0) AS BIGINT),
                    CAST(floor(cell_y/4.0) AS BIGINT), sum(value)
                    FROM cells GROUP BY 2, 3
                UNION ALL SELECT 3, CAST(floor(cell_x/8.0) AS BIGINT),
                    CAST(floor(cell_y/8.0) AS BIGINT), sum(value)
                    FROM cells GROUP BY 2, 3)
            GROUP BY level ORDER BY level""",
        "raster_vectorize": f"""{geo}{_RASTER_CELLS_SQL},
            runs AS (
                SELECT cell_y, min(cell_x) AS x0, max(cell_x) AS x1
                FROM (SELECT cell_x, cell_y, cell_x - row_number()
                          OVER (PARTITION BY cell_y ORDER BY cell_x) AS k
                      FROM cells)
                GROUP BY cell_y, k),
            rects AS (
                SELECT x0, x1, min(cell_y) AS y0, max(cell_y) AS y1
                FROM (SELECT x0, x1, cell_y, cell_y - row_number()
                          OVER (PARTITION BY x0, x1 ORDER BY cell_y) AS k
                      FROM runs)
                GROUP BY x0, x1, k)
            SELECT x0, x1, y0, y1,
                   (x1 - x0 + 1) * (y1 - y0 + 1) AS n_cells
            FROM rects ORDER BY x0, x1, y0""",
        "union_dedup": """
            WITH u AS (
                SELECT doc_id, lang FROM documents WHERE doc_id < 300
                UNION ALL
                SELECT doc_id, lang FROM documents
                WHERE doc_id >= 150 AND doc_id < 450)
            SELECT count(*) AS n_rows,
                   count(DISTINCT doc_id) AS n_distinct FROM u""",
        "vector_triangulate": f"""{geo}
            SELECT doc_id AS geom_id, 2::BIGINT AS n_tris,
                   round(CAST(x AS REAL)::DOUBLE, 6) AS bx0,
                   round(CAST(y AS REAL)::DOUBLE, 6) AS by0,
                   round(CAST(x + 1.0 AS REAL)::DOUBLE, 6) AS bx1,
                   round(CAST(y + 0.5 AS REAL)::DOUBLE, 6) AS by1
            FROM geo WHERE doc_id < 2000 ORDER BY geom_id""",
        "feature_quadtree": f"""{geo}, f AS (
                SELECT doc_id AS geom_id,
                       ((x-0.05) + (x+0.05)) * 0.5 AS cx,
                       ((y-0.05) + (y+0.05)) * 0.5 AS cy,
                       CAST(n_chars AS DOUBLE) AS w
                FROM geo WHERE doc_id < 3000),
            ext AS (SELECT min(x-0.05) AS xmin, min(y-0.05) AS ymin
                    FROM geo WHERE doc_id < 3000),
            l0 AS (SELECT f.*, ext.xmin, ext.ymin,
                          floor((cx - xmin)/45.0)::BIGINT AS c0x,
                          floor((cy - ymin)/45.0)::BIGINT AS c0y
                   FROM f, ext),
            r0 AS (SELECT *, row_number() OVER (PARTITION BY c0x, c0y
                       ORDER BY w DESC, geom_id) AS rk FROM l0),
            l1 AS (SELECT *, floor((cx - xmin)/22.5)::BIGINT AS c1x,
                          floor((cy - ymin)/22.5)::BIGINT AS c1y
                   FROM r0 WHERE rk > 20),
            r1 AS (SELECT *, row_number() OVER (PARTITION BY c1x, c1y
                       ORDER BY w DESC, geom_id) AS rk1 FROM l1)
            SELECT geom_id, 0::BIGINT AS level, c0x AS cell_x, c0y AS cell_y
            FROM r0 WHERE rk <= 20
            UNION ALL
            SELECT geom_id, 1::BIGINT, c1x, c1y FROM r1 WHERE rk1 <= 20
            UNION ALL
            SELECT geom_id, 2::BIGINT,
                   floor((cx - xmin)/11.25)::BIGINT,
                   floor((cy - ymin)/11.25)::BIGINT
            FROM r1 WHERE rk1 > 20
            ORDER BY geom_id""",
        "vector_b3dm": f"""{geo}, f AS (
                SELECT doc_id AS geom_id,
                       (CAST(x-0.05 AS REAL)::DOUBLE
                        + CAST(x+0.05 AS REAL)::DOUBLE) * 0.5 AS cx,
                       (CAST(y-0.05 AS REAL)::DOUBLE
                        + CAST(y+0.05 AS REAL)::DOUBLE) * 0.5 AS cy,
                       CAST(n_chars AS DOUBLE) AS w
                FROM geo WHERE doc_id < 1000),
            ext AS (SELECT min(CAST(x-0.05 AS REAL)::DOUBLE) AS xmin,
                           min(CAST(y-0.05 AS REAL)::DOUBLE) AS ymin
                    FROM geo WHERE doc_id < 1000),
            l0 AS (SELECT f.*, ext.xmin, ext.ymin,
                          floor((cx - xmin)/45.0)::BIGINT AS c0x,
                          floor((cy - ymin)/45.0)::BIGINT AS c0y
                   FROM f, ext),
            r0 AS (SELECT *, row_number() OVER (PARTITION BY c0x, c0y
                       ORDER BY w DESC, geom_id) AS rk FROM l0),
            l1 AS (SELECT *, floor((cx - xmin)/22.5)::BIGINT AS c1x,
                          floor((cy - ymin)/22.5)::BIGINT AS c1y
                   FROM r0 WHERE rk > 20),
            r1 AS (SELECT *, row_number() OVER (PARTITION BY c1x, c1y
                       ORDER BY w DESC, geom_id) AS rk1 FROM l1),
            nodes AS (
                SELECT '0/' || CAST(c0x AS VARCHAR) || '/' || CAST(c0y AS VARCHAR)
                       AS node_id FROM r0 WHERE rk <= 20
                UNION ALL
                SELECT '1/' || CAST(c1x AS VARCHAR) || '/' || CAST(c1y AS VARCHAR)
                FROM r1 WHERE rk1 <= 20
                UNION ALL
                SELECT '2/' || CAST(floor((cx - xmin)/11.25)::BIGINT AS VARCHAR)
                       || '/' || CAST(floor((cy - ymin)/11.25)::BIGINT AS VARCHAR)
                FROM r1 WHERE rk1 > 20)
            SELECT node_id, count(*) AS n_features, TRUE AS has_payload
            FROM nodes GROUP BY node_id ORDER BY node_id""",
        "event_sessions": """
            WITH g AS (
                SELECT user_id, ts,
                       epoch(ts)::BIGINT
                       - lag(epoch(ts)::BIGINT) OVER (PARTITION BY user_id
                                                      ORDER BY ts) AS gap
                FROM events),
            s AS (
                SELECT user_id,
                       sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1
                                ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_no
                FROM g)
            SELECT user_id, max(session_no)::BIGINT AS n_sessions,
                   count(*) AS n_events
            FROM s GROUP BY user_id ORDER BY user_id""",
        # r6: the octree build's per-tile histogram, recomputed by DuckDB
        # straight from the accepted=true level-checkpoint partitions the
        # Spark query just wrote (the driver runs the Spark side first,
        # which rebuilds the checkpoint at this fixed path under a lock
        # its process holds until exit). This pins returned-assignments ==
        # durably-written-checkpoint; the order-dependent accept itself
        # stays pinned by the replay goldens. The sf dir defaults to the
        # driver's sf0.01 gate; SPARK_GRAFT_ORACLE_SF_DIR overrides it
        # (check_oracle.py sets it so the twin follows any sf).
        "tiling_octree": f"""
            SELECT tile_id, count(*)::BIGINT AS point_count
            FROM read_parquet(
                '{_octree_ckpt_dir(os.environ.get(
                    "SPARK_GRAFT_ORACLE_SF_DIR",
                    "/root/testdata/sf0.01"))}'
                || '/level=*/out/accepted=true/*.parquet',
                hive_partitioning = 0)
            GROUP BY tile_id ORDER BY tile_id""",
    }
