"""Deduplication operators for large-scale training-data pipelines.

All exact-hash paths are pure built-in expressions (JVM-side, whole-stage
codegen); MinHash AND SimHash use native xxhash64 aggregations over exploded
tokens/shingles (map-side partial agg keeps the shuffle at |docs| rows).

Scale notes:
- exact_dedup: the one "lowest doc_id per md5(text)" rule (`curate --dedup
  exact`, `llm_pipeline`). The window partitions by the
  32-hex-char digest and Spark's WindowGroupLimit keeps rank 1 map-side,
  so once the caller selects `text` away the exchange ships digests,
  never document bodies.
- minhash LSH: explode(shingles) is the big intermediate — shuffle is on
  doc_id (already the partition key after generation) and band buckets are
  tiny; candidate verification touches only bucket collisions.
- near-dup pairs are emitted (a < b); connected_components turns them
  into clusters keyed by the smallest id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per distinct md5(text); md5 collisions are
    the only divergence from text equality, and the DuckDB twins apply the
    identical rule. NULL texts share one group."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter("_rn = 1").drop("_rn"))


def shingles(text_col: str = "text", n: int = 5):
    """Word n-gram shingle array, native exprs: split -> sliding join."""
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))


def minhash_signatures(docs: DataFrame, num_perm: int = 16,
                       shingle_n: int = 5, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """num_perm MinHash values per doc: min over shingles of
    xxhash64(shingle, perm_seed). Pure built-ins — explode + groupBy with
    map-side combine."""
    ex = (docs.select(id_col, F.explode(shingles(text_col, shingle_n))
                      .alias("sh")).dropDuplicates([id_col, "sh"]))
    aggs = [F.min(F.xxhash64("sh", F.lit(p))).alias(f"mh{p}")
            for p in range(num_perm)]
    return ex.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, num_perm: int = 16, bands: int = 4,
                      threshold: float = 0.5, shingle_n: int = 5,
                      id_col: str = "doc_id", text_col: str = "text",
                      max_bucket_size: int | None = None) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH + exact Jaccard verify.

    classic pipeline: shingle -> minhash -> band buckets -> bucket self-join
    -> verify true shingle-set Jaccard >= threshold. Returns (a, b, jaccard)
    with a < b.

    max_bucket_size: skew guard for the 100 TB path — band buckets larger
    than this (boilerplate/template text collapsing thousands of docs into
    one bucket, whose self-join is quadratic) are dropped before the join.
    Pairs in a dropped bucket are still found through any OTHER band they
    share; only docs near-identical in EVERY band lose recall, and those
    are exactly the boilerplate clusters better handled by exact_dedup
    first. None = exact behavior (the DuckDB-oracle default).
    """
    rows_per_band = num_perm // bands
    sig = minhash_signatures(docs, num_perm, shingle_n, id_col, text_col)
    band_cols = [
        F.xxhash64(*[F.col(f"mh{b * rows_per_band + r}")
                     for r in range(rows_per_band)], F.lit(b)).alias(f"band{b}")
        for b in range(bands)]
    banded = sig.select(id_col, *band_cols)
    stacked = banded.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_no"), F.col(f"band{b}").alias("bh"))
            for b in range(bands)])).alias("e")
    ).select(id_col, "e.band_no", "e.bh")

    if max_bucket_size is not None:
        ok = (stacked.groupBy("band_no", "bh")
              .agg(F.count("*").alias("_bsz"))
              .filter(F.col("_bsz") <= max_bucket_size)
              .drop("_bsz"))
        stacked = stacked.join(ok, ["band_no", "bh"])

    a = stacked.select(F.col(id_col).alias("a"), "band_no", "bh")
    b = stacked.select(F.col(id_col).alias("b"), "band_no", "bh")
    cand = (a.join(b, ["band_no", "bh"]).filter("a < b")
             .select("a", "b").distinct())

    sh = docs.select(F.col(id_col).alias("_id"),
                     F.array_distinct(shingles(text_col, shingle_n)).alias("sh"))
    cand = (cand
            .join(sh.withColumnRenamed("_id", "a").withColumnRenamed("sh", "sh_a"), "a")
            .join(sh.withColumnRenamed("_id", "b").withColumnRenamed("sh", "sh_b"), "b"))
    jac = (F.size(F.array_intersect("sh_a", "sh_b"))
           / F.size(F.array_union("sh_a", "sh_b")))
    return (cand.withColumn("jaccard", jac)
                .filter(F.col("jaccard") >= threshold)
                .select("a", "b", "jaccard"))


def connected_components(pairs: DataFrame, max_iter: int = 25,
                         a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Near-dup pair list -> transitive clusters: (id, cluster_id) with
    cluster_id = min doc id reachable through the pair graph. The
    principled step between pair generation and canonical-doc selection
    (dropping each pair's larger id pair-locally over/under-drops on
    chains).

    Min-label propagation: one equi-join + min-agg per round, labels
    persisted per round, early exit when no label moves. Converges in
    graph-diameter rounds — near-dup clusters are shallow (dup families
    link through shared shingles), so a handful of rounds in practice;
    for adversarial million-node chains swap in large-star/small-star
    (same join shape, alternating rounds). Raises if max_iter rounds
    pass without convergence rather than returning wrong clusters."""
    from pyspark import StorageLevel

    e = pairs.select(F.col(a_col).cast("long").alias("a"),
                     F.col(b_col).cast("long").alias("b"))
    sym = (e.unionByName(e.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))
           .distinct().persist(StorageLevel.MEMORY_AND_DISK))
    lbl = (sym.select(F.col("a").alias("id")).distinct()
           .withColumn("lbl", F.col("id")))
    try:
        for _ in range(max_iter):
            nb = (sym.join(lbl.select(F.col("id").alias("b"),
                                      F.col("lbl").alias("nl")), "b")
                  .groupBy("a").agg(F.min("nl").alias("nmin")))
            # localCheckpoint (NOT persist): each round's plan references
            # lbl twice, so lineage would double per round — an iterative
            # algorithm must truncate the plan, or planning itself blows
            # up exponentially long before any data does
            stepped = (lbl.join(nb.withColumnRenamed("a", "id"), "id", "left")
                       .select("id", "lbl",
                               F.least(F.col("lbl"),
                                       F.coalesce("nmin", F.col("lbl")))
                               .alias("nl2"))
                       .localCheckpoint(eager=True))
            changed = stepped.filter(F.col("nl2") < F.col("lbl")).count()
            lbl = stepped.select("id", F.col("nl2").alias("lbl"))
            if changed == 0:
                return lbl.withColumnRenamed("lbl", "cluster_id")
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    finally:
        sym.unpersist()


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        id_col: str = "doc_id", text_col: str = "text",
                        max_id: int | None = None) -> DataFrame:
    """Character-n-gram Jaccard similarity for all pairs (optionally capped
    to ids < max_id — the exact quadratic variant for validation)."""
    d = docs if max_id is None else docs.filter(F.col(id_col) < max_id)
    d = d.select(F.col(id_col).alias("_id"),
                 F.expr(f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)),"
                        f" i -> substring({text_col}, i, {n})))").alias("g"))
    a = d.select(F.col("_id").alias("a"), F.col("g").alias("ga"))
    b = d.select(F.col("_id").alias("b"), F.col("g").alias("gb"))
    pairs = a.crossJoin(b).filter("a < b")
    jac = (F.size(F.array_intersect("ga", "gb"))
           / F.size(F.array_union("ga", "gb")))
    return (pairs.withColumn("jaccard", jac)
                 .filter(F.col("jaccard") >= threshold)
                 .select("a", "b", "jaccard"))


def simhash_values(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash per doc: per-bit signed votes of each token's
    xxhash64 bits, fully NATIVE (explode -> xxhash64 -> 64 conditional
    sums -> bit reassembly). Zero Python in the pipeline; map-side partial
    aggregation collapses the exploded tokens back to one row per doc
    before the shuffle, so the network cost is |docs| rows."""
    # F.split("", " ") yields [""]: drop empty tokens so empty-text docs
    # fall through to the coalesce(0) branch below, same as NULL text
    toks = (docs.select(id_col, F.explode(F.filter(
                F.split(F.col(text_col), " "),
                lambda t: t != F.lit(""))).alias("tok"))
            .withColumn("h", F.xxhash64("tok")))
    # vote_i = sum over tokens of (bit_i(h) ? +1 : -1)
    aggs = [F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1)) * 2 - 1)
            .alias(f"v{i}") for i in range(bits)]
    votes = toks.groupBy(id_col).agg(*aggs)
    # sig bit_i = vote_i > 0; shiftleft on long reinterprets bit 63 as sign
    sig = votes.select(
        id_col,
        sum((F.col(f"v{i}") > 0).cast("long") * F.shiftleft(F.lit(1).cast("long"), i)
            for i in range(bits)).alias("simhash"))
    # docs with no tokens (empty text) vanish in the groupBy: restore as 0
    return (docs.select(id_col).join(sig, id_col, "left")
            .select(id_col, F.coalesce("simhash", F.lit(0)).alias("simhash")))


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 3,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """SimHash near-dups: band the 64-bit signature into 4x16-bit chunks
    (pigeonhole: hamming<=3 pairs share at least one chunk), equi-join on
    chunks, verify hamming distance with bit_count."""
    sig = simhash_values(docs, id_col, text_col)
    chunks = sig.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk_no"),
                     F.shiftright("simhash", 16 * c).bitwiseAND(F.lit(0xFFFF))
                     .alias("chunk"))
            for c in range(4)])).alias("e")
    ).select(id_col, "simhash", "e.chunk_no", "e.chunk")
    a = chunks.select(F.col(id_col).alias("a"), F.col("simhash").alias("sa"),
                      "chunk_no", "chunk")
    b = chunks.select(F.col(id_col).alias("b"), F.col("simhash").alias("sb"),
                      "chunk_no", "chunk")
    cand = (a.join(b, ["chunk_no", "chunk"]).filter("a < b")
             .select("a", "b", "sa", "sb").distinct())
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (cand.withColumn("hamming", ham)
                .filter(F.col("hamming") <= max_hamming)
                .select("a", "b", "hamming"))
