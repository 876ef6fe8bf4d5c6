"""k-nearest-neighbor operators: point kNN joins and embedding similarity
search for training-data pipelines.

knn_join is the one exact cosine ranker: per-side norms, a broadcast
nested-loop join against the query table, cosine as a native
expression, and a two-stage top-k whose only exchange carries
(q_id, n_id, cos) rows. The approximate paths are candidate filters in
front of it:
- ann_lsh_embeddings: random-hyperplane LSH signatures on the table
  side; the candidates are the rows in the union of every query's
  multi-probe buckets.
- ivf_search: the lists of an MLlib KMeans coarse quantizer
  (ivf_index); the candidates are the rows in the union of every
  query's n_probe nearest lists.
ann_recall / ivf_recall measure them against knn_join. The batch joins
keep both sides DataFrames: knn_join_bucketed meets each query with its
own probed LSH buckets in an equi-join and ranks with knn_join's
cosine, and knn_join_points is the xyz analogue, a grid-cell equi-join
with a per-query completeness flag.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F


# the query side is broadcast through the driver by design ("few queries
# against a big table"); this bounds the driver memory footprint
MAX_DRIVER_QUERIES = 100_000


def _check_query_count(n: int):
    if n > MAX_DRIVER_QUERIES:
        raise ValueError(
            f"{n} queries exceeds MAX_DRIVER_QUERIES={MAX_DRIVER_QUERIES}: "
            "the query side is collected to the driver and broadcast. For "
            "query sets this large use the join-based batch paths where "
            "both sides stay DataFrames: knn_join_bucketed (embeddings, "
            "LSH bucket equi-join) or knn_join_points (xyz, grid cell "
            "equi-join).")


def _driver_queries(spark, queries):
    """The queries of the candidate-filter paths, given as (q_id, vector)
    pairs or a DataFrame whose first two columns are those, in two forms:
    float64 pairs on the driver for the filter to probe with, and the
    `q_id long, qv array<double>` DataFrame knn_join ranks."""
    if isinstance(queries, DataFrame):
        queries = [(r[0], r[1]) for r in queries.collect()]
    q = [(int(i), np.asarray(v, dtype=np.float64)) for i, v in queries]
    _check_query_count(len(q))
    qdf = spark.createDataFrame([(i, v.tolist()) for i, v in q],
                                "q_id long, qv array<double>")
    return q, qdf


def _norm(c):
    """L2 norm of an array column as a native expression. A zero vector
    gets norm 1.0, so its cosine is 0.0, never NULL."""
    n = F.sqrt(F.aggregate(c, F.lit(0.0),
                           lambda a, x: a + x.cast("double") * x))
    return F.when(n == 0.0, F.lit(1.0)).otherwise(n)


def _cosine():
    """Cosine of the `_ev` and `_qv` vector columns, given their `_en` and
    `_qn` norms."""
    dot = F.aggregate(
        F.zip_with("_ev", "_qv", lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, x: acc + x)
    return dot / (F.col("_en") * F.col("_qn"))


def _two_stage_topk(cand: DataFrame, order_cols, k: int) -> DataFrame:
    """Per-q_id top-k with a GUARANTEED map-side cut before the exchange.

    Catalyst's InferWindowGroupLimit plants the Partial/Final
    WindowGroupLimit pair around the q_id exchange only while
    k <= spark.sql.optimizer.windowGroupLimitThreshold (default 1000) —
    inside that range the plain window+filter below already compiles to
    the optimal two-stage plan with ONE candidate exchange (plan-audited).
    For k beyond the threshold (or the rule disabled with -1), Catalyst
    would silently drop the partial cut and one task could receive every
    candidate for a hot q_id — so this helper re-inserts the explicit
    partition-local pre-rank in exactly those configurations."""
    w = Window.partitionBy("q_id").orderBy(*order_cols)
    try:
        thr = int(cand.sparkSession.conf.get(
            "spark.sql.optimizer.windowGroupLimitThreshold", "1000"))
    except Exception:
        thr = 1000
    if thr < 0 or k > thr:
        wl = Window.partitionBy("_pid", "q_id").orderBy(*order_cols)
        cand = (cand.withColumn("_pid", F.spark_partition_id())
                .withColumn("_lr", F.row_number().over(wl))
                .filter(F.col("_lr") <= k).drop("_lr", "_pid"))
    return (cand.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k))


def _lsh_planes(n_planes: int, dim: int, seed: int) -> np.ndarray:
    """The random hyperplanes of every LSH path: one seed threads through
    the table and the query side, so signatures can never drift apart."""
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def _signature(margins: np.ndarray) -> np.ndarray:
    """LSH bucket of hyperplane margins (..., n_planes): bit b is set when
    margin b > 0."""
    bits = (margins > 0).astype(np.int64)
    return (bits << np.arange(margins.shape[-1], dtype=np.int64)).sum(axis=-1)


def _lsh_buckets(emb: DataFrame, planes: np.ndarray, id_col: str,
                 vec_col: str) -> DataFrame:
    """(n_id, _ev, bucket): every table row with its LSH bucket, one numpy
    matmul per Arrow batch."""
    def table_buckets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:       # np.stack rejects zero-row batches
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame({"n_id": pdf[id_col].to_numpy(),
                                "_ev": pdf[vec_col],
                                "bucket": _signature(m @ planes.T)})

    vec_type = dict(emb.dtypes)[vec_col]
    return emb.mapInPandas(
        table_buckets, schema=f"n_id long, _ev {vec_type}, bucket long")


def _probe_buckets(margins: np.ndarray, n_planes: int,
                   n_probes: int) -> list[int]:
    """Multi-probe LSH bucket list for one query given its hyperplane
    margins. Standard multi-probe perturbation: candidate buckets are the
    base signature with SUBSETS of the least-confident bits flipped,
    ranked by the summed |margin| of the flipped bits (single-bit-only
    probing plateaus at Hamming-1 recall). Subsets are drawn from the m
    smallest margins, m capped so candidate count stays tiny."""
    base = int(_signature(margins))
    if n_probes <= 1:
        return [base]
    import heapq
    import itertools
    order = np.argsort(np.abs(margins))
    m = min(n_planes, 8)
    cands = ((sum(abs(float(margins[order[i]])) for i in comb),
              sum(1 << int(order[i]) for i in comb))
             for r in range(1, m + 1)
             for comb in itertools.combinations(range(m), r))
    best = heapq.nsmallest(n_probes - 1, cands)
    return [base] + [base ^ mask for _, mask in best]


def ann_lsh_embeddings(emb: DataFrame, queries, k: int = 10,
                       n_planes: int = 8, dim: int | None = None,
                       n_probes: int = 1, seed: int = 42) -> DataFrame:
    """Approximate kNN: an LSH candidate filter in front of knn_join.
    emb (vec_id, embedding); queries a list of (q_id, vector) or a
    DataFrame. Returns (q_id, n_id, cos).

    Each query probes its own signature bucket and, with n_probes > 1,
    the buckets whose hyperplane margins are smallest (flip the
    least-confident bits) — the standard recall repair for hyperplane LSH
    without extra tables. The candidates are the table rows in the UNION
    of every query's probed buckets, and knn_join ranks every query
    against all of them. So the scan grows with the query count: at 6
    planes and 16 probes, the 10 queries of the sf0.01 recall floor
    cover 59 of the 64 buckets, 469 of the 500 rows. knn_join_bucketed
    is the path that restricts each query to its own buckets."""
    q, qdf = _driver_queries(emb.sparkSession, queries)
    planes = _lsh_planes(n_planes, dim or len(q[0][1]), seed)
    wanted = sorted({b for _, v in q
                     for b in _probe_buckets(planes @ v, n_planes, n_probes)})
    cand = (_lsh_buckets(emb, planes, "vec_id", "embedding")
            .filter(F.col("bucket").isin(wanted)))
    return (knn_join(cand, qdf, k, id_col="n_id", vec_col="_ev")
            .select("q_id", "n_id", "cos"))


def knn_join(emb: DataFrame, queries: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "qv") -> DataFrame:
    """Fully distributed EXACT kNN join, the module's one exact cosine
    ranker: the query side stays a DataFrame (no driver collect).
    Physical shape: per-side norms computed map-side, broadcast
    nested-loop join against the (small) query table, cosine as a native
    zip_with/aggregate expression, then TWO-STAGE top-k via Catalyst's
    WindowGroupLimit (Spark >= 3.5): the row_number()<=k filter plants a
    PARTIAL WindowGroupLimit before the exchange, so every map partition
    is cut to k rows per q_id with NO shuffle, the single exchange on
    q_id then carries at most k*partitions rows per query (skew-safe — no
    task ever receives ~N rows), and the FINAL WindowGroupLimit + window
    rank the survivors (pinned by scripts/plan_audit.py's
    WindowGroupLimit checks). The vector columns are projected away
    before the exchange, so shuffles carry (q_id, n_id, cos) triples,
    never embeddings. Zero Python.

    Broadcast bounds the query side by executor memory; for query sets
    too big to broadcast, use knn_join_bucketed (both sides stay
    DataFrames, LSH-bucket equi-join). Returns (q_id, n_id, cos,
    rank<=k)."""
    e = emb.select(F.col(id_col).alias("n_id"),
                   F.col(vec_col).alias("_ev"),
                   _norm(F.col(vec_col)).alias("_en"))
    q = queries.select(F.col(q_id_col).alias("q_id"),
                       F.col(q_vec_col).alias("_qv"),
                       _norm(F.col(q_vec_col)).alias("_qn"))
    j = (e.crossJoin(F.broadcast(q))
         .withColumn("cos", _cosine())
         .select("q_id", "n_id", "cos"))
    return (_two_stage_topk(j, [F.col("cos").desc(), F.col("n_id").asc()], k)
            .select("q_id", "n_id", "cos", "rank"))


def knn_join_bucketed(emb: DataFrame, queries: DataFrame, k: int = 10,
                      n_planes: int = 8, n_probes: int = 1,
                      dim: int | None = None, seed: int = 42,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      q_id_col: str = "q_id", q_vec_col: str = "qv") -> DataFrame:
    """Batch kNN join for query sets too big to broadcast or collect —
    the scale path _check_query_count points at. BOTH sides stay
    DataFrames end to end:

    1. table side gets its LSH bucket (one Arrow pass, _lsh_buckets);
    2. query side gets its n_probes multi-probe buckets (same planes,
       same seed — signatures can never drift), exploded to one row per
       (query, probed bucket);
    3. candidates = equi-join on bucket — a hash shuffle of
       ~n_probes/2^n_planes of the table per query region, never a cross
       product and never a driver collect;
    4. knn_join's exact cosine on the candidate pairs; multi-probe
       duplicates collapse via groupBy(q_id, n_id) max (a
       map-side-combined agg, skipped when n_probes == 1 since buckets
       are then disjoint);
    5. the same partition-local-then-global two-stage top-k as knn_join.

    Exact within the probed buckets: with n_probes == 2**n_planes every
    bucket is probed and the result equals the exact kNN join (the
    oracle-checked configuration). Below that, each query sees only its
    OWN probed buckets, while ann_lsh_embeddings (same signatures, same
    probe sequence) ranks every query against the union of all queries'
    buckets, so recall here is at most ann_lsh_embeddings' at the same
    settings. Returns (q_id, n_id, cos, rank<=k)."""
    if dim is None:
        dim = emb.select(F.size(vec_col)).first()[0]
    planes = _lsh_planes(n_planes, dim, seed)

    def query_buckets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf[q_vec_col].to_numpy()).astype(np.float64)
            margins = m @ planes.T                    # (Q, n_planes)
            qid, qv, bk = [], [], []
            for row_i in range(len(pdf)):
                for b in _probe_buckets(margins[row_i], n_planes, n_probes):
                    qid.append(pdf[q_id_col].iat[row_i])
                    qv.append(pdf[q_vec_col].iat[row_i])
                    bk.append(b)
            yield pd.DataFrame({"q_id": qid, "_qv": qv,
                                "bucket": np.array(bk, dtype=np.int64)})

    q_vec_type = dict(queries.dtypes)[q_vec_col]
    e_b = _lsh_buckets(emb, planes, id_col, vec_col)
    q_b = queries.mapInPandas(
        query_buckets, schema=f"q_id long, _qv {q_vec_type}, bucket long")

    # r7 (guide §2.5): the equi-join key has only 2**n_planes distinct
    # values, so at most that many reduce tasks ever run — at n_planes=3
    # a 32-core session was idling 24 cores through the most expensive
    # stage. Salt the key: the table side gets a deterministic salt from
    # its id (retry-safe, never rand()), the query side replicates over
    # all salts, and the join key becomes (bucket, _salt) with
    # n_buckets * salt_n spread. salt_n derives from the session's
    # parallelism and collapses to 1 (a no-op literal) once n_planes is
    # sized for scale (2**n_planes >= cores), so production probe
    # configs pay nothing.
    par = emb.sparkSession.sparkContext.defaultParallelism
    salt_n = max(1, -(-2 * par // (2 ** n_planes)))
    if salt_n > 1:
        e_b = e_b.withColumn("_salt",
                             F.pmod(F.xxhash64("n_id"), F.lit(salt_n)))
        q_b = q_b.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1))))
        join_key = ["bucket", "_salt"]
    else:
        join_key = ["bucket"]

    # per-row norms hoisted out of the join projection (r7): the former
    # inline norm(_ev)/norm(_qv) re-ran the 64-element aggregate once per
    # CANDIDATE PAIR — 3x the per-pair flops; computed once per row
    # map-side the join projection only multiplies two cached doubles.
    # Same expression over the same values, so cos is bit-identical.
    e_b = e_b.withColumn("_en", _norm(F.col("_ev")))
    q_b = q_b.withColumn("_qn", _norm(F.col("_qv")))

    cand = (e_b.join(q_b, join_key)
            .withColumn("cos", _cosine())
            .select("q_id", "n_id", "cos"))
    if n_probes > 1:
        cand = cand.groupBy("q_id", "n_id").agg(F.max("cos").alias("cos"))
    # two-stage top-k: WindowGroupLimit partial/final inside the
    # threshold, explicit pre-rank beyond it (see _two_stage_topk)
    return (_two_stage_topk(cand,
                            [F.col("cos").desc(), F.col("n_id").asc()], k)
            .select("q_id", "n_id", "cos", "rank"))


def knn_join_points(points: DataFrame, queries: DataFrame, k: int = 10,
                    cell_size: float = 1.0, n_rings: int = 1,
                    id_col: str = "point_id",
                    q_id_col: str = "q_id") -> DataFrame:
    """Distributed grid-bucketed kNN join for POINT tables — both sides
    stay DataFrames (the xyz companion to knn_join_bucketed). Standard
    grid kNN with completeness verification:

    1. points get their 3D grid cell natively (floor + Morton-free pack);
    2. each query explodes to its (2*n_rings+1)^3 neighbor cells — pure
       array-literal explode, zero Python;
    3. candidates = equi-join on cell_id (a hash shuffle of only the
       neighborhood's points per query region, never a cross product);
    4. exact squared euclidean as native exprs, two-stage top-k via
       Catalyst's WindowGroupLimit (partial map-side cut to k per q_id
       before the exchange, final cut + rank after — see knn_join);
    5. per-row `complete` flag: the result is PROVABLY exact for query q
       iff q got k rows AND its k-th distance < n_rings * cell_size
       (every point outside the probed rings is at least that far) —
       callers re-run incomplete queries with a larger n_rings/cell_size.
       At scale this is the standard two-pass shape: one cheap pass
       answers ~all queries, the few incomplete ones re-run wider.

    NOTE a query whose probed rings hold ZERO points produces NO output
    rows at all (an equi-join cannot emit it), so the incomplete set for
    the second pass is `filter(NOT complete)` PLUS the absent queries:
    ``queries.join(result, "q_id", "left_anti")``. The same applies to
    knn_join_bucketed at non-exhaustive probe counts.

    SIZING CONTRACT: the grid spans ``[-cell_size * 2^20, cell_size *
    2^20)`` per axis; coordinates beyond that clamp into the boundary bin.
    Clamping never loses correctness (clamped rows become candidates and
    are distance-filtered; `complete` stays the exactness gate) but if a
    LARGE fraction of the input clamps, the boundary bin becomes one hot
    cell — a join-skew cliff. Size cell_size so the coordinate domain
    fits the bin range (e.g. ECEF meters, |coord| <= ~6.4e6, needs
    cell_size >= ~6.2 m; geographic degrees fit at any cell_size >=
    ~0.0002). For pathological inputs, pre-filter or re-center
    coordinates rather than shrinking cell_size below the domain bound.

    Returns (q_id, n_id, dist, rank<=k, complete)."""
    cell = float(cell_size)

    def cell_id(xc, yc, zc):
        # bins clamp to [0, 2^21) exactly like geometry._pack_bins:
        # without the clamp, coordinates beyond ~cell_size * 2^20 (ECEF
        # meters at cell_size=1) overflow the signed-long pack and fail
        # under ANSI mode. Clamping aliases everything beyond the range
        # edge into the boundary bin — those rows become candidates (then
        # distance-filtered), never silently missed, and the per-query
        # `complete` flag remains the correctness gate.
        m = F.lit(1 << 21)

        def b(c):
            raw = F.floor(c / cell).cast("long") + F.lit(1 << 20)
            return F.least(F.greatest(raw, F.lit(0)),
                           F.lit((1 << 21) - 1))

        return (b(xc) * m + b(yc)) * m + b(zc)

    p = points.select(F.col(id_col).alias("n_id"),
                      F.col("x").alias("_px"), F.col("y").alias("_py"),
                      F.col("z").alias("_pz"),
                      cell_id(F.col("x"), F.col("y"),
                              F.col("z")).alias("cell_id"))
    r = n_rings
    m = F.lit(1 << 21)

    def clamp(b):
        return F.least(F.greatest(b, F.lit(0)), F.lit((1 << 21) - 1))

    def qbin(col):
        return F.floor(F.col(col) / cell).cast("long") + F.lit(1 << 20)

    # neighbor cells clamp PER AXIS (adding a packed offset to a boundary
    # cell id would overflow the signed long); array_distinct collapses
    # the ring cells that alias onto the boundary bin so a (q, n) pair is
    # never produced twice
    ring = [
        (clamp(qbin("x") + dx) * m + clamp(qbin("y") + dy)) * m
        + clamp(qbin("z") + dz)
        for dx in range(-r, r + 1) for dy in range(-r, r + 1)
        for dz in range(-r, r + 1)]
    q = (queries.select(F.col(q_id_col).alias("q_id"),
                        F.col("x").alias("_qx"), F.col("y").alias("_qy"),
                        F.col("z").alias("_qz"),
                        F.array_distinct(F.array(*ring)).alias("_cells"))
         .withColumn("cell_id", F.explode("_cells"))
         .drop("_cells"))
    dist = F.sqrt((F.col("_px") - F.col("_qx")) ** 2
                  + (F.col("_py") - F.col("_qy")) ** 2
                  + (F.col("_pz") - F.col("_qz")) ** 2)
    cand = (p.join(q, "cell_id")
            .withColumn("dist", dist)
            .select("q_id", "n_id", "dist"))
    # two-stage top-k: WindowGroupLimit partial/final inside the
    # threshold, explicit pre-rank beyond it (see _two_stage_topk)
    ranked = _two_stage_topk(
        cand, [F.col("dist").asc(), F.col("n_id").asc()], k)
    wq = Window.partitionBy("q_id")
    return (ranked
            .withColumn("_kth", F.max("dist").over(wq))
            .withColumn("_n", F.count(F.lit(1)).over(wq))
            .withColumn("complete",
                        (F.col("_n") == k)
                        & (F.col("_kth") < F.lit(r * cell)))
            .select("q_id", "n_id", "dist", "rank", "complete"))


def ivf_index(emb: DataFrame, n_lists: int = 16, seed: int = 42,
              max_iter: int = 10,
              id_col: str = "vec_id", vec_col: str = "embedding"):
    """IVF coarse quantizer — the alternative ANN scale path to
    hyperplane LSH: MLlib KMeans (the idiomatic Spark trainer — Lloyd's
    iterations as distributed jobs) learns n_lists centroids, every
    vector is assigned to its nearest list, and searches only probe the
    closest lists. Returns (assigned_df with `list_id`, centroids
    float64 (n_lists, dim)). Deterministic for a fixed seed."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.withColumn("_fv", array_to_vector(F.col(vec_col)))
    model = KMeans(k=n_lists, seed=seed, maxIter=max_iter,
                   featuresCol="_fv", predictionCol="list_id").fit(feats)
    assigned = model.transform(feats).drop("_fv")
    centroids = np.stack([np.asarray(c) for c in model.clusterCenters()])
    return assigned, centroids


def ivf_search(assigned: DataFrame, centroids: np.ndarray, queries,
               k: int = 10, n_probe: int = 4,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ANN top-k over an IVF index: an IVF candidate filter in front of
    knn_join. Each query probes its n_probe nearest centroid lists
    (euclidean, matching the KMeans objective); the candidates are the
    rows in the UNION of every query's probed lists, and knn_join ranks
    every query against all of them. So the scan grows with the query
    count: at 16 lists and 2 probes, the 10 queries of the sf0.01 recall
    floor cover 11 lists, 465 of the 500 rows. Returns (q_id, n_id,
    cos)."""
    q, qdf = _driver_queries(assigned.sparkSession, queries)
    wanted = sorted({
        int(l)
        for _, v in q
        for l in np.argsort(((centroids - v) ** 2).sum(axis=1))[:n_probe]})
    cand = assigned.filter(F.col("list_id").isin(wanted))
    return (knn_join(cand, qdf, k, id_col=id_col, vec_col=vec_col)
            .select("q_id", "n_id", "cos"))


def ivf_recall(emb: DataFrame, queries, k: int = 10, n_lists: int = 16,
               n_probe: int = 4, seed: int = 42) -> float:
    """Measured recall@k of the IVF path vs the exact knn_join answer
    (same acceptance metric as ann_recall for the LSH path)."""
    _, qdf = _driver_queries(emb.sparkSession, queries)
    exact = {(r.q_id, r.n_id) for r in knn_join(emb, qdf, k).collect()}
    assigned, cents = ivf_index(emb, n_lists=n_lists, seed=seed)
    approx = {(r.q_id, r.n_id)
              for r in ivf_search(assigned, cents, queries, k,
                                  n_probe=n_probe).collect()}
    return len(exact & approx) / max(1, len(exact))


def ann_recall(emb: DataFrame, queries, k: int = 10, n_planes: int = 8,
               n_probes: int = 1, seed: int = 42) -> float:
    """Measured recall@k of the LSH path vs the exact knn_join answer —
    the acceptance metric for tuning n_planes/n_probes on a sample before
    a full-table run."""
    _, qdf = _driver_queries(emb.sparkSession, queries)
    exact = {(r.q_id, r.n_id) for r in knn_join(emb, qdf, k).collect()}
    approx = {(r.q_id, r.n_id)
              for r in ann_lsh_embeddings(emb, queries, k, n_planes,
                                          n_probes=n_probes,
                                          seed=seed).collect()}
    return len(exact & approx) / max(1, len(exact))
