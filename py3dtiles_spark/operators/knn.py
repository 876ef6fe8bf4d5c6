"""k-nearest-neighbor operators: point kNN joins and embedding similarity
search for training-data pipelines.

Every embedding search ranks through one exact cosine top-k
(_top_cosine: cosine of map-side norms as a native expression, then a
two-stage top-k whose only exchange carries (q_id, n_id, cos) rows).
The searches differ only in which (query, row) pairs reach it:
- knn_join: every pair; the query table is broadcast to a nested-loop
  join.
- knn_join_bucketed: random-hyperplane LSH; each query meets the table
  rows of its own multi-probe buckets in a bucket equi-join.
- ivf_search: the lists of an MLlib KMeans coarse quantizer
  (ivf_index); each query meets the rows of its own n_probe nearest
  lists in a list_id equi-join.
Both sides stay DataFrames, and each query's answer depends on that
query and the table alone, never on the rest of its batch. ann_recall /
ivf_recall measure the two indexes against knn_join. knn_join_points is
the xyz analogue, a grid-cell equi-join with a per-query completeness
flag.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from py3dtiles_spark.session import local_frame


def _norm(c):
    """L2 norm of an array column as a native expression. A zero vector
    gets norm 1.0, so its cosine is 0.0, never NULL."""
    n = F.sqrt(F.aggregate(c, F.lit(0.0),
                           lambda a, x: a + x.cast("double") * x))
    return F.when(n == 0.0, F.lit(1.0)).otherwise(n)


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


def _top_cosine(pairs: DataFrame, k: int) -> DataFrame:
    """Exact top-k by cosine of each q_id over candidate pairs that carry
    the vectors `_ev`, `_qv` and their norms `_en`, `_qn`; ties go to the
    smaller n_id. The vectors are projected away before the top-k's
    exchange. Returns (q_id, n_id, cos, rank<=k)."""
    dot = F.aggregate(
        F.zip_with("_ev", "_qv", lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, x: acc + x)
    cand = (pairs.withColumn("cos", dot / (F.col("_en") * F.col("_qn")))
            .select("q_id", "n_id", "cos"))
    return (_two_stage_topk(cand, [F.col("cos").desc(), F.col("n_id").asc()], k)
            .select("q_id", "n_id", "cos", "rank"))


def _probe_join(table: DataFrame, probes: DataFrame, key: str,
                n_keys: int, k: int) -> DataFrame:
    """Exact top-k of each query over the table rows that share one of
    its probed keys. table is (n_id, _ev, key); probes is (q_id, _qv,
    key), one row per (query, probed key) with distinct keys per query,
    so each (q_id, n_id) pair is produced at most once. key takes n_keys
    distinct values. A query whose probed keys hold no table row gets no
    rows. Returns (q_id, n_id, cos, rank<=k)."""
    # norms once per row map-side: the join projection then multiplies
    # two doubles per candidate pair instead of re-running two
    # dim-element aggregates
    table = table.withColumn("_en", _norm(F.col("_ev")))
    probes = probes.withColumn("_qn", _norm(F.col("_qv")))
    # with only n_keys distinct join keys, at most n_keys reduce tasks
    # would run the join. Salt it: each table row gets a salt from its id
    # (deterministic, so retry-safe; never rand()), and each probe row is
    # replicated over every salt. salt_n is 1, a no-op, once n_keys
    # reaches twice the session's parallelism.
    par = table.sparkSession.sparkContext.defaultParallelism
    salt_n = -(-2 * par // n_keys)
    join_key = [key]
    if salt_n > 1:
        table = table.withColumn(
            "_salt", F.pmod(F.xxhash64("n_id"), F.lit(salt_n)))
        probes = probes.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1))))
        join_key.append("_salt")
    return _top_cosine(table.join(probes, join_key), k)


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


def knn_join(emb: DataFrame, queries: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "qv") -> DataFrame:
    """Fully distributed EXACT kNN join: the query side stays a DataFrame
    (no driver collect), and every pair reaches _top_cosine.
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
    return _top_cosine(e.crossJoin(F.broadcast(q)), k)


def knn_join_bucketed(emb: DataFrame, queries: DataFrame, k: int = 10,
                      n_planes: int = 8, n_probes: int = 1,
                      dim: int | None = None, seed: int = 42,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      q_id_col: str = "q_id", q_vec_col: str = "qv") -> DataFrame:
    """Approximate kNN join through random-hyperplane LSH, for query
    sets too big to broadcast. BOTH sides stay DataFrames end to end:

    1. table side gets its LSH bucket (one Arrow pass, _lsh_buckets);
    2. query side gets its n_probes multi-probe buckets (same planes,
       same seed — signatures can never drift), one row per (query,
       probed bucket);
    3. each query meets the table rows of its OWN buckets in a bucket
       equi-join (a hash shuffle of ~n_probes/2^n_planes of the table per
       query, never a cross product) and _probe_join ranks them with the
       exact cosine top-k of knn_join.

    Exact within the probed buckets: with n_probes == 2**n_planes every
    bucket is probed and the result equals the exact kNN join (the
    oracle-checked configuration). A query's answer depends on that query
    and the table alone. A query whose probed buckets hold no table row
    gets NO rows, the contract of knn_join_points: find such queries with
    ``queries.join(result, "q_id", "left_anti")``. Returns (q_id, n_id,
    cos, rank<=k)."""
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
    return _probe_join(e_b, q_b, "bucket", 2 ** n_planes, k)


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
    ``queries.join(result, "q_id", "left_anti")``. The same holds for
    knn_join_bucketed and ivf_search.

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


def ivf_search(assigned: DataFrame, centroids: np.ndarray,
               queries: DataFrame, k: int = 10, n_probe: int = 4,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ANN top-k over an IVF index (ivf_index's assigned table and
    centroids) for a (q_id, qv) query DataFrame. Each query probes its
    n_probe nearest centroid lists (squared euclidean, matching the KMeans
    objective; ties go to the smaller list_id), a native top-k over the
    broadcast centroid table, then meets the rows of its OWN lists in a
    list_id equi-join that _probe_join ranks with the exact cosine top-k
    of knn_join. A query's answer depends on that query and the index
    alone. A query whose probed lists hold no row gets NO rows, the
    contract of knn_join_points: find such queries with
    ``queries.join(result, "q_id", "left_anti")``. Returns (q_id, n_id,
    cos, rank<=k)."""
    cents = local_frame(assigned.sparkSession,
                        {"list_id": np.arange(len(centroids)),
                         "_c": list(centroids)},
                        "list_id int, _c array<double>")

    def sq(a, b):
        d = a.cast("double") - b
        return d * d

    d2 = F.aggregate(F.zip_with("_qv", "_c", sq), F.lit(0.0),
                     lambda acc, x: acc + x)
    near = (queries.select("q_id", F.col("qv").alias("_qv"))
            .crossJoin(F.broadcast(cents))
            .withColumn("_d2", d2))
    probes = (_two_stage_topk(near, [F.col("_d2").asc(),
                                     F.col("list_id").asc()], n_probe)
              .select("q_id", "_qv", "list_id"))
    table = assigned.select(F.col(id_col).alias("n_id"),
                            F.col(vec_col).alias("_ev"), "list_id")
    return _probe_join(table, probes, "list_id", len(centroids), k)


def _recall(emb: DataFrame, queries: DataFrame, k: int,
            approx: DataFrame) -> float:
    """Share of knn_join's top-k (q_id, n_id) pairs that approx found."""
    exact = {(r.q_id, r.n_id) for r in knn_join(emb, queries, k).collect()}
    got = {(r.q_id, r.n_id) for r in approx.collect()}
    return len(exact & got) / max(1, len(exact))


def ivf_recall(emb: DataFrame, queries: DataFrame, k: int = 10,
               n_lists: int = 16, n_probe: int = 4, seed: int = 42) -> float:
    """Measured recall@k of the IVF path vs the exact knn_join answer
    (same acceptance metric as ann_recall for the LSH path); queries is a
    (q_id, qv) DataFrame."""
    assigned, cents = ivf_index(emb, n_lists=n_lists, seed=seed)
    return _recall(emb, queries, k,
                   ivf_search(assigned, cents, queries, k, n_probe=n_probe))


def ann_recall(emb: DataFrame, queries: DataFrame, k: int = 10,
               n_planes: int = 8, n_probes: int = 1, seed: int = 42) -> float:
    """Measured recall@k of the LSH path (knn_join_bucketed) vs the exact
    knn_join answer — the acceptance metric for tuning n_planes/n_probes
    on a sample before a full-table run; queries is a (q_id, qv)
    DataFrame."""
    return _recall(emb, queries, k,
                   knn_join_bucketed(emb, queries, k, n_planes, n_probes,
                                     seed=seed))
