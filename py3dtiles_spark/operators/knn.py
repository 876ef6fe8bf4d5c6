"""k-nearest-neighbor operators: point kNN joins and embedding similarity
search for training-data pipelines.

Physical strategies:
- knn_points / knn_embeddings (brute force): queries are broadcast; each
  input partition computes its local top-k per query in one Arrow batch
  pass (numpy matmul), then a global top-k window reduces
  partitions*k*q rows — the only shuffle is over candidate rows
  (k * q * partitions), never the full table.
- ann_lsh_embeddings: random-hyperplane signatures bucket both sides;
  exact re-rank inside buckets. Recall < 1, cost ~ bucket sizes — the
  100 TB scale path.
- knn_join_points: both sides DataFrames, grid-cell equi-join with a
  per-query completeness flag; knn_points is its brute-force reference,
  and ann_recall / ivf_recall measure the approximate paths against the
  exact one.
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


def _topk_window(df: DataFrame, part_col: str, order_col: str, k: int) -> DataFrame:
    w = Window.partitionBy(part_col).orderBy(F.col(order_col).asc(),
                                             F.col("n_id").asc())
    return (df.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= k).drop("rank"))


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


def knn_points(points: DataFrame, queries, k: int = 10) -> DataFrame:
    """Exact kNN of each query (q_id, x, y, z) against a big point table
    (point_id, x, y, z). queries: small list of tuples or DataFrame.
    Returns (q_id, n_id, dist)."""
    if isinstance(queries, DataFrame):
        q = [(r.q_id, r.x, r.y, r.z) for r in queries.collect()]
    else:
        q = list(queries)
    _check_query_count(len(q))
    q_ids = np.array([t[0] for t in q], dtype=np.int64)
    q_xyz = np.array([t[1:4] for t in q], dtype=np.float64)

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc_d = {int(i): np.full(k, np.inf) for i in q_ids}
        acc_n = {int(i): np.full(k, -1, dtype=np.int64) for i in q_ids}
        for pdf in batches:
            xyz = pdf[["x", "y", "z"]].to_numpy(dtype=np.float64)
            ids = pdf["point_id"].to_numpy(dtype=np.int64)
            # (Q, N) squared distances in one matmul-free broadcast
            d = ((q_xyz[:, None, :] - xyz[None, :, :]) ** 2).sum(axis=2)
            for qi, qid in enumerate(q_ids):
                dd = np.concatenate([acc_d[int(qid)], d[qi]])
                nn = np.concatenate([acc_n[int(qid)], ids])
                sel = np.argsort(dd, kind="stable")[:k]
                acc_d[int(qid)] = dd[sel]
                acc_n[int(qid)] = nn[sel]
        rows = []
        for qid in q_ids:
            m = acc_n[int(qid)] >= 0
            rows.append(pd.DataFrame({
                "q_id": int(qid),
                "n_id": acc_n[int(qid)][m],
                "dist": np.sqrt(acc_d[int(qid)][m])}))
        if rows:
            yield pd.concat(rows, ignore_index=True)

    cand = points.mapInPandas(local_topk, "q_id long, n_id long, dist double")
    return _topk_window(cand, "q_id", "dist", k)


def knn_embeddings(emb: DataFrame, queries, k: int = 10) -> DataFrame:
    """Exact top-k cosine similarity: emb (vec_id, embedding array<float>);
    queries list of (q_id, vector) or DataFrame. Returns (q_id, n_id, cos).
    One numpy matmul per Arrow batch — the brute-force baseline."""
    if isinstance(queries, DataFrame):
        q = [(r[0], np.asarray(r[1], dtype=np.float64)) for r in queries.collect()]
    else:
        q = [(i, np.asarray(v, dtype=np.float64)) for i, v in queries]
    _check_query_count(len(q))
    q_ids = np.array([t[0] for t in q], dtype=np.int64)
    qm = np.stack([t[1] for t in q])
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[int, tuple[np.ndarray, np.ndarray]] = {
            int(i): (np.full(k, -np.inf), np.full(k, -1, dtype=np.int64))
            for i in q_ids}
        for pdf in batches:
            if pdf.empty:       # np.stack rejects zero-row batches
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            m = m / norms[:, None]
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            sims = qm @ m.T                      # (Q, N)
            for qi, qid in enumerate(q_ids):
                ss, nn = acc[int(qid)]
                alls = np.concatenate([ss, sims[qi]])
                alln = np.concatenate([nn, ids])
                sel = np.argsort(-alls, kind="stable")[:k]
                acc[int(qid)] = (alls[sel], alln[sel])
        rows = []
        for qid in q_ids:
            ss, nn = acc[int(qid)]
            mask = nn >= 0
            rows.append(pd.DataFrame(
                {"q_id": int(qid), "n_id": nn[mask], "cos": ss[mask]}))
        if rows:
            yield pd.concat(rows, ignore_index=True)

    cand = emb.mapInPandas(local_topk, "q_id long, n_id long, cos double")
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(),
                                           F.col("n_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k).drop("rank"))


def lsh_signature_expr(dim: int, n_planes: int, seed: int = 42):
    """Random-hyperplane LSH bucket as a deterministic numpy pandas kernel;
    returns a mapInPandas function adding a `bucket` long column."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    def add_bucket(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            bits = (m @ planes.T) > 0
            bucket = np.zeros(len(pdf), dtype=np.int64)
            for b in range(n_planes):
                bucket |= bits[:, b].astype(np.int64) << b
            out = pdf.copy()
            out["bucket"] = bucket
            yield out

    return add_bucket


def _probe_buckets(margins: np.ndarray, n_planes: int,
                   n_probes: int) -> list[int]:
    """Multi-probe LSH bucket list for one query given its hyperplane
    margins. Standard multi-probe perturbation: candidate buckets are the
    base signature with SUBSETS of the least-confident bits flipped,
    ranked by the summed |margin| of the flipped bits (single-bit-only
    probing plateaus at Hamming-1 recall). Subsets are drawn from the m
    smallest margins, m capped so candidate count stays tiny."""
    base = int(sum(1 << i for i, b in enumerate(margins > 0) if b))
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
    """Approximate kNN: restrict the exact scan to the query's LSH bucket.
    At scale the bucket join is an equi-join shuffle of ~probes/2^planes of
    the table per query instead of a full scan.

    Multi-probe: n_probes > 1 additionally scans the buckets whose
    hyperplane margin is smallest (flip the least-confident bits) — the
    standard recall repair for hyperplane LSH without extra tables. One
    seed threads through both the table and query side so signatures can
    never drift apart."""
    if isinstance(queries, DataFrame):
        q = [(r[0], np.asarray(r[1], dtype=np.float64)) for r in queries.collect()]
    else:
        q = [(i, np.asarray(v, dtype=np.float64)) for i, v in queries]
    _check_query_count(len(q))
    dim = dim or len(q[0][1])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    wanted = sorted({b for _, v in q
                     for b in _probe_buckets(planes @ v, n_planes, n_probes)})
    from pyspark.sql.types import LongType, StructField, StructType
    out_schema = StructType(list(emb.schema.fields)
                            + [StructField("bucket", LongType())])
    bucketed = emb.mapInPandas(lsh_signature_expr(dim, n_planes, seed),
                               schema=out_schema)
    cand = bucketed.filter(F.col("bucket").isin(wanted))
    return knn_embeddings(cand.select("vec_id", "embedding"), q, k)


def knn_join(emb: DataFrame, queries: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "qv") -> DataFrame:
    """Fully distributed EXACT kNN join: the query side stays a DataFrame
    (no driver collect — the scalable companion to knn_embeddings when
    queries are themselves a table). Physical shape: per-side norms
    computed map-side, broadcast nested-loop join against the (small)
    query table, cosine as a native zip_with/aggregate expression, then
    TWO-STAGE top-k via Catalyst's WindowGroupLimit (Spark >= 3.5): the
    row_number()<=k filter plants a PARTIAL WindowGroupLimit before the
    exchange, so every map partition is cut to k rows per q_id with NO
    shuffle, the single exchange on q_id then carries at most
    k*partitions rows per query (skew-safe — no task ever receives ~N
    rows), and the FINAL WindowGroupLimit + window rank the survivors.
    (r6: this replaces a manual _pid pre-rank stage that shuffled ALL
    candidates on (_pid, q_id) before the q_id exchange — one whole
    exchange of the candidate set gone, same skew guarantee, pinned by
    scripts/plan_audit.py's WindowGroupLimit checks.) The vector columns
    are projected away before the exchange, so shuffles carry
    (q_id, n_id, cos) triples, never embeddings. Zero Python.

    Broadcast bounds the query side by executor memory; for query sets
    too big to broadcast, use knn_join_bucketed (both sides stay
    DataFrames, LSH-bucket equi-join). Returns (q_id, n_id, cos,
    rank<=k)."""
    def norm(c):
        n = F.sqrt(F.aggregate(c, F.lit(0.0),
                               lambda a, x: a + x.cast("double") * x))
        # zero-vector guard, same convention as knn_embeddings
        # (norms[norms == 0] = 1.0): cos becomes 0.0, never NULL
        return F.when(n == 0.0, F.lit(1.0)).otherwise(n)

    e = emb.select(F.col(id_col).alias("n_id"),
                   F.col(vec_col).alias("_ev"),
                   norm(F.col(vec_col)).alias("_en"))
    q = queries.select(F.col(q_id_col).alias("q_id"),
                       F.col(q_vec_col).alias("_qv"),
                       norm(F.col(q_vec_col)).alias("_qn"))
    dot = F.aggregate(
        F.zip_with("_ev", "_qv", lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, x: acc + x)
    j = (e.crossJoin(F.broadcast(q))
         .withColumn("cos", dot / (F.col("_en") * F.col("_qn")))
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

    1. table side gets its LSH bucket (one Arrow pass, lsh_signature_expr
       planes, seed-shared);
    2. query side gets its n_probes multi-probe buckets (same planes,
       same seed — signatures can never drift), exploded to one row per
       (query, probed bucket);
    3. candidates = equi-join on bucket — a hash shuffle of
       ~n_probes/2^n_planes of the table per query region, never a cross
       product and never a driver collect;
    4. exact cosine on candidates as native zip_with/aggregate exprs;
       multi-probe duplicates collapse via groupBy(q_id, n_id) max (a
       map-side-combined agg, skipped when n_probes == 1 since buckets
       are then disjoint);
    5. the same partition-local-then-global two-stage top-k as knn_join.

    Exact within the probed buckets: with n_probes == 2**n_planes every
    bucket is probed and the result equals the exact kNN join (the
    oracle-checked configuration); at production settings recall follows
    ann_lsh_embeddings (same signatures, same probe sequence).
    Returns (q_id, n_id, cos, rank<=k)."""
    if dim is None:
        dim = emb.select(F.size(vec_col)).first()[0]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    def table_buckets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:       # np.stack rejects zero-row batches
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (m @ planes.T) > 0
            bucket = np.zeros(len(pdf), dtype=np.int64)
            for b in range(n_planes):
                bucket |= bits[:, b].astype(np.int64) << b
            yield pd.DataFrame({"n_id": pdf[id_col].to_numpy(),
                                "_ev": pdf[vec_col],
                                "bucket": bucket})

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

    vec_type = dict(emb.dtypes)[vec_col]
    q_vec_type = dict(queries.dtypes)[q_vec_col]
    e_b = emb.mapInPandas(
        table_buckets, schema=f"n_id long, _ev {vec_type}, bucket long")
    q_b = queries.mapInPandas(
        query_buckets, schema=f"q_id long, _qv {q_vec_type}, bucket long")

    def norm(c):
        n = F.sqrt(F.aggregate(c, F.lit(0.0),
                               lambda a, x: a + x.cast("double") * x))
        return F.when(n == 0.0, F.lit(1.0)).otherwise(n)

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
    e_b = e_b.withColumn("_en", norm(F.col("_ev")))
    q_b = q_b.withColumn("_qn", norm(F.col("_qv")))

    dot = F.aggregate(
        F.zip_with("_ev", "_qv", lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, x: acc + x)
    cand = (e_b.join(q_b, join_key)
            .withColumn("cos", dot / (F.col("_en") * F.col("_qn")))
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
    """ANN top-k over an IVF index: each query probes its n_probe nearest
    centroid lists (euclidean, matching the KMeans objective), the scan
    is an equi-join on list_id (~n_probe/n_lists of the table), and the
    exact cosine ranking runs on the candidates only."""
    if isinstance(queries, DataFrame):
        q = [(r[0], np.asarray(r[1], dtype=np.float64))
             for r in queries.collect()]
    else:
        q = [(i, np.asarray(v, dtype=np.float64)) for i, v in queries]
    _check_query_count(len(q))
    wanted = sorted({
        int(l)
        for _, v in q
        for l in np.argsort(((centroids - v) ** 2).sum(axis=1))[:n_probe]})
    cand = assigned.filter(F.col("list_id").isin(wanted))
    # knn_embeddings hardcodes vec_id/embedding; alias custom names in
    return knn_embeddings(
        cand.select(F.col(id_col).alias("vec_id"),
                    F.col(vec_col).alias("embedding")), q, k)


def ivf_recall(emb: DataFrame, queries, k: int = 10, n_lists: int = 16,
               n_probe: int = 4, seed: int = 42) -> float:
    """Measured recall@k of the IVF path vs exact brute force (same
    acceptance metric as ann_recall for the LSH path)."""
    exact = {(r.q_id, r.n_id) for r in knn_embeddings(emb, queries, k).collect()}
    assigned, cents = ivf_index(emb, n_lists=n_lists, seed=seed)
    approx = {(r.q_id, r.n_id)
              for r in ivf_search(assigned, cents, queries, k,
                                  n_probe=n_probe).collect()}
    return len(exact & approx) / max(1, len(exact))


def ann_recall(emb: DataFrame, queries, k: int = 10, n_planes: int = 8,
               n_probes: int = 1, seed: int = 42) -> float:
    """Measured recall@k of the LSH path vs the exact brute-force answer —
    the acceptance metric for tuning n_planes/n_probes on a sample before
    a full-table run."""
    exact = {(r.q_id, r.n_id)
             for r in knn_embeddings(emb, queries, k).collect()}
    approx = {(r.q_id, r.n_id)
              for r in ann_lsh_embeddings(emb, queries, k, n_planes,
                                          n_probes=n_probes,
                                          seed=seed).collect()}
    return len(exact & approx) / max(1, len(exact))
