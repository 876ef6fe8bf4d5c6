import os

import numpy as np
import pytest

from py3dtiles_spark.operators.dedup import (
    exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs,
    simhash_near_dup_pairs)
from py3dtiles_spark.operators.knn import (
    ann_lsh_embeddings, knn_embeddings, knn_points)


def _emb_df(spark, n=400, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n, dim)).astype(np.float32)
    rows = [(int(i), m[i].tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), m


def test_knn_points_exact(spark):
    rng = np.random.default_rng(1)
    xyz = rng.uniform(0, 100, (3000, 3))
    rows = [(int(i), *map(float, xyz[i])) for i in range(3000)]
    df = spark.createDataFrame(rows, "point_id long, x double, y double, z double").repartition(6)
    queries = [(0, 50.0, 50.0, 50.0), (1, 0.0, 0.0, 0.0)]
    got = knn_points(df, queries, k=5).collect()
    for qid, qx, qy, qz in queries:
        d = np.sqrt(((xyz - np.array([qx, qy, qz])) ** 2).sum(axis=1))
        exp = set(np.argsort(d, kind="stable")[:5].tolist())
        mine = {r.n_id for r in got if r.q_id == qid}
        assert mine == exp


def test_knn_embeddings_exact(spark):
    df, m = _emb_df(spark)
    df = df.repartition(5)
    q = [(7, m[7].astype(np.float64))]
    got = [r.n_id for r in knn_embeddings(df, q, k=4).collect()]
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mn @ mn[7]
    exp = np.argsort(-sims, kind="stable")[:4].tolist()
    assert got == exp
    assert got[0] == 7  # self is nearest


def test_ann_lsh_contains_self_and_subset_of_bucket(spark):
    df, m = _emb_df(spark)
    q = [(3, m[3].astype(np.float64))]
    got = knn_embeddings(df, q, k=1).collect()
    ann = ann_lsh_embeddings(df, q, k=1, n_planes=4)
    assert ann.collect()[0].n_id == got[0].n_id == 3


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base), (1, base),                              # exact dup
        (2, base.replace("quick", "rapid")),               # near dup
        (3, "completely different text about spark sql engines and shuffles here now"),
        (4, "completely different text about spark sql engines and shuffles here now"),
        (5, "unrelated short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark))
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [0, 2, 3, 5]


def test_minhash_lsh_finds_near_dups(spark):
    pairs = minhash_lsh_pairs(_docs(spark), num_perm=16, bands=8,
                              threshold=0.4, shingle_n=3)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (0, 1) in got and (3, 4) in got
    assert all(p[0] < p[1] for p in got)
    # "keep the smallest id" drops each pair's larger id
    dropped = {b for _, b in got}
    assert 0 not in dropped and {1, 4} <= dropped


def test_ngram_jaccard_exact_dup_is_one(spark):
    pairs = ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.9)
    got = {(r.a, r.b): r.jaccard for r in pairs.collect()}
    assert got[(0, 1)] == 1.0 and got[(3, 4)] == 1.0


def test_simhash_near_dups(spark):
    pairs = simhash_near_dup_pairs(_docs(spark), max_hamming=10)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (0, 1) in got and (3, 4) in got
    hams = {(r.a, r.b): r.hamming for r in pairs.collect()}
    assert hams[(0, 1)] == 0 and hams[(3, 4)] == 0


def test_ann_multiprobe_recall(spark):
    from py3dtiles_spark.operators.knn import ann_recall
    rng = np.random.default_rng(9)
    m = rng.standard_normal((300, 16))
    df = spark.createDataFrame(
        [(int(i), m[i].astype(np.float32).tolist()) for i in range(300)],
        "vec_id long, embedding array<float>")
    qs = [(int(i), m[i]) for i in (1, 5, 9)]
    r1 = ann_recall(df, qs, k=5, n_planes=4, n_probes=1)
    r4 = ann_recall(df, qs, k=5, n_planes=4, n_probes=4)
    assert 0.0 <= r1 <= 1.0
    assert r4 >= r1                 # probing can only widen the scan
    assert r4 >= 0.5                # 4 probes over 16 buckets: decent recall


def test_knn_join_matches_collected_path(spark):
    """The distributed kNN join (DataFrame queries, broadcast, native
    cosine) must rank identically to knn_embeddings' driver-collected
    path, and its plan must contain no Python stages."""
    from py3dtiles_spark.operators.knn import knn_join
    from pyspark.sql import functions as F
    df, m = _emb_df(spark, n=200, dim=8, seed=13)
    q = (df.filter("vec_id < 5")
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("qv")))
    joined = knn_join(df, q, k=4)
    got = {(r.q_id, r.rank): r.n_id for r in joined.collect()}
    ref = knn_embeddings(df, [(i, m[i]) for i in range(5)], k=4)
    w = __import__("pyspark.sql", fromlist=["Window"]).Window \
        .partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    ref = ref.withColumn("rank", F.row_number().over(w))
    want = {(r.q_id, r.rank): r.n_id for r in ref.collect()}
    assert got == want
    # each query's nearest neighbour is itself (cos 1.0)
    for i in range(5):
        assert got[(i, 1)] == i
    plan = joined._jdf.queryExecution().executedPlan().toString()
    for marker in ("FlatMap", "ArrowEval", "BatchEval"):
        assert marker not in plan


def test_knn_join_local_prerank_stage_present(spark):
    """The r3 weak spot fix, r6 form: knn_join must cut candidates to k
    per map partition BEFORE the global per-q_id exchange. Since r6 this
    is Catalyst's WindowGroupLimit partial/final pair (the manual _pid
    pre-rank stage it replaces shuffled the full candidate set on
    (_pid, q_id) first — one whole exchange more). The plan must show a
    Partial WindowGroupLimit upstream of the exchange and a Final one
    after, exactly one candidate exchange, and no shuffle may carry the
    embedding arrays (the projection to (q_id, n_id, cos) happens
    map-side)."""
    from py3dtiles_spark.operators.knn import knn_join
    from pyspark.sql import functions as F
    df, _ = _emb_df(spark, n=200, dim=8, seed=13)
    q = (df.filter("vec_id < 5")
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("qv")))
    joined = knn_join(df, q, k=4)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # assert the modes ON the WindowGroupLimit lines themselves — a bare
    # `"Final" in plan` is vacuous (the AQE header always contains
    # "isFinalPlan=...")
    wgl_lines = [l for l in plan.splitlines() if "WindowGroupLimit" in l]
    assert any("Partial" in l for l in wgl_lines), plan
    assert any("Final" in l for l in wgl_lines), plan
    # the partial cut means ONE exchange of (q_id, n_id, cos) triples;
    # the old manual pre-rank needed two
    n_hash_exchanges = sum(1 for line in plan.splitlines()
                           if "Exchange hashpartitioning" in line)
    assert n_hash_exchanges <= 1, plan
    # no exchange ships the vector columns
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "_ev" not in line and "_qv" not in line


def test_knn_join_large_k_reinserts_manual_prerank(spark):
    """Catalyst only plants the WindowGroupLimit pair while
    k <= windowGroupLimitThreshold; beyond it (or with the rule disabled)
    _two_stage_topk must re-insert the explicit _pid pre-rank so the
    q_id exchange never carries the full candidate set for a hot query.
    Pinned by shrinking the threshold below k and checking both the plan
    shape and that results equal the default-config run."""
    from py3dtiles_spark.operators.knn import knn_join
    from pyspark.sql import functions as F
    df, _ = _emb_df(spark, n=120, dim=8, seed=29)
    q = (df.filter("vec_id < 3")
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("qv")))
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    prev = spark.conf.get(key, "1000")
    expected = [(r.q_id, r.rank, r.n_id)
                for r in knn_join(df, q, k=4).orderBy("q_id", "rank").collect()]
    try:
        spark.conf.set(key, "2")          # k=4 now exceeds the threshold
        joined = knn_join(df, q, k=4)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "_pid" in plan, plan       # manual pre-rank is back
        got = [(r.q_id, r.rank, r.n_id)
               for r in joined.orderBy("q_id", "rank").collect()]
    finally:
        spark.conf.set(key, prev)
    assert got == expected


def test_knn_join_bucketed_exhaustive_is_exact(spark):
    """knn_join_bucketed with n_probes = 2^n_planes probes every bucket,
    so it must equal the exact broadcast knn_join rank-for-rank — and the
    query side must never be collected (it stays a DataFrame)."""
    from py3dtiles_spark.operators.knn import knn_join, knn_join_bucketed
    from pyspark.sql import functions as F
    df, _ = _emb_df(spark, n=200, dim=8, seed=21)
    q = (df.filter("vec_id < 30")
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("qv")))
    exact = {(r.q_id, r.rank): r.n_id for r in knn_join(df, q, k=4).collect()}
    got = {(r.q_id, r.rank): r.n_id
           for r in knn_join_bucketed(df, q, k=4, n_planes=3,
                                      n_probes=8).collect()}
    assert got == exact


def test_knn_join_bucketed_recall_at_production_config(spark):
    """At a realistic probe budget (4 probes over 16 buckets = ~25%
    expected scan) the bucketed join must keep decent recall vs exact and
    must always find each query's self-neighbour at rank 1."""
    from py3dtiles_spark.operators.knn import knn_join, knn_join_bucketed
    from pyspark.sql import functions as F
    df, _ = _emb_df(spark, n=400, dim=16, seed=31)
    q = (df.filter("vec_id < 10")
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("qv")))
    exact = {(r.q_id, r.n_id) for r in knn_join(df, q, k=5).collect()}
    approx_rows = knn_join_bucketed(df, q, k=5, n_planes=4,
                                    n_probes=4).collect()
    approx = {(r.q_id, r.n_id) for r in approx_rows}
    assert len(exact & approx) / len(exact) >= 0.5
    for r in approx_rows:
        if r.rank == 1:
            assert r.n_id == r.q_id      # self always shares every bucket


SF001_EMB = "/root/testdata/sf0.01/embeddings.parquet"


@pytest.mark.skipif(not os.path.exists(SF001_EMB),
                    reason="driver testdata unavailable")
def test_ann_recall_floor_sf001(spark):
    """CI floor (VERDICT r2 #8): on the driver's sf0.01 embeddings the
    multi-probe path must hold recall@10 >= 0.8 at the documented
    operating point (6 planes, 16 probes = 25% expected scan fraction),
    and single-probe must stay clearly below it — so a silent multi-probe
    regression (e.g. probes ignored) fails this test. Measured r3:
    0.94 multi vs 0.19 single on this table."""
    from py3dtiles_spark.operators.knn import ann_recall
    emb = spark.read.parquet(SF001_EMB)
    qs = [(int(r.vec_id), np.array(r.embedding, dtype=np.float64))
          for r in emb.filter("vec_id < 10").collect()]
    multi = ann_recall(emb, qs, k=10, n_planes=6, n_probes=16)
    single = ann_recall(emb, qs, k=10, n_planes=6, n_probes=1)
    assert multi >= 0.8
    assert single <= multi - 0.2


def test_connected_components_chains_and_stars(spark):
    """Chains, stars and singletons-by-absence: transitive closure with
    cluster_id = min reachable id."""
    from py3dtiles_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain -> cluster 1
         (10, 11), (10, 12), (10, 13),    # star  -> cluster 10
         (20, 21),                        # pair  -> cluster 20
         (31, 30)],                       # reversed order pair -> 30
        "a long, b long")
    got = {r.id: r.cluster_id
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20, 30: 30, 31: 30}
    # bridging two clusters merges them
    merged = connected_components(pairs.unionByName(
        spark.createDataFrame([(4, 10)], "a long, b long")))
    got2 = {r.id: r.cluster_id for r in merged.collect()}
    assert all(got2[i] == 1 for i in (1, 2, 3, 4, 10, 11, 12, 13))


@pytest.mark.skipif(not os.path.exists(SF001_EMB),
                    reason="driver testdata unavailable")
def test_ivf_recall_floor_sf001(spark):
    """IVF (MLlib KMeans coarse quantizer) recall floor on the driver's
    embeddings: >= 0.85 at 16 lists / 2 probes (12.5% scan fraction) —
    measured 0.96 in r3. Also deterministic for a fixed seed."""
    from py3dtiles_spark.operators.knn import ivf_index, ivf_recall
    emb = spark.read.parquet(SF001_EMB)
    qs = [(int(r.vec_id), np.array(r.embedding, dtype=np.float64))
          for r in emb.filter("vec_id < 10").collect()]
    r = ivf_recall(emb, qs, k=10, n_lists=16, n_probe=2)
    assert r >= 0.85
    a1, c1 = ivf_index(emb, n_lists=8, seed=7)
    a2, c2 = ivf_index(emb, n_lists=8, seed=7)
    np.testing.assert_allclose(c1, c2)
    assert (a1.select("vec_id", "list_id").subtract(
        a2.select("vec_id", "list_id")).count() == 0)


def test_minhash_bucket_cap_keeps_multiband_pairs(spark):
    docs = _docs(spark)
    capped = minhash_lsh_pairs(docs, num_perm=16, bands=8, threshold=0.9,
                               max_bucket_size=50)
    full = minhash_lsh_pairs(docs, num_perm=16, bands=8, threshold=0.9)
    got_c = {(r.a, r.b) for r in capped.collect()}
    got_f = {(r.a, r.b) for r in full.collect()}
    assert got_c == got_f           # cap far above bucket sizes: no change


def test_knn_join_points_exact_when_complete(spark):
    """Grid-bucketed point kNN join: with rings wide enough every query
    is flagged complete and the ranked ids equal brute-force knn_points;
    with a tiny cell the flag honestly reports incompleteness."""
    from py3dtiles_spark.operators.knn import knn_join_points, knn_points
    from pyspark.sql import functions as F
    rng = np.random.default_rng(17)
    xyz = rng.uniform(0, 100, (3000, 3))
    rows = [(int(i), *map(float, xyz[i])) for i in range(3000)]
    pts = spark.createDataFrame(
        rows, "point_id long, x double, y double, z double").repartition(6)
    q = (pts.filter("point_id < 8")
         .select(F.col("point_id").alias("q_id"), "x", "y", "z"))
    got = knn_join_points(pts, q, k=5, cell_size=12.0, n_rings=1).collect()
    assert all(r.complete for r in got)
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, {})[r.rank] = r.n_id
    exact = knn_points(pts, [(i, *map(float, xyz[i])) for i in range(8)], k=5)
    w = __import__("pyspark.sql", fromlist=["Window"]).Window \
        .partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("n_id").asc())
    ref = exact.withColumn("rank", F.row_number().over(w))
    want = {}
    for r in ref.collect():
        want.setdefault(r.q_id, {})[r.rank] = r.n_id
    assert by_q == want
    # tiny cell: k-th neighbour provably can lie outside one ring
    tiny = knn_join_points(pts, q, k=5, cell_size=1.0, n_rings=1).collect()
    assert any(not r.complete for r in tiny)
    # plan stays native + equi-join
    plan = knn_join_points(pts, q, k=5, cell_size=12.0) \
        ._jdf.queryExecution().executedPlan().toString()
    for marker in ("FlatMap", "ArrowEval", "BatchEval", "CartesianProduct"):
        assert marker not in plan


def test_knn_join_points_ecef_scale_coords(spark):
    """ADVICE r4: coordinates beyond cell_size * 2^20 (e.g. ECEF meters at
    cell_size=1) must not overflow the cell pack under ANSI mode — bins
    clamp to the boundary bin and the join still answers."""
    import pandas as pd
    from py3dtiles_spark.operators.knn import knn_join_points

    xyz = pd.DataFrame({
        "point_id": range(6),
        "x": [4.2e6, 4.2e6 + 0.5, 4.2e6 + 2.0, -4.2e6, 0.0, 4.2e6 + 0.7],
        "y": [1.1e6] * 6, "z": [4.7e6] * 6})
    pts = spark.createDataFrame(xyz)
    q = (pts.filter("point_id = 0")
         .selectExpr("point_id AS q_id", "x", "y", "z"))
    rows = knn_join_points(pts, q, k=3, cell_size=1.0, n_rings=1).collect()
    assert len(rows) == 3
    # all the big-coordinate points alias into the boundary bin, so the
    # true nearest neighbours (0.5 m and 0.7 m away) are still found
    got = [r.n_id for r in sorted(rows, key=lambda r: r.rank)]
    assert got == [0, 1, 5]
