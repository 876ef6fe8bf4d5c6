"""Property-based validation of the text-curation DuckDB oracle twins:
random small corpora -> an independent plain-Python reference
implementation vs the EXACT committed oracle SQL run on an in-memory
documents table (no SparkSession — fast). Together with the driver gate
(Spark == DuckDB at sf0.01) and the hand-computed Spark goldens in
test_text.py this closes the Spark == DuckDB == reference triangle.
`contamination_stats` is in no `queries()` entry (the `curate
--eval-input` CLI reaches it), so its Spark == DuckDB leg is here too.
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

import duckdb
from hypothesis import HealthCheck, given, settings, strategies as st

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "scripts"))

import __spark_entry__ as entrymod
# the driver gate's own comparison, imported so the two cannot diverge
from check_oracle import normalize
from plan_audit import PYTHON_NODES

# DuckDB twin of functions/text.contamination_stats(d, d.filter("doc_id %
# 41 = 0"), shingle_tokens=8): per doc, its 8-token windows and how many
# of them occur in the doc_id % 41 = 0 eval subset
DECONTAMINATE_SQL = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS t
        FROM documents),
    sh AS (
        SELECT doc_id,
               md5(coalesce(array_to_string(t[g.i:g.i + 7], ' '), ''))
                   AS h
        FROM toks,
        LATERAL unnest(generate_series(1, greatest(len(t) - 7, 1))) AS g(i)),
    eh AS (SELECT DISTINCT h FROM sh WHERE doc_id % 41 = 0)
    SELECT sh.doc_id,
           count(*)::BIGINT AS n_shingles,
           sum(CASE WHEN eh.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS contaminated,
           CAST(sum(CASE WHEN eh.h IS NOT NULL THEN 1 ELSE 0 END) > 0
                AS BIGINT) AS is_contaminated
    FROM sh LEFT JOIN eh USING (h)
    GROUP BY sh.doc_id ORDER BY sh.doc_id"""

token = st.sampled_from(["a", "b", "c", "ab", "z"])
doc = st.lists(token, min_size=0, max_size=20).map(" ".join)
corpus = st.lists(doc, min_size=1, max_size=8)

W = 8  # the committed oracles use 8-token windows


def _con(texts):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    list(enumerate(texts)))
    return con


def _windows(text):
    toks = [t for t in text.split(" ") if t]
    return [" ".join(toks[i:i + W])
            for i in range(max(len(toks) - (W - 1), 1))]


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus)
def test_substring_dup_oracle_matches_python_reference(texts):
    counts = Counter(w for t in texts for w in _windows(t))
    expected = {}
    for i, t in enumerate(texts):
        ws = _windows(t)
        dup = sum(1 for w in ws if counts[w] >= 2)
        expected[i] = (len(ws), dup, round(dup / len(ws), 6))
    con = _con(texts)
    got = {r[0]: (r[1], r[2], r[3])
           for r in con.sql(entrymod.oracle_sql()["substring_dup"])
                       .fetchall()}
    assert got == expected


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus)
def test_unigram_logprob_oracle_matches_python_reference(texts):
    tf = Counter()
    for i, t in enumerate(texts):
        for tok in t.split(" "):
            if tok:
                tf[(i, tok)] += 1
    vocab = Counter()
    for (_, tok), c in tf.items():
        vocab[tok] += c
    T, V = sum(vocab.values()), len(vocab)
    expected = {}
    for i in range(len(texts)):
        n = sum(c for (d, _), c in tf.items() if d == i)
        if n == 0:
            continue  # token-less docs drop out of the inner join
        s = sum(c * math.log((vocab[tok] + 1.0) / (T + V))
                for (d, tok), c in tf.items() if d == i)
        expected[i] = (n, s / n)
    con = _con(texts)
    rows = con.sql(entrymod.oracle_sql()["unigram_logprob"]).fetchall()
    got = {r[0]: (r[1], r[2]) for r in rows}
    assert set(got) == set(expected)
    for i, (n, lp) in expected.items():
        assert got[i][0] == n
        # the oracle rounds ln-sums to 6 dp; allow one ulp of the rounding
        assert abs(got[i][1] - round(lp, 6)) <= 1e-6


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus)
def test_decontaminate_oracle_matches_python_reference(texts):
    eval_ws = {w for i, t in enumerate(texts) if i % 41 == 0
               for w in _windows(t)}
    expected = {}
    for i, t in enumerate(texts):
        ws = _windows(t)
        hit = sum(1 for w in ws if w in eval_ws)
        expected[i] = (len(ws), hit, 1 if hit else 0)
    con = _con(texts)
    got = {r[0]: (r[1], r[2], r[3])
           for r in con.sql(DECONTAMINATE_SQL).fetchall()}
    assert got == expected


def test_contamination_stats_matches_duckdb_twin(spark):
    """Spark == DuckDB for contamination_stats on the sf0.001 documents
    (the driver gate's comparison, check_oracle.normalize), and the
    executed plan keeps its shape: the eval shingle set joins by
    broadcast, never a cartesian product, zero Python."""
    from py3dtiles_spark.functions.text import contamination_stats
    path = "/root/testdata/sf0.001/documents.parquet"
    d = spark.read.parquet(path)
    sdf = contamination_stats(d, d.filter("doc_id % 41 = 0"),
                              shingle_tokens=8)
    srows = [tuple(r) for r in sdf.collect()]
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    res = con.sql(DECONTAMINATE_SQL)
    dcols, drows = list(res.columns), res.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    assert srows
    assert normalize(srows, sdf.columns) == normalize(drows, dcols)
    assert "BroadcastHashJoin" in plan
    for node in ("CartesianProduct",) + PYTHON_NODES:
        assert node not in plan, node
