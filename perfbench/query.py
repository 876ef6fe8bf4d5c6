"""`query_mix`: a closed loop over oracle-checked operator queries.

The inputs are a documents table (5000 rows) and an embeddings table
(2000 x 64), generated from the seed in the shape of the operator test
tables. Every query result is materialised with collect() and compared
with its DuckDB twin from `oracle_sql()` under scripts/check_oracle.py's
`normalize`; the twins run once per process, during set-up.
"""

from __future__ import annotations

import importlib.util
import math
import os
import random
import statistics
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entry
import procs

# At least one query per operator module, plus the kNN and text variants
# that go through `_par`:
#   operators.spatial_join pip_polygon | operators.knn knn_join
#   functions.s2 s2_cells | functions.geohash geohash_cells
#   operators.export feature_quadtree | operators.raster raster_cells
#   functions.crs utm_convert | functions.text tfidf_terms, unigram_logprob
#   operators.dedup simhash_neardup (64 per-bit aggregates, run twice)
# neardup_pairs and dedup_clusters are left out: their DuckDB oracle is an
# exhaustive pair join that takes 106 s on documents of this shape.
# knn_join_bucketed (operators.knn again) is left out to keep a run short.
MIX = ("pip_polygon", "knn_join", "s2_cells",
       "geohash_cells", "feature_quadtree", "raster_cells", "utm_convert",
       "tfidf_terms", "unigram_logprob", "simhash_neardup")
N_DOCS, N_VECS, DIM = 5000, 2000, 64
# The parameters of the sf0.1 documents table, measured on it: 30 words
# drawn uniformly, 10-100 tokens per doc (uniform), 5% of the docs (250)
# a copy of another doc with " dup" appended, langs 41/15/15/15/14%,
# sources src0..src19 round robin. Its embeddings are uniform random unit
# vectors in 64 dimensions with labels 0-9 that carry no cluster structure.
_VOCAB = ("a agg batch big column customer data fast filter group hash "
          "join key line merge order part query row scan slow small sort "
          "spark stream table the value vector window").split()
DUP_FRAC = 0.05


def _normalize():
    path = os.path.join(os.path.dirname(os.path.abspath(entry.__file__)),
                        "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def write_inputs(data_dir: str, seed: int) -> None:
    """documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding, label) with the sf0.1 tables' sizes and
    statistics (see _VOCAB), each one parquet row group like them."""
    rng = np.random.default_rng(seed)
    texts = [" ".join(_VOCAB[k] for k in rng.integers(len(_VOCAB),
                                                      size=rng.integers(10, 101)))
             for _ in range(N_DOCS)]
    # the near-duplicates: a copy may pick up an earlier copy, as in sf0.1
    for i in rng.choice(N_DOCS, size=int(N_DOCS * DUP_FRAC), replace=False):
        j = (i + rng.integers(1, N_DOCS)) % N_DOCS
        texts[i] = texts[j] + " dup"
    langs = rng.choice(["en", "fr", "de", "es", "zh"], size=N_DOCS,
                       p=[0.41, 0.15, 0.15, 0.15, 0.14])
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(data_dir, "documents.parquet"))
    labels = rng.integers(10, size=N_VECS)
    vecs = rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(data_dir, "embeddings.parquet"))


class QueryMix:
    labels = ("query",)    # Spark job labels of a timed operation
    # timed passes over the whole mix per run; each query's figure is its
    # median over them
    min_units = 2

    def __init__(self, spark, seed: int, work_dir: str, tracer):
        """`tracer` may be swapped between passes; a labelling one makes
        the next pass a traced pass."""
        self.spark, self.tracer = spark, tracer
        self.data_dir = os.path.join(work_dir, "data")
        self.rng = random.Random(seed)
        self.queries = entry.queries()
        # per query, the latencies of untraced (False) and traced (True)
        # passes, and the CPU time of the untraced ones
        self.latency = {t: {q: [] for q in MIX} for t in (False, True)}
        self.cpu = {q: [] for q in MIX}
        self.rows: dict[str, int] = {}
        self.failures = 0
        self.attempted = 0
        write_inputs(self.data_dir, seed)
        self.normalize = _normalize()
        self.expected = self._oracles()

    def _oracles(self) -> dict:
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data_dir}/{t}.parquet')")
            sql = entry.oracle_sql()
            out = {}
            for q in MIX:
                res = con.sql(sql[q])
                cols = list(res.columns)
                out[q] = (sorted(cols), self.normalize(res.fetchall(), cols))
            return out
        finally:
            con.close()

    def _run(self, q: str) -> tuple[float, float, bool]:
        cpu0 = procs.tree_cpu_s(os.getpid())
        with self.tracer.span("query", label="query", query=q) as sp:
            df = self.queries[q](self.spark, self.data_dir)
            rows = df.collect()
        cpu = procs.tree_cpu_s(os.getpid()) - cpu0
        cols = df.columns
        self.rows[q] = len(rows)
        ok = (sorted(cols), self.normalize([tuple(r) for r in rows], cols)) \
            == self.expected[q]
        return sp["end"] - sp["start"], cpu, ok

    def _attempt(self, q: str) -> tuple[float, float] | None:
        """Latency and CPU time of one checked query, None when it raised."""
        self.attempted += 1
        try:
            lat, cpu, ok = self._run(q)
        except Exception as e:          # a failed query is counted, not fatal
            print(f"query {q} failed: {type(e).__name__}: {e}", file=sys.stderr)
            self.failures += 1
            return None
        self.failures += not ok
        return lat, cpu

    def warmup(self) -> None:
        """Every query once, checked and counted like a timed one."""
        for q in MIX:
            self._attempt(q)

    def unit(self) -> list[float]:
        """One pass over the whole mix in a seed-shuffled order; returns
        the latencies of the queries that completed."""
        order = list(MIX)
        self.rng.shuffle(order)
        out = []
        for q in order:
            got = self._attempt(q)
            if got is not None:
                traced = self.tracer.labelled
                self.latency[traced][q].append(got[0])
                if not traced:
                    self.cpu[q].append(got[1])
                out.append(got[0])
        return out

    def summary(self) -> dict[str, float]:
        """From each query's median latency, and median CPU time, over the
        first min_units untraced passes: queries per second of a pass at
        those medians, and their geometric mean. The median of the pooled
        latencies jumps from one query to another between runs."""
        out = {}
        for per_q, rate, mid in ((self.latency[False], "ops_per_s", "op_p50_s"),
                                 (self.cpu, "ops_per_cpu_s", "op_cpu_s")):
            meds = [statistics.median(v[:self.min_units]) for v in per_q.values() if v]
            out[rate] = len(meds) / sum(meds)
            out[mid] = math.exp(statistics.fmean(map(math.log, meds)))
        return out

    def layer_metrics(self, tr) -> dict[str, float]:
        """Median latency and rows per query over the traced passes. The
        mix has no finer layers than the query call itself, so the coverage
        compares the traced queries with the untraced ones of the process."""
        out = {}
        for q in MIX:
            out[f"query.{q}.s"] = statistics.median(self.latency[True][q] or [0.0])
            out[f"query.{q}.rows"] = float(self.rows.get(q, 0))
        out["trace.coverage"] = (
            sum(out[f"query.{q}.s"] for q in MIX)
            / sum(statistics.median(self.latency[False][q] or [0.0]) for q in MIX))
        return out
