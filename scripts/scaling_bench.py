"""Scaling-efficiency evidence for BASELINE.json north_rule.

Runs the IDENTICAL flagship job (generate pages -> geocode -> octree tiling)
at two local parallelism levels (default local[8] vs local[32]) in separate
JVMs, reports throughput at both and efficiency = T(N) * N-cost-normalized:

    efficiency = (docs_per_sec_4N / docs_per_sec_N) / (4N / N)

Usage: python scripts/scaling_bench.py [n_docs] [cpus_lo] [cpus_hi]
Writes/updates BENCH.md with the table.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

from scaling_gate import child_result

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, tempfile, time
sys.path.insert(0, "@@REPO@@")
from py3dtiles_spark.session import get_spark
from py3dtiles_spark.operators.tiling import TilingConfig, build_tiling
from py3dtiles_spark.sources.pages import generate_pages, pages_as_points

cpus, n_docs = int(sys.argv[1]), int(sys.argv[2])
spark = get_spark("scaling-bench", cpus=cpus, shuffle_partitions=2 * cpus)
import os as _os
points = pages_as_points(generate_pages(spark, n_docs), skew=True)

def one_run():
    cfg = TilingConfig(checkpoint_dir=tempfile.mkdtemp(),
                       plan_parallelism=8,
                       checkpoint=_os.environ.get("SPARK_GRAFT_CKPT",
                                                  "memory"))
    t0 = time.time()
    res = build_tiling(spark, points, cfg)
    dt = time.time() - t0
    assert res.counters["points_assigned"] == n_docs
    if cfg.checkpoint == "memory":
        spark.catalog.clearCache()
    return dt, res

# warm run: faults the JVM/Python allocation high-water marks, fills the
# netty/Arrow buffer pools, compiles codegen — the steady state a
# long-lived executor runs at. Measured = MEDIAN of N_RUNS warm repeats:
# this sandbox kernel's serialized page-fault path makes run-to-run
# variance 2-3x in BOTH directions, so min() is an unstable ratio
# estimator; the median is robust to lucky and unlucky runs alike.
import statistics
one_run()
n_runs = int(_os.environ.get("SPARK_GRAFT_RUNS", "5"))
times, sentinels = [], []
from bench import _sentinel as _host_probe
for _ in range(n_runs):
    sentinels.append(_host_probe())
    times.append(one_run()[0])
med = statistics.median(times)
print(json.dumps({"cpus": cpus, "seconds": round(med, 3),
                  "docs_per_sec": round(n_docs / med, 1), "runs": n_runs,
                  "sentinel_gbps": sentinels,
                  "run_secs": [round(t, 3) for t in times]}))
spark.stop()
"""


def run_once(cpus: int, n_docs: int) -> dict:
    script = CHILD.replace("@@REPO@@", REPO)
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(script)
        path = f.name
    env = dict(os.environ)
    # r5 benchmarked default: THP+pretouch (see session.get_spark)
    env.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    out = subprocess.run([sys.executable, path, str(cpus), str(n_docs)],
                         capture_output=True, text=True, timeout=1800,
                         env=env)
    return child_result(out)


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    r_lo = run_once(lo, n_docs)
    r_hi = run_once(hi, n_docs)
    eff = (r_hi["docs_per_sec"] / r_lo["docs_per_sec"]) / (hi / lo)
    result = {"n_docs": n_docs, "lo": r_lo, "hi": r_hi,
              "scaling_efficiency": round(eff, 3)}
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
