"""Sentinel-GATED scaling-efficiency protocol (VERDICT r6 next-round #1).

The r6 series showed the raw N->4N ratio is dominated by this VM's
serialized page-fault ceiling (~200k docs/s aggregate, fault_bench.py):
clean high-core legs sit ON the ceiling, so the ratio is mechanically
capped and degraded low-core legs fake passes. This harness makes the
evidence protocol explicit instead of arguing about it per-round:

1. Every timed run carries a fresh-page sentinel (bench._sentinel); a leg
   is CLEAN only if the median-contributing runs all have sentinel >=
   GATE_GBPS (absolute healthy-host bar, ~>4 GB/s on this VM per
   bench.py). Dirty runs are recorded AND excluded; a leg retries until
   it has RUNS clean samples or MAX_ATTEMPTS is hit.
2. Both legs of a pair must be clean for the pair to count; attempts are
   reported either way.
3. A host-ceiling decomposition rides along: fault_bench-style aggregate
   alloc throughput at each leg's thread count, so a 4N leg whose
   docs/s sits at the measured ceiling is attributable to the host, not
   the engine (engine-side criteria: identical plans via
   plan_parallelism pin, per-core throughput at N known from the clean
   N leg).

Usage: python scripts/scaling_gate.py [n_docs] [lo] [hi] [runs]
Prints one JSON with both legs' clean/dirty samples, efficiency over
clean medians, and the alloc-ceiling curve. Exit code 0 always (this is
evidence collection, not a hard gate).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GATE_GBPS = 4.0          # healthy-window bar (bench.py sentinel doc)
MAX_ATTEMPTS = 12

CHILD = r"""
import json, sys, tempfile, time
sys.path.insert(0, "@@REPO@@")
from py3dtiles_spark.session import get_spark
from py3dtiles_spark.operators.tiling import (TilingConfig, build_tiling,
                                              cleanup_checkpoint)
from py3dtiles_spark.sources.pages import generate_pages, pages_as_points
from bench import _sentinel

cpus, n_docs, runs, gate, max_att = (int(sys.argv[1]), int(sys.argv[2]),
                                     int(sys.argv[3]), float(sys.argv[4]),
                                     int(sys.argv[5]))
spark = get_spark("scaling-gate", cpus=cpus, shuffle_partitions=2 * cpus)
points = pages_as_points(generate_pages(spark, n_docs), skew=True)

def one_run():
    # plan_parallelism fixes the level plan, so both legs run identical
    # plans whatever their core count
    cfg = TilingConfig(checkpoint_dir=tempfile.mkdtemp(),
                       plan_parallelism=8)
    t0 = time.time()
    res = build_tiling(spark, points, cfg)
    dt = time.time() - t0
    assert res.counters["points_assigned"] == n_docs
    cleanup_checkpoint(res)
    spark.catalog.clearCache()
    return dt

one_run()                                   # warm (codegen, pools, heap)
clean, dirty = [], []
att = 0
while len(clean) < runs and att < max_att:
    att += 1
    s = _sentinel()
    t = one_run()
    (clean if s >= gate else dirty).append(
        {"sec": round(t, 3), "sentinel_gbps": s})
print(json.dumps({"cpus": cpus, "clean": clean, "dirty": dirty,
                  "attempts": att}))
spark.stop()
"""

ALLOC = r"""
import sys, json
sys.path.insert(0, "@@REPO@@")
from bench import _sentinel
th = int(sys.argv[1])
print(json.dumps({"threads": th,
                  "gbps": max(_sentinel(threads=th) for _ in range(3))}))
"""


def child_result(out: subprocess.CompletedProcess) -> dict:
    """The last JSON line a child script printed. A child that crashed or
    printed no result raises with its return code and stderr tail."""
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or not lines:
        tail = "\n".join(out.stderr.splitlines()[-20:])
        raise RuntimeError(f"child exited with code {out.returncode} and "
                           f"{'a' if lines else 'no'} result; stderr tail:"
                           f"\n{tail}")
    return json.loads(lines[-1])


def run_child(code: str, args: list[str]) -> dict:
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(code.replace("@@REPO@@", REPO))
        path = f.name
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    out = subprocess.run([sys.executable, path] + args,
                         capture_output=True, text=True, timeout=3000,
                         env=env, cwd=REPO)
    return child_result(out)


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    runs = int(sys.argv[4]) if len(sys.argv) > 4 else 5

    legs = {}
    for cpus in (lo, hi):
        legs[cpus] = run_child(
            CHILD, [str(cpus), str(n_docs), str(runs), str(GATE_GBPS),
                    str(MAX_ATTEMPTS)])
    ceiling = [run_child(ALLOC, [str(t)]) for t in (1, 2, 4, 8, 16, 32)]

    result = {"n_docs": n_docs, "gate_gbps": GATE_GBPS,
              "legs": legs, "alloc_ceiling": ceiling}
    lo_c, hi_c = legs[lo]["clean"], legs[hi]["clean"]
    result["pair_clean"] = bool(len(lo_c) >= runs and len(hi_c) >= runs)
    if lo_c and hi_c:
        t_lo = statistics.median(r["sec"] for r in lo_c)
        t_hi = statistics.median(r["sec"] for r in hi_c)
        d_lo, d_hi = n_docs / t_lo, n_docs / t_hi
        result["docs_per_sec"] = {str(lo): round(d_lo, 1),
                                  str(hi): round(d_hi, 1)}
        result["scaling_efficiency"] = round((d_hi / d_lo) / (hi / lo), 3)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
