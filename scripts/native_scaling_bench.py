"""Scaling of a PURE-JVM pipeline (zero Python workers): geocode ->
S2 quad encode -> groupBy count over spark.range rows — the same native
expressions the s2_cells gate query runs, with no Arrow/Python worker in
the loop. Isolates the engine's plan scaling from this host's serialized
page-fault tax on Python worker allocation (scripts/fault_bench.py):
if THIS job scales and the flagship (Python-kernel) job plateaus, the
plateau is the host memory path, not the plan shape.

Usage: python scripts/native_scaling_bench.py [n_rows] [cpus_lo] [cpus_hi]
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
import json, sys, time
sys.path.insert(0, "@@REPO@@")
from py3dtiles_spark.session import get_spark
from pyspark.sql import functions as F
from py3dtiles_spark.functions.s2 import s2_quad_id_expr

cpus, n = int(sys.argv[1]), int(sys.argv[2])
spark = get_spark("native-scaling", cpus=cpus, shuffle_partitions=2 * cpus)
U32 = 4294967296

def job():
    df = spark.range(0, n, 1, max(cpus * 4, 8))
    i = F.col("id")
    g = df.select(
        (F.lit(-180.0) + (F.pmod(i * 2654435761, F.lit(U32)) / F.lit(U32)) * 360.0).alias("x"),
        (F.lit(-85.0) + (F.pmod(i * 2246822519, F.lit(U32)) / F.lit(U32)) * 170.0).alias("y"))
    t0 = time.time()
    out = (g.select(s2_quad_id_expr(8).alias("c"))
           .groupBy("c").agg(F.count(F.lit(1)).alias("n"))
           .agg(F.count(F.lit(1)), F.sum("n")).collect())
    assert out[0][1] == n
    return time.time() - t0

job()                      # warm: codegen + JIT
ts = sorted(job() for _ in range(5))
med = ts[len(ts) // 2]
print(json.dumps({"cpus": cpus, "seconds": round(med, 3),
                  "rows_per_sec": round(n / med, 1)}))
spark.stop()
"""


def run(cpus: int, n: int) -> dict:
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(CHILD.replace("@@REPO@@", REPO))
        path = f.name
    out = subprocess.run([sys.executable, path, str(cpus), str(n)],
                         capture_output=True, text=True)
    return child_result(out)


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    a, b = run(lo, n), run(hi, n)
    eff = (b["rows_per_sec"] / a["rows_per_sec"]) / (hi / lo)
    print(json.dumps({"n_rows": n, "lo": a, "hi": b,
                      "scaling_efficiency": round(eff, 3)}))
