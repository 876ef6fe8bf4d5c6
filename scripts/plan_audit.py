"""Physical-plan audit: prints the evidence that the headline queries get
the plans a 100 TB deployment needs (pushdown, pruning, broadcast, whole-
stage codegen, no stray Python stages), and writes PLANS.md.

Run: python scripts/plan_audit.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from py3dtiles_spark.session import get_spark

SF = "/root/testdata/sf0.01"

# substrings of the executed-plan node names of Python stages in Spark
# 4.1: grouped and cogrouped maps (FlatMapGroupsInPandas, ...), Python
# and pandas UDFs (ArrowEvalPython, BatchEvalPython), mapInPandas,
# mapInArrow, grouped pandas aggregates and pandas window functions.
# A "zero Python" plan contains none of them.
PYTHON_NODES = ("FlatMap", "ArrowEval", "BatchEval", "MapInPandas",
                "MapInArrow", "ArrowAggregatePython", "ArrowWindowPython")
ZERO_PYTHON = "!" + "|".join(PYTHON_NODES)

CHECKS = {
    "pip_rect": [
        ("broadcast nested-loop on range predicate", r"Broadcast"),
    ],
    "octant_hist": [
        ("pure native expressions, zero Python", ZERO_PYTHON),
    ],
    "neardup_pairs": [
        ("band-bucket equi-join (not cross join)", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"),
        ("no cartesian product anywhere", "!CartesianProduct"),
    ],
    "simhash_neardup": [
        ("native xxhash64 votes, zero Python stages", ZERO_PYTHON),
    ],
    "feature_quadtree": [
        ("window rank per cell, no Python beyond the WKB-free path", r"Window"),
    ],
    "s2_cells": [
        ("S2 encode is pure native exprs, zero Python", ZERO_PYTHON),
        ("partial agg before the cell shuffle", r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate"),
    ],
    "raster_cells": [
        ("rasterize is native explode, zero Python", ZERO_PYTHON),
        ("generator (sequence explode), not a join", r"Generate"),
    ],
    "raster_vectorize": [
        ("gaps-and-islands windows, zero Python", ZERO_PYTHON),
        ("two window passes", r"Window[\s\S]*Window"),
    ],
    "knn_join": [
        ("query side broadcast", r"Broadcast"),
        ("native cosine, zero Python stages", ZERO_PYTHON),
        # r6: the partition-local pre-rank is Catalyst's WindowGroupLimit
        # partial/final pair (replaces the manual _pid stage, which cost a
        # whole extra exchange of the candidate set)
        ("map-side partial top-k before the exchange (WindowGroupLimit "
         "Partial/Final)", r"WindowGroupLimit[\s\S]*WindowGroupLimit"),
        ("single candidate exchange (pre-rank shuffle eliminated)",
         "#Exchange hashpartitioning<=1"),
        # "no Exchange line carries the embedding arrays" is asserted
        # per-line in tests/test_knn_dedup.py::
        # test_knn_join_local_prerank_stage_present (a whole-plan
        # substring absence would false-positive on the legitimate
        # pre-exchange Project nodes)
    ],
    "repetition_stats": [
        ("per-row n-gram signal, zero Python and zero Generate/explode",
         ZERO_PYTHON + "|Generate"),
        ("map-side partial agg",
         r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate"),
    ],
    "salted_join": [
        # audited with autoBroadcastJoinThreshold=-1 (CONF_OVERRIDES): the
        # gate dim is broadcast-sized, which would short-circuit the very
        # shuffle shape under audit (ADVICE r4) — at the operator's target
        # scale the small side is past broadcast range by definition
        ("salted shuffle join (broadcast disabled for the audit)",
         r"SortMergeJoin|ShuffledHashJoin"),
        ("no broadcast of either side", "!BroadcastHashJoin"),
        ("both sides exchange on the salted key",
         r"Exchange hashpartitioning\([^\n]*_salt"),
    ],
    "llm_pipeline": [
        ("composed pipeline never degrades to a cross product",
         "!CartesianProduct"),
        ("gate/dedup/zorder/kNN stages are all JVM-native, zero Python",
         ZERO_PYTHON),
        ("kNN keeps the two-stage top-k through the composition "
         "(WindowGroupLimit partial/final)",
         r"WindowGroupLimit[\s\S]*WindowGroupLimit"),
        ("payload joins back as a broadcast (no extra shuffle at the "
         "seam)", r"BroadcastHashJoin"),
        ("window dedup on the md5 key, not document bodies",
         r"Window[\s\S]*Exchange hashpartitioning\(_w0[\s\S]*"
         r"md5\(cast\(text#\d+ as binary\)\) AS _w0"),
        # seam budget over the RAW lineage (audit mode disables the
        # production persist of `kept`), AQE final plan only: the dedup
        # window's hash-key exchange (duplicated subplans collapse to
        # ReusedExchange at execution), the grid-kNN candidate equi-join
        # exchange, and the top-k final exchange. A regression that adds
        # a shuffle at a stage seam trips the counter.
        ("no extra shuffles at the seams (exchange budget)",
         "#Exchange hashpartitioning<=4"),
    ],
    "zorder_key": [
        ("morton key is pure native exprs, zero Python",
         ZERO_PYTHON),
    ],
    "geohash_cells": [
        ("geohash encode is pure native exprs, zero Python",
         ZERO_PYTHON),
        ("partial agg before the cell shuffle",
         r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate"),
    ],
    "tfidf_terms": [
        ("all-native text pipeline, zero Python",
         ZERO_PYTHON),
        ("doc-count side broadcast into the df join", r"Broadcast"),
        ("window top-k per doc", r"Window"),
        ("map-side partial agg on the exploded tokens",
         r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate"),
    ],
    "substring_dup": [
        ("all-native shingle pipeline, zero Python",
         ZERO_PYTHON),
        ("never a cartesian product", "!CartesianProduct"),
        ("single corpus scan (r7): corpus counts come from a count window "
         "over the 8-byte xxhash64 shingle key, not a groupBy+join-back "
         "that re-ran the window-construction pass per branch",
         r"Window"),
        ("no join (and no corpus-sized broadcast) left in the plan",
         "!SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"),
        ("map-side partial agg on the per-doc rollup",
         r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate"),
    ],
    "unigram_logprob": [
        ("all-native LM scoring, zero Python",
         ZERO_PYTHON),
        ("never a cartesian product", "!CartesianProduct"),
        ("scalar (T, V) side is broadcast", r"Broadcast"),
        ("map-side partial agg on the exploded tokens",
         r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate"),
    ],
    "knn_join_bucketed": [
        ("bucket equi-join, never a cross product", "!CartesianProduct"),
        ("hash/merge equi-join on the bucket key",
         r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"),
        ("two-stage top-k (WindowGroupLimit partial/final)",
         r"WindowGroupLimit[\s\S]*WindowGroupLimit"),
        ("no dedupe aggregate", "!HashAggregate"),
    ],
}


# per-query session-conf overrides applied around collect+plan capture
CONF_OVERRIDES = {
    "salted_join": {"spark.sql.autoBroadcastJoinThreshold": "-1",
                    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1"},
}


def session_builders(repo: str) -> list[tuple[str, int]]:
    """(path, line) of every `SparkSession.builder` in a non-test module
    other than py3dtiles_spark/session.py. get_spark is the one session
    builder, so no entry point can start a session without its defaults
    (the codegen cache size among them)."""
    import ast
    allowed = os.path.join("py3dtiles_spark", "session.py")
    found = []
    for dirpath, dirs, files in os.walk(repo):
        dirs[:] = sorted(d for d in dirs
                         if not d.startswith(".") and d != "tests")
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, repo)
            if not name.endswith(".py") or rel == allowed:
                continue
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), rel)
            found += [(rel, node.lineno) for node in ast.walk(tree)
                      if isinstance(node, ast.Attribute)
                      and node.attr == "builder"
                      and "SparkSession" in (getattr(node.value, "id", None),
                                             getattr(node.value, "attr",
                                                     None))]
    return found


def _sources(repo: str, top_files) -> list[str]:
    """Sorted paths of the existing `top_files` of the repo root and of
    every .py under py3dtiles_spark/ and scripts/."""
    paths = [os.path.join(repo, f) for f in top_files]
    for base in ("py3dtiles_spark", "scripts"):
        for dirpath, _, files in os.walk(os.path.join(repo, base)):
            paths += [os.path.join(dirpath, f) for f in files
                      if f.endswith(".py")]
    return sorted(p for p in paths if os.path.isfile(p))


TAIL_CALLS = ("rollup_small_children", "build_tileset_json_distributed")


def tail_callers(repo: str) -> list[tuple[str, int, str]]:
    """(path, line, callee) of every call to a TAIL_CALLS function in the
    engine, bench.py, cli.py or scripts/, outside py3dtiles_spark/plans/
    pipeline.py. tile_points is the one points -> tileset plan, so no
    entry point or harness can time or ship its own copy of the tail."""
    import ast
    allowed = os.path.join("py3dtiles_spark", "plans", "pipeline.py")
    found = []
    for path in _sources(repo, ("bench.py", "cli.py")):
        rel = os.path.relpath(path, repo)
        if rel == allowed:
            continue
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), rel)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            callee = (getattr(node.func, "id", None)
                      or getattr(node.func, "attr", None))
            if callee in TAIL_CALLS:
                found.append((rel, node.lineno, callee))
    return found


RDD_PYTHON = ("foreachPartition", "rdd", "parallelize")


def rdd_python_calls(repo: str) -> list[tuple[str, int, str]]:
    """(path, line, name) of every `foreachPartition`, `.rdd` or
    `parallelize`, and of every `createDataFrame` outside
    session.local_frame, in the engine, __spark_entry__.py, bench.py,
    cli.py or scripts/. Each runs Python as an RDD function, which pyspark
    serves from a second worker daemon (see session.local_frame), so the
    session keeps one Python worker pool only while none is left."""
    import ast
    helper = (os.path.join("py3dtiles_spark", "session.py"), "local_frame")
    found = []
    for path in _sources(repo, ("__spark_entry__.py", "bench.py", "cli.py")):
        rel = os.path.relpath(path, repo)
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), rel)
        allowed = {id(node) for fn in ast.walk(tree)
                   if (rel, getattr(fn, "name", None)) == helper
                   for node in ast.walk(fn)}
        found += [(rel, node.lineno, node.attr) for node in ast.walk(tree)
                  if isinstance(node, ast.Attribute)
                  and (node.attr in RDD_PYTHON
                       or (node.attr == "createDataFrame"
                           and id(node) not in allowed))]
    return found


def main():
    # queries that materialize intermediates (persist/localCheckpoint)
    # return a checkpoint-scan plan; this switch makes them hand back the
    # raw lineage so the windows/joins under audit are actually visible
    os.environ["SPARK_GRAFT_PLAN_AUDIT"] = "1"
    spark = get_spark("plan-audit", cpus=4)
    qs = entrymod.queries()
    lines = ["# PLANS — physical-plan audit (sf0.01, auto-generated by "
             "scripts/plan_audit.py)", ""]
    failures = 0
    for name, checks in CHECKS.items():
        overrides = CONF_OVERRIDES.get(name, {})
        saved = {k: spark.conf.get(k, None) for k in overrides}
        for k, v in overrides.items():
            spark.conf.set(k, v)
        df = qs[name](spark, SF)
        df.collect()   # executes THIS df's QueryExecution -> AQE final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        lines.append(f"## {name}")
        for label, pat in checks:
            if pat.startswith("!"):
                # absence check: none of the |-separated substrings may
                # appear anywhere in the plan (a negative lookahead on a
                # multi-line plan silently matched only line 1)
                ok = not any(tok in plan for tok in pat[1:].split("|"))
            elif pat.startswith("#"):
                # budget check: "#substr<=N" -> occurrence count of substr
                # must not exceed N. Counted over the AQE FINAL plan only:
                # after collect() the executed-plan string appends the
                # "== Initial Plan ==" section, which would double-count
                # every exchange that survived into the final plan.
                token, bound = pat[1:].rsplit("<=", 1)
                final_plan = plan.split("== Initial Plan ==")[0]
                ok = final_plan.count(token) <= int(bound)
            else:
                ok = re.search(pat, plan) is not None
            mark = "PASS" if ok else "FAIL"
            if not ok:
                failures += 1
            lines.append(f"- [{mark}] {label}")
            print(f"{mark} {name}: {label}")
        # plan excerpt: first 12 lines
        head = "\n".join(plan.splitlines()[:12])
        lines.append("")
        lines.append("```")
        lines.append(head)
        lines.append("```")
        lines.append("")
    spark.stop()

    # flagship driver-traffic audit (VERDICT r4 #3): every .collect() in
    # the level loop must be provably bounded — the scalar root-aabb agg,
    # the limit(cap+1) routing probe, or the <=4-row per-mode histogram.
    # An unbounded pending/counts collect reintroduces the reference
    # master bottleneck and fails this audit.
    import ast
    src_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "py3dtiles_spark", "operators",
        "tiling.py")
    with open(src_path) as f:
        src = f.read()
    lines.append("## flagship_tiling — bounded driver traffic")
    allowed = 0
    unbounded = []
    for node in ast.walk(ast.parse(src)):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "collect"):
            # the exact source of THIS call chain — not a line window
            # that could pick up unrelated neighboring statements
            stmt = ast.get_source_segment(src, node) or ""
            ok = (".limit(cap + 1)" in stmt        # bounded routing probe
                  # scalar agg (no grouping -> 1 row)
                  or (".agg(" in stmt and ".groupBy" not in stmt)
                  # per-mode histogram (<=4 rows)
                  or '.groupBy("mode")' in stmt)
            (allowed := allowed + 1) if ok else unbounded.append(
                (node.lineno, stmt.splitlines()[-1].strip()))
    mark = "PASS" if not unbounded else "FAIL"
    if unbounded:
        failures += len(unbounded)
    lines.append(f"- [{mark}] every collect() is a bounded probe or a "
                 f"scalar/histogram agg ({allowed} allowed, "
                 f"{len(unbounded)} unbounded: {unbounded})")
    print(f"{mark} flagship_tiling: bounded driver traffic "
          f"({allowed} collects audited)")
    lines.append("")

    # tileset_emit driver-traffic audit (VERDICT r5 #1): the BVH assembly
    # must never collect the tiles table on the production paths. In
    # operators/tileset.py the only allowed collects are the distributed
    # assembly's two bounded ones — the <=8^k subtree-stub rows from the
    # applyInPandas kernel and the <= sum(8^j, j<k) shallow tiles. Every
    # production call site (bench, CLI, plans/convert, plans/pipeline) must
    # route through the distributed builder, i.e. contain no
    # tiles.collect().
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    lines.append("## tileset_emit — bounded driver traffic")
    ts_path = os.path.join(repo, "py3dtiles_spark", "operators",
                           "tileset.py")
    with open(ts_path) as f:
        ts_src = f.read()
    tree = ast.parse(ts_src)
    ts_allowed, ts_bad = 0, []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "collect"):
            stmt = ast.get_source_segment(ts_src, node) or ""
            ok = (".applyInPandas(" in stmt                 # 8^k stubs
                  or 'F.length("tile_id") < k' in stmt)     # shallow tiles
            (ts_allowed := ts_allowed + 1) if ok else ts_bad.append(
                (node.lineno, stmt.splitlines()[-1].strip()))
    for rel in ["bench.py", "py3dtiles_spark/__main__.py",
                "py3dtiles_spark/plans/convert.py",
                "py3dtiles_spark/plans/pipeline.py"]:
        with open(os.path.join(repo, rel)) as f:
            if "tiles.collect()" in f.read():
                ts_bad.append((rel, "tiles.collect() at a production "
                                    "call site"))
    # one points -> tileset plan: only plans/pipeline.py (tile_points)
    # runs the rollup and the assembly, so copies of the tail cannot return
    ts_bad += [(rel, line, f"{callee} outside plans/pipeline.py")
               for rel, line, callee in tail_callers(repo)]
    mark = "PASS" if not ts_bad else "FAIL"
    if ts_bad:
        failures += len(ts_bad)
    lines.append(f"- [{mark}] BVH assembly never collects the tiles table "
                 f"on production paths ({ts_allowed} bounded collects "
                 f"allowed, {len(ts_bad)} violations: {ts_bad})")
    print(f"{mark} tileset_emit: bounded driver traffic "
          f"({ts_allowed} collects audited)")
    lines.append("")

    # vector-export driver-traffic audit (VERDICT r6 #2, closed r7): the
    # quadtree tileset assembly must never collect the node_boxes table
    # on a production path. In operators/export.py the allowed collects
    # are: the global-extent scalar agg (assign_quadtree), the
    # distributed assembly's <=4^k subtree stubs (applyInPandas) and the
    # level<k shallow node rows. The export CLI must route through
    # build_vector_tileset_distributed — no node_boxes(...).collect().
    lines.append("## vector export — bounded driver traffic")
    ex_path = os.path.join(repo, "py3dtiles_spark", "operators",
                           "export.py")
    with open(ex_path) as f:
        ex_src = f.read()
    tree = ast.parse(ex_src)
    ex_allowed, ex_bad = 0, []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "collect"):
            stmt = ast.get_source_segment(ex_src, node) or ""
            ok = (".agg(" in stmt                        # scalar extent agg
                  or ".applyInPandas(" in stmt           # 4^k stubs
                  or 'F.col("level") < k' in stmt)       # shallow nodes
            (ex_allowed := ex_allowed + 1) if ok else ex_bad.append(
                (node.lineno, stmt.splitlines()[-1].strip()))
    with open(os.path.join(repo, "py3dtiles_spark", "__main__.py")) as f:
        if "node_boxes(assigned).collect()" in f.read():
            ex_bad.append(("__main__.py", "node_boxes(...).collect() at "
                                          "the export CLI"))
    mark = "PASS" if not ex_bad else "FAIL"
    if ex_bad:
        failures += len(ex_bad)
    lines.append(f"- [{mark}] vector tileset assembly never collects the "
                 f"node table on production paths ({ex_allowed} bounded "
                 f"collects allowed, {len(ex_bad)} violations: {ex_bad})")
    print(f"{mark} vector_export: bounded driver traffic "
          f"({ex_allowed} collects audited)")
    lines.append("")

    builders = session_builders(repo)
    mark = "PASS" if not builders else "FAIL"
    failures += len(builders)
    lines.append("## sessions — one builder")
    lines.append(f"- [{mark}] only py3dtiles_spark/session.py calls "
                 f"SparkSession.builder ({len(builders)} other calls: "
                 f"{builders})")
    lines.append("")
    print(f"{mark} sessions: one builder ({len(builders)} other calls)")

    rdd_calls = rdd_python_calls(repo)
    mark = "PASS" if not rdd_calls else "FAIL"
    failures += len(rdd_calls)
    lines.append("## python workers — one pool")
    lines.append(f"- [{mark}] no RDD-level Python: no foreachPartition, "
                 f".rdd or parallelize, and createDataFrame only in "
                 f"session.local_frame ({len(rdd_calls)} other calls: "
                 f"{rdd_calls})")
    lines.append("")
    print(f"{mark} python workers: one pool ({len(rdd_calls)} RDD-level "
          "calls)")

    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
