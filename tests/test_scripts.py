"""The scaling harnesses' child-process plumbing (scripts/scaling_gate.py),
the documented cluster launch path (scripts/make_pyfiles_zip.py +
spark-submit --py-files), and the engine reachability guard."""

import ast
import os
import re
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import plan_audit  # noqa: E402
import scaling_gate  # noqa: E402


def test_run_child_reports_crash():
    """A child that dies raises with its exit code and stderr, not an
    IndexError on its empty stdout."""
    crash = "import sys\nsys.stderr.write('boom in child\\n')\nsys.exit(3)\n"
    with pytest.raises(RuntimeError, match=r"code 3(.|\n)*boom in child"):
        scaling_gate.run_child(crash, [])


def test_run_child_returns_last_json_line():
    ok = "import json\nprint('noise')\nprint(json.dumps({'v': 1}))\n"
    assert scaling_gate.run_child(ok, []) == {"v": 1}


def test_spark_submit_py_files_convert(tmp_path):
    """README's cluster recipe: the --py-files zip alone carries the engine
    to the driver and to the Python workers, from any working directory."""
    spark_submit = os.path.join(os.environ.get("SPARK_HOME", ""), "bin",
                                "spark-submit")
    if not os.path.isfile(spark_submit):
        spark_submit = shutil.which("spark-submit")
    if not spark_submit:
        pytest.skip("spark-submit not found (neither $SPARK_HOME/bin nor PATH)")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    subprocess.run([sys.executable, os.path.join(REPO, "scripts",
                                                 "make_pyfiles_zip.py")],
                   check=True, capture_output=True, env=env)
    out = tmp_path / "tiles"
    work = tmp_path / "cwd"
    work.mkdir()
    proc = subprocess.run(
        [spark_submit, "--py-files",
         os.path.join(REPO, "dist", "py3dtiles_spark.zip"),
         os.path.join(REPO, "cli.py"), "convert", "--n-docs", "20000",
         "--cpus", "2", "--output", str(out)],
        cwd=work, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert (out / "tileset.json").is_file()


def test_only_get_spark_builds_sessions(tmp_path):
    """plan_audit's one-builder check passes on this repo and names a
    non-test module that calls SparkSession.builder itself."""
    assert plan_audit.session_builders(REPO) == []
    (tmp_path / "py3dtiles_spark").mkdir()
    (tmp_path / "tests").mkdir()
    call = ("from pyspark.sql import SparkSession\n"
            "s = SparkSession.builder.getOrCreate()\n")
    for rel in ("py3dtiles_spark/session.py", "tests/t.py", "tool.py"):
        (tmp_path / rel).write_text(call)
    assert plan_audit.session_builders(str(tmp_path)) == [("tool.py", 2)]


def test_only_tile_points_runs_the_tiling_tail(tmp_path):
    """plan_audit's tail check passes on this repo and names a harness
    that calls the rollup or the tileset assembly itself."""
    assert plan_audit.tail_callers(REPO) == []
    with open(os.path.join(REPO, "bench.py"), encoding="utf-8") as f:
        src = f.read()
    (tmp_path / "bench.py").write_text(
        src + "\nrollup_small_children(None)\n"
        "tileset.build_tileset_json_distributed(None)\n")
    n = src.count("\n")
    assert plan_audit.tail_callers(str(tmp_path)) == [
        ("bench.py", n + 2, "rollup_small_children"),
        ("bench.py", n + 3, "build_tileset_json_distributed")]


def test_no_rdd_level_python(tmp_path):
    """plan_audit's one-pool check passes on this repo, allows
    createDataFrame inside session.local_frame only, and names each
    RDD-level Python call planted in a copy of the engine."""
    assert plan_audit.rdd_python_calls(REPO) == []
    shutil.copytree(os.path.join(REPO, "py3dtiles_spark"),
                    tmp_path / "py3dtiles_spark")
    knn = tmp_path / "py3dtiles_spark" / "operators" / "knn.py"
    src = knn.read_text()
    knn.write_text(src + "\ndf.foreachPartition(print)\n"
                   "n = df.rdd.getNumPartitions()\n"
                   "sc.parallelize([1])\n"
                   "spark.createDataFrame([(1,)], 'a long')\n")
    n = src.count("\n")
    rel = os.path.join("py3dtiles_spark", "operators", "knn.py")
    assert sorted(plan_audit.rdd_python_calls(str(tmp_path))) == [
        (rel, n + 2, "foreachPartition"), (rel, n + 3, "rdd"),
        (rel, n + 4, "parallelize"), (rel, n + 5, "createDataFrame")]


# ------------------------------------------------------ reachability guard --

# names that only tests reach, kept on purpose
REACH_ALLOWED_NAMES = {
    # independent oracles the CRS tests check the native exprs against
    "lcc_forward": "oracle for the LCC native exprs (test_crs_lcc)",
    "tm_forward": "oracle for the TM native exprs (test_crs_tm)",
    "projected_to_geodetic": "oracle for the inverse projections",
    "ivf_recall": "recall oracle for the IVF search path",
    "ann_recall": "recall oracle for the LSH search path",
    # collected-rows twins the distributed assemblies are byte-compared to
    "build_tileset_json": "oracle for build_tileset_json_distributed",
    "build_vector_tileset": "oracle for build_vector_tileset_distributed",
    # the only check of the per-row byte-identical `text` invariant
    "tile_pages": "text-invariant path (test_pipeline_end_to_end)",
    "verify_text_invariant": "the invariant's measure (same test)",
}


def _non_test_sources():
    """{path: text} of every source the engine may be reached from."""
    paths = [os.path.join(REPO, f)
             for f in ("__spark_entry__.py", "bench.py", "cli.py")]
    for base in ("py3dtiles_spark", "scripts", "perfbench"):
        for d, _, files in os.walk(os.path.join(REPO, base)):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    out = {}
    for p in sorted(paths):
        with open(p, encoding="utf-8") as f:
            out[p] = f.read()
    return out


def _module_name(path):
    mod = os.path.relpath(path, REPO)[:-len(".py")].replace(os.sep, ".")
    return mod[:-len(".__init__")] if mod.endswith(".__init__") else mod


def _imported_names(path, tree):
    """Dotted names a module imports, plus string constants (a module
    started by name, e.g. the Python worker daemon)."""
    mod = _module_name(path)
    pkg = mod if path.endswith("__init__.py") else mod.rpartition(".")[0]
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = pkg.split(".")[:len(pkg.split(".")) - node.level + 1]
                base = ".".join(parts + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.add(node.value)
    return out


def _docstrings(tree):
    """ids of the docstring constants of a module, its classes and defs."""
    out = set()
    for node in ast.walk(tree):
        if (isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
                and node.body and isinstance(node.body[0], ast.Expr)
                and isinstance(node.body[0].value, ast.Constant)
                and isinstance(node.body[0].value.value, str)):
            out.add(id(node.body[0].value))
    return out


def _code_refs(tree):
    """(word, line) per code reference: names, attribute reads, import
    aliases, and the words of string literals that are not docstrings (a
    child program or a module started by name). Comments and docstrings
    do not count."""
    docs = _docstrings(tree)
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.alias):
            for name in (node.name, node.asname or ""):
                yield from ((w, node.lineno) for w in name.split(".") if w)
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and id(node) not in docs):
            yield from ((w, node.lineno)
                        for w in re.findall(r"\w+", node.value))


def test_engine_code_is_reachable_from_non_test_sources():
    """Every public top-level def/class in py3dtiles_spark/ has a code
    reference in a non-test source outside its own definition, and every
    engine module is imported by one. A docstring or comment that names a
    def does not reach it. What the engine reaches by calls is measured
    with a `sys.setprofile` census; this static check catches code whose
    only callers are tests. Pure ast; no Spark."""
    sources = _non_test_sources()
    trees = {p: ast.parse(t, p) for p, t in sources.items()}
    where = {}
    for p, tree in trees.items():
        for word, line in _code_refs(tree):
            where.setdefault(word, []).append((p, line))
    engine = [p for p in sources
              if p.startswith(os.path.join(REPO, "py3dtiles_spark") + os.sep)]
    unnamed = []
    for path in engine:
        for node in trees[path].body:
            if (not isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    or node.name.startswith("_")
                    or node.name in REACH_ALLOWED_NAMES):
                continue
            start = node.lineno - len(node.decorator_list)
            if not any(p != path or not start <= line <= node.end_lineno
                       for p, line in where.get(node.name, ())):
                unnamed.append(f"{_module_name(path)}.{node.name}")
    imported = set()
    for path, tree in trees.items():
        imported |= _imported_names(path, tree)
    unimported = [m for m in map(_module_name, engine) if m not in imported
                  and not any(i.startswith(m + ".") for i in imported)]
    assert not unnamed, f"referenced only by tests or docstrings: {unnamed}"
    assert not unimported, f"imported by no non-test source: {unimported}"
