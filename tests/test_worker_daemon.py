"""The Python-worker daemon (py3dtiles_spark.worker_daemon): which archives
it keeps on the workers' path, what a worker then looks like from inside,
and that workers start without PYTHONPATH."""

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from py3dtiles_spark.worker_daemon import worker_sys_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSION = b'__version__: str = "9.9.9"\n'


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _install(root, package, version=VERSION):
    pkg = root / package
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_bytes(version)
    return str(root)


def _spark_zips(tmp_path):
    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip = _zip(lib / "pyspark.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": VERSION})
    py4j_zip = _zip(lib / "py4j-0.10.9.9-src.zip", {
        "py4j/__init__.py": "", "py4j/version.py": VERSION})
    return pyspark_zip, py4j_zip


def test_jar_without_python_is_dropped(tmp_path):
    jar = _zip(tmp_path / "spark-core.jar", {"org/A.class": b"\xca\xfe"})
    assert worker_sys_path([str(tmp_path), jar]) == [str(tmp_path)]


def test_jar_with_python_is_kept(tmp_path):
    jar = _zip(tmp_path / "with-py.jar", {"org/A.class": b"\xca\xfe",
                                          "pkg/__init__.py": ""})
    assert worker_sys_path([jar]) == [jar]


def test_spark_zips_kept_without_installed_copy(tmp_path):
    pyspark_zip, py4j_zip = _spark_zips(tmp_path)
    site = tmp_path / "site"
    site.mkdir()
    paths = [pyspark_zip, py4j_zip, str(site)]
    assert worker_sys_path(paths) == paths


def test_spark_zips_kept_when_version_differs(tmp_path):
    pyspark_zip, py4j_zip = _spark_zips(tmp_path)
    site = tmp_path / "site"
    _install(site, "pyspark", b'__version__: str = "9.9.8"\n')
    _install(site, "py4j", b'__version__ = "0.10.9.8"\n')
    paths = [pyspark_zip, py4j_zip, str(site)]
    assert worker_sys_path(paths) == paths


def test_spark_zips_dropped_when_version_matches(tmp_path):
    pyspark_zip, py4j_zip = _spark_zips(tmp_path)
    site = _install(tmp_path / "site", "pyspark")
    _install(tmp_path / "site", "py4j")
    assert worker_sys_path([pyspark_zip, py4j_zip, site]) == [site]


def test_unrelated_zip_is_kept(tmp_path):
    pyspark_zip, _ = _spark_zips(tmp_path)
    site = _install(tmp_path / "site", "pyspark")
    engine_zip = _zip(tmp_path / "py3dtiles_spark.zip", {
        "py3dtiles_spark/__init__.py": ""})
    other = _zip(tmp_path / "other.zip", {"m.py": ""})
    assert (worker_sys_path([pyspark_zip, engine_zip, other, site])
            == [engine_zip, other, site])


def test_worker_imports_without_archives(spark):
    """Inside a running worker: no zipimporter over Spark's archives,
    pyspark imported from a directory, and the per-task
    `importlib.invalidate_caches()` back to a fraction of a millisecond."""
    import pandas as pd

    def probe(batches):
        import importlib
        import time
        import zipimport

        import pyspark
        for _ in batches:
            pass
        spark_archives = [
            p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
            if p.endswith(".jar") or os.path.basename(p) == "pyspark.zip"
            or os.path.basename(p).startswith("py4j-")]
        zipped = sorted({v.archive for v in sys.path_importer_cache.values()
                         if isinstance(v, zipimport.zipimporter)})
        best = float("inf")
        for _ in range(3):
            t = time.perf_counter()
            importlib.invalidate_caches()
            best = min(best, time.perf_counter() - t)
        yield pd.DataFrame({
            "pyspark_root": [os.path.dirname(os.path.dirname(pyspark.__file__))],
            "spark_archives": [json.dumps(spark_archives)],
            "zipped": [json.dumps(zipped)],
            "pyspark_zip_on_path": [any(os.path.basename(p) == "pyspark.zip"
                                        for p in sys.path)],
            "invalidate_ms": [best * 1e3]})

    row = spark.range(1).mapInPandas(
        probe, "pyspark_root string, spark_archives string, zipped string, "
               "pyspark_zip_on_path boolean, invalidate_ms double").first()
    spark_archives = json.loads(row.spark_archives)
    zipped = json.loads(row.zipped)
    assert spark_archives, "Spark put no archive on the workers' PYTHONPATH"
    jars = [a for a in spark_archives if a.endswith(".jar")]
    assert not set(jars) & set(zipped), zipped
    if row.pyspark_zip_on_path:
        pytest.skip("no installed pyspark matches Spark's pyspark.zip: "
                    "the workers keep importing it from the zip")
    assert not os.path.isfile(row.pyspark_root), row.pyspark_root
    assert not set(spark_archives) & set(zipped), zipped
    assert row.invalidate_ms < 5, row.invalidate_ms


def test_workers_start_without_pythonpath(tmp_path):
    """Workers import the engine's kernels through the session's
    executorEnv.PYTHONPATH: a build started from a foreign working
    directory, with PYTHONPATH unset, completes. The split threshold sends
    level 1 through the Python kernel (all-leaf levels never reach it)."""
    script = textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {REPO!r})
        from py3dtiles_spark.operators.tiling import TilingConfig, build_tiling
        from py3dtiles_spark.session import get_spark
        from py3dtiles_spark.sources.pages import generate_pages, pages_as_points

        spark = get_spark("workers-no-pythonpath", cpus=2)
        points = pages_as_points(generate_pages(spark, 60_000))
        res = build_tiling(spark, points, TilingConfig(
            checkpoint_dir={str(tmp_path / "ckpt")!r}, split_threshold=5000))
        print(json.dumps({{"assigned": res.counters["points_assigned"],
                           "total": res.counters["points_total"],
                           "modes": [m for lv in res.counters["levels"]
                                     for m in lv["modes"]]}}))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    got = json.loads(out[-1])
    assert set(got["modes"]) - {"leaf"}, got
    assert got["assigned"] == got["total"] == 60_000, got


def test_one_python_worker_pool(tmp_path):
    """Every Python stage the engine runs shares one worker daemon: a
    skewed build whose kernel runs, its pnts files, the b3dm writer and an
    LSH query (driver-side queries) leave exactly one worker_daemon child
    of the JVM. Before the driver-built frames became Arrow local
    relations and the writers SQL Python stages, this found two: pyspark
    keys daemons by the workers' environment, and RDD-level Python
    functions start their own. The writers leave no temporary files."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from py3dtiles_spark.functions.wkb import make_wkb_multipolygon
    squares = [[np.array([[x, y, 0], [x + 10, y, 0], [x + 10, y + 10, 0],
                          [x, y + 10, 0]], dtype=np.float64)]
               for x, y in ((50.0 * (i % 8), 50.0 * (i // 8))
                            for i in range(40))]
    pq.write_table(pa.table({
        "geom_id": pa.array(range(40), pa.int64()),
        "wkb": [make_wkb_multipolygon([s]) for s in squares],
        "weight": [float(i) for i in range(40)]}),
        str(tmp_path / "feats.parquet"))
    script = textwrap.dedent(f"""
        import json, os, sys
        sys.path.insert(0, {REPO!r})
        import numpy as np
        from pyspark.sql import functions as F
        from py3dtiles_spark.operators.export import (
            assign_quadtree, build_b3dm_tiles, triangulate_features,
            write_b3dm_files)
        from py3dtiles_spark.operators.knn import ann_lsh_embeddings
        from py3dtiles_spark.operators.tiling import TilingConfig
        from py3dtiles_spark.plans.pipeline import tile_points
        from py3dtiles_spark.session import get_spark
        from py3dtiles_spark.sources.pages import (
            generate_pages, pages_as_points)

        def worker_daemons():
            procs = {{}}
            for pid in filter(str.isdigit, os.listdir("/proc")):
                try:
                    with open(f"/proc/{{pid}}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                    with open(f"/proc/{{pid}}/cmdline", "rb") as f:
                        argv = f.read().split(b"\\0")
                except OSError:
                    continue
                procs[int(pid)] = (ppid, argv)
            jvms = [p for p, (pp, argv) in procs.items()
                    if pp == os.getpid() and argv[0].endswith(b"java")]
            return jvms, [p for p, (pp, argv) in procs.items()
                          if pp in jvms
                          and b"py3dtiles_spark.worker_daemon" in argv]

        spark = get_spark("one-worker-pool", cpus=2)
        res = tile_points(
            spark, pages_as_points(generate_pages(spark, 60_000), skew=True),
            TilingConfig(split_threshold=5000),
            out_dir={str(tmp_path / "tiles")!r}, write_pnts=True)
        feats = spark.read.parquet({str(tmp_path / "feats.parquet")!r})
        n_b3dm = write_b3dm_files(
            build_b3dm_tiles(assign_quadtree(triangulate_features(feats))),
            {str(tmp_path / "b3dm")!r})
        emb = spark.range(300).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.sin(F.col("id") * (k + 1))
                      for k in range(8)]).alias("embedding"))
        q = np.sin(5.0 * np.arange(1, 9))
        n_knn = len(ann_lsh_embeddings(emb, [(0, q)], k=3,
                                       n_planes=2).collect())
        jvms, daemons = worker_daemons()
        print(json.dumps({{
            "modes": [m for lv in res.tiling.counters["levels"]
                      for m in lv["modes"]],
            "b3dm": n_b3dm, "knn": n_knn, "jvms": len(jvms),
            "daemons": len(daemons)}}))
        spark.stop()
    """)
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    got = json.loads(out[-1])
    assert set(got["modes"]) - {"leaf"}, got      # the kernel ran
    assert got["b3dm"] > 0 and got["knn"] == 3, got
    assert got["jvms"] == 1, got
    assert got["daemons"] == 1, got
    assert (tmp_path / "tiles" / "r.pnts").is_file()
    assert not list(tmp_path.rglob("*.tmp"))
