"""Python-worker daemon: pyspark's own daemon, started from a leaner sys.path.

`get_spark` sets `spark.python.daemon.module` to this module. Spark starts
it as `python -m py3dtiles_spark.worker_daemon`, with a PYTHONPATH that
begins with the archives of `PythonUtils.sparkPythonPath`: `pyspark.zip`,
the py4j zip and the spark-core jar. Every task then runs pyspark's
`setup_spark_files`, which calls `importlib.invalidate_caches()`; under
Python 3.11 each cached `zipimporter` re-reads its archive's whole central
directory on that call (16 importers over those three archives cost about
0.2 s per task with Spark 4.1.2 on a 4-core host), and each keeps its own
copy of the directory resident in the worker.

Before anything imports pyspark, this module removes from `sys.path` and
`sys.path_importer_cache` the archives a forked worker does not need (see
`worker_sys_path`), then hands over to the stock `pyspark.daemon.manager`,
which does all the forking. Workers then import pyspark from a directory.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipfile


def _has_python(archive: str) -> bool:
    """Whether a jar holds any Python source or bytecode. An unreadable
    archive counts as holding some, so it is kept."""
    try:
        with zipfile.ZipFile(archive) as z:
            return any(n.endswith((".py", ".pyc")) for n in z.namelist())
    except (OSError, zipfile.BadZipFile):
        return True


def _zipped_package(path: str) -> str | None:
    """The package a Spark-shipped zip carries, or None for any other entry."""
    name = os.path.basename(path)
    if name == "pyspark.zip":
        return "pyspark"
    if fnmatch.fnmatch(name, "py4j-*.zip"):
        return "py4j"
    return None


def _installed_version(package: str, paths: list[str]) -> bytes | None:
    """`<package>/version.py` of the first entry on `paths` that holds the
    package as a directory, or None when there is none."""
    for p in paths:
        if os.path.isfile(os.path.join(p, package, "__init__.py")):
            try:
                with open(os.path.join(p, package, "version.py"), "rb") as f:
                    return f.read()
            except OSError:
                return None
    return None


def _zipped_version(archive: str, package: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return z.read(f"{package}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def worker_sys_path(paths: list[str]) -> list[str]:
    """`paths` without the archives a forked Python worker does not need:

    - a jar that holds no `.py` or `.pyc` (Spark puts the spark-core jar
      on the workers' path);
    - `pyspark.zip` or `py4j-*.zip`, when the remaining path holds the same
      package installed as a directory whose `version.py` is byte-identical
      to the zip's. The driver already runs that installed copy against the
      same JVM.

    Every other entry is kept, in order.
    """
    kept = [p for p in paths if not (p.endswith(".jar") and not _has_python(p))]
    rest = [p for p in kept if _zipped_package(p) is None]

    def installed_copy(archive: str) -> bool:
        package = _zipped_package(archive)
        installed = _installed_version(package, rest)
        return installed is not None and installed == _zipped_version(archive, package)

    return [p for p in kept if p in rest or not installed_copy(p)]


def prune_sys_path() -> None:
    """Apply `worker_sys_path` to this process's `sys.path`, and forget the
    import caches of what it removed: finding this module already made a
    zipimporter for every archive ahead of it on the path."""
    import zipimport

    kept = worker_sys_path(sys.path)
    removed = set(sys.path) - set(kept)
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + "/") for p in removed):
            del sys.path_importer_cache[key]
    for p in removed:
        zipimport._zip_directory_cache.pop(p, None)


if __name__ == "__main__":
    prune_sys_path()
    from pyspark import daemon

    daemon.manager()
