"""SparkSession factory with the engine's recommended configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the sys.path entry this package is imported from: a directory, or the
# zip that spark-submit --py-files put on the driver's path
_IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "py3dtiles-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Local-mode session tuned for the tiler.

    On a real cluster these configs ride through spark-submit; AQE handles
    runtime coalescing/skew. Arrow is mandatory: every kernel is an
    Arrow-batched pandas UDF (input_hint: no per-row Python).

    Two configs shape the Python workers:

    - `spark.python.daemon.module` is `py3dtiles_spark.worker_daemon`. Spark
      puts `pyspark.zip`, the py4j zip and the spark-core jar on the
      workers' path, and pyspark calls `importlib.invalidate_caches()` on
      every task, which makes each cached zipimporter re-read its archive's
      directory (about 0.2 s per task). The daemon drops the archives the
      workers do not need before pyspark loads, then runs the stock
      `pyspark.daemon` (see that module).
    - `spark.executorEnv.PYTHONPATH` holds this package's import root (the
      checkout, or the `--py-files` zip under spark-submit). The daemon
      module must be importable before any task ships py-files, and the
      level kernels need the package on the workers anyway, so workers
      start from any working directory without PYTHONPATH set.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 8)
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    # SPARK_GRAFT_PRETOUCH=1: fault the whole JVM heap once at startup
    # (-Xms=-Xmx -XX:+AlwaysPreTouch). On hosts whose kernel serializes the
    # page-fault path (this sandbox: ~65us/fault, globally serialized),
    # lazy first-touch during shuffles/writes becomes an Amdahl serial term
    # that caps multi-core scaling; pre-touching moves it out of the
    # measured window, which is also what a long-lived production executor
    # amortizes across jobs.
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")
    if os.environ.get("SPARK_GRAFT_PRETOUCH") == "1":
        # r5: THP rides with pretouch — madvise'd huge pages cut the
        # pretouch cost 512x per page and gave +25% on JVM-native stages
        # (BENCH.md r4 probe 3); bench.py, scaling_gate and perfbench set PRETOUCH=1 so
        # published numbers use this default. Kept opt-in for tests (a
        # fresh session per fixture would pay the full heap fault walk).
        java_opts = (f"-Xms{driver_mem} -XX:+AlwaysPreTouch "
                     "-XX:+UseTransparentHugePages " + java_opts)
    # NOTE: malloc tuning for numpy kernels lives in py3dtiles_spark/
    # __init__.py (runtime mallopt, Python-process-only). Do NOT set the
    # MALLOC_* env vars here: the JVM would inherit them, and with
    # MMAP_MAX_=0 glibc cannot create per-thread arenas — 32 executor
    # threads then serialize on one malloc lock (measured 3x slowdown).
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name))
    # SPARK_GRAFT_EVENT_LOG_DIR: record the event log for worker-
    # utilization introspection (plans/activity.py, the reference's
    # --graph analogue). Off by default — logging every event has a cost.
    ev_dir = os.environ.get("SPARK_GRAFT_EVENT_LOG_DIR")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        # plain single-file JSON (no zstd, no rolling) so the post-run
        # parser reads it with stdlib only
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.dir", ev_dir)
                   .config("spark.eventLog.compress", "false")
                   .config("spark.eventLog.rolling.enabled", "false"))
    return (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE coalesce the output partitioning of CACHED plans (off by
        # default): a persisted intermediate otherwise pins its shuffle
        # partition count, so every consumer of a small cached frame pays
        # full-width task scheduling. Measured 3.3x on the composed
        # llm_pipeline (10.6s -> 3.2s sf0.1); at cluster scale the same
        # flag right-sizes cached curated sets after heavy filtering.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.python.daemon.module", "py3dtiles_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _IMPORT_ROOT)
        .getOrCreate()
    )
