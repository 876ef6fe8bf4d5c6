"""SparkSession factory with the engine's recommended configuration."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# generated classes Spark's codegen cache holds (see get_spark)
CODEGEN_CACHE_ENTRIES = 2000

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

    One config sizes Spark's cache of generated code:

    - `spark.sql.codegen.cache.maxEntries` is CODEGEN_CACHE_ENTRIES. Spark
      keeps the classes it compiles from generated Java in one process-wide
      Guava cache keyed by the source text. Its default of 100 is below
      this engine's working set: measured on 4 cores with pyspark 4.1.2, a
      perfbench `tile_skew` build compiles 87 generated classes cold, and
      a `query_mix` pass about 250. Guava also splits `maximumSize` over
      its segments (4 here, no concurrency level is set) and evicts per
      segment, so entries go well before the total is held. With 100, a
      warm `tile_skew` build Janino-compiled about 22 byte-identical
      sources again and HotSpot re-JITted each fresh class (7.2-8.2 s of
      JVM compiler time per build); with 2000, 0 compiles and 3.2-4.7 s.
      The value is more than 4x the largest working set because of the
      per-segment eviction. It is a static SQL conf, and the cache is built once per
      JVM, at its first code generation: it only takes effect when this
      call starts the session.
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
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", "py3dtiles_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _IMPORT_ROOT)
        .getOrCreate()
    )


def local_frame(spark: SparkSession, columns, ddl: str) -> DataFrame:
    """A DataFrame of driver-side values that plans as a `LocalTableScan`.

    `columns` maps each column of the DDL schema `ddl` to its values (a
    list, numpy array or pandas Series); an empty mapping gives an empty
    frame. The values become a `pyarrow.Table` typed by that schema, so
    float32 and float64 columns keep their bits and nested arrays may hold
    nulls. The engine builds every frame of driver rows here; plan_audit's
    `rdd_python_calls` check rejects any other `createDataFrame`.

    One Python worker pool. pyspark keys its worker daemons by the
    workers' environment, and an RDD-level Python function (the pickled
    rows of `createDataFrame(list)` or of an empty pandas frame,
    `foreachPartition`) runs without the `SPARK_SIMPLIFIED_TRACEBACK`
    variable that SQL Python stages carry. One such call per session
    starts a second daemon with workers of its own, which then sit idle
    next to the SQL pool's. An Arrow table reaches the JVM without Python
    tasks and plans as a LocalRelation, and the tile writers are SQL
    Python stages (sources/pnts.write_files). The process tree at the RSS
    peak of a perfbench `tile_skew` run (seed 7, 4 cores, pyspark 4.1.2),
    with each level's routed node list built by `createDataFrame(list)`
    and by this function:

        process                       RSS each   list    local_frame
        JVM (driver and executors)    2.6-2.7 GB    1          1
        driver Python                  171-175 MB   1          1
        SQL pool: daemon                    47 MB   1          1
        SQL pool: busy workers         115-117 MB   4          4
        RDD pool: daemon                    47 MB   1          0
        RDD pool: idle workers              35 MB   4          0

    Over 10 alternating perfbench pairs, `tile_skew`'s `peak_rss_mb`
    median fell from 3563 to 3390 MB, and over 5 pairs `query_mix`'s
    (whose `q_pip_polygon` built its polygons from a list) from 3288 to
    3108 MB (BENCH.md).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    arrow = to_arrow_schema(schema)
    table = pa.table([pa.array(columns[f.name] if len(columns) else [],
                               type=f.type) for f in arrow], schema=arrow)
    return spark.createDataFrame(table, schema)
