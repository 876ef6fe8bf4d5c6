"""The session's codegen cache holds the engine's working set: a warm
rerun of the same plan compiles no generated class again."""

import pandas as pd

import __spark_entry__ as entry
from py3dtiles_spark.operators.tiling import TilingConfig
from py3dtiles_spark.plans.pipeline import tile_points
from py3dtiles_spark.session import CODEGEN_CACHE_ENTRIES
from py3dtiles_spark.sources.pages import generate_pages, pages_as_points


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM: Spark counts one per cache
    miss of its generated-class cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _warm_rerun_compiles(spark, run) -> int:
    run()
    before = _compiles(spark)
    run()
    return _compiles(spark) - before


def test_codegen_cache_size_is_the_engine_default(spark):
    assert (spark.conf.get("spark.sql.codegen.cache.maxEntries")
            == str(CODEGEN_CACHE_ENTRIES))


def test_warm_tile_points_compiles_nothing(spark, tmp_path):
    runs = iter(range(2))

    def run():
        # small thresholds give a two-level skewed build (cell and local
        # nodes), about 90 generated classes
        cfg = TilingConfig(split_threshold=200, in_kernel_threshold=400,
                           local_hard_cap=400, plan_parallelism=4)
        points = pages_as_points(generate_pages(spark, 4000), skew=True)
        res = tile_points(spark, points, cfg,
                          out_dir=str(tmp_path / f"run{next(runs)}"))
        assert len(res.tiling.counters["levels"]) == 2

    assert _warm_rerun_compiles(spark, run) == 0


def test_warm_queries_compile_nothing(spark, tmp_path):
    # the documents table both queries read, in the driver tables' shape;
    # together they generate about 85 classes
    words = "a big column data filter join key query row scan".split()
    pd.DataFrame({
        "doc_id": range(500),
        "text": [" ".join(words[(i + k) % 10] for k in range(5 + i % 20))
                 for i in range(500)],
        "lang": [("en", "fr", "de")[i % 3] for i in range(500)],
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": [40 + i % 100 for i in range(500)],
    }).to_parquet(tmp_path / "documents.parquet")
    qs = entry.queries()

    def run():
        for name in ("vector_b3dm", "raster_pyramid"):
            qs[name](spark, str(tmp_path)).collect()

    assert _warm_rerun_compiles(spark, run) == 0
