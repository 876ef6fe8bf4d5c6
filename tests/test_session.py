"""The session's codegen cache holds the engine's working set: a warm
rerun of the same plan compiles no generated class again. Frames of
driver-side values (local_frame) plan as local relations."""

import pandas as pd

import __spark_entry__ as entry
from py3dtiles_spark.operators import tiling
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


def test_warm_tile_points_compiles_nothing(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tiling, "LOCAL_HARD_CAP", 400)
    runs = iter(range(2))

    def run():
        # small thresholds give a two-level skewed build (cell and local
        # nodes), about 90 generated classes
        cfg = TilingConfig(split_threshold=200, in_kernel_threshold=400,
                           plan_parallelism=4)
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


# ------------------------------------------------------------ local_frame --

def _root_node(df) -> str:
    return df._jdf.queryExecution().executedPlan().nodeName()


def _routed():
    """_route_nodes output with leaf, local and cell nodes: cell rows carry
    nonzero float32 mn* and float64 s* grid constants."""
    import numpy as np

    from py3dtiles_spark.functions.geometry import compute_spacing
    from py3dtiles_spark.operators.tiling import _route_nodes
    aabb = np.array([[0.1, -0.3, 0.7], [100.3, 99.9, 101.1]],
                    dtype=np.float32)
    counts = pd.DataFrame({
        "tile_id": ["0", "1", "2", "3", "7"],
        "cnt": [5, 300, 5000, 9000, 12]})
    cfg = TilingConfig(split_threshold=10, in_kernel_threshold=100)
    return _route_nodes(counts, cfg, aabb, compute_spacing(aabb), 1000)


def test_local_frame_node_meta_is_a_local_relation(spark):
    """The routed node list plans as a LocalTableScan, and its rows equal
    the tuple path's (`createDataFrame(list)`, a Scan ExistingRDD) bit for
    bit: float32 grid minima, float64 scales."""
    import struct

    from py3dtiles_spark.operators.tiling import _NODE_META_SCHEMA
    from py3dtiles_spark.session import local_frame
    routed = _routed()
    assert set(routed["mode"]) == {"leaf", "local", "cell"}
    assert (routed["mnx"] != 0).any() and (routed["sx"] != 0).any()
    df = local_frame(spark, routed, _NODE_META_SCHEMA)
    assert _root_node(df) == "LocalTableScan"
    old = spark.createDataFrame(
        list(routed.drop(columns="cnt").itertuples(index=False, name=None)),
        _NODE_META_SCHEMA)

    def bits(rows):
        return sorted((r[0], r[1]) + tuple(struct.pack("<d", v) for v in r[2:])
                      for r in rows)

    assert bits(df.collect()) == bits(old.collect())
    assert df.schema == old.schema


def test_local_frame_empty_is_a_local_relation(spark):
    from py3dtiles_spark.operators.tiling import PENDING_SCHEMA
    from py3dtiles_spark.session import local_frame
    df = local_frame(spark, {}, PENDING_SCHEMA)
    assert _root_node(df) == "LocalTableScan"
    assert df.collect() == []
    assert df.columns == ["point_id", "x", "y", "z", "tile_id"]


def test_local_frame_nested_arrays_with_nulls(spark):
    """q_pip_polygon's polygons: array<array<double>> hole rings, null for
    the triangle."""
    from py3dtiles_spark.session import local_frame
    df = local_frame(spark, entry._PIP_POLYGONS, entry._PIP_POLYGON_DDL)
    assert _root_node(df) == "LocalTableScan"
    rows = {r.geom_id: r for r in df.collect()}
    assert rows[7].hxs is None and rows[7].hys is None
    assert rows[8].hxs == [[-50.0, 50.0, 50.0, -50.0]]
    assert rows[8].ys == [-60.0, -60.0, 60.0, 60.0]
