"""Helpers of the driver contract module (__spark_entry__.py)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


@pytest.mark.parametrize("value,expected", [
    ("134217728", 134217728), ("128m", 128 << 20), ("128mb", 128 << 20),
    ("128MiB", 128 << 20), ("1g", 1 << 30), ("64k", 64 << 10),
    ("512b", 512), ("2t", 2 << 40)])
def test_byte_size(value, expected):
    assert entrymod._byte_size(value) == expected


@pytest.mark.parametrize("value", ["", "1.5g", "128ib", "m"])
def test_byte_size_rejects(value):
    with pytest.raises(ValueError, match="not a byte size"):
        entrymod._byte_size(value)


def test_par_reads_suffixed_max_partition_bytes(spark, tmp_path):
    """`_par` honours spark.sql.files.maxPartitionBytes written with a
    unit suffix: 128m leaves one small file as one split (repartitioned
    up to the session's parallelism), 1k splits it past that already."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t.parquet")
    (spark.range(5000).select((F.rand(1) * 1e9).cast("long").alias("v"))
     .coalesce(1).write.parquet(path))
    target = spark.sparkContext.defaultParallelism
    total = sum(os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path) if f.endswith(".parquet"))
    assert total > 1024 * target
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "128m")
        df = spark.read.parquet(path)
        out = entrymod._par(df)
        assert out is not df
        assert out.rdd.getNumPartitions() == target
        spark.conf.set(key, "1k")
        df = spark.read.parquet(path)
        assert entrymod._par(df) is df
    finally:
        spark.conf.set(key, prev)


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _in_child(code: str, **kw):
    import subprocess
    return subprocess.Popen([sys.executable, "-c",
                             "import __spark_entry__ as e\n" + code],
                            cwd=_REPO, text=True, stdout=subprocess.PIPE,
                            **kw)


def test_octree_oracle_sql_is_identical_across_processes():
    code = "print(e.oracle_sql()['tiling_octree'], end='')"
    texts = [_in_child(code).communicate()[0] for _ in range(2)]
    assert texts[0] == texts[1] == entrymod.oracle_sql()["tiling_octree"]


def test_octree_checkpoint_is_held_by_one_process(tmp_path):
    """Two processes never share the fixed checkpoint path: the second
    waits for the first to exit (here: gives up at once)."""
    import subprocess
    path = str(tmp_path / "ckpt")
    child = _in_child(f"e._own_octree_ckpt({path!r})\n"
                      "print('held', flush=True)\ninput()",
                      stdin=subprocess.PIPE)
    try:
        assert child.stdout.readline() == "held\n"
        with pytest.raises(RuntimeError, match="held by another process"):
            entrymod._own_octree_ckpt(path, wait_s=0)
    finally:
        child.communicate("\n")
    entrymod._own_octree_ckpt(path, wait_s=0)
    assert path in entrymod._OCTREE_CKPT_LOCKS
