import os

import pytest

from py3dtiles_spark.operators.merge import merge_tilesets, overview_sample


def _six_tilesets():
    # six disjoint mini-clouds (FIXTURES.md §5)
    rows = []
    for i in range(6):
        cx, cy = (i % 3) * 100.0, (i // 3) * 100.0
        rows.append({"tileset_id": i,
                     "min_x": cx, "min_y": cy, "min_z": 0.0,
                     "max_x": cx + 10, "max_y": cy + 10, "max_z": 5.0,
                     "point_count": 1000 + i})
    return rows


def _content_uris(node):
    if "content" in node:
        yield node["content"]["uri"]
    for c in node.get("children", []):
        yield from _content_uris(c)


def test_merge_routes_by_center_quadrant():
    doc = merge_tilesets(_six_tilesets(), min_diag=1.0)
    assert doc["asset"]["version"] == "1.0"
    root = doc["root"]
    assert root["refine"] == "ADD"
    # geometricError = sum of children (merger.py:229)
    assert root["geometricError"] == pytest.approx(
        sum(c["geometricError"] for c in root["children"]))

    # every leaf content uri appears exactly once
    assert sorted(_content_uris(root)) == [f"tileset_{i}.json"
                                           for i in range(6)]


def test_merge_single_tileset_is_leaf():
    doc = merge_tilesets(_six_tilesets()[:1])
    assert doc["root"]["content"]["uri"] == "tileset_0.json"


def test_overview_sample_ratio_and_determinism(spark):
    df = spark.range(10000).withColumnRenamed("id", "point_id")
    s1 = overview_sample(df, total=10000, cap=2000)
    s2 = overview_sample(df, total=10000, cap=2000)
    n = s1.count()
    assert abs(n - 2000) < 300          # ratio = 0.2 within tolerance
    assert s1.collect() == s2.collect()  # hash-ordered, reproducible
    half = overview_sample(df, total=10000, cap=999999).count()
    assert abs(half - 5000) < 400       # capped at 0.5


def test_merge_cli_parquet_writes_no_bookkeeping_keys(spark, tmp_path):
    """`merge --input <rows.parquet>` writes a clean tileset.json: the
    merge tree's internal `_`-prefixed node keys never reach the file."""
    import json

    import pandas as pd

    from py3dtiles_spark.__main__ import main

    src = str(tmp_path / "rows.parquet")
    pd.DataFrame(_six_tilesets()[:4]).to_parquet(src)
    out = str(tmp_path / "out")
    assert main(["merge", "--input", src, "--output", out,
                 "--cpus", "4"]) == 0
    with open(f"{out}/tileset.json") as f:
        doc = json.load(f)

    def keys(node):
        if isinstance(node, dict):
            for k, v in node.items():
                yield k
                yield from keys(v)
        elif isinstance(node, list):
            for v in node:
                yield from keys(v)

    assert doc["root"].get("children")        # internal nodes were built
    assert not [k for k in keys(doc) if k.startswith("_")]


def test_merge_cli_spark_written_rows_take_the_rows_path(spark, tmp_path):
    """A rows parquet Spark wrote is a directory of part files; it is
    merged as rows, not scanned for */tileset.json."""
    import json

    import pandas as pd

    from py3dtiles_spark.__main__ import main

    src = str(tmp_path / "rows.parquet")
    spark.createDataFrame(pd.DataFrame(_six_tilesets())).write.parquet(src)
    out = str(tmp_path / "out")
    assert main(["merge", "--input", src, "--output", out,
                 "--cpus", "4"]) == 0
    with open(f"{out}/tileset.json") as f:
        doc = json.load(f)
    assert sorted(_content_uris(doc["root"])) == [f"tileset_{i}.json"
                                                  for i in range(6)]


def test_merge_cli_dir_without_tilesets_names_it(spark, tmp_path):
    import re

    from py3dtiles_spark.__main__ import main

    src = str(tmp_path / "empty")
    os.makedirs(src)
    with pytest.raises(ValueError,
                       match=re.escape(f"no */tileset.json under {src}")):
        main(["merge", "--input", src, "--output", str(tmp_path / "out"),
              "--cpus", "4"])
