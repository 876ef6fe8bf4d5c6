"""S2 cell index: the native quad-id expressions against the numpy
(face, i, j) reference, level guards, and staged/composed agreement."""

import numpy as np
import pytest

from py3dtiles_spark.functions.s2 import (
    _lonlat_to_face_ij, s2_face_ij_exprs, s2_quad_id_expr)


def test_every_point_gets_exactly_one_cell():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-89, 89, 2000)
    face, i, j = _lonlat_to_face_ij(lon, lat, 8)
    assert face.min() >= 0 and face.max() <= 5
    assert i.min() >= 0 and i.max() < 256 and j.min() >= 0 and j.max() < 256
    # poles land on the +z / -z faces
    f_np = _lonlat_to_face_ij([0.0, 0.0], [89.9, -89.9], 4)[0]
    assert f_np[0] == 2 and f_np[1] == 5


def test_exprs_match_numpy(spark):
    import pandas as pd
    rng = np.random.default_rng(11)
    lon = rng.uniform(-180, 180, 1000)
    lat = rng.uniform(-85, 85, 1000)
    df = spark.createDataFrame(pd.DataFrame({"x": lon, "y": lat}))
    level = 6
    face_e, i_e, j_e = s2_face_ij_exprs(level)
    out = df.select(face_e.alias("f"), i_e.alias("i"), j_e.alias("j"),
                    s2_quad_id_expr(level)).toPandas()
    face, i, j = _lonlat_to_face_ij(lon, lat, level)
    np.testing.assert_array_equal(out["f"].to_numpy(), face)
    np.testing.assert_array_equal(out["i"].to_numpy(), i)
    np.testing.assert_array_equal(out["j"].to_numpy(), j)
    # morton packing agrees with a straightforward python reimplementation
    morton = np.zeros_like(i)
    for k in range(level):
        morton |= (((i >> k) & 1) << (2 * k + 1)) | (((j >> k) & 1) << (2 * k))
    np.testing.assert_array_equal(out["s2_quad"].to_numpy(),
                                  (face << (2 * level)) | morton)


def test_quad_id_level_guard():
    with pytest.raises(ValueError):
        s2_quad_id_expr(31)
    with pytest.raises(ValueError):
        s2_quad_id_expr(-1)
    from py3dtiles_spark.functions.s2 import s2_quad_id_sql
    with pytest.raises(ValueError):
        s2_quad_id_sql(31, "x", "y")
    s2_quad_id_expr(30)       # max level is fine (face bits at 60..62)


def test_with_s2_quad_matches_composed_expr(spark):
    """The staged-projection builder must produce bit-identical quad ids
    to the single-expression variant."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from py3dtiles_spark.functions.s2 import s2_quad_id_expr, with_s2_quad

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({"x": rng.uniform(-180, 180, 2000),
                        "y": rng.uniform(-90, 90, 2000)})
    df = spark.createDataFrame(pdf)
    for level in (0, 3, 6, 12):
        n_diff = (with_s2_quad(df, level)
                  .withColumn("ref", s2_quad_id_expr(level))
                  .filter(F.col("s2_quad") != F.col("ref")).count())
        assert n_diff == 0, level
