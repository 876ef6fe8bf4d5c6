"""S2 cell index: the native quad id against the numpy (face, i, j)
reference plus Morton packing, and the level guards."""

import numpy as np
import pytest

from py3dtiles_spark.functions.s2 import (
    _lonlat_to_face_ij, s2_quad_id_sql, with_s2_quad)


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
    for level in (0, 3, 6, 12):
        got = with_s2_quad(df, level).toPandas()["s2_quad"].to_numpy()
        face, i, j = _lonlat_to_face_ij(lon, lat, level)
        # morton packing, written out independently of the native exprs
        morton = np.zeros_like(i)
        for k in range(level):
            morton |= ((((i >> k) & 1) << (2 * k + 1))
                       | (((j >> k) & 1) << (2 * k)))
        np.testing.assert_array_equal(got, (face << (2 * level)) | morton,
                                      err_msg=f"level {level}")


def test_quad_id_level_guard(spark):
    df = spark.createDataFrame([(0.0, 0.0)], "x double, y double")
    for bad in (31, -1):
        with pytest.raises(ValueError):
            with_s2_quad(df, bad)
        with pytest.raises(ValueError):
            s2_quad_id_sql(bad, "x", "y")
    # max level is fine (face bits at 60..62)
    assert with_s2_quad(df, 30).first()["s2_quad"] >= 0
