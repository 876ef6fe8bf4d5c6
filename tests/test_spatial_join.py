import numpy as np

from py3dtiles_spark.operators.spatial_join import (
    point_in_polygon_join, point_in_rect_join, ray_cast_mask,
    route_to_quadrant)


def test_ray_cast_square_and_concave():
    xs = np.array([0.0, 4.0, 4.0, 0.0])
    ys = np.array([0.0, 0.0, 4.0, 4.0])
    px = np.array([2.0, 5.0, -1.0, 2.0])
    py = np.array([2.0, 2.0, 2.0, 9.0])
    assert ray_cast_mask(px, py, xs, ys).tolist() == [True, False, False, False]
    # concave "L" polygon: notch excluded
    xs = np.array([0.0, 4.0, 4.0, 2.0, 2.0, 0.0])
    ys = np.array([0.0, 0.0, 2.0, 2.0, 4.0, 4.0])
    px = np.array([1.0, 3.0, 3.0])
    py = np.array([3.0, 3.0, 1.0])
    assert ray_cast_mask(px, py, xs, ys).tolist() == [True, False, True]


def _pts(spark):
    rng = np.random.default_rng(7)
    xy = rng.uniform(-10, 10, (2000, 2))
    rows = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(xy)]
    return spark.createDataFrame(rows, "point_id long, x double, y double"), xy


def _polys(spark):
    # a square and a triangle
    return spark.createDataFrame(
        [(1, [0.0, 5.0, 5.0, 0.0], [0.0, 0.0, 5.0, 5.0]),
         (2, [-8.0, -2.0, -5.0], [-8.0, -8.0, -2.0])],
        "geom_id long, xs array<double>, ys array<double>")


def _oracle(xy):
    exp = set()
    for g, xs, ys in [(1, np.array([0., 5, 5, 0]), np.array([0., 0, 5, 5])),
                      (2, np.array([-8., -2, -5]), np.array([-8., -8, -2]))]:
        hit = ray_cast_mask(xy[:, 0], xy[:, 1], xs, ys)
        exp |= {(int(i), g) for i in np.flatnonzero(hit)}
    return exp


def test_pip_join_broadcast_matches_oracle(spark):
    points, xy = _pts(spark)
    out = point_in_polygon_join(points, _polys(spark))
    got = {(r.point_id, r.geom_id) for r in out.collect()}
    assert got == _oracle(xy)


def test_point_in_rect_halfopen(spark):
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1.0, 1.0), (3, 0.5, 0.5), (4, -0.1, 0.5)],
        "point_id long, x double, y double")
    rects = spark.createDataFrame([(9, 0.0, 0.0, 1.0, 1.0)],
                                  "rect_id long, xmin double, ymin double, xmax double, ymax double")
    got = {r.point_id for r in point_in_rect_join(pts, rects).collect()}
    assert got == {1, 3}  # min inclusive, max exclusive


def test_route_to_quadrant(spark):
    items = spark.createDataFrame(
        [(1, -5.0, -5.0), (2, 5.0, -5.0), (3, -5.0, 5.0), (4, 5.0, 5.0)],
        "id long, x double, y double")
    aabb = [[-10.0, -10.0, 0.0], [10.0, 10.0, 1.0]]
    got = {r.id: r.quadrant for r in route_to_quadrant(items, aabb).collect()}
    assert got == {1: 0, 2: 4, 3: 2, 4: 6}


# ------------------------------------------------------------- hole rings --

def _donut_polys(spark):
    """Square [0,8]^2 with hole [2,6]^2, plus a hole-less triangle — the
    optional hxs/hys columns must coexist with NULL-hole rows."""
    return spark.createDataFrame(
        [(1, [0.0, 8.0, 8.0, 0.0], [0.0, 0.0, 8.0, 8.0],
          [[2.0, 6.0, 6.0, 2.0]], [[2.0, 2.0, 6.0, 6.0]]),
         (2, [-8.0, -2.0, -5.0], [-8.0, -8.0, -2.0], None, None)],
        "geom_id long, xs array<double>, ys array<double>, "
        "hxs array<array<double>>, hys array<array<double>>")


def _donut_oracle(xy):
    exp = set()
    outer = ray_cast_mask(xy[:, 0], xy[:, 1],
                          np.array([0., 8, 8, 0]), np.array([0., 0, 8, 8]))
    hole = ray_cast_mask(xy[:, 0], xy[:, 1],
                         np.array([2., 6, 6, 2]), np.array([2., 2, 6, 6]))
    exp |= {(int(i), 1) for i in np.flatnonzero(outer & ~hole)}
    tri = ray_cast_mask(xy[:, 0], xy[:, 1],
                        np.array([-8., -2, -5]), np.array([-8., -8, -2]))
    exp |= {(int(i), 2) for i in np.flatnonzero(tri)}
    return exp


def test_pip_donut_point_inside_hole_excluded(spark):
    pts = spark.createDataFrame(
        [(0, 4.0, 4.0),     # dead center of the hole -> no match
         (1, 1.0, 1.0),     # in the ring -> match
         (2, 9.0, 9.0)],    # outside -> no match
        "point_id long, x double, y double")
    out = point_in_polygon_join(pts, _donut_polys(spark))
    got = {(r.point_id, r.geom_id) for r in out.collect()}
    assert got == {(1, 1)}


def test_pip_donut_broadcast_matches_oracle(spark):
    points, xy = _pts(spark)
    out = point_in_polygon_join(points, _donut_polys(spark))
    got = {(r.point_id, r.geom_id) for r in out.collect()}
    assert got == _donut_oracle(xy)
