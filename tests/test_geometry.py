"""Unit tests on the geometry core — semantics ported from the reference
test layer (tests/test_points.py) plus truth tables for the kernels."""

import numpy as np
import pytest

from py3dtiles_spark.functions import geometry as G


def test_compute_spacing():
    aabb = np.array([[0, 0, 0], [125, 0, 0]], dtype=np.float32)
    assert G.compute_spacing(aabb) == pytest.approx(1.0)


def test_subdivision_type_rule():
    assert G.subdivision_type([10, 10, 10]) == G.OCTREE
    assert G.subdivision_type([10, 10, 4.9]) == G.QUADTREE
    assert G.subdivision_type([10, 10, 5.0]) == G.OCTREE


def test_split_aabb_octree():
    aabb = np.array([[0, 0, 0], [2, 2, 2]], dtype=np.float32)
    for idx, lo in [(0, (0, 0, 0)), (7, (1, 1, 1)), (4, (1, 0, 0)),
                    (2, (0, 1, 0)), (1, (0, 0, 1))]:
        child = G.split_aabb(aabb, idx)
        np.testing.assert_allclose(child[0], lo)
        np.testing.assert_allclose(child[1], np.array(lo) + 1)


def test_split_aabb_quadtree_keeps_z():
    aabb = np.array([[0, 0, 0], [10, 10, 1]], dtype=np.float32)
    child = G.split_aabb(aabb, 6)  # x=1,y=1,z=0 bits
    np.testing.assert_allclose(child[0], [5, 5, 0])
    np.testing.assert_allclose(child[1], [10, 10, 1])  # full z extent


def test_node_geometry_fold():
    aabb = np.array([[0, 0, 0], [8, 8, 8]], dtype=np.float32)
    sub, spacing = G.node_geometry("70", aabb, 2.0)
    # child 7 of root = [4,4,4]..[8,8,8]; child 0 of that = [4,4,4]..[6,6,6]
    np.testing.assert_allclose(sub[0], [4, 4, 4])
    np.testing.assert_allclose(sub[1], [6, 6, 6])
    assert spacing == pytest.approx(0.5)


def test_child_index_truth_table():
    aabb = np.array([[0, 0, 0], [2, 2, 2]], dtype=np.float32)
    pts = np.array([[0.5, 0.5, 0.5], [1.5, 0.5, 0.5], [0.5, 1.5, 0.5],
                    [0.5, 0.5, 1.5], [1.5, 1.5, 1.5], [1.0, 1.0, 1.0]],
                   dtype=np.float32)
    idx = G.child_index_for_node(pts, G.node_frame("", aabb, 0.0))
    assert idx.tolist() == [0, 4, 2, 1, 7, 7]  # >= comparison: center -> 7


def test_child_index_quadtree_z_bit_zero():
    aabb = np.array([[0, 0, 0], [10, 10, 1]], dtype=np.float32)
    pts = np.array([[7, 7, 0.99], [2, 2, 0.99]], dtype=np.float32)
    idx = G.child_index_for_node(pts, G.node_frame("", aabb, 0.0))
    assert idx.tolist() == [6, 0]  # z bit always 0 in quadtree mode


def test_xyz_to_key_clamps_and_packs():
    aabb = np.array([[0, 0, 0], [3, 3, 3]], dtype=np.float32)
    pts = np.array([[0.5, 0.5, 0.5],     # cell (0,0,0)
                    [2.5, 0.5, 0.5],     # (2,0,0) -> 2
                    [0.5, 2.5, 0.5],     # (0,2,0) -> 2<<2 = 8
                    [0.5, 0.5, 2.5],     # (0,0,2) -> 2<<4 = 32
                    [99.0, -99.0, 1.5]], # clamped -> (2,0,1) = 2 + 16
                   dtype=np.float32)
    keys = G.cell_keys_for_node(pts, G.node_frame("", aabb, 0.0),
                                cell_count=3)
    assert keys.tolist() == [0, 2, 8, 32, 18]


def test_sequential_accept_rejects_duplicate():
    # reference tests/test_points.py:29-33 — same point twice, second rejected
    pts = np.array([[1, 1, 1], [1, 1, 1], [5, 5, 5]], dtype=np.float32)
    mask = G.sequential_accept(pts, squared_spacing=1.0)
    assert mask.tolist() == [True, False, True]


def test_sequential_accept_order_dependence():
    pts = np.array([[0, 0, 0], [0.9, 0, 0], [1.8, 0, 0]], dtype=np.float32)
    mask = G.sequential_accept(pts, squared_spacing=1.0)
    # 0 accepted; 0.9 too close to 0; 1.8 far from 0 (0.9 was NOT kept)
    assert mask.tolist() == [True, False, True]


def test_sequential_accept_boundary_is_strict():
    # reference is_point_far_enough uses < squared_min_distance: exactly at
    # spacing counts as far enough
    pts = np.array([[0, 0, 0], [1.0, 0, 0]], dtype=np.float32)
    assert G.sequential_accept(pts, 1.0).tolist() == [True, True]


def test_accept_mask_per_cell_independent():
    aabb = np.array([[0, 0, 0], [3, 3, 3]], dtype=np.float32)
    # two near-identical points in DIFFERENT cells: both accepted
    pts = np.array([[0.99, 0.5, 0.5], [1.01, 0.5, 0.5]], dtype=np.float32)
    keys = G.cell_keys_for_node(pts, G.node_frame("", aabb, 0.0))
    assert keys[0] != keys[1]
    mask = G.accept_mask_for_cells(pts, keys, squared_spacing=4.0)
    assert mask.tolist() == [True, True]


def test_make_aabb_cubic():
    import numpy as np
    from py3dtiles_spark.functions.geometry import make_aabb_cubic
    aabb = np.array([[0.0, 0.0, 0.0], [4.0, 2.0, 1.0]])
    cubic = make_aabb_cubic(aabb)
    np.testing.assert_allclose(cubic[1], [4.0, 4.0, 4.0])
    np.testing.assert_allclose(aabb[1], [4.0, 2.0, 1.0])  # input untouched


def test_postgis_module_import_safe():
    from py3dtiles_spark.sources.postgis import postgis_features
    assert callable(postgis_features)
