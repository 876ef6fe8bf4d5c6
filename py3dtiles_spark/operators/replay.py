"""Single-threaded reference replay of the octree build — the golden oracle.

Implements the canonical-order semantics of the reference tiler
(py3dtiles/points/node.py:60-155 + points_grid.py + distance.py) as one
recursive numpy function. Used by tests to produce the expected
(point_id -> tile_id) assignment that the distributed engine must match
exactly.

Canonical semantics (deterministic; equivalent to the reference when each
node processes its points in point_id order — see SURVEY.md §7.4):

- a node whose total routed point count is < SPLIT_THRESHOLD (or whose
  spacing <= MIN_SPACING*scale) is a LEAF: it keeps all its points
  (node.py:70-73 — a leaf only splits when accumulated count >= 20000).
- otherwise the node is INTERNAL: every routed point passes through the
  3x3x3 LOD grid in canonical order; a point is accepted iff it is
  >= spacing from every previously-accepted point in its grid cell
  (distance.py:5-15, points_grid.py:22-31); rejected points are forwarded
  to the child octant given by the 3-bit code vs the node center
  (distance.py:18-21), with the quadtree z-trick (node.py:123-131).
"""

from __future__ import annotations

import numpy as np

from py3dtiles_spark.functions.geometry import (
    MIN_SPACING,
    SPLIT_THRESHOLD,
    accept_mask_for_cells,
    cell_keys_for_node,
    child_index_for_node,
    compute_spacing,
    node_frame,
)


def assign_subtree(point_ids: np.ndarray, xyz: np.ndarray, tile_id: str,
                   root_aabb: np.ndarray, root_spacing: float,
                   scale: float = 1.0,
                   split_threshold: int = SPLIT_THRESHOLD) -> np.ndarray:
    """Assign every point routed to `tile_id` to its final tile.

    Points must already be inside the tile's AABB (routing is the caller's
    job; at the root that's everything). Returns an object array of tile-id
    strings aligned with point_ids. Input order must be canonical
    (ascending point_id) — this function sorts defensively.
    """
    order = np.argsort(point_ids, kind="stable")
    inv = np.empty_like(order)
    inv[order] = np.arange(len(order))
    xyz_sorted = xyz[order].astype(np.float32, copy=False)

    out = np.empty(len(point_ids), dtype=object)
    _assign(xyz_sorted, np.arange(len(order)), tile_id, root_aabb,
            root_spacing, scale, split_threshold, out)
    return out[inv]


def _assign(xyz, idx, tile_id, root_aabb, root_spacing, scale,
            split_threshold, out):
    root_hop = tile_id == ""
    while True:
        frame = node_frame(tile_id, root_aabb, root_spacing)
        spacing = frame.spacing
        if root_hop:
            # the reference root NEVER retains points: node_process forces
            # make_empty_node for name='' (node_process.py:88,109) so every
            # point forwards to a depth-1 octant; the root pnts is a
            # post-hoc 2x-spacing overview (convert.py:44-66), not an
            # assignment. Route unconditionally, no accept.
            root_hop = False
            if len(idx) == 0:
                return
            children = child_index_for_node(xyz[idx], frame)
            uniq = np.unique(children)
            if len(uniq) == 1:
                idx = idx
                tile_id = str(uniq[0])
                continue
            for child in uniq:
                sub = idx[children == child]
                _assign(xyz, sub, str(child), root_aabb, root_spacing,
                        scale, split_threshold, out)
            return
        if len(idx) < split_threshold or spacing <= MIN_SPACING * scale:
            out[idx] = tile_id
            return
        pts = xyz[idx]

        # tight-cluster descent (exact): when the whole point set's
        # bounding box (a) fits in ONE grid cell, (b) has diameter safely
        # under the spacing, and (c) fits in ONE child octant, the accept
        # loop provably keeps only the FIRST point and forwards the rest to
        # that child — the megacity skew case, O(1) work per level instead
        # of a full accept pass over millions of points per level.
        lo = pts.min(axis=0)
        hi = pts.max(axis=0)
        diam_sq = float(np.sum((hi.astype(np.float64)
                                - lo.astype(np.float64)) ** 2))
        corners = np.stack([lo, hi]).astype(np.float32)
        if diam_sq * 1.0001 < spacing * spacing:
            ck = cell_keys_for_node(corners, frame)
            cd = child_index_for_node(corners, frame)
            if ck[0] == ck[1] and cd[0] == cd[1]:
                out[idx[0]] = tile_id
                idx = idx[1:]
                tile_id = tile_id + str(cd[0])
                continue

        keys = cell_keys_for_node(pts, frame)
        accept = accept_mask_for_cells(pts, keys, spacing * spacing)
        out[idx[accept]] = tile_id
        rej = idx[~accept]
        if len(rej) == 0:
            return
        children = child_index_for_node(xyz[rej], frame)
        uniq = np.unique(children)
        if len(uniq) == 1:
            # single-child forward: stay in this frame (deep skew chains
            # must not hit Python's recursion limit)
            idx = rej
            tile_id = tile_id + str(uniq[0])
            continue
        for child in uniq:
            sub = rej[children == child]
            _assign(xyz, sub, tile_id + str(child), root_aabb, root_spacing,
                    scale, split_threshold, out)
        return


def replay_tiling(point_ids: np.ndarray, xyz: np.ndarray,
                  scale: float = 1.0,
                  split_threshold: int = SPLIT_THRESHOLD):
    """Full replay from raw points: compute root AABB + spacing, assign.

    Returns (assignments: np.ndarray[str], root_aabb, root_spacing).
    """
    xyz32 = xyz.astype(np.float32, copy=False)
    root_aabb = np.array([xyz32.min(axis=0), xyz32.max(axis=0)],
                         dtype=np.float32)
    root_spacing = compute_spacing(root_aabb)
    tiles = assign_subtree(point_ids, xyz32, "", root_aabb, root_spacing,
                           scale, split_threshold)
    return tiles, root_aabb, root_spacing
