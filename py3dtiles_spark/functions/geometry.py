"""Pure-numpy geometry core for the octree/quadtree tiler.

These are the behavior-defining kernels of the engine, re-expressed from
scratch with the same semantics as the reference (Oslandia/py3dtiles):

- octant child index        (reference: py3dtiles/points/distance.py:18-21)
- grid cell key             (reference: py3dtiles/points/distance.py:24-32)
- spacing acceptance test   (reference: py3dtiles/points/distance.py:5-15)
- AABB split / spacing law  (reference: py3dtiles/points/utils.py:43-88)
- subdivision-type rule     (reference: py3dtiles/points/utils.py:47-51)

Precision contract (bit-for-bit vs the reference, validated by the golden
test that runs the reference's own Node/Grid code on the same input):

- node AABBs fold from the root in FLOAT64 (NodeCatalog.get_node,
  node_catalog.py:26-31 — the root aabb is float64 there) and are cast to
  float32 only at node construction (node.py:28); the node center is the
  float64 midpoint cast to float32 (node.py:31), NOT the float32 midpoint.
- the grid cell key multiplies int32 cell_count by float32 inv_aabb_size,
  which numpy/numba promote to FLOAT64 (distance.py:24-27); the per-point
  (xyz - aabb_min) difference stays float32.
- the spacing acceptance test is pure FLOAT32 arithmetic with the
  reference's (a-b)**2 left-to-right term order (distance.py:5-15, numba
  float32 signature).

Everything here is driver/UDF-side pure functions — no Spark imports.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

OCTREE = "octree"
QUADTREE = "quadtree"

# Engine constants (same values as the reference; see BASELINE.md).
SPLIT_THRESHOLD = 20_000      # leaf splits at this many points (node.py:70-73)
MIN_SPACING = 0.001           # stop splitting when spacing <= 1mm * scale
SMALL_CHILD_MERGE = 100       # children below this roll up (node.py:229)
GRID_INITIAL_CELL_COUNT = 3   # per-axis grid cells (points_grid.py:40-42)
ROOT_SPACING_DIVISOR = 125.0  # spacing = ||diag|| / 125 (points/utils.py:43-44)


def compute_spacing(aabb: np.ndarray) -> float:
    """Root spacing law: ||aabb diagonal|| / 125, in float64 like the
    reference (points/utils.py:43-44 — the root aabb there is float64)."""
    aabb = np.asarray(aabb, dtype=np.float64)
    return float(np.linalg.norm(aabb[1] - aabb[0]) / ROOT_SPACING_DIVISOR)


def subdivision_type(size) -> str:
    """Quadtree when the z extent is flat relative to x/y (< 0.5 ratio)."""
    size = np.asarray(size)
    return QUADTREE if size[2] / min(size[0], size[1]) < 0.5 else OCTREE


def split_aabb(aabb: np.ndarray, index: int, force_quadtree: bool = False) -> np.ndarray:
    """Child AABB for child `index` (3-bit octant code x<<2 | y<<1 | z).

    Quadtree mode keeps the full z extent of the parent. Dtype-preserving:
    the name->geometry fold runs it in float64 like the reference catalog
    (node_catalog.py:26-31); float32 callers get float32.
    """
    aabb = np.asarray(aabb)
    half = (aabb[1] - aabb[0]) * 0.5
    t = subdivision_type(half)
    out = np.array([aabb[0].copy(), aabb[0] + half])
    if index & 4:
        out[0][0] += half[0]
        out[1][0] += half[0]
    if index & 2:
        out[0][1] += half[1]
        out[1][1] += half[1]
    if force_quadtree or t == QUADTREE:
        out[1][2] += half[2]
    elif index & 1:
        out[0][2] += half[2]
        out[1][2] += half[2]
    return out


def make_aabb_cubic(aabb: np.ndarray) -> np.ndarray:
    """X7: stretch an AABB to a cube on its max axis (reference
    points/utils.py:79-84; unused by the reference main path, kept for
    API parity)."""
    aabb = np.array(aabb, copy=True)
    s = (aabb[1] - aabb[0]).max()
    aabb[1] = aabb[0] + s
    return aabb


class NodeFrame(NamedTuple):
    """Float32 node constants exactly as the reference Node derives them
    from the float64 name-fold (node.py:28-31)."""
    aabb: np.ndarray      # (2,3) f32 — f64 fold cast at the end
    center: np.ndarray    # (3,)  f32 — f64 midpoint, cast (node.py:31)
    size: np.ndarray      # (3,)  f32 — f64 diff, cast (node.py:29)
    spacing: float


def node_frame(tile_id: str, root_aabb: np.ndarray,
               root_spacing: float) -> NodeFrame:
    """Full node geometry from the tile name: float64 fold of split_aabb
    (reference NodeCatalog.get_node) + the reference's float32 casts."""
    aabb = np.asarray(root_aabb, dtype=np.float64)
    for digit in tile_id:
        aabb = split_aabb(aabb, int(digit))
    spacing = float(root_spacing) / (2.0 ** len(tile_id))
    return NodeFrame(
        aabb=aabb.astype(np.float32),
        center=((aabb[0] + aabb[1]) * 0.5).astype(np.float32),
        size=(aabb[1] - aabb[0]).astype(np.float32),
        spacing=spacing)


def node_geometry(tile_id: str, root_aabb: np.ndarray, root_spacing: float):
    """(aabb f32, spacing) of any tile, derived purely from its name.

    Folds split_aabb over the octant digits so the tile tree never has to be
    materialized or shuffled with the points (SURVEY.md §2.3 X6).
    """
    f = node_frame(tile_id, root_aabb, root_spacing)
    return f.aabb, f.spacing


def xyz_to_child_index(xyz: np.ndarray, center: np.ndarray) -> np.ndarray:
    """Per-point 3-bit child code: 4*(x>=cx) + 2*(y>=cy) + (z>=cz)."""
    test = np.greater_equal(xyz - center, 0).astype(np.int8)
    return np.sum(np.left_shift(test, np.array([2, 1, 0], dtype=np.int8)), axis=1)


def child_index_for_node(xyz: np.ndarray, frame: NodeFrame) -> np.ndarray:
    """Child code with the quadtree z-trick (node.py:123-131): in quadtree
    mode the comparison z is the aabb top so the z bit is always 0."""
    center = frame.center
    if subdivision_type(frame.size) == QUADTREE:
        center = np.array([center[0], center[1], frame.aabb[1][2]],
                          dtype=np.float32)
    return xyz_to_child_index(xyz, center)


def xyz_to_key(xyz: np.ndarray, cell_count: np.ndarray, aabb_min: np.ndarray,
               inv_aabb_size: np.ndarray, shift: int) -> np.ndarray:
    """Bit-packed grid cell key: clamped per-axis cell index, y<<shift,
    z<<2*shift, summed. Same Morton-family packing as an H3/S2 encode.

    Mirrors the reference numba kernel's promotion EXACTLY
    (distance.py:24-32): int32 cell_count * float32 inv promotes to
    float64; (xyz - aabb_min) stays float32; the float64 product truncates
    to int64. The engine's native Spark expression reproduces this with a
    DOUBLE scale column times a FLOAT difference."""
    scalef = cell_count * inv_aabb_size            # int32*f32 -> f64
    a = (scalef * (xyz - aabb_min)).astype(np.int64)
    a = np.minimum(np.maximum(a, 0), cell_count - 1)
    a[:, 1] <<= shift
    a[:, 2] <<= 2 * shift
    return np.sum(a, axis=1).astype(np.int32)


def cell_keys_for_node(xyz: np.ndarray, frame: NodeFrame,
                       cell_count: int = GRID_INITIAL_CELL_COUNT) -> np.ndarray:
    """Grid cell keys for points inside a node (reference Grid constants:
    aabb_min f32, inv_aabb_size = 1/f32 size, points_grid.py:45-63)."""
    inv = np.float32(1.0) / frame.size
    counts = np.array([cell_count] * 3, dtype=np.int32)
    shift = int(cell_count - 1).bit_length()
    return xyz_to_key(xyz.astype(np.float32, copy=False), counts,
                      frame.aabb[0], inv, shift)


def sequential_accept(xyz: np.ndarray, squared_spacing: float) -> np.ndarray:
    """Order-dependent LOD subsample within one grid cell.

    Point i is accepted iff it is >= spacing away (squared-distance test)
    from every previously-accepted point in the same cell. Points MUST be in
    canonical order (the engine sorts by point_id) — reference acceptance is
    insertion-order dependent (SURVEY.md §7.4 item 1).

    Returns a boolean accept mask. The distance test is PURE FLOAT32 with
    the reference's (a-b)**2 left-to-right term order (distance.py:10-12,
    numba float32 signature) — bit-identical accept decisions, validated by
    the reference-code golden test.

    Implementation: spatial-hash bins of width slightly over spacing (the
    tiny margin guarantees every pair the float32 test can call "near" is
    within one bin step despite float32 rounding). A previously-accepted
    point can only reject a candidate inside the candidate's 3x3x3 bin
    neighborhood; spacing-packing bounds accepted points per bin to a
    handful, so the scan is O(n) instead of the naive O(n^2) — the same
    output, orders of magnitude faster on skew-hot cells (megacities).
    """
    n = xyz.shape[0]
    accept = np.zeros(n, dtype=bool)
    if n == 0:
        return accept
    pts = np.ascontiguousarray(xyz, dtype=np.float32)
    sq = np.float32(squared_spacing)
    spacing = float(np.sqrt(squared_spacing))
    if spacing <= 0:
        accept[:] = True
        return accept

    bins = np.floor(pts.astype(np.float64) / (spacing * 1.000001)).astype(np.int64)
    keys = _pack_bins(bins)

    # Round-based exact algorithm. Each round takes a HEAD of the pending
    # points, in canonical order:
    #  1. vectorized-cull the head against ALL previously-accepted points
    #     (rejection against an earlier accept is order-independent, so
    #     this is exact and runs at numpy speed — in skew-hot cells
    #     (megacity clusters) it kills ~everything);
    #  2. survivors run the plain sequential bin-hash accept loop (a
    #     candidate only compares against accepted points in its 3x3x3
    #     bin neighborhood; spacing-packing bounds those to a handful).
    # Every point is culled exactly once and loop-scanned at most once.
    #
    # Allocation discipline (VERDICT r3 #6 — this host serializes page
    # faults, so fresh pages are the scarce resource at high concurrency):
    # the accepted-point key/index arrays are written into ONE capacity-n
    # buffer pair instead of concatenate-per-round, the candidate index
    # pool is a single arange sliced per round, and the bucket hash is
    # keyed by the already-packed int64 (27 precomputed integer offsets)
    # so no n-sized list-of-tuples is ever materialized.
    head_size = 8192
    pos = 0
    n_acc = 0
    acc_keys_buf = np.empty(n, dtype=np.int64)
    acc_idx_buf = np.empty(n, dtype=np.int64)
    # per-bin buckets hold small float32 arrays so the scalar scan runs the
    # exact float32 test vectorized per candidate (numpy keeps f32 dtype)
    buckets: dict = {}
    keys_l = keys.tolist()
    idx_pool = np.arange(n)
    while pos < n:
        h = min(head_size, n - pos)
        head = idx_pool[pos:pos + h]
        if n_acc:
            head = head[_not_near_accepted(pts, keys, head,
                                           acc_keys_buf[:n_acc],
                                           acc_idx_buf[:n_acc], sq)]
        for i in head.tolist():
            k = keys_l[i]
            p = pts[i]
            rejected = False
            for off in _KEY_OFFSETS:
                cell = buckets.get(k + off)
                if cell is None:
                    continue
                # float32 columns: dx*dx + dy*dy + dz*dz < sq with
                # left-to-right adds — the reference test verbatim
                for a in cell:
                    dx = p[0] - a[0]
                    dy = p[1] - a[1]
                    dz = p[2] - a[2]
                    if dx * dx + dy * dy + dz * dz < sq:
                        rejected = True
                        break
                if rejected:
                    break
            if not rejected:
                accept[i] = True
                buckets.setdefault(k, []).append(p)
                acc_keys_buf[n_acc] = k
                acc_idx_buf[n_acc] = i
                n_acc += 1
        pos += h
        if head.size < h // 2:
            head_size = min(head_size * 2, 1 << 19)
    return accept


_NEIGHBOR_OFFSETS = sorted(
    ((dx, dy, dz) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
     for dz in (-1, 0, 1)),
    key=lambda o: abs(o[0]) + abs(o[1]) + abs(o[2]))

_BIN_OFF = 1 << 20
_BIN_M = 1 << 21

# packed-key deltas of the 27-neighborhood (packing is linear, so the
# neighbor of packed key k at (dx,dy,dz) is k + delta), own-bin first —
# a candidate's rejector usually shares its bin
_KEY_OFFSETS = [(dx * _BIN_M + dy) * _BIN_M + dz
                for dx, dy, dz in _NEIGHBOR_OFFSETS]


def _pack_bins(bins: np.ndarray) -> np.ndarray:
    b = np.clip(bins + _BIN_OFF, 0, _BIN_M - 1)
    return (b[:, 0] * _BIN_M + b[:, 1]) * _BIN_M + b[:, 2]


def _not_near_accepted(pts, keys, cand_idx, acc_keys, acc_idx, sq):
    """Vectorized: True for candidates NOT within spacing of any accepted
    point. Neighbor-bin pairs found via searchsorted over sorted accepted
    bin keys; distances in float32 elementwise (dx*dx + dy*dy + dz*dz,
    left-to-right) — IDENTICAL IEEE ops to the scalar bucket loop and the
    reference kernel, so a boundary pair's verdict never depends on which
    path evaluated it."""
    # few-accepted fast path (the megacity shape: a huge candidate head vs
    # a handful of accepted points): one blocked distance matrix beats 27
    # bin probes. Same float32 elementwise test, block-row-reduced. Small
    # blocks keep temporaries cache-sized; gate on a genuinely small
    # accepted set so dense-uniform cells stay on the bin path.
    if 0 < acc_idx.size <= 1024:
        alive = np.ones(cand_idx.size, dtype=bool)
        ap = pts[acc_idx]
        cp = pts[cand_idx]
        step = max(256, (1 << 18) // acc_idx.size)
        for s in range(0, cand_idx.size, step):
            blk = cp[s:s + step]
            d = blk[:, None, :] - ap[None, :, :]
            dist = (d[:, :, 0] * d[:, :, 0] + d[:, :, 1] * d[:, :, 1]
                    + d[:, :, 2] * d[:, :, 2])
            alive[s:s + step] = ~(dist < sq).any(axis=1)
        return alive

    order = np.argsort(acc_keys, kind="stable")
    ak = acc_keys[order]
    ai = acc_idx[order]
    alive = np.ones(cand_idx.size, dtype=bool)
    ck = keys[cand_idx]
    # probe the OWN bin first, then faces, edges, corners: a candidate's
    # rejector usually shares its bin, so the nearest offsets kill most of
    # `alive` before the remaining 26 probes run (order doesn't change the
    # result — rejection is an OR over offsets — only the work)
    for dx, dy, dz in _NEIGHBOR_OFFSETS:
        off = (dx * _BIN_M + dy) * _BIN_M + dz
        probe = ck[alive] + off
        live_pos = np.flatnonzero(alive)
        lo = np.searchsorted(ak, probe, "left")
        hi = np.searchsorted(ak, probe, "right")
        cnt = hi - lo
        hitp = cnt > 0
        if not hitp.any():
            continue
        # expand ragged matches into flat pair lists
        c_sel = live_pos[hitp]
        lo_h, cnt_h = lo[hitp], cnt[hitp]
        pair_c = np.repeat(c_sel, cnt_h)
        pair_a = ai[_ragged_ranges(lo_h, cnt_h)]
        cp = pts[cand_idx[pair_c]]
        ap = pts[pair_a]
        d = cp - ap
        near = (d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1]
                + d[:, 2] * d[:, 2]) < sq
        if near.any():
            alive[np.unique(pair_c[near])] = False
    return alive


def _ragged_ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenate ranges start_i .. start_i+count_i (vectorized)."""
    total = int(counts.sum())
    out = np.ones(total, dtype=np.int64)
    ends = np.cumsum(counts)
    out[0] = starts[0]
    out[ends[:-1]] = starts[1:] - (starts[:-1] + counts[:-1] - 1)
    return np.cumsum(out)


def accept_mask_for_cells(xyz: np.ndarray, cell_keys: np.ndarray,
                          squared_spacing: float) -> np.ndarray:
    """Run sequential_accept independently per grid cell (cells are
    independent in the reference: the distance scan is per-cell only)."""
    accept = np.zeros(xyz.shape[0], dtype=bool)
    order = np.argsort(cell_keys, kind="stable")
    sorted_keys = cell_keys[order]
    boundaries = np.flatnonzero(np.diff(sorted_keys)) + 1
    for grp in np.split(order, boundaries):
        accept[grp] = sequential_accept(xyz[grp], squared_spacing)
    return accept
