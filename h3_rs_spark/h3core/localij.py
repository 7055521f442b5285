"""Local hex-frame coordinates: O(1) grid distance and exact grid lines.

H3 solves gridDistance/gridPathCells via local IJ coordinates anchored
to the origin's base cell (reference surface: h3-sys/src/ffi.rs:284-296,
src/traversal.rs:90-123). This engine anchors the local frame to the
origin's ICOSAHEDRON FACE instead: a cell on the same face shares the
frame directly; a cell on an adjacent face unfolds into the origin
face's extended frame by inverting the overage transform (the exact
integer rotation+translation that encode uses to fold overflowing
coordinates onto the neighbor face). Within the unfolded plane the
aperture-7 lattice is isometric, so axial-integer math gives the true
grid distance and the cube-lerp line — the same guarantees as H3's
base-cell-anchored frame, with the same documented failure envelope
(pairs spanning two icosa edges, or passing near a pentagon where the
deleted K-subsequence shortens off-plane paths, fall back to BFS /
greedy walk; H3 errors on those).

Distance is exact wherever the planar frame is used: the pentagon guard
is conservative (any pair whose straight line comes within a few cells
of a face corner — corners are exactly the 12 pentagon homes — falls
back), validated against the BFS oracle in tests/test_h3_goldens.py.
"""

from __future__ import annotations

import numpy as np

from . import faceijk as fk
from . import indexing as ix
from .constants import (
    BASE_CELL_IS_PENTAGON,
    MAX_DIM_BY_CII_RES,
    UNIT_SCALE_BY_CII_RES,
)
from .coordijk import (
    down_ap7r,
    ijk_normalize,
    ijk_to_hex2d,
    rotate60_cw,
    up_ap7r,
)
from .tables import get_tables

# how close (in cell spacings) the straight path may come to a face
# corner (= pentagon home) before we distrust the planar frame
_PENT_GUARD_CELLS = 3.0


def _ijk_dist(diff: np.ndarray) -> np.ndarray:
    """Hex grid distance of normalized cube diffs (H3 ijkDistance)."""
    d = ijk_normalize(diff)
    return np.abs(d).max(axis=-1)


def _face_corners_hex2d(work_res: int) -> np.ndarray:
    """The 3 face-triangle corners in non-substrate work-grid hex2d."""
    m = float(MAX_DIM_BY_CII_RES[work_res])
    s32 = np.sqrt(3.0) / 2.0
    return np.array([[m, 0.0], [-0.5 * m, s32 * m], [-0.5 * m, -s32 * m]])


def _seg_point_dist(p0, p1, q) -> np.ndarray:
    """Min distance from points q to segments p0->p1 (N,2). q is either
    a shared (3,2) corner set or a per-row (N,3,2) set."""
    if q.ndim == 2:
        q = np.broadcast_to(q, (p0.shape[0],) + q.shape)
    d = p1 - p0  # (N,2)
    qq = q - p0[:, None, :]  # (N,3,2)
    denom = (d * d).sum(axis=1)[:, None]  # (N,1)
    t = np.clip(
        (qq * d[:, None, :]).sum(axis=2) / np.where(denom == 0, 1.0, denom),
        0.0,
        1.0,
    )
    proj = p0[:, None, :] + t[:, :, None] * d[:, None, :]
    return np.sqrt(((q - proj) ** 2).sum(axis=2)).min(axis=1)


def local_frames(a: np.ndarray, b: np.ndarray):
    """Pairwise local-frame data for same-res cell pairs.

    Returns (ok, diff_res, res) where ok marks rows with a trustworthy
    planar frame (same or adjacent face, no pentagon involvement, path
    clear of face corners) and diff_res is the res-grid cube diff
    (a - b) in a's face frame for those rows.
    """
    t = get_tables()
    adj = fk._adj_dir()
    a = np.atleast_1d(np.asarray(a, dtype=np.int64))
    b = np.atleast_1d(np.asarray(b, dtype=np.int64))
    n = a.shape[0]
    res_a = ix.get_resolution(a)
    res_b = ix.get_resolution(b)

    fa, ia, _ = fk._h3_to_face_ijk(a)
    fb, ib, _ = fk._h3_to_face_ijk(b)
    class3 = (res_a % 2) == 1
    work_res = res_a + class3.astype(np.int64)

    wa = np.where(class3[:, None], down_ap7r(ia), ia)
    wb = np.where(class3[:, None], down_ap7r(ib), ib)

    same = fa == fb
    q = adj[fa, fb]
    adjacent = ~same & (q > 0)

    # unfold b's work coords into a's extended frame (inverse of the
    # overage transform: x_nbr = ccw^rot(x_home) + t  =>
    # x_home = cw^rot(x_nbr - t))
    scale = UNIT_SCALE_BY_CII_RES[work_res]
    rot = t.FACE_NEIGHBORS_ROT[fa, q]
    trans = t.FACE_NEIGHBORS_TRANSLATE[fa, q] * scale[:, None]
    x = wb - trans
    for step in (1, 2, 3, 4, 5):
        sel = adjacent & (rot >= step)
        if not sel.any():
            break
        x = np.where(sel[:, None], rotate60_cw(x), x)
    wb_in_fa = np.where(adjacent[:, None], x, wb)

    # pentagon guards: endpoint base cells, and path proximity to face
    # corners (exactly the pentagon homes) in a's frame — including b's
    # face corners unfolded into a's frame
    pent_ep = BASE_CELL_IS_PENTAGON[ix.get_base_cell(a)] | BASE_CELL_IS_PENTAGON[
        ix.get_base_cell(b)
    ]
    p0 = ijk_to_hex2d(wa)
    p1 = ijk_to_hex2d(wb_in_fa)
    near_pent = np.zeros(n, dtype=bool)
    for wr in np.unique(work_res):
        m = work_res == wr
        corners = _face_corners_hex2d(int(wr))
        d_own = _seg_point_dist(p0[m], p1[m], corners)
        near = d_own < _PENT_GUARD_CELLS
        # b-face corners unfolded into a's frame: the ijk inverse
        # transform is x_F = cw^rot(x_N - t), so in hex2d the corner maps
        # as R(-60deg*rot) @ (corner - hex2d(t)) — translate FIRST, then
        # rotate (rotating first misplaces corners whenever rot != 0)
        madj = m & adjacent
        if madj.any():
            sub = np.flatnonzero(madj)
            th = -np.pi / 3.0 * rot[sub]
            cos, sin = np.cos(th), np.sin(th)
            tr2d = ijk_to_hex2d(trans[sub])  # (k, 2)
            shifted = corners[None, :, :] - tr2d[:, None, :]  # (k, 3, 2)
            cx = shifted[..., 0] * cos[:, None] - shifted[..., 1] * sin[:, None]
            cy = shifted[..., 0] * sin[:, None] + shifted[..., 1] * cos[:, None]
            c = np.stack([cx, cy], axis=-1)  # (k, 3, 2)
            dmin = _seg_point_dist(p0[sub], p1[sub], c)
            near_b = np.zeros(n, dtype=bool)
            near_b[sub] = dmin < _PENT_GUARD_CELLS
            near = near | near_b[m]
        near_pent[m] = near

    ok = (
        (res_a == res_b)
        & (same | adjacent)
        & ~pent_ep
        & ~near_pent
    )

    diff_work = wa - wb_in_fa
    diff_res = np.where(class3[:, None], up_ap7r(diff_work), diff_work)
    return ok, diff_res, res_a, (fa, ia, wb_in_fa, class3)


def _bfs_fallback_batch(a, b, out, rem: np.ndarray):
    """Distances for the non-planar pairs: batched ring BFS with
    radius doubling — one vectorized k_ring_distances sweep per radius
    over the UNIQUE remaining origins, instead of a per-pair BFS."""
    from . import traversal as tv

    k = 4
    while rem.size and k <= tv.MAX_BFS_K:
        ua, inv = np.unique(a[rem], return_inverse=True)
        o, cells, dist = tv.k_ring_distances(ua, k)
        lut = {}
        for oi, c, d in zip(o.tolist(), cells.tolist(), dist.tolist()):
            lut[(oi, c)] = d
        hit = np.array(
            [(int(inv[i]), int(b[r])) in lut for i, r in enumerate(rem)]
        )
        for i in np.flatnonzero(hit):
            out[rem[i]] = lut[(int(inv[i]), int(b[rem[i]]))]
        rem = rem[~hit]
        k *= 2
    return out


def h3_distance_batch(a, b) -> np.ndarray:
    """Grid distance for same-res pairs, vectorized. Planar local-frame
    math where trustworthy, batched ring-BFS fallback otherwise; -1 when
    resolutions differ or the search gives up."""
    a = np.atleast_1d(np.asarray(a, dtype=np.int64))
    b = np.atleast_1d(np.asarray(b, dtype=np.int64))
    ok, diff_res, res_a, _ = local_frames(a, b)
    out = np.full(a.shape[0], -1, dtype=np.int64)
    out[ok] = _ijk_dist(diff_res[ok])
    same_res = ix.get_resolution(a) == ix.get_resolution(b)
    rem = np.flatnonzero(~ok & same_res)
    if rem.size:
        out = _bfs_fallback_batch(a, b, out, rem)
    return out


def _cube_lerp_round(ax0, bz0, ax1, bz1, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Cube-coordinate lerp with cube rounding from axial (a, b) endpoint
    pairs; returns axial coords of the n+1 line points (H3 cubeRound)."""
    ts = np.linspace(0.0, 1.0, n + 1)
    x = ax0 + (ax1 - ax0) * ts
    z = bz0 + (bz1 - bz0) * ts
    y = -x - z

    def rnd(v):  # half away from zero (C round, as H3 _cubeRound uses)
        return np.trunc(v + np.copysign(0.5, v))

    rx, ry, rz = rnd(x), rnd(y), rnd(z)
    dx, dy, dz = np.abs(rx - x), np.abs(ry - y), np.abs(rz - z)
    fix_x = (dx > dy) & (dx > dz)
    fix_y = ~fix_x & (dy > dz)
    rx = np.where(fix_x, -ry - rz, rx)
    ry = np.where(fix_y, -rx - rz, ry)
    rz = np.where(~fix_x & ~fix_y, -rx - ry, rz)
    return rx.astype(np.int64), rz.astype(np.int64)


def h3_line_local(a: int, b: int) -> np.ndarray | None:
    """Exact minimal grid path a -> b via cube-lerp in a's local frame
    (H3 gridPathCells semantics: length = distance+1, consecutive cells
    neighbors). None when the planar frame is untrustworthy — callers
    fall back to the greedy walk."""
    aa = np.array([a], dtype=np.int64)
    bb = np.array([b], dtype=np.int64)
    ok, diff_res, res_a, (fa, ia, wb_in_fa, class3) = local_frames(aa, bb)
    if not bool(ok[0]):
        return None
    res = int(res_a[0])
    d = int(_ijk_dist(diff_res)[0])
    if d == 0:
        return np.array([a], dtype=np.int64)

    # endpoints in a's RES-grid frame, proper cube coords (H3 _ijkToCube:
    # x = -i + k, y = j - k, z = -x - y)
    ia0 = ia[0]
    ib0 = ia[0] - diff_res[0]  # b = a - (a - b)
    x0, y0 = -ia0[0] + ia0[2], ia0[1] - ia0[2]
    x1, y1 = -ib0[0] + ib0[2], ib0[1] - ib0[2]
    cx, cy = _cube_lerp_round(float(x0), float(y0), float(x1), float(y1), d)

    # cube -> ijk (H3 _cubeToIjk: (-x, y, 0) normalized), fold overflow
    # back onto real faces, encode
    pts = ijk_normalize(
        np.stack([-cx, cy, np.zeros_like(cx)], axis=-1)
    )
    cls3 = bool(class3[0])
    work = down_ap7r(pts) if cls3 else pts
    work_res = res + 1 if cls3 else res
    faces = np.full(pts.shape[0], int(fa[0]), dtype=np.int64)
    res_arr = np.full(pts.shape[0], work_res, dtype=np.int64)
    for _ in range(2):
        f2, w2, ov = fk._adjust_overage_class2(
            faces, work, res_arr, np.zeros(pts.shape[0], dtype=bool), substrate=False
        )
        if (ov == fk.NO_OVERAGE).all():
            break
        faces, work = f2, w2
    ijk_res = up_ap7r(work) if cls3 else work
    cells = fk._face_ijk_to_h3(faces, ijk_normalize(ijk_res), res)
    cells[0] = a
    cells[-1] = b
    return cells
