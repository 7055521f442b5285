"""Face-IJK <-> H3 index transforms, vectorized (H3 v3.6 semantics).

This is the geometric heart of the engine: point -> cell encode,
cell -> centroid decode, and cell -> boundary polygon, all as batch
numpy over (N,) arrays so they can back Arrow-vectorized pandas UDFs.

Derived lookup tables (face-ijk -> base cell / orientation, icosahedron
face neighbors) come from .tables (numerically derived from the public
constants; see tools/generate_tables.py).

Golden parity targets (reference crate tests, themselves ported from
h3-py / h3-js per /root/reference/src/lib.rs:58-61):
  - encode:   /root/reference/src/index.rs:111-117
  - decode:   /root/reference/src/index.rs:141-153
  - boundary: /root/reference/src/region.rs:85-102
"""

from __future__ import annotations

import numpy as np

from . import geom, indexing as ix
from .constants import (
    BASE_CELL_FACE,
    BASE_CELL_IJK,
    BASE_CELL_IS_PENTAGON,
    MAX_DIM_BY_CII_RES,
    MAX_RES,
    UNIT_SCALE_BY_CII_RES,
)
from .coordijk import (
    UNIT_VECS,
    down_ap3,
    down_ap3r,
    down_ap7r,
    hex2d_to_ijk,
    ijk_normalize,
    ijk_to_digit,
    ijk_to_hex2d,
    rotate60_ccw,
    rotate60_cw,
    up_ap7,
    up_ap7r,
)
from .tables import get_tables

# overage classification
NO_OVERAGE, FACE_EDGE, NEW_FACE = 0, 1, 2

# quadrant indices into the face-neighbor tables (0 = central face)
Q_IJ, Q_KI, Q_JK = 1, 2, 3

# cell vertices in the aperture 3 3r substrate grid (Class II), ccw from
# the i-axis; Class III uses the 33r7r substrate.
_VERTS_CII = np.array(
    [[2, 1, 0], [1, 2, 0], [0, 2, 1], [0, 1, 2], [1, 0, 2], [2, 0, 1]], dtype=np.int64
)
_VERTS_CIII = np.array(
    [[5, 4, 0], [1, 5, 0], [0, 5, 4], [0, 1, 5], [4, 0, 5], [5, 0, 1]], dtype=np.int64
)

# _ROT_CCW_POW[r, d] = digit d rotated ccw r times (7 -> 7 fixed point),
# so whole-batch hexagon rotations are a single fancy-index gather
from .coordijk import ROTATE60_CCW_DIGIT as _R1  # noqa: E402

_ROT_CCW_POW = np.empty((6, 8), dtype=np.uint8)
_ROT_CCW_POW[0] = np.arange(8)
for _r in range(1, 6):
    _ROT_CCW_POW[_r] = _R1[_ROT_CCW_POW[_r - 1]]


# --------------------------------------------------------------------------
# encode: geo -> H3
# --------------------------------------------------------------------------

# Cache-sized work chunks: the kernels allocate dozens of temporaries per
# call; above ~2k rows each temp crosses the allocator's mmap threshold and
# 32 parallel workers serialize on kernel page faults (measured: 32-process
# aggregate throughput 1.5M rows/s unchunked vs 8.4M rows/s chunked).
_CHUNK = 2048


def _chunked(fn, n_out: int):
    def run(arr_args, scalar_args):
        n = arr_args[0].shape[0]
        if n <= _CHUNK:
            return fn(*arr_args, *scalar_args)
        outs = [fn(*(a[s:s + _CHUNK] for a in arr_args), *scalar_args)
                for s in range(0, n, _CHUNK)]
        if n_out == 1:
            return np.concatenate(outs)
        return tuple(np.concatenate([o[i] for o in outs]) for i in range(n_out))

    return run


def geo_to_h3(lat_deg, lng_deg, res: int) -> np.ndarray:
    """(lat, lng) degrees -> H3 cell at `res`. NaN inputs -> 0 (invalid)."""
    lat_deg = np.atleast_1d(np.asarray(lat_deg, dtype=np.float64))
    lng_deg = np.atleast_1d(np.asarray(lng_deg, dtype=np.float64))
    return _chunked(_geo_to_h3_impl, 1)((lat_deg, lng_deg), (res,))


def _geo_to_h3_impl(lat_deg, lng_deg, res: int) -> np.ndarray:
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    bad = ~(np.isfinite(lat) & np.isfinite(lng))
    lat = np.where(bad, 0.0, lat)
    lng = np.where(bad, 0.0, lng)

    face, ijk = _geo_to_face_ijk(lat, lng, res)
    h = _face_ijk_to_h3(face, ijk, res)
    return np.where(bad, np.int64(0), h)


def _geo_to_face_ijk(lat, lng, res: int):
    face, v = geom.geo_to_hex2d(lat, lng, res)
    return face, hex2d_to_ijk(v)


def _extract_digits(ijk: np.ndarray, res: int):
    """Aggregate a res-`res` face coordinate up to res 0, recording the
    per-resolution digits. Returns (digits (N,15) uint8, res0_ijk (N,3)).

    Runs entirely in axial (i-k, j-k) integer coordinates — the up/down
    aperture-7 maps and digit extraction are exact 2x2 integer linear
    algebra there, halving the per-resolution array work vs (N,3) cube
    coordinates."""
    from .coordijk import _AXIAL_TO_DIGIT_FLAT

    n = ijk.shape[0]
    digits = np.zeros((n, MAX_RES), dtype=np.uint8)
    a = ijk[:, 0] - ijk[:, 2]
    b = ijk[:, 1] - ijk[:, 2]
    for r in range(res, 0, -1):
        if r % 2 == 1:  # Class III: up_ap7, down = [[2,1],[-1,3]]
            pa = (2 * (3 * a - b) + 7) // 14
            pb = (2 * (a + 2 * b) + 7) // 14
            da = a - (2 * pa + pb)
            db = b - (-pa + 3 * pb)
        else:  # Class II: up_ap7r, down = [[3,-1],[1,2]]
            pa = (2 * (2 * a + b) + 7) // 14
            pb = (2 * (3 * b - a) + 7) // 14
            da = a - (3 * pa - pb)
            db = b - (pa + 2 * pb)
        # diffs are unit vectors by aperture-7 construction; clip guards
        # garbage inputs from wrapping the gather (7 = invalid digit)
        idx = da * 3 + db + 4
        bad = (idx < 0) | (idx > 8)
        if bad.any():
            digits[:, r - 1] = np.where(
                bad, 7, _AXIAL_TO_DIGIT_FLAT[np.where(bad, 0, idx)]
            )
        else:
            digits[:, r - 1] = _AXIAL_TO_DIGIT_FLAT[idx]
        a, b = pa, pb
    # back to normalized cube coords
    z = np.zeros_like(a)
    m = np.minimum(np.minimum(a, b), z)
    return digits, np.stack([a - m, b - m, z - m], axis=-1)


def _face_ijk_to_h3(face: np.ndarray, ijk: np.ndarray, res: int) -> np.ndarray:
    """H3 _faceIjkToH3, vectorized. face:(N,), ijk:(N,3)."""
    t = get_tables()
    n = face.shape[0]
    digits, cur = _extract_digits(ijk, res)

    # base cell lookup on the res-0 coordinate
    i, j, k = cur[:, 0], cur[:, 1], cur[:, 2]
    in_range = (i <= 2) & (j <= 2) & (k <= 2)
    ic = np.clip(i, 0, 2)
    jc = np.clip(j, 0, 2)
    kc = np.clip(k, 0, 2)
    base_cell = t.FACE_IJK_BASE_CELLS[face, ic, jc, kc]
    rot = t.FACE_IJK_BASE_CELL_ROT[face, ic, jc, kc]

    pent = BASE_CELL_IS_PENTAGON[base_cell]
    res_arr = np.full(n, res, dtype=np.int64)

    # pentagon deleted-k-subsequence adjustment (pentagon rows only)
    pent_idx = np.flatnonzero(pent)
    if pent_idx.size:
        sub = digits[pent_idx]
        sub_res = res_arr[pent_idx]
        lead = ix.leading_nonzero_digit(sub, sub_res)
        adj = lead == 1
        if adj.any():
            cw_off = t.PENT_CW_OFFSET[base_cell[pent_idx], face[pent_idx]]
            d_cw = ix.rotate60_cw_digits(sub, sub_res)
            d_ccw = ix.rotate60_ccw_digits(sub, sub_res)
            sub = np.where(
                adj[:, None], np.where(cw_off[:, None], d_cw, d_ccw), sub
            )
        # pentagon orientation rotations (rare rows; per-step loop)
        sub_rot = rot[pent_idx]
        for step in range(1, int(sub_rot.max()) + 1 if sub_rot.size else 1):
            sel = sub_rot >= step
            if not sel.any():
                break
            rotated = ix.rotate_pent60_ccw_digits(sub[sel], sub_res[sel])
            sub[sel] = rotated
        digits[pent_idx] = sub

    # hexagon orientation rotations: one gather via permutation powers
    hex_idx = np.flatnonzero(~pent & (rot > 0))
    if hex_idx.size:
        digits[hex_idx] = _ROT_CCW_POW[
            rot[hex_idx, None], digits[hex_idx].astype(np.int64)
        ]

    h = ix.from_components(base_cell, res, digits)
    return np.where(in_range, h, np.int64(0))


# --------------------------------------------------------------------------
# decode: H3 -> face ijk -> geo
# --------------------------------------------------------------------------

def _h3_to_face_ijk(h: np.ndarray):
    """H3 _h3ToFaceIjk, vectorized. Returns (face, ijk, res) where ijk is on
    the (possibly Class-III-shifted) grid used internally; the returned res
    is the index res (callers re-derive the shifted grid as needed)."""
    h = np.atleast_1d(np.asarray(h, dtype=np.int64))
    res = ix.get_resolution(h)
    bc = ix.get_base_cell(h)
    digits = ix.get_digits(h)
    pent = BASE_CELL_IS_PENTAGON[bc]

    # pentagon leading-5 (IK) adjustment
    lead = ix.leading_nonzero_digit(digits, res)
    adj = pent & (lead == 5)
    if adj.any():
        digits = np.where(adj[:, None], ix.rotate60_cw_digits(digits, res), digits)

    face = BASE_CELL_FACE[bc].copy()
    ijk = BASE_CELL_IJK[bc].astype(np.int64).copy()

    # overage is only possible for pentagons or base cells not centered on
    # their home face (H3 _h3ToFaceIjkWithInitializedFijk)
    possible = pent | ((res > 0) & (BASE_CELL_IJK[bc] != 0).any(axis=1))

    # digit descent in axial (i-k, j-k) integers: the aperture-7 down
    # maps are 2x2 there (down_ap7 = [[2,1],[-1,3]], down_ap7r =
    # [[3,-1],[1,2]]) and normalization is a no-op — half the array work
    # of the (N,3) cube form (same trick as encode's _extract_digits)
    max_r = int(res.max()) if res.size else 0
    a = ijk[:, 0] - ijk[:, 2]
    b = ijk[:, 1] - ijk[:, 2]
    ua = UNIT_VECS[:, 0] - UNIT_VECS[:, 2]
    ub = UNIT_VECS[:, 1] - UNIT_VECS[:, 2]
    for r in range(1, max_r + 1):
        active = res >= r
        if r % 2 == 1:
            a2, b2 = 2 * a + b, -a + 3 * b
        else:
            a2, b2 = 3 * a - b, a + 2 * b
        d = np.where(active, digits[:, r - 1].astype(np.int64), 0)
        a2 = a2 + ua[d]
        b2 = b2 + ub[d]
        a = np.where(active, a2, a)
        b = np.where(active, b2, b)
    z = np.zeros_like(a)
    m = np.minimum(np.minimum(a, b), z)
    ijk = np.stack([a - m, b - m, z - m], axis=-1)

    orig_ijk = ijk.copy()
    class3 = res % 2 == 1
    work_res = res + class3.astype(np.int64)
    ijk = np.where(class3[:, None], down_ap7r(ijk), ijk)

    pent_lead4 = pent & (lead == 4)
    face2, ijk2, ov = _adjust_overage_class2(
        face, ijk, work_res, pent_lead4, substrate=False
    )
    face2 = np.where(possible, face2, face)
    ijk2 = np.where(possible[:, None], ijk2, ijk)
    ov = np.where(possible, ov, NO_OVERAGE)

    # pentagons may need repeated adjustment — run the repeats on the
    # FEW rows that still overage, not the whole chunk (the full-array
    # repeat was 3 extra passes over every row per chunk)
    if (pent & (ov == NEW_FACE)).any():
        for _ in range(4):
            again = np.flatnonzero(pent & (ov == NEW_FACE))
            if not again.size:
                break
            f3, i3, ov3 = _adjust_overage_class2(
                face2[again],
                ijk2[again],
                work_res[again],
                np.zeros(again.size, dtype=bool),
                substrate=False,
            )
            face2[again] = f3
            ijk2[again] = i3
            ov[again] = ov3

    overaged = possible & (face2 != face)
    # if overage happened, unwind the Class III shift on the new face;
    # otherwise restore the original (unshifted) coordinate
    unshift = np.where(class3[:, None], up_ap7r(ijk2), ijk2)
    out_ijk = np.where(
        overaged[:, None], unshift, orig_ijk
    )
    out_face = np.where(overaged, face2, face)
    return out_face, out_ijk, res


def _adjust_overage_class2(face, ijk, res, pent_leading4, substrate: bool):
    """H3 _adjustOverageClassII, vectorized. res: per-row Class II res."""
    t = get_tables()
    max_dim = MAX_DIM_BY_CII_RES[res]
    if substrate:
        max_dim = max_dim * 3
    s = ijk.sum(axis=1)

    on_edge = (s == max_dim) if substrate else np.zeros(s.shape, bool)
    over = s > max_dim

    out_face = face.copy()
    out_ijk = ijk.copy()
    ov = np.where(over, NEW_FACE, np.where(on_edge, FACE_EDGE, NO_OVERAGE))

    if over.any():
        j, k = ijk[:, 1], ijk[:, 2]
        # quadrant: k>0 & j>0 -> JK; k>0 & j==0 -> KI (w/ pentagon fix); else IJ
        quad = np.where(k > 0, np.where(j > 0, Q_JK, Q_KI), Q_IJ)

        # pentagon missing-sequence rotation inside the KI quadrant
        fix = over & pent_leading4 & (quad == Q_KI)
        if fix.any():
            origin = np.zeros_like(ijk)
            origin[:, 0] = max_dim
            tmp = rotate60_cw(ijk_normalize(ijk - origin))
            fixed = ijk_normalize(tmp + origin)
            out_ijk = np.where(fix[:, None], fixed, out_ijk)

        nf = t.FACE_NEIGHBORS_FACE[face, quad]
        nrot = t.FACE_NEIGHBORS_ROT[face, quad]
        ntrans = t.FACE_NEIGHBORS_TRANSLATE[face, quad]  # (N, 3)

        rotated = out_ijk
        for step in (1, 2, 3, 4, 5):
            sel = over & (nrot >= step)
            if not sel.any():
                break
            rotated = np.where(sel[:, None], rotate60_ccw(rotated), rotated)

        scale = UNIT_SCALE_BY_CII_RES[res]
        if substrate:
            scale = scale * 3
        shifted = ijk_normalize(rotated + ntrans * scale[:, None])

        out_face = np.where(over, nf, out_face)
        out_ijk = np.where(over[:, None], shifted, out_ijk)

        if substrate:
            now_edge = over & (out_ijk.sum(axis=1) == max_dim)
            ov = np.where(now_edge, FACE_EDGE, ov)

    return out_face, out_ijk, ov


def h3_to_geo(h) -> tuple[np.ndarray, np.ndarray]:
    """Cell -> centroid (lat_deg, lng_deg)."""
    h = np.atleast_1d(np.asarray(h, dtype=np.int64))
    return _chunked(_h3_to_geo_impl, 2)((h,), ())


def _h3_to_geo_impl(h) -> tuple[np.ndarray, np.ndarray]:
    face, ijk, res = _h3_to_face_ijk(h)
    v = ijk_to_hex2d(ijk)
    lat = np.zeros(res.shape)
    lng = np.zeros(res.shape)
    for r in np.unique(res):
        m = res == r
        la, lo = geom.hex2d_to_geo(v[m], face[m], int(r), substrate=False)
        lat[m] = la
        lng[m] = lo
    return np.degrees(lat), np.degrees(lng)


# --------------------------------------------------------------------------
# boundary: H3 -> cell polygon vertices
# --------------------------------------------------------------------------

MAX_BNDRY_VERTS = 10  # reference h3-sys/src/ffi.rs:3 MAX_CELL_BNDRY_VERTS

# adjacent-face direction table: _ADJ_DIR[f1, f2] = quadrant (Q_IJ/Q_KI/
# Q_JK) of face f2 relative to f1, 0 when not adjacent (H3
# adjacentFaceDir). Derived from the face-neighbor tables at first use.
_ADJ_DIR = None


def _adj_dir():
    global _ADJ_DIR
    if _ADJ_DIR is None:
        t = get_tables()
        d = np.zeros((20, 20), dtype=np.int64)
        for f in range(20):
            for q in (Q_IJ, Q_KI, Q_JK):
                d[f, t.FACE_NEIGHBORS_FACE[f, q]] = q
        _ADJ_DIR = d
    return _ADJ_DIR


def h3_to_geo_boundary(h, distortion: bool = True) -> tuple[np.ndarray, np.ndarray]:
    """Cell -> boundary vertices (H3 h3ToGeoBoundary semantics).

    Returns (verts_lat_deg, verts_lng_deg) of shape (N, 10) in degrees,
    NaN-padded, ccw from the i-axis vertex. Class III cells whose edges
    cross icosahedron face edges get an extra vertex per crossing at the
    edge intersection (7-10 vertices — reference caps the buffer at
    MAX_CELL_BNDRY_VERTS=10, h3-sys/src/ffi.rs:3, trimmed at
    src/raw.rs:92-103); Class II cells and mid-face Class III cells
    yield their 6 (5 for pentagons) true vertices. The reference's
    boundary golden (src/region.rs:85-102) is a mid-face cell and is
    matched exactly at 1e-9.

    distortion=False returns only the 6 true vertices, shape (N, 6) —
    used internally where a cell's true edges matter (the geometric
    neighbor reflection in traversal.neighbors).
    """
    h = np.atleast_1d(np.asarray(h, dtype=np.int64))

    def impl(hh):
        return _h3_to_geo_boundary_impl(hh, distortion)

    return _chunked(impl, 2)((h,), ())


def _h3_to_geo_boundary_impl(h, distortion: bool) -> tuple[np.ndarray, np.ndarray]:
    res = ix.get_resolution(h)
    pent = ix.is_pentagon(h)

    width = MAX_BNDRY_VERTS if distortion else 6
    out_lat = np.full((h.shape[0], width), np.nan)
    out_lng = np.full((h.shape[0], width), np.nan)
    for r in np.unique(res):
        m = res == r
        la, lo = _boundary_at_res(h[m], int(r), pent[m], distortion)
        out_lat[m] = la
        out_lng[m] = lo
    return out_lat, out_lng


def _vertex_fijks(h, res: int, pent: np.ndarray):
    """Per-vertex substrate face-ijk data for a same-res batch.

    Returns (center_face, adj_res, orig2d, fpost, cpost, ov) where
    orig2d[(v)] is the PRE-overage hex2d of vertex v in the center-face
    frame (H3's fijkVerts), and fpost/cpost/ov are the post-overage
    face / substrate ijk / overage class per vertex.
    """
    face, ijk, _ = _h3_to_face_ijk(h)
    n = h.shape[0]

    # center into the aperture 33r substrate grid
    center = down_ap3r(down_ap3(ijk))
    adj_res = res
    if res % 2 == 1:
        center = down_ap7r(center)
        adj_res = res + 1

    verts = _VERTS_CIII if res % 2 == 1 else _VERTS_CII
    res_arr = np.full(n, adj_res, dtype=np.int64)

    orig2d = np.full((6, n, 2), np.nan)
    fpost = np.zeros((6, n), dtype=np.int64)
    cpost = np.zeros((6, n, 3), dtype=np.int64)
    ov = np.zeros((6, n), dtype=np.int64)
    for v in range(6):
        vc = ijk_normalize(center + verts[v])
        orig2d[v] = ijk_to_hex2d(vc)
        f2, c2, o2 = _adjust_overage_class2(
            face, vc, res_arr, np.zeros(n, dtype=bool), substrate=True
        )
        # pentagon vertices can cross more than one face
        # (H3 _adjustPentVertOverage repeats while overage == NEW_FACE);
        # repeats run on the few still-overaging rows only
        f2 = f2.copy(); c2 = c2.copy(); o2 = o2.copy()
        for _ in range(3):
            again = np.flatnonzero(pent & (o2 == NEW_FACE))
            if not again.size:
                break
            f3, c3, o3 = _adjust_overage_class2(
                f2[again], c2[again], res_arr[again],
                np.zeros(again.size, dtype=bool), substrate=True,
            )
            f2[again] = f3
            c2[again] = c3
            o2[again] = o3
        fpost[v], cpost[v], ov[v] = f2, c2, o2
    return face, adj_res, orig2d, fpost, cpost, ov


def _boundary_at_res(h, res: int, pent: np.ndarray, distortion: bool):
    """H3 _faceIjkToGeoBoundary / _faceIjkPentToGeoBoundary, vectorized.

    Iterates vertex slots in H3's order — for each vertex t: first the
    icosa-edge intersection between vertex t-1 and t (Class III cells
    whose consecutive vertices land on different faces), then the true
    vertex itself — scattering into per-cell cursors so each cell gets
    its own variable-length (5..10) vertex list, NaN-padded.
    """
    n = h.shape[0]
    face, adj_res, orig2d, fpost, cpost, ov = _vertex_fijks(h, res, pent)
    n_verts = np.where(pent, 5, 6)
    class3 = res % 2 == 1

    width = MAX_BNDRY_VERTS if distortion else 6
    lat = np.full((n, width), np.nan)
    lng = np.full((n, width), np.nan)

    # vertex geo coords (post-overage projection)
    vlat = np.full((6, n), np.nan)
    vlng = np.full((6, n), np.nan)
    for v in range(6):
        v2d = ijk_to_hex2d(cpost[v])
        la, lo = geom.hex2d_to_geo(v2d, fpost[v], adj_res, substrate=True)
        vlat[v], vlng[v] = np.degrees(la), np.degrees(lo)

    if not distortion or not class3:
        for v in range(6):
            live = n_verts > v
            lat[live, v] = vlat[v][live]
            lng[live, v] = vlng[v][live]
        return lat, lng

    # Class III with distortion: interleave icosa-edge intersections.
    t_tables = get_tables()
    adj = _adj_dir()
    max_dim = float(MAX_DIM_BY_CII_RES[adj_res])
    sqrt3_2 = np.sqrt(3.0) / 2.0
    # icosa face corner triangle in substrate hex2d (H3 v0/v1/v2)
    e_verts = np.array(
        [
            [3.0 * max_dim, 0.0],
            [-1.5 * max_dim, 3.0 * sqrt3_2 * max_dim],
            [-1.5 * max_dim, -3.0 * sqrt3_2 * max_dim],
        ]
    )
    # quadrant -> (edge start, edge end) corner indices: IJ->(v0,v1),
    # JK->(v1,v2), KI->(v2,v0); index by quadrant value 1..3
    edge_sel = np.zeros((4, 2), dtype=np.int64)
    edge_sel[Q_IJ] = (0, 1)
    edge_sel[Q_JK] = (1, 2)
    edge_sel[Q_KI] = (2, 0)

    cursor = np.zeros(n, dtype=np.int64)
    rows = np.arange(n)
    unit3 = int(UNIT_SCALE_BY_CII_RES[adj_res]) * 3
    eps = 1e-7 * max_dim

    def emit(mask, la, lo):
        m = mask & (cursor < width)
        lat[rows[m], cursor[m]] = la[m]
        lng[rows[m], cursor[m]] = lo[m]
        cursor[:] = np.where(m, cursor + 1, cursor)

    # first true vertex
    emit(np.ones(n, dtype=bool), vlat[0], vlng[0])

    max_t = 7  # 6 vertex slots + wraparound intersection check
    for t in range(1, max_t):
        lastv = (t - 1) % 6
        # per-cell current vertex index (pentagons wrap at 5)
        vcur = np.where(pent, t % 5, t % 6)
        in_loop = t <= n_verts  # pentagon iterates 5 (+1), hexagon 6 (+1)

        f_last = fpost[lastv, rows]
        f_cur = fpost[vcur, rows]
        ov_last = ov[lastv, rows]

        # --- hexagon intersection: endpoints in the CENTER-face frame
        hex_cond = (
            in_loop
            & ~pent
            & (f_cur != f_last)
            & (ov_last != FACE_EDGE)
        )
        if hex_cond.any():
            p0 = orig2d[lastv, rows]
            p1 = orig2d[vcur, rows]
            face2 = np.where(f_last == face, f_cur, f_last)
            d = adj[face, face2]
            ok = hex_cond & (d > 0)
            e0 = e_verts[edge_sel[d, 0]]
            e1 = e_verts[edge_sel[d, 1]]
            inter = _v2d_intersect(p0, p1, e0, e1)
            at_vertex = (
                np.abs(inter - p0).max(axis=1) < eps
            ) | (np.abs(inter - p1).max(axis=1) < eps)
            ok &= ~at_vertex & np.isfinite(inter).all(axis=1)
            ila, ilo = geom.hex2d_to_geo(inter, face, adj_res, substrate=True)
            emit(ok, np.degrees(ila), np.degrees(ilo))

        # --- pentagon intersection: current vertex mapped into the LAST
        # vertex's face frame (H3 _faceIjkPentToGeoBoundary)
        pent_cond = in_loop & pent & (f_cur != f_last)
        if pent_cond.any():
            d_back = adj[f_cur, f_last]  # current -> last face direction
            nrot = t_tables.FACE_NEIGHBORS_ROT[f_cur, d_back]
            ntrans = t_tables.FACE_NEIGHBORS_TRANSLATE[f_cur, d_back]
            coord = cpost[vcur, rows]
            for step in (1, 2, 3, 4, 5):
                sel = pent_cond & (nrot >= step)
                if not sel.any():
                    break
                coord = np.where(sel[:, None], rotate60_ccw(coord), coord)
            coord = ijk_normalize(coord + ntrans * unit3)
            p0 = ijk_to_hex2d(cpost[lastv, rows])
            p1 = ijk_to_hex2d(coord)
            d = adj[f_last, f_cur]
            ok = pent_cond & (d > 0) & (d_back > 0)
            e0 = e_verts[edge_sel[d, 0]]
            e1 = e_verts[edge_sel[d, 1]]
            inter = _v2d_intersect(p0, p1, e0, e1)
            ok &= np.isfinite(inter).all(axis=1)
            ila, ilo = geom.hex2d_to_geo(inter, f_last, adj_res, substrate=True)
            emit(ok, np.degrees(ila), np.degrees(ilo))

        # --- the true vertex itself (not on the wraparound iteration)
        emit(t < n_verts, vlat[vcur, rows], vlng[vcur, rows])

    return lat, lng


def _v2d_intersect(p0, p1, e0, e1):
    """Line intersection of segment p0->p1 with line e0->e1 (H3
    _v2dIntersect). p0/p1: (N,2); e0/e1: (N,2) or (2,)."""
    s1 = p1 - p0
    s2 = np.broadcast_to(e1 - e0, p0.shape)
    e0 = np.broadcast_to(e0, p0.shape)
    denom = -s2[:, 0] * s1[:, 1] + s1[:, 0] * s2[:, 1]
    denom = np.where(denom == 0.0, np.nan, denom)
    t = (s2[:, 0] * (p0[:, 1] - e0[:, 1]) - s2[:, 1] * (p0[:, 0] - e0[:, 0])) / denom
    return p0 + t[:, None] * s1
