"""Grid traversal: neighbors, k_ring, hex_ring, grid distance/line.

Design note (Spark-first, not a port): instead of hand-carrying H3's
base-cell neighbor tables, neighbors are computed *geometrically* — a
cell's neighbor across each boundary edge is found by reflecting the cell
center through the edge midpoint on the unit sphere and encoding the
resulting point. This is exact for the H3 grid (the reflected point lands
well inside the neighbor cell; worst-case icosahedron distortion moves it
by a small fraction of a cell radius) and it vectorizes over whole Arrow
batches. k_ring is then a breadth-first expansion, which also yields grid
distances (matching H3 kRingDistances semantics).

Unlike the reference's hex_ring/hex_range (which return zero-padded
buffers, /root/reference/src/traversal.rs:127-151), these return exactly
the true cell sets; parity is asserted against the reference's
containment + count goldens (src/traversal.rs:196-328).
"""

from __future__ import annotations

import numpy as np

from . import faceijk as fk
from . import indexing as ix
from .geom import geo_to_xyz

MAX_BFS_K = 64  # ring radius at which a BFS grid distance gives up (-1)
_MAX_LINE_STEPS = 10_000  # cap on the greedy line walk's steps


def neighbors(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Neighbors of each cell.

    Returns (owner_row, neighbor_cell) 1-D arrays: row i of the input
    contributes 6 (5 for pentagons) neighbor entries.
    """
    h = np.atleast_1d(np.asarray(h, dtype=np.int64))
    if h.shape[0] == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    res = ix.get_resolution(h)
    if np.unique(res).size > 1:
        out_o, out_n = [], []
        for r in np.unique(res):
            m = np.flatnonzero(res == r)
            o, nb = neighbors(h[m])
            out_o.append(m[o])
            out_n.append(nb)
        return np.concatenate(out_o), np.concatenate(out_n)
    r = int(res[0])

    clat, clng = fk.h3_to_geo(h)
    # true 6 vertices only (distortion=False): edge-midpoint reflection
    # needs the cell's actual edges, not icosa-crossing interpolations
    blat, blng = fk.h3_to_geo_boundary(h, distortion=False)  # (N, 6) deg
    c = geo_to_xyz(np.radians(clat), np.radians(clng))  # (N, 3)

    n = h.shape[0]
    nv = np.where(np.isnan(blat).any(axis=1), 5, 6)
    # edge midpoints on the sphere: vertex v -> vertex (v+1) % nv
    vx = geo_to_xyz(np.radians(blat), np.radians(blng))  # (N, 6, 3)
    owners, cells = [], []
    for v in range(6):
        live = nv > v
        nxt = np.where(v + 1 >= nv, 0, v + 1)
        m = vx[:, v, :] + vx[np.arange(n), nxt, :]
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        # reflect center across edge midpoint: doubles the angular distance
        p = 2.0 * (c * m).sum(axis=1, keepdims=True) * m - c
        lat = np.degrees(np.arcsin(np.clip(p[:, 2], -1, 1)))
        lng = np.degrees(np.arctan2(p[:, 1], p[:, 0]))
        nb = fk.geo_to_h3(lat, lng, r)
        owners.append(np.flatnonzero(live))
        cells.append(nb[live])
    owner = np.concatenate(owners)
    cell = np.concatenate(cells)
    # drop (rare) self-hits and duplicates per owner
    keep = cell != h[owner]
    owner, cell = owner[keep], cell[keep]
    key = np.stack([owner, cell], axis=1)
    key = np.unique(key, axis=0)
    return key[:, 0], key[:, 1]


def k_ring_distances(h: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """BFS disk: returns (owner_row, cell, grid_distance), exact sets.

    Matches H3 kRingDistances (filled disk, origin included at distance 0).
    """
    h = np.atleast_1d(np.asarray(h, dtype=np.int64))
    n = h.shape[0]
    owner = np.arange(n, dtype=np.int64)
    cell = h.copy()
    dist = np.zeros(n, dtype=np.int64)

    frontier_o, frontier_c = owner, cell
    for step in range(1, k + 1):
        o2, c2 = neighbors(frontier_c)
        o2 = frontier_o[o2]
        # de-dup against everything seen so far
        cand = np.stack([o2, c2], axis=1)
        cand = np.unique(cand, axis=0)
        seen = np.stack([owner, cell], axis=1)
        merged = np.concatenate([seen, cand])
        _, idx, counts = np.unique(
            merged, axis=0, return_index=True, return_counts=True
        )
        # new entries appear once and originate from cand (index >= len(seen))
        new_mask = (counts == 1) & (idx >= seen.shape[0])
        new = merged[idx[new_mask]]
        owner = np.concatenate([owner, new[:, 0]])
        cell = np.concatenate([cell, new[:, 1]])
        dist = np.concatenate([dist, np.full(new.shape[0], step, dtype=np.int64)])
        frontier_o, frontier_c = new[:, 0], new[:, 1]
        if frontier_c.size == 0:
            break
    return owner, cell, dist


def k_ring(h: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    o, c, _ = k_ring_distances(h, k)
    return o, c


def hex_ring(h: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Hollow ring at exactly distance k (exact set, no zero padding)."""
    o, c, d = k_ring_distances(h, k)
    m = d == k
    return o[m], c[m]


def hex_range(h: np.ndarray, k: int):
    """Disk like k_ring but flags pentagon distortion (H3 hexRange
    semantics: the C call *fails* when a pentagon is inside the disk —
    reference wrapper at src/traversal.rs:142-155). Returns
    (owner, cell, ok_mask_per_owner); callers treat ok=False owners as
    the reference's error case. Cell sets are exact (no zero padding)."""
    o, c, _d = k_ring_distances(h, k)
    from .indexing import is_pentagon

    pent = is_pentagon(c)
    n = np.atleast_1d(h).shape[0]
    ok = np.ones(n, dtype=bool)
    if pent.any():
        bad_owners = np.unique(o[pent])
        ok[bad_owners] = False
    return o, c, ok


def hex_range_distances(h: np.ndarray, k: int):
    """Disk grouped by distance + pentagon-distortion flag (T7)."""
    o, c, d = k_ring_distances(h, k)
    from .indexing import is_pentagon

    pent = is_pentagon(c)
    n = np.atleast_1d(h).shape[0]
    ok = np.ones(n, dtype=bool)
    if pent.any():
        ok[np.unique(o[pent])] = False
    return o, c, d, ok


def h3_distance(a: int, b: int) -> int:
    """Grid distance between two cells (H3 h3Distance semantics,
    reference src/traversal.rs:90-101): O(1) local-frame axial math on
    the same or an adjacent icosa face, BFS fallback near pentagons or
    across two face edges; -1 when resolutions differ / unreachable."""
    from .localij import h3_distance_batch

    return int(h3_distance_batch(np.array([a]), np.array([b]))[0])


def h3_distance_bfs(a: int, b: int) -> int:
    """Grid distance by frontier BFS (exact oracle for the local-frame
    path; also the fallback when the planar frame is untrustworthy)."""
    a, b = int(a), int(b)
    if int(ix.get_resolution(a)) != int(ix.get_resolution(b)):
        return -1
    if a == b:
        return 0
    frontier = np.array([a], dtype=np.int64)
    seen = {a}
    for step in range(1, MAX_BFS_K + 1):
        _, nb = neighbors(frontier)
        nxt = []
        for c in np.unique(nb):
            ci = int(c)
            if ci in seen:
                continue
            if ci == b:
                return step
            seen.add(ci)
            nxt.append(ci)
        if not nxt:
            return -1
        frontier = np.array(nxt, dtype=np.int64)
    return -1


def h3_line(a: int, b: int) -> np.ndarray:
    """Cell path from a to b (H3 h3Line semantics, reference
    src/traversal.rs:103-123): cube-coordinate lerp with cube rounding
    in a's local face frame — length == h3_distance(a, b) + 1 and
    consecutive cells are neighbors. Falls back to the greedy
    great-circle walk where the planar frame is untrustworthy (pentagon
    proximity, > 1 icosa edge — H3 itself errors there)."""
    from .localij import h3_line_local

    path = h3_line_local(int(a), int(b))
    if path is not None:
        return path
    return _h3_line_greedy(int(a), int(b))


def h3_line_batch(a, b) -> list[np.ndarray]:
    """Per-pair h3_line for a BATCH of pairs (r7): local-frame pairs go
    through the per-pair cube-lerp (cheap, ~2 ms), and all
    greedy-fallback pairs advance TOGETHER — one batched neighbors()
    kernel call per walk step for the whole batch instead of one per
    step per pair (the 46 fallback pairs of the metro-pairs fixture in
    tests/test_h3_surface.py: 475 single-cell kernel calls -> ~15
    batched ones, 4.3 s -> ~0.2 s). Paths are identical
    to per-pair h3_line: neighbors() orders each owner's candidates by
    cell value in both the single and batched form (np.unique), so the
    greedy argmax tie-breaks the same way — pinned by
    tests/test_operators.py::test_h3_line_batch_parity."""
    from .localij import h3_line_local

    a = np.atleast_1d(np.asarray(a, dtype=np.int64))
    b = np.atleast_1d(np.asarray(b, dtype=np.int64))
    out: list = [None] * a.shape[0]
    greedy = []
    for i, (x, y) in enumerate(zip(a.tolist(), b.tolist())):
        p = h3_line_local(int(x), int(y))
        if p is None:
            greedy.append(i)
        else:
            out[i] = p
    if greedy:
        gi = np.asarray(greedy)
        for i, p in zip(greedy, _h3_line_greedy_batch(a[gi], b[gi])):
            out[i] = p
    return out


def _h3_line_greedy_batch(
    a_arr: np.ndarray, b_arr: np.ndarray
) -> list[np.ndarray]:
    """Batched twin of _h3_line_greedy — same walk, same argmax, same
    stuck/exhaustion semantics, per-step kernel calls batched over all
    unfinished pairs."""
    tlat, tlng = fk.h3_to_geo(b_arr)
    txyz = geo_to_xyz(np.radians(tlat), np.radians(tlng))  # (n, 3)
    paths = [[int(x)] for x in a_arr.tolist()]
    cur = a_arr.copy()
    done = cur == b_arr
    for _ in range(_MAX_LINE_STEPS):
        act = np.flatnonzero(~done)
        if act.size == 0:
            break
        owner, nb = neighbors(cur[act])
        lat, lng = fk.h3_to_geo(nb)
        xyz = geo_to_xyz(np.radians(lat), np.radians(lng))
        dots = np.einsum("ij,ij->i", xyz, txyz[act[owner]])
        for local_i, g in enumerate(act.tolist()):
            m = owner == local_i
            cand = nb[m]
            nxt = int(cand[int(np.argmax(dots[m]))])
            if nxt in paths[g][-3:]:
                done[g] = True  # stuck (matches the scalar walk: the
                continue  # repeated cell is NOT appended)
            paths[g].append(nxt)
            cur[g] = nxt
            if nxt == int(b_arr[g]):
                done[g] = True
    return [np.array(p, dtype=np.int64) for p in paths]


def _h3_line_greedy(a: int, b: int) -> np.ndarray:
    """Greedy great-circle walk fallback (connected, endpoints exact;
    not guaranteed minimal)."""
    a, b = int(a), int(b)
    tlat, tlng = fk.h3_to_geo(np.array([b], dtype=np.int64))
    txyz = geo_to_xyz(np.radians(tlat), np.radians(tlng))[0]
    path = [a]
    cur = a
    for _ in range(_MAX_LINE_STEPS):
        if cur == b:
            return np.array(path, dtype=np.int64)
        _, nb = neighbors(np.array([cur], dtype=np.int64))
        lat, lng = fk.h3_to_geo(nb)
        xyz = geo_to_xyz(np.radians(lat), np.radians(lng))
        best = int(np.argmax(xyz @ txyz))
        cur = int(nb[best])
        if cur in path[-3:]:
            break  # stuck (shouldn't happen)
        path.append(cur)
    return np.array(path, dtype=np.int64)
