"""Grid traversal: neighbors, k_ring, hex_ring, hex_range.

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
