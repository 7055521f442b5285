"""Test-only dissolve: a cell set back to polygon rings.

cells_to_multipolygon is an exact oracle for polyfill
(test_volume_disk_dissolve_polyfill_roundtrip): a dissolved k-disk must
fill back to exactly the disk. No engine path dissolves cells, so it
lives beside the tests rather than in h3_rs_spark.
"""

from __future__ import annotations

import numpy as np

from h3_rs_spark.h3core import faceijk as fk


def cells_to_multipolygon(cells: np.ndarray):
    """Dissolve a cell set into polygons (h3SetToLinkedGeo / G4 — which
    the reference never implemented: its wrapper returns an empty
    MultiPolygon, src/region.rs:69-73 with tests commented out).

    Method: every interior edge appears in exactly two cells' boundaries
    (opposite directions); keep single-occurrence directed edges and
    stitch them into closed rings. Returns a list of rings, each a list
    of (lng, lat) tuples in traversal order; outer rings and holes are
    both present (holes wind opposite). Vertices are matched at 1e-9.
    """
    cells = np.unique(np.atleast_1d(np.asarray(cells, dtype=np.int64)))
    if cells.size == 0:
        return []
    # distortion=False: stitching matches shared edges between adjacent
    # cells by vertex identity; icosa-crossing vertices are computed in
    # each cell's own face frame and may differ in the last ulp
    blat, blng = fk.h3_to_geo_boundary(cells, distortion=False)

    def key(lat, lng):
        return (round(float(lat), 9), round(float(lng), 9))

    edge_count: dict[tuple, int] = {}
    edges = []
    for i in range(cells.shape[0]):
        verts = [
            (blat[i, v], blng[i, v])
            for v in range(6)
            if not np.isnan(blat[i, v])
        ]
        for v in range(len(verts)):
            a = key(*verts[v])
            b = key(*verts[(v + 1) % len(verts)])
            edges.append((a, b))
            und = (a, b) if a <= b else (b, a)
            edge_count[und] = edge_count.get(und, 0) + 1

    # directed boundary edges; a PINCH vertex (two cells touching only at
    # a vertex) has multiple outgoing edges, so walk edge-by-edge and at
    # junctions take the sharpest clockwise turn — that keeps each lobe
    # of a bowtie a separate simple ring instead of a self-crossing one
    out_edges: dict[tuple, list] = {}
    unused = set()
    for a, b in edges:
        und = (a, b) if a <= b else (b, a)
        if edge_count[und] == 1:
            out_edges.setdefault(a, []).append(b)
            unused.add((a, b))

    def _bearing(frm, to):
        # planar bearing with latitude-scaled longitude (adequate for
        # choosing among 2-3 candidate edges at one vertex)
        dlat = to[0] - frm[0]
        dlng = (to[1] - frm[1]) * np.cos(np.radians(frm[0]))
        return np.arctan2(dlat, dlng)

    rings = []
    while unused:
        start, cur = next(iter(unused))
        unused.discard((start, cur))
        ring = [start]
        prev = start
        guard = len(edges) + 1
        while cur != start and guard > 0:
            ring.append(cur)
            cands = [b for b in out_edges.get(cur, []) if (cur, b) in unused]
            if not cands:
                raise RuntimeError(
                    "cells_to_multipolygon: unclosed ring "
                    "(vertex-rounding split)"
                )
            if len(cands) == 1:
                nxt = cands[0]
            else:
                back = _bearing(cur, prev)
                # sharpest clockwise turn from the reversed incoming
                # direction: maximal angle measured clockwise from back
                def cw_turn(b):
                    return float(
                        np.mod(back - _bearing(cur, b), 2.0 * np.pi)
                    )
                nxt = max(cands, key=cw_turn)
            unused.discard((cur, nxt))
            prev, cur = cur, nxt
            guard -= 1
        if guard <= 0:
            raise RuntimeError(
                "cells_to_multipolygon: unclosed ring (walk did not "
                "terminate)"
            )
        rings.append([(lng, lat) for lat, lng in ring])
    return rings
