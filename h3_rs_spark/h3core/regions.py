"""Polygon <-> cell regions: polyfill, polygon cover, point-in-polygon.

polyfill matches H3 v3.6 semantics: all cells at `res` whose *centroid*
lies inside the polygon (exterior minus holes). It is built on
polygon_cover, one coarse-to-fine walk from the 122 res-0 cells that
decides a cell from the distance between its centre and the polygon
outline, so its cost grows with the perimeter, not the bounding box.
The PIP join uses the same cover.

Parity targets: the reference's src/region.rs polyfill tests (SF
hexagon @Z9 == 1253 cells — the count implied by the reference's own
compact/uncompact golden, src/hierarchy.rs:145-148 — Sydney @Z9 > 10,
null-island box @Z4 > 10); the empty-hole-ring rule (src/raw.rs:122-125)
and implicit ring auto-closing (src/raw.rs:178-179) are honored.
Longitudes are degrees in [-180, 180].

Antimeridian-crossing polygons are supported (detected by a >180 deg
longitude jump; the ray cast shifts into the [0,360) domain).
Pole-CONTAINING polygons are supported beyond the reference (H3 v3.6
itself cannot fill them): a ring whose longitudes wind a full +-360 deg
encircles a pole — for the EXTERIOR, interior is the side left of
travel (net eastward winding encloses the north side); a polar HOLE's
winding is ignored and the hole excludes the exterior pole's cap. Their
containment test is the meridian ray toward the contained pole (even
crossing parity), and the walk never decides a cell whose reach touches
a pole. Exactness is pinned by constant-latitude cap/annulus fixtures
whose truth is enumerable (tests/test_h3_goldens.py::TestPolarPolyfill).
"""

from __future__ import annotations

import numpy as np

from . import faceijk as fk
from . import indexing as ix
from .constants import EARTH_RADIUS_M, EDGE_LENGTH_M
from .hierarchy import compact, uncompact


def _close_ring(ring: np.ndarray) -> np.ndarray:
    """Accept closed or unclosed rings (geo-types auto-closes)."""
    ring = np.asarray(ring, dtype=np.float64)
    if ring.shape[0] >= 1 and not np.allclose(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[0:1]])
    return ring


def _clean_holes(holes) -> list[np.ndarray]:
    """Drop empty hole rings (reference rule at src/raw.rs:122-125)."""
    out = []
    for hole in holes or []:
        hole = np.asarray(hole, dtype=np.float64)
        if hole.size == 0 or hole.shape[0] < 3:
            continue
        out.append(_close_ring(hole))
    return out


def points_in_ring(lng: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting. ring: (M, 2) of (lng, lat), closed."""
    x, y = lng[:, None], lat[:, None]
    x0, y0 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    x1, y1 = ring[1:, 0][None, :], ring[1:, 1][None, :]
    straddle = (y0 <= y) != (y1 <= y)
    denom = np.where(y1 - y0 == 0.0, 1.0, y1 - y0)
    x_int = x0 + (y - y0) / denom * (x1 - x0)
    crossings = (straddle & (x < x_int)).sum(axis=1)
    return crossings % 2 == 1


def _lng_winding_deg(ring: np.ndarray) -> float:
    """Net longitude winding of a closed ring, each edge wrapped to the
    short way round: ~±360 for a ring encircling a pole, ~0 otherwise."""
    d = np.diff(ring[:, 0])
    d = (d + 180.0) % 360.0 - 180.0
    return float(d.sum())


def _polar_pole(ring: np.ndarray):
    """+1 if the ring encircles the north pole, -1 the south, None if
    not polar. Interior is the side LEFT of travel (GeoJSON ring
    orientation), so net eastward winding (+360) encloses north."""
    w = _lng_winding_deg(ring)
    if abs(w) < 180.0:
        return None
    return 1 if w > 0 else -1


def _points_in_polar_ring(
    lng: np.ndarray, lat: np.ndarray, ring: np.ndarray, pole: int
) -> np.ndarray:
    """Containment for a pole-encircling ring: walk each point's
    meridian toward the contained pole and count boundary crossings —
    the pole is interior by construction, so EVEN parity means inside.
    Crossing longitudes interpolate in the wrapped (shortest-span) edge
    frame, matching the planar-edge semantics of points_in_ring."""
    x = np.asarray(lng, dtype=np.float64)[:, None]
    y = np.asarray(lat, dtype=np.float64)[:, None]
    x0, y0 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    x1, y1 = ring[1:, 0][None, :], ring[1:, 1][None, :]
    d_edge = (x1 - x0 + 180.0) % 360.0 - 180.0
    d_pt = (x - x0 + 180.0) % 360.0 - 180.0
    denom = np.where(d_edge == 0.0, np.nan, d_edge)
    t = d_pt / denom
    on_edge_span = (t >= 0.0) & (t < 1.0)
    cross_lat = y0 + t * (y1 - y0)
    between = cross_lat > y if pole > 0 else cross_lat < y
    crossings = (on_edge_span & between).sum(axis=1)  # NaN compares False
    return crossings % 2 == 0


def _is_transmeridian(ring: np.ndarray) -> bool:
    """A ring edge jumping > 180 deg of longitude crosses the
    antimeridian (H3 bboxFromGeofence transmeridian test)."""
    return bool((np.abs(np.diff(ring[:, 0])) > 180.0).any())


def _shift_lng(lng: np.ndarray) -> np.ndarray:
    return np.where(lng < 0.0, lng + 360.0, lng)


def _framed_rings(exterior, holes) -> list:
    """The polygon's rings in the frame containment is tested in, as
    (ring, pole, shifted) triples, exterior first.

    pole is +1/-1 for a pole-encircling ring (tested by the meridian ray
    toward that pole, with short-way wrapped edge deltas), else None. A
    polar HOLE's own winding is ignored: RFC 7946 holes wind opposite to
    the exterior, so trusting it would pick the wrong pole and invert
    containment. A polar hole inside a polar exterior can only exclude
    the cap of the SAME pole the exterior contains, so it takes that
    pole. shifted marks a planar ring moved into the [0, 360) longitude
    domain so the planar ray cast never sees the +-180 seam: each
    transmeridian ring on its own when any ring is polar, else every
    ring by the exterior's test."""
    ext = _close_ring(exterior)
    rings = [ext] + _clean_holes(holes)
    poles = [_polar_pole(r) for r in rings]
    polar = any(p is not None for p in poles)
    out = []
    for i, (ring, pole) in enumerate(zip(rings, poles)):
        if pole is not None and i and poles[0] is not None:
            pole = poles[0]
        shifted = pole is None and _is_transmeridian(ring if polar else ext)
        if shifted:
            ring = np.column_stack([_shift_lng(ring[:, 0]), ring[:, 1]])
        out.append((ring, pole, shifted))
    return out


def points_in_polygon(
    lng: np.ndarray, lat: np.ndarray, exterior: np.ndarray, holes=None
) -> np.ndarray:
    """Even-odd containment (exterior minus holes) in the frame of
    _framed_rings."""
    lng = np.asarray(lng, dtype=np.float64)
    inside = None
    for ring, pole, shifted in _framed_rings(exterior, holes):
        if pole is not None:
            hit = _points_in_polar_ring(lng, lat, ring, pole)
        else:
            hit = points_in_ring(_shift_lng(lng) if shifted else lng, lat, ring)
        inside = hit if inside is None else inside & ~hit
    return inside


# driver cap on one level's candidate cells and on a polyfill's output
MAX_POLYFILL_CELLS = 2_000_000

# Bound on how far a cell's descendants at any finer res reach from its
# centre, in edge lengths of the cell's res (EDGE_LENGTH_M). Aperture-7
# children overhang their parent, so the cell's own outline is no
# bound. The farthest descendant vertex measured 1.32 edge lengths out
# (every res-0 and res-1 cell and sampled res 2-10 cells, 1-4 levels
# down; 0.94 for the pentagons); pinned by
# tests/test_h3_goldens.py::TestRegions::test_descendant_reach.
REACH = 1.5

# cells x segments per block of one walk level (2 MB per float64 array)
_BLOCK = 1 << 18

_RES0_CELLS = ix.from_components(
    np.arange(122, dtype=np.int64), 0, np.full((122, 15), 7)
)


def _outline_segments(exterior, holes) -> np.ndarray:
    """(M, 4) rows (lng0, lat0, dlng, dlat): every ring edge as a
    straight segment of the frame points_in_polygon tests containment
    in, so containment changes only across these segments. A planar
    edge can span up to 360 deg of frame longitude; those are halved so
    every segment spans at most 180 (see _outline_distance)."""
    parts = []
    for ring, pole, _shifted in _framed_rings(exterior, holes):
        d = np.diff(ring[:, 0])
        if pole is not None:
            d = (d + 180.0) % 360.0 - 180.0
        parts.append(np.column_stack([ring[:-1], d, np.diff(ring[:, 1])]))
    seg = np.concatenate(parts)
    wide = np.abs(seg[:, 2]) > 180.0
    half = seg[wide] * [1.0, 1.0, 0.5, 0.5]
    second = half + np.column_stack([half[:, 2:], np.zeros((len(half), 2))])
    return np.concatenate([seg[~wide], half, second])


def _outline_distance(lat, lng, kx, seg) -> np.ndarray:
    """Distance from each point to the nearest segment, in a local degree
    frame: longitudes wrapped relative to the point and scaled by kx
    (per point), latitudes as they are. Each segment is placed by its
    wrapped midpoint, which puts every segment point within 90 deg of
    longitude of the point at its true offset."""
    k = kx[:, None]
    mid = seg[:, 0] + 0.5 * seg[:, 2]
    ax = ((mid - lng[:, None] + 180.0) % 360.0 - 180.0 - 0.5 * seg[:, 2]) * k
    ay = seg[:, 1] - lat[:, None]
    dx, dy = seg[:, 2] * k, seg[:, 3]
    t = -(ax * dx + ay * dy) / np.maximum(dx * dx + dy * dy, 1e-300)
    t = np.clip(t, 0.0, 1.0)
    return np.sqrt(((ax + t * dx) ** 2 + (ay + t * dy) ** 2).min(axis=1))


def _split_level(cells, r: int, seg, exterior, holes):
    """(interior, undecided) among res-r cells; see polygon_cover."""
    rho = np.degrees(REACH * EDGE_LENGTH_M[r] / EARTH_RADIUS_M)
    lat, lng = fk.h3_to_geo(cells)
    top = np.abs(lat) + rho
    far = top < 90.0
    far[far] = _outline_distance(
        lat[far], lng[far], np.cos(np.radians(top[far])), seg
    ) > np.sqrt(2.0) * rho
    inside = far.copy()
    inside[far] = points_in_polygon(lng[far], lat[far], exterior, holes)
    return cells[inside], cells[~far]


def polygon_cover(exterior, holes, res: int):
    """The PIP-join build set as (interior, boundary) cells.

    interior: a mixed-resolution antichain; every res-`res` descendant
    of an interior cell lies entirely inside the polygon, so points
    there match with no refinement. boundary: res-`res` cells, disjoint
    from the interior's descendants, holding every other cell that can
    contain an inside point. Boundary matches are refined by exact ray
    casting, so an undecided cell here only costs a broadcast row.

    The walk runs coarse to fine from the 122 res-0 cells. At level r a
    cell's descendants lie within rho = REACH * EDGE_LENGTH_M[r] of its
    centre. In a frame whose longitudes are scaled by the cosine of the
    highest latitude that reach touches, every such point is within
    sqrt(2) * rho (in degrees) of the centre. So a cell whose reach
    misses both poles and whose centre is farther than that from every
    outline segment holds no outline point: it is interior when its
    centre is inside, else dropped. Undecided cells split into their
    children; at `res` they are the boundary. The work grows with the
    perimeter, not the area."""
    seg = _outline_segments(exterior, holes)
    step = max(1, _BLOCK // seg.shape[0])
    cells, interior = _RES0_CELLS, []
    for r in range(res + 1):
        if r:
            if 7 * cells.shape[0] > MAX_POLYFILL_CELLS:
                raise ValueError(
                    f"polygon_cover: ~{7 * cells.shape[0]:.2e} outline "
                    f"cells at res {r} (> {MAX_POLYFILL_CELLS}); fill at a "
                    "coarser res"
                )
            cells = ix.to_children_batch(cells, r)[1]
        if not cells.size:
            break
        # blocks keep the cells x segments arrays under _BLOCK elements
        parts = [
            _split_level(cells[s : s + step], r, seg, exterior, holes)
            for s in range(0, cells.shape[0], step)
        ]
        interior += [inner for inner, _ in parts]
        cells = np.concatenate([undecided for _, undecided in parts])
    return np.concatenate(interior), cells


def polyfill(exterior, holes, res: int) -> np.ndarray:
    """All cells at `res` whose centroid is inside the polygon: the
    polygon_cover interior expanded to `res`, plus the boundary cells
    whose centroid is inside. Raises when that is more than
    MAX_POLYFILL_CELLS cells."""
    interior, boundary = polygon_cover(exterior, holes, res)
    n = int(np.sum(7 ** (res - ix.get_resolution(interior)))) + len(boundary)
    if n > MAX_POLYFILL_CELLS:
        raise ValueError(
            f"polyfill: ~{n:.2e} cells at res {res} (> "
            f"{MAX_POLYFILL_CELLS}); fill at a coarser res"
        )
    lat, lng = fk.h3_to_geo(boundary)
    inside = boundary[points_in_polygon(lng, lat, exterior, holes)]
    return np.sort(np.concatenate([uncompact(interior, res), inside]))


def polyfill_compact(exterior, holes, res: int) -> np.ndarray:
    """polyfill then compact (reference hardcodes Z9 at
    src/hierarchy.rs:112; here res is a real parameter)."""
    return compact(polyfill(exterior, holes, res))
