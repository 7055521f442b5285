"""Property-based kernel tests (hypothesis): invariants that must hold
for EVERY point/cell, not just the golden fixtures — roundtrip
containment, hierarchy closure, neighbor symmetry, boundary sanity.
Spark-free (pure numpy kernel), so hundreds of examples run in seconds;
only the PIP refine test, whose subject is a Spark SQL expression, runs
in the session's Spark.
"""

import numpy as np
from hypothesis import given, settings, strategies as st

from h3_rs_spark import h3core as h3
from h3_rs_spark.h3core import indexing as ix
from h3_rs_spark.h3core import traversal as tv

LAT = st.floats(-89.9, 89.9, allow_nan=False)
LNG = st.floats(-179.999, 179.999, allow_nan=False)
RES = st.integers(0, 12)


@settings(max_examples=150, deadline=None)
@given(lat=LAT, lng=LNG, res=RES)
def test_encode_decode_roundtrip(lat, lng, res):
    """The cell's centroid must encode back to the same cell."""
    cell = h3.geo_to_h3(np.array([lat]), np.array([lng]), res)
    assert ix.is_valid(cell)[0]
    clat, clng = h3.h3_to_geo(cell)
    again = h3.geo_to_h3(clat, clng, res)
    assert int(again[0]) == int(cell[0])


@settings(max_examples=60, deadline=None)
@given(lat=LAT, lng=LNG, res=st.integers(0, 10))
def test_parent_child_closure(lat, lng, res):
    """Every child at res+1 parents back; the center child shares the
    cell's centroid cell at the finer res."""
    cell = int(h3.geo_to_h3(np.array([lat]), np.array([lng]), res)[0])
    kids = ix.to_children(cell, res + 1)
    assert (ix.to_parent(kids, res) == cell).all()
    n_exp = 6 if bool(ix.is_pentagon(np.array([cell]))[0]) else 7
    assert len(kids) == n_exp
    clat, clng = h3.h3_to_geo(np.array([cell]))
    center_child = int(h3.geo_to_h3(clat, clng, res + 1)[0])
    assert center_child in set(kids.tolist())


@settings(max_examples=60, deadline=None)
@given(lat=LAT, lng=LNG, res=st.integers(1, 10))
def test_neighbor_symmetry(lat, lng, res):
    """b in neighbors(a) implies a in neighbors(b); counts are 6 (5 for
    pentagons)."""
    a = h3.geo_to_h3(np.array([lat]), np.array([lng]), res)
    _, nbs = tv.neighbors(a)
    n_exp = 5 if bool(ix.is_pentagon(a)[0]) else 6
    assert len(nbs) == n_exp
    for b in nbs:
        _, back = tv.neighbors(np.array([b]))
        assert int(a[0]) in set(back.tolist())


@settings(max_examples=60, deadline=None)
@given(lat=LAT, lng=LNG, res=st.integers(0, 11))
def test_boundary_sane(lat, lng, res):
    """5..10 vertices, all finite, and the centroid encodes to the cell
    whose boundary it is (self-containment)."""
    cell = h3.geo_to_h3(np.array([lat]), np.array([lng]), res)
    blat, blng = h3.h3_to_geo_boundary(cell)
    nv = int((~np.isnan(blat[0])).sum())
    assert 5 <= nv <= 10
    assert np.isfinite(blat[0][:nv]).all() and np.isfinite(blng[0][:nv]).all()
    # encoding a point nudged from each vertex toward the centroid (on
    # the sphere, not in lat/lng space — linear lat/lng mixing is wrong
    # across the antimeridian and for continent-sized res-0 cells) must
    # stay in this cell
    from h3_rs_spark.h3core import geom

    clat, clng = h3.h3_to_geo(cell)
    cxyz = geom.geo_to_xyz(np.radians(clat[0]), np.radians(clng[0]))
    vxyz = geom.geo_to_xyz(
        np.radians(blat[0][:nv]), np.radians(blng[0][:nv])
    )
    eps = 1e-3
    p = (1 - eps) * vxyz + eps * cxyz[None, :]
    p = p / np.linalg.norm(p, axis=1, keepdims=True)
    nlat = np.degrees(np.arcsin(np.clip(p[:, 2], -1, 1)))
    nlng = np.degrees(np.arctan2(p[:, 1], p[:, 0]))
    inner = h3.geo_to_h3(nlat, nlng, res)
    assert (inner == cell[0]).all()


@settings(max_examples=60, deadline=None)
@given(lat=LAT, lng=LNG, res=st.integers(1, 10), k=st.integers(1, 2))
def test_dissolve_disk_single_ring(lat, lng, res, k):
    """Dissolving ANY k-disk (any location: poles, antimeridian,
    pentagon neighborhoods, icosa edges) must stitch into exactly one
    closed ring with the hex-disk vertex count 6(2k+1) — or fewer
    when a pentagon's deficit is inside the disk."""
    from tests.dissolve import cells_to_multipolygon

    cell = h3.geo_to_h3(np.array([lat]), np.array([lng]), res)
    _, disk = tv.k_ring(cell, k)
    rings = cells_to_multipolygon(disk)
    assert len(rings) == 1
    assert 5 <= len(rings[0]) <= 6 * (2 * k + 1)


@settings(max_examples=40, deadline=None)
@given(
    lat=st.floats(-85.0, 85.0), lng=LNG, res=st.integers(3, 9),
    size=st.floats(1.0, 12.0), stretch=st.floats(1.0, 4.0),
    with_hole=st.booleans(), seed=st.integers(0, 2**32 - 1),
)
def test_polygon_cover_contract(lat, lng, res, size, stretch, with_hole, seed):
    """For a random star polygon (optionally holed, stretched east-west,
    possibly across the antimeridian): interior and boundary are
    disjoint, the interior is an antichain, every inside point's cell
    lies under the interior or in the boundary, and no outside point
    lies under the interior. Half the points sit near the outline."""
    from h3_rs_spark.h3core import regions

    rng = np.random.default_rng(seed)
    r_deg = size * np.degrees(h3.edge_length_m(res) / 6_371_007.18)

    def to_lng_lat(dx, dy):
        la = np.clip(lat + dy, -89.9, 89.9)
        ln = lng + stretch * dx / np.cos(np.radians(la))
        return np.column_stack([(ln + 180.0) % 360.0 - 180.0, la])

    def star(scale, n):
        ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, n))
        rad = scale * r_deg * rng.uniform(0.3, 1.0, n)
        return rad * np.cos(ang), rad * np.sin(ang)

    sx, sy = star(1.0, int(rng.integers(3, 12)))
    ext = to_lng_lat(sx, sy)
    holes = [to_lng_lat(*star(0.1, 5))] if with_hole else []
    interior, boundary = regions.polygon_cover(ext, holes, res)
    assert not np.intersect1d(interior, boundary).size
    ires = ix.get_resolution(interior)
    for r in np.unique(ires):
        finer = interior[ires > r]
        assert not np.isin(ix.to_parent(finer, int(r)), interior).any()

    n = 2000
    rad = 1.3 * r_deg * np.sqrt(rng.random(n))
    ang = rng.uniform(0.0, 2.0 * np.pi, n)
    edge = rng.integers(0, len(sx), n)
    t = rng.random(n)
    nxt = (edge + 1) % len(sx)
    jitter = rng.normal(0.0, 0.3 * r_deg / size, (2, n))
    pts = np.concatenate([
        to_lng_lat(rad * np.cos(ang), rad * np.sin(ang)),
        to_lng_lat(sx[edge] + t * (sx[nxt] - sx[edge]) + jitter[0],
                   sy[edge] + t * (sy[nxt] - sy[edge]) + jitter[1]),
    ])
    inside = regions.points_in_polygon(pts[:, 0], pts[:, 1], ext, holes)
    cell = h3.geo_to_h3(pts[:, 1], pts[:, 0], res)
    under = np.zeros(len(pts), dtype=bool)
    for r in np.unique(ires):
        under |= np.isin(ix.to_parent(cell, int(r)), interior[ires == r])
    assert not (inside & ~under & ~np.isin(cell, boundary)).any()
    assert not (~inside & under).any()


class TestVolumeFuzz:
    """VERDICT r5 #5: the goldens and the hypothesis properties above
    are point checks; the kernel's 100-TB job is to never be wrong
    ANYWHERE. Seed-pinned volume sweeps, pure numpy (no Spark):
    10^6 sphere points through encode->decode->encode at all 16
    resolutions, boundary->PIP self-containment at 2*10^5 cells, and
    random k-disk dissolve->polyfill exact round-trips — each batch
    salted with adversarial bands (poles, antimeridian, pentagon
    faces) where the planar shortcuts would break first."""

    @staticmethod
    def _fuzz_points(n: int, seed: int):
        rng = np.random.default_rng(seed)
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        lng = rng.uniform(-180.0, 180.0, n)
        s = n // 30  # three adversarial bands, ~10% of the batch total
        # polar caps
        lat[:s] = np.where(rng.random(s) < 0.5, 1.0, -1.0) * rng.uniform(
            89.9, 89.9999, s
        )
        # antimeridian sliver
        lng[s : 2 * s] = np.where(
            rng.random(s) < 0.5, 1.0, -1.0
        ) * rng.uniform(179.9, 179.99999, s)
        # pentagon faces: jittered centroids of the 12 res-0 pentagons
        res0 = ix.from_components(
            np.arange(122, dtype=np.int64), 0, np.full((122, 15), 7)
        )
        pents = res0[ix.is_pentagon(res0)]
        assert len(pents) == 12
        plat, plng = h3.h3_to_geo(pents)
        pick = rng.integers(0, 12, s)
        lat[2 * s : 3 * s] = np.clip(
            plat[pick] + rng.normal(0, 0.5, s), -89.9999, 89.9999
        )
        lng[2 * s : 3 * s] = (
            (plng[pick] + rng.normal(0, 0.5, s) + 180.0) % 360.0
        ) - 180.0
        return lat, lng

    def test_volume_encode_decode_roundtrip(self):
        n = 1_000_000
        lat, lng = self._fuzz_points(n, seed=1234)
        res_of = np.arange(n) % 16
        for r in range(16):
            m = res_of == r
            cells = h3.geo_to_h3(lat[m], lng[m], r)
            assert ix.is_valid(cells).all(), f"res {r}: invalid encodes"
            clat, clng = h3.h3_to_geo(cells)
            again = h3.geo_to_h3(clat, clng, r)
            bad = int((again != cells).sum())
            assert bad == 0, f"res {r}: {bad}/{m.sum()} roundtrip failures"

    def test_volume_boundary_self_containment(self):
        from h3_rs_spark.h3core import geom

        n = 200_000
        lat, lng = self._fuzz_points(n, seed=987)
        res_of = np.arange(n) % 16
        for r in range(16):
            cells = np.unique(h3.geo_to_h3(lat[res_of == r], lng[res_of == r], r))
            blat, blng = h3.h3_to_geo_boundary(cells)
            nv = (~np.isnan(blat)).sum(axis=1)
            assert ((nv >= 5) & (nv <= 10)).all(), f"res {r}: vertex count"
            clat, clng = h3.h3_to_geo(cells)
            cxyz = geom.geo_to_xyz(np.radians(clat), np.radians(clng))
            vxyz = geom.geo_to_xyz(np.radians(blat), np.radians(blng))
            eps = 1e-3
            p = (1 - eps) * vxyz + eps * cxyz[:, None, :]
            p = p / np.linalg.norm(p, axis=-1, keepdims=True)
            nlat = np.degrees(np.arcsin(np.clip(p[..., 2], -1, 1)))
            nlng = np.degrees(np.arctan2(p[..., 1], p[..., 0]))
            valid = ~np.isnan(blat)
            owner = np.broadcast_to(cells[:, None], blat.shape)[valid]
            got = h3.geo_to_h3(nlat[valid], nlng[valid], r)
            bad = int((got != owner).sum())
            assert bad == 0, (
                f"res {r}: {bad}/{valid.sum()} nudged boundary vertices "
                "escaped their cell"
            )

    def test_volume_disk_dissolve_polyfill_roundtrip(self):
        """Dissolve a random k-disk to its polygon, polyfill the polygon
        back at the same res -> the EXACT original cell set (polyfill is
        centroid-in-polygon; every disk centroid is strictly inside the
        dissolved boundary, every outside-neighbor centroid outside)."""
        from h3_rs_spark.h3core.regions import polyfill
        from tests.dissolve import cells_to_multipolygon

        lat, lng = self._fuzz_points(150, seed=555)
        rng = np.random.default_rng(777)
        ks = rng.integers(1, 4, 150)
        res_list = rng.integers(3, 10, 150)
        n_checked = 0
        for i in range(150):
            r, k = int(res_list[i]), int(ks[i])
            cell = h3.geo_to_h3(lat[i : i + 1], lng[i : i + 1], r)
            _, disk = tv.k_ring(cell, k)
            rings = cells_to_multipolygon(disk)
            # disks dissolve to a single outer ring (no holes possible)
            assert len(rings) == 1, f"case {i}: {len(rings)} rings"
            back = polyfill(rings[0], [], r)
            assert set(back.tolist()) == set(disk.tolist()), (
                f"case {i} (res {r}, k {k}): polyfill round-trip "
                f"mismatch {len(back)} vs {len(disk)}"
            )
            n_checked += 1
        assert n_checked == 150


# --- the JVM PIP refine ------------------------------------------------------


def _star(rng, lat, lng, r_deg, n):
    """A star ring around (lat, lng) of radius up to r_deg, longitudes
    scaled by the latitude and wrapped to [-180, 180)."""
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, n))
    rad = r_deg * rng.uniform(0.3, 1.0, n)
    la = np.clip(lat + rad * np.sin(ang), -89.0, 89.0)
    ln = lng + rad * np.cos(ang) / np.cos(np.radians(la))
    return np.column_stack([(ln + 180.0) % 360.0 - 180.0, la])


@st.composite
def pip_polygons(draw):
    """(exterior, holes, res) of one hard kind: a star with or without a
    hole, a box with 72 holes (more rings than a 64-bit parity mask), a
    polar cap of either pole in either winding (optionally with a hole,
    which may cross the antimeridian), a star across the antimeridian,
    or a box centred on a pentagon."""
    from h3_rs_spark.h3core.constants import PENTAGON_BASE_CELLS

    kind = draw(st.sampled_from([
        "star", "star_holed", "many_holes", "cap", "cap_holed",
        "transmeridian", "pentagon",
    ]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    res = draw(st.integers(3, 8))
    r_deg = draw(st.floats(4.0, 12.0)) * np.degrees(
        h3.edge_length_m(res) / 6_371_007.18
    )
    holes = []
    if kind in ("star", "star_holed", "transmeridian"):
        lat = draw(st.floats(-80.0, 80.0))
        lng = draw(st.floats(178.0, 182.0)) if kind == "transmeridian" else draw(LNG)
        ext = _star(rng, lat, lng, r_deg, int(rng.integers(3, 12)))
        if kind == "star_holed":
            holes = [_star(rng, lat, lng, 0.3 * r_deg, 5)]
    elif kind == "many_holes":
        lat, lng = draw(st.floats(-70.0, 70.0)), draw(st.floats(-170.0, 170.0))
        w = r_deg / np.cos(np.radians(lat))
        ext = np.array([(lng - w, lat - r_deg), (lng + w, lat - r_deg),
                        (lng + w, lat + r_deg), (lng - w, lat + r_deg)])
        # a grid of 64 holes, then 8 that overlap the first 8, so ring
        # 64 + k shares no bit with ring k only if rings are numbered
        # per cell
        g = np.linspace(-0.8, 0.8, 8)
        at = [(x, y) for y in g for x in g] + [(x + 0.05, g[0] + 0.05) for x in g]
        sq = 0.05 * np.array([(-1, -1), (1, -1), (1, 1), (-1, 1)])
        holes = [
            np.column_stack([lng + w * (x + sq[:, 0]), lat + r_deg * (y + sq[:, 1])])
            for x, y in at
        ]
    elif kind.startswith("cap"):
        res = draw(st.integers(2, 4))
        sign = draw(st.sampled_from([1.0, -1.0]))
        lat = sign * draw(st.floats(60.0, 84.0))
        n = int(rng.integers(6, 40))
        lngs = np.linspace(-180.0, 180.0, n, endpoint=False)
        if draw(st.booleans()):
            lngs = lngs[::-1]
        ext = np.column_stack([lngs, lat + rng.uniform(-1.0, 1.0, n)])
        if kind == "cap_holed":
            hole_lng = draw(st.one_of(LNG, st.just(179.9)))
            holes = [_star(rng, lat + sign * 3.0, hole_lng, 2.0, 6)]
    else:
        pent = ix.from_components(
            PENTAGON_BASE_CELLS[rng.integers(0, 12, 1)].astype(np.int64),
            0, np.full((1, 15), 7),
        )
        (lat,), (lng,) = h3.h3_to_geo(pent)
        ext = np.array([(lng - 2.0, lat - 1.0), (lng + 2.0, lat - 1.0),
                        (lng + 2.0, lat + 1.0), (lng - 2.0, lat + 1.0)])
        ext[:, 0] = (ext[:, 0] + 180.0) % 360.0 - 180.0
        res = draw(st.integers(3, 5))
    return ext, holes, res


def _cell_bands(cells):
    """Each cell's latitude band (centre +- rho) and longitude half-width
    (inf when its reach touches a pole): every point of the cell lies
    within REACH of its centre."""
    from h3_rs_spark.h3core import regions
    from h3_rs_spark.h3core.constants import EARTH_RADIUS_M, EDGE_LENGTH_M

    lat, lng = h3.h3_to_geo(cells)
    rho = np.degrees(
        regions.REACH * EDGE_LENGTH_M[ix.get_resolution(cells)] / EARTH_RADIUS_M
    )
    top = np.abs(lat) + rho
    dl = np.full(len(cells), np.inf)
    dl[top < 90.0] = rho[top < 90.0] / np.cos(np.radians(top[top < 90.0]))
    return lat, lng, rho, dl


@settings(max_examples=30, deadline=None)
@given(poly=pip_polygons(), seed=st.integers(0, 2**32 - 1))
def test_jvm_refine_matches_kernel(spark, poly, seed):
    """The pip_join refine, evaluated in Spark on (point, boundary row)
    pairs, decides every point within the row cell's band exactly as
    regions.points_in_polygon does. Points: uniform in sampled cells'
    bands, on the band edges, on every ring vertex and edge midpoint
    (and 1e-12 deg off them)."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from h3_rs_spark.h3core import regions
    from h3_rs_spark.operators import pip_join as pj

    ext, holes, _res = poly
    rng = np.random.default_rng(seed)
    build = pj.build_polygon_cells({"p": poly})
    polar_bits, edges = pj._boundary_edges(build, {"p": poly})
    rows = np.flatnonzero(build["is_boundary"].to_numpy())
    lat_c, lng_c, rho, dl = _cell_bands(build["cell"].to_numpy()[rows])

    # points tied to sampled rows: uniform in the band and on its edges
    pick = rng.choice(len(rows), min(len(rows), 40), replace=False)
    k = 6
    half_w = np.minimum(dl[pick], 180.0)
    u = rng.uniform(-1.0, 1.0, (2, len(pick), k))
    p_lat = np.clip(lat_c[pick, None] + rho[pick, None] * u[0], -90.0, 90.0)
    p_lng = lng_c[pick, None] + half_w[:, None] * u[1]
    p_lat[:, 0] = np.minimum(lat_c[pick] + rho[pick], 90.0)
    p_lat[:, 1] = np.maximum(lat_c[pick] - rho[pick], -90.0)
    p_lng[:, 2] = lng_c[pick] + half_w
    p_lng[:, 3] = lng_c[pick] - half_w
    # points on the outline: vertices and edge midpoints, on and just off
    outline = []
    for ring in [np.asarray(r, dtype=np.float64) for r in [ext, *holes]]:
        nxt = np.roll(ring, -1, axis=0)
        d = (nxt[:, 0] - ring[:, 0] + 180.0) % 360.0 - 180.0
        outline += [ring, np.column_stack([ring[:, 0] + 0.5 * d,
                                          0.5 * (ring[:, 1] + nxt[:, 1])])]
    outline = np.concatenate(outline)
    outline = np.concatenate([outline, outline + 1e-12, outline - 1e-12])
    lat = np.concatenate([p_lat.ravel(), outline[:, 1]])
    lng = np.concatenate([p_lng.ravel(), outline[:, 0]])
    lng = (lng + 180.0) % 360.0 - 180.0
    lat = np.clip(lat, -90.0, 90.0)

    # every (point, boundary row) pair whose band holds the point
    in_band = (np.abs(lat[:, None] - lat_c) <= rho) & (
        np.abs((lng[:, None] - lng_c + 180.0) % 360.0 - 180.0) <= dl
    )
    pt, row = np.nonzero(in_band)
    assert len(pt) > 0
    table = pa.table({
        "i": np.arange(len(pt)),
        "lat": lat[pt], "lng": lng[pt],
        "is_boundary": np.ones(len(pt), dtype=bool),
        "polar_bits": polar_bits[rows[row]],
        "edges": edges.take(pa.array(rows[row])),
    })
    want = regions.points_in_polygon(lng, lat, ext, holes)[pt]
    assert want.any() and not want.all()
    cells = build["cell"].to_numpy()[rows[row]]
    # the form pip_join picks, and the one with the polar test
    for polar in {bool(polar_bits.any()), True}:
        got = np.array([
            r["keep"] for r in spark.createDataFrame(table)
            .select("i", F.expr(pj._refine_sql(polar)).alias("keep"))
            .orderBy("i").collect()
        ])
        bad = np.flatnonzero(got != want)
        assert not bad.size, [
            (polar, lat[pt[b]], lng[pt[b]], int(cells[b]), want[b])
            for b in bad[:5]
        ]
