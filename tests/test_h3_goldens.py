"""Golden-vector tests for the from-scratch H3 kernel.

Every fixture below is taken from the reference crate's unit tests
(/root/reference/src/*.rs), themselves ported from h3-py / h3-js
(src/lib.rs:58-61) — i.e. the upstream H3 ecosystem's golden constants.
Where the reference's assertions test FFI buffer padding rather than
true cell sets (SURVEY.md §2.4-2.6 hazards), we assert the *true* sets.
"""

import numpy as np

from h3_rs_spark import h3core as h3


GOLD_LNG, GOLD_LAT = -122.0553238, 37.3615593


class TestIndexing:
    def test_geo_to_h3_golden(self):
        # src/index.rs:111-117
        h = h3.geo_to_h3(np.array([GOLD_LAT]), np.array([GOLD_LNG]), 5)
        assert hex(int(h[0])) == hex(0x85283473FFFFFFF)

    def test_geo_to_h3_z7(self):
        # h3-sys/src/lib.rs:80-92
        h = h3.geo_to_h3(np.array([GOLD_LAT]), np.array([GOLD_LNG]), 7)
        assert int(h[0]) == 0x87283472BFFFFFF

    def test_all_resolutions_roundtrip_res(self):
        # src/index.rs:97-100 + src/inspection.rs:129-137
        for res in range(16):
            h = h3.geo_to_h3(np.array([GOLD_LAT]), np.array([GOLD_LNG]), res)
            assert int(h[0]) != 0
            assert int(h3.get_resolution(h)[0]) == res

    def test_world_wrapping(self):
        # src/index.rs:120-134
        full = 360.0
        base = int(h3.geo_to_h3(np.array([GOLD_LAT]), np.array([GOLD_LNG]), 5)[0])
        for dlat, dlng in [(0, full), (full, 0), (full, full)]:
            h = h3.geo_to_h3(
                np.array([GOLD_LAT + dlat]), np.array([GOLD_LNG + dlng]), 5
            )
            assert int(h[0]) == base

    def test_nan_is_error(self):
        # src/index.rs:102-107
        h = h3.geo_to_h3(np.array([np.nan, 0.0]), np.array([0.0, np.nan]), 0)
        assert (h == 0).all()

    def test_h3_to_geo_golden(self):
        # src/index.rs:141-153
        lat, lng = h3.h3_to_geo(np.array([0x85283473FFFFFFF]))
        assert abs(lat[0] - 37.34579337536848) < 1e-9
        assert abs(lng[0] - (-121.97637597255124)) < 1e-9


class TestInspection:
    def test_is_valid(self):
        # src/inspection.rs:110-126
        assert h3.is_valid(np.array([0x85283473FFFFFFF]))[0]
        assert h3.is_valid(np.array([0x850DAB63FFFFFFF]))[0]
        assert not h3.is_valid(np.array([0x5004295803A88]))[0]

    def test_resolution_base_cell(self):
        h = np.array([0x85283473FFFFFFF])
        assert int(h3.get_resolution(h)[0]) == 5
        assert int(h3.get_base_cell(h)[0]) == 20

    def test_is_res_class3(self):
        assert h3.is_res_class3(np.array([0x85283473FFFFFFF]))[0]  # res 5
        h4 = h3.geo_to_h3(np.array([GOLD_LAT]), np.array([GOLD_LNG]), 4)
        assert not h3.is_res_class3(h4)[0]

    def test_pentagon_flag(self):
        assert h3.is_pentagon(np.array([0x821C07FFFFFFFFF]))[0]
        assert not h3.is_pentagon(np.array([0x85283473FFFFFFF]))[0]

    def test_hex_codec(self):
        s = h3.h3_to_hex_str(np.array([0x85283473FFFFFFF]))
        assert s == ["85283473fffffff"]
        assert int(h3.hex_str_to_h3(s)[0]) == 0x85283473FFFFFFF


class TestResolutionStats:
    def test_grid_resolution_goldens(self):
        # src/resolution.rs:105-110
        assert abs(h3.edge_length_m(1) - 418676.0055) < 1e-4
        assert h3.num_hexagons(1) == 842
        assert abs(h3.hex_area_m2(1) - 607221000000.0) / 607221000000.0 < 1e-6


class TestTraversal:
    def test_k_ring_1(self):
        # src/traversal.rs:196-214 (count + membership, true set)
        _, cells = h3.k_ring(np.array([0x8928308280FFFFF]), 1)
        got = {int(c) for c in cells}
        assert len(got) == 7
        expected = {
            0x8928308280FFFFF, 0x8928308280BFFFF, 0x89283082807FFFF,
            0x89283082877FFFF, 0x89283082803FFFF, 0x89283082873FFFF,
            0x8928308283BFFFF,
        }
        assert got == expected

    def test_k_ring_2(self):
        # src/traversal.rs:217-246
        _, cells = h3.k_ring(np.array([0x8928308280FFFFF]), 2)
        got = {int(c) for c in cells}
        assert len(got) == 19
        expected = {
            0x89283082813FFFF, 0x89283082817FFFF, 0x8928308281BFFFF,
            0x89283082863FFFF, 0x89283082823FFFF, 0x89283082873FFFF,
            0x89283082877FFFF, 0x8928308287BFFFF, 0x89283082833FFFF,
            0x8928308282BFFFF, 0x8928308283BFFFF, 0x89283082857FFFF,
            0x892830828ABFFFF, 0x89283082847FFFF, 0x89283082867FFFF,
            0x89283082803FFFF, 0x89283082807FFFF, 0x8928308280BFFFF,
            0x8928308280FFFFF,
        }
        assert got == expected

    def test_k_ring_pentagon(self):
        # src/traversal.rs:249-265
        _, cells = h3.k_ring(np.array([0x821C07FFFFFFFFF]), 1)
        got = {int(c) for c in cells}
        assert len(got) == 6
        expected = {
            0x821C2FFFFFFFFFF, 0x821C27FFFFFFFFF, 0x821C07FFFFFFFFF,
            0x821C17FFFFFFFFF, 0x821C1FFFFFFFFFF, 0x821C37FFFFFFFFF,
        }
        assert got == expected

    def test_k_ring_distances(self):
        # src/traversal.rs:267-290
        _, cells, dist = h3.k_ring_distances(np.array([0x8928308280FFFFF]), 1)
        assert (dist == 0).sum() == 1
        assert (dist == 1).sum() == 6
        assert int(cells[dist == 0][0]) == 0x8928308280FFFFF

    def test_k_ring_distances_pentagon_adjacent(self):
        # src/traversal.rs:285-289 — the [1, 6, 11] pentagon distortion
        _, _, dist = h3.k_ring_distances(np.array([0x870800003FFFFFF]), 2)
        assert (dist == 0).sum() == 1
        assert (dist == 1).sum() == 6
        assert (dist == 2).sum() == 11

    def test_hex_ring_1(self):
        # src/traversal.rs:292-306 — true set (no zero padding)
        _, cells = h3.hex_ring(np.array([0x8928308280FFFFF]), 1)
        got = {int(c) for c in cells}
        expected = {
            0x8928308280BFFFF, 0x89283082807FFFF, 0x89283082877FFFF,
            0x89283082803FFFF, 0x89283082873FFFF, 0x8928308283BFFFF,
        }
        assert got == expected

    def test_hex_ring_2(self):
        # src/traversal.rs:308-328
        _, cells = h3.hex_ring(np.array([0x8928308280FFFFF]), 2)
        got = {int(c) for c in cells}
        expected = {
            0x89283082813FFFF, 0x89283082817FFFF, 0x8928308281BFFFF,
            0x89283082863FFFF, 0x89283082823FFFF, 0x8928308287BFFFF,
            0x89283082833FFFF, 0x8928308282BFFFF, 0x89283082857FFFF,
            0x892830828ABFFFF, 0x89283082847FFFF, 0x89283082867FFFF,
        }
        assert got == expected
        assert len(got) == 12

    def test_empty_batch(self):
        """An empty batch (an empty Arrow batch reaches the UDFs) gives
        empty arrays, not an IndexError."""
        from h3_rs_spark.h3core import traversal as tv

        empty = np.empty(0, dtype=np.int64)
        outs = [tv.neighbors(empty)] + [
            f(empty, 2)
            for f in (tv.k_ring, tv.k_ring_distances, tv.hex_ring, tv.hex_range)
        ]
        for out in outs:
            assert [a.shape for a in out] == [(0,)] * len(out)
        for out in outs[:4]:
            assert {a.dtype for a in out} == {np.dtype(np.int64)}


class TestHierarchy:
    def test_children_counts(self):
        # src/hierarchy.rs:122-129
        h = 0x87283472BFFFFFF
        assert len(h3.to_children(h, 7)) == 1
        assert len(h3.to_children(h, 8)) == 7

    def test_parent_of_children(self):
        h = 0x87283472BFFFFFF
        ch = h3.to_children(h, 9)
        parents = h3.to_parent(ch, 7)
        assert (parents == h).all()

    def test_max_children(self):
        assert int(h3.max_children(7, 9)) == 49

    def test_pentagon_children(self):
        pent = 0x821C07FFFFFFFFF  # res 2 pentagon
        ch = h3.to_children(int(pent), 3)
        assert len(ch) == 6  # pentagons have 6 children
        assert h3.is_pentagon(ch).sum() == 1

    def test_compact_uncompact_roundtrip(self):
        h = 0x87283472BFFFFFF
        ch = h3.to_children(h, 9)
        compacted = h3.compact(ch)
        assert len(compacted) == 1 and int(compacted[0]) == h
        expanded = h3.uncompact(compacted, 9)
        assert set(expanded.tolist()) == set(ch.tolist())


SF_POLYGON = [
    (-122.4089866999972145, 37.813318999983238),
    (-122.3805436999997056, 37.7866302000007224),
    (-122.3544736999993603, 37.7198061999978478),
    (-122.5123436999983966, 37.7076131999975672),
    (-122.5247187000021967, 37.7835871999971715),
    (-122.4798767000009008, 37.8151571999998453),
]


class TestRegions:
    def test_boundary_golden(self):
        # src/region.rs:85-102 — 6 vertices at 1e-9 (order-sensitive up to
        # rotation: assert as an ordered cycle)
        expected = [
            (-121.91508032705622, 37.271355866731895),
            (-121.86222328902491, 37.353926450852256),
            (-121.9235499963016, 37.42834118609435),
            (-122.0377349642703, 37.42012867767778),
            (-122.09042892904395, 37.33755608435298),
            (-122.02910130919, 37.26319797461824),
        ]
        blat, blng = h3.h3_to_geo_boundary(np.array([0x85283473FFFFFFF]))
        keep = ~np.isnan(blat[0])
        verts = list(zip(blng[0][keep], blat[0][keep]))
        # mid-face cell: no icosa-edge crossings, exactly 6 true vertices
        assert len(verts) == 6
        # find rotation offset aligning to expected
        errs = []
        for off in range(6):
            rot = verts[off:] + verts[:off]
            err = max(
                max(abs(a - c), abs(b - d))
                for (a, b), (c, d) in zip(rot, expected)
            )
            errs.append(err)
        assert min(errs) < 1e-9, min(errs)
        assert int(np.argmin(errs)) == 0, "vertex order should match C exactly"

    def test_polyfill_sf(self):
        # src/region.rs:104-121 asserts > 1000; the exact count implied by
        # the h3-js/h3-py golden (and src/hierarchy.rs:145-148) is 1253
        cells = h3.polyfill(SF_POLYGON, [], 9)
        assert len(cells) == 1253

    def test_polyfill_sf_compact(self):
        # src/hierarchy.rs:131-149: compact 209, uncompact 1253
        cells = h3.polyfill(SF_POLYGON, [], 9)
        compacted = h3.compact(cells)
        assert len(compacted) == 209
        expanded = h3.uncompact(compacted, 9)
        assert len(expanded) == 1253
        assert set(expanded.tolist()) == set(cells.tolist())
        # H6: the one-call form gives the same 209 cells
        fused = h3.polyfill_compact(SF_POLYGON, [], 9)
        assert sorted(fused.tolist()) == sorted(compacted.tolist())

    def test_polyfill_with_hole(self):
        # src/region.rs:126-147
        hole = [
            (-122.4471197, 37.7869802),
            (-122.4590777, 37.7664102),
            (-122.4137097, 37.7710682),
        ]
        full = h3.polyfill(SF_POLYGON, [], 9)
        holed = h3.polyfill(SF_POLYGON, [hole], 9)
        assert 0 < len(holed) < len(full)
        assert set(holed.tolist()) <= set(full.tolist())

    def test_polyfill_empty_hole_ignored(self):
        # src/raw.rs:122-125 + src/region.rs:183-218 (Sydney, interiors [[]])
        full = h3.polyfill(SF_POLYGON, [], 9)
        same = h3.polyfill(SF_POLYGON, [[]], 9)
        assert set(full.tolist()) == set(same.tolist())

    def test_polyfill_sydney(self):
        # src/region.rs:183-218 (> 10 cells at Z9)
        sydney = [
            (151.1979259, -33.8555555), (151.2074556, -33.8519779),
            (151.224743, -33.8579597), (151.2254986, -33.8582212),
            (151.235313348, -33.8564183032), (151.234799568, -33.8594049408),
            (151.233485084, -33.8641069037), (151.233181742, -33.8715791334),
            (151.223980353, -33.8876967719), (151.219388501, -33.8873877027),
            (151.2189209, -33.8869995), (151.2181177, -33.886283399999996),
            (151.2157995, -33.8851287), (151.2156925, -33.8852471),
            (151.2141233, -33.8851287), (151.2116267, -33.8847438),
            (151.2083456, -33.8834707), (151.2080246, -33.8827601),
            (151.2059204, -33.8816053), (151.2043868, -33.8827601),
            (151.2028176, -33.8838556), (151.2022826, -33.8839148),
            (151.2011057, -33.8842405), (151.1986114, -33.8842819),
            (151.1986091, -33.8842405), (151.1948287, -33.8773416),
            (151.1923322, -33.8740845), (151.1850566, -33.8697019),
            (151.1902636, -33.8625354), (151.1986805, -33.8612915),
            (151.1979259, -33.8555555),
        ]
        cells = h3.polyfill(sydney, [[]], 9)
        assert len(cells) > 10
        # all centroids must be inside
        lat, lng = h3.h3_to_geo(cells)
        assert h3.points_in_polygon(lng, lat, sydney).all()

    def test_polyfill_null_island(self):
        # src/region.rs:228-243 (> 10 cells at Z4)
        box = [
            (-3.218994140625, -3.0856655287215378),
            (-3.218994140625, 3.6888551431470478),
            (3.5815429687499996, 3.6888551431470478),
            (3.5815429687499996, -3.0856655287215378),
        ]
        cells = h3.polyfill(box, [], 4)
        assert len(cells) > 10

    def test_descendant_reach(self):
        """polygon_cover decides a res-r cell by its reach: every
        boundary vertex of the cell and of its descendants 1-4 levels
        down lies within REACH * EDGE_LENGTH_M[r] of its centre. Sampled
        cells plus all 12 pentagons at each res 0-10."""
        from h3_rs_spark.h3core import indexing as ix
        from h3_rs_spark.h3core.constants import (
            EARTH_RADIUS_KM, PENTAGON_BASE_CELLS,
        )
        from h3_rs_spark.h3core.regions import REACH

        rng = np.random.default_rng(0)
        worst = {}
        for r in range(11):
            lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, 6)))
            digits = np.full((12, 15), 7)
            digits[:, :r] = 0
            cells = np.concatenate([
                h3.geo_to_h3(lat, rng.uniform(-180.0, 180.0, 6), r),
                ix.from_components(PENTAGON_BASE_CELLS, r, digits),
            ])
            clat, clng = np.radians(h3.h3_to_geo(cells))
            for d in range(5):
                own, kids = ix.to_children_batch(cells, r + d)
                blat, blng = np.radians(h3.h3_to_geo_boundary(kids))
                la, lo = clat[own, None], clng[own, None]
                hav = np.sin((blat - la) / 2) ** 2 + np.cos(la) * np.cos(
                    blat
                ) * np.sin((blng - lo) / 2) ** 2
                dist = 2e3 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(hav))
                worst[r, d] = np.nanmax(dist) / h3.edge_length_m(r)
        assert max(worst.values()) < REACH, max(worst, key=worst.get)


class TestKernelProperties:
    def test_encode_decode_roundtrip_grid(self):
        rng = np.random.default_rng(3)
        n = 20_000
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        lng = rng.uniform(-180, 180, n)
        for res in (2, 7, 11):
            h = h3.geo_to_h3(lat, lng, res)
            clat, clng = h3.h3_to_geo(h)
            h2 = h3.geo_to_h3(clat, clng, res)
            assert (h == h2).all()

    def test_parent_children_identity(self):
        rng = np.random.default_rng(4)
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 200)))
        lng = rng.uniform(-180, 180, 200)
        h = h3.geo_to_h3(lat, lng, 6)
        for cell in np.unique(h)[:50]:
            ch = h3.to_children(int(cell), 8)
            assert (h3.to_parent(ch, 6) == cell).all()

    def test_boundary_contains_center(self):
        rng = np.random.default_rng(5)
        lat = np.degrees(np.arcsin(rng.uniform(-0.95, 0.95, 500)))
        lng = rng.uniform(-180, 180, 500)
        h = np.unique(h3.geo_to_h3(lat, lng, 6))
        clat, clng = h3.h3_to_geo(h)
        blat, blng = h3.h3_to_geo_boundary(h)
        for i in range(len(h)):
            ring = [
                (blng[i, v], blat[i, v])
                for v in range(6)
                if not np.isnan(blat[i, v])
            ]
            # skip antimeridian-crossing rings (PIP helper is planar)
            lngs = [p[0] for p in ring]
            if max(lngs) - min(lngs) > 180:
                continue
            inside = h3.points_in_polygon(
                np.array([clng[i]]), np.array([clat[i]]), np.array(ring)
            )
            assert inside[0], (i, hex(int(h[i])))


class TestExtendedParity:
    def test_hex_range_pentagon_flag(self):
        # T6 semantics: hexagons near a pentagon -> error flag set
        from h3_rs_spark.h3core.traversal import hex_range

        _, _, ok = hex_range(np.array([0x8928308280FFFFF]), 2)
        assert ok[0]  # far from any pentagon
        _, _, ok = hex_range(np.array([0x821C07FFFFFFFFF]), 1)
        assert not ok[0]  # pentagon origin

    def test_hex_range_distances(self):
        # T7: the k_ring_distances disk plus the T6 pentagon flag
        from h3_rs_spark.h3core.traversal import (
            hex_range_distances,
            k_ring_distances,
        )

        origins = np.array([0x8928308280FFFFF, 0x821C07FFFFFFFFF])
        o, c, d, ok = hex_range_distances(origins, 2)
        wo, wc, wd = k_ring_distances(origins, 2)
        assert (o == wo).all() and (c == wc).all() and (d == wd).all()
        assert ok.tolist() == [True, False]  # the pentagon's disk fails

    def test_cells_to_multipolygon_dissolve(self):
        from tests.dissolve import cells_to_multipolygon

        cells = h3.polyfill(SF_POLYGON, [], 8)
        rings = cells_to_multipolygon(cells)
        assert len(rings) >= 1
        outer = max(rings, key=len)
        # every cell centroid must be inside the dissolved outer ring
        lat, lng = h3.h3_to_geo(cells)
        inside = h3.points_in_polygon(lng, lat, np.array(outer))
        assert inside.all()
        # single compact blob -> hexagon-boundary vertex count matches
        # the single-occurrence edge count
        k = 1
        _, one_cell = h3.k_ring(np.array([0x85283473FFFFFFF]), 0)
        r1 = cells_to_multipolygon(one_cell)
        assert len(r1) == 1 and len(r1[0]) == 6

    def test_dissolve_pentagon_disk(self):
        """Dissolving a pentagon-containing set must stitch the 5-vertex
        boundary seamlessly: a lone pentagon gives one 5-vertex ring,
        its k=1 disk (pentagon + 5 neighbors) one closed outer ring of
        5*... = 15 single-occurrence edges, and every member centroid
        lies inside (r5 edge-case coverage for the dissolve operator)."""
        from h3_rs_spark.h3core import indexing
        from h3_rs_spark.h3core.constants import PENTAGON_BASE_CELLS
        from tests.dissolve import cells_to_multipolygon

        digits = np.full((1, 15), 7, dtype=np.int64)
        digits[:, :5] = 0
        pent = indexing.from_components(
            PENTAGON_BASE_CELLS[:1].astype(np.int64), 5, digits
        )
        lone = cells_to_multipolygon(pent)
        assert len(lone) == 1 and len(lone[0]) == 5
        _, disk = h3.k_ring(pent, 1)
        assert disk.shape[0] == 6  # pentagon deficit: 1 + 5 neighbors
        rings = cells_to_multipolygon(disk)
        assert len(rings) == 1
        lat, lng = h3.h3_to_geo(disk)
        inside = h3.points_in_polygon(lng, lat, np.array(rings[0]))
        assert inside.all()


class TestClassIIIDistortionVertices:
    """Class III cells whose edges cross icosahedron face edges get an
    extra vertex per crossing (H3 h3ToGeoBoundary; reference buffer
    MAX_CELL_BNDRY_VERTS=10, h3-sys/src/ffi.rs:3, trimmed at
    src/raw.rs:92-103). No external golden exists in this container, so
    the vertices are validated against the geometry itself: every
    inserted vertex must lie exactly on an icosahedron edge great
    circle, with the true 6 (5) vertices preserved in cyclic order."""

    def _icosa_edge_normals(self):
        from h3_rs_spark.h3core import geom
        from h3_rs_spark.h3core.constants import MAX_DIM_BY_CII_RES

        m = float(MAX_DIM_BY_CII_RES[2])
        s32 = np.sqrt(3.0) / 2.0
        ev = np.array([[3 * m, 0], [-1.5 * m, 3 * s32 * m], [-1.5 * m, -3 * s32 * m]])
        normals = []
        for f in range(20):
            la, lo = geom.hex2d_to_geo(ev, np.full(3, f), 2, substrate=True)
            c = geom.geo_to_xyz(la, lo)
            for a, b in ((0, 1), (1, 2), (2, 0)):
                nrm = np.cross(c[a], c[b])
                normals.append(nrm / np.linalg.norm(nrm))
        return np.array(normals)

    def test_hexagon_crossings_on_icosa_edges(self):
        from h3_rs_spark.h3core import geom

        normals = self._icosa_edge_normals()
        rng = np.random.default_rng(1)
        lats = rng.uniform(-85, 85, 8000)
        lngs = rng.uniform(-180, 180, 8000)
        checked = 0
        for res in (1, 3, 5):
            cells = np.unique(h3.geo_to_h3(lats, lngs, res))
            la10, lo10 = h3.h3_to_geo_boundary(cells, distortion=True)
            la6, lo6 = h3.h3_to_geo_boundary(cells, distortion=False)
            nv10 = (~np.isnan(la10)).sum(axis=1)
            assert (nv10 >= 6).all() and (nv10 <= 10).all()
            for i in np.flatnonzero(nv10 > 6):
                true6 = {
                    (round(la6[i, v], 9), round(lo6[i, v], 9))
                    for v in range(6)
                    if not np.isnan(la6[i, v])
                }
                seq10 = [
                    (round(la10[i, v], 9), round(lo10[i, v], 9))
                    for v in range(int(nv10[i]))
                ]
                for p in seq10:
                    if p in true6:
                        continue
                    xyz = geom.geo_to_xyz(np.radians(p[0]), np.radians(p[1]))
                    assert np.abs(normals @ xyz).min() < 1e-9
                    checked += 1
                # true vertices preserved in order
                assert [p for p in seq10 if p in true6] == [
                    (round(la6[i, v], 9), round(lo6[i, v], 9))
                    for v in range(6)
                    if not np.isnan(la6[i, v])
                ]
        assert checked > 50  # the sample must actually exercise crossings

    def test_class2_always_six(self):
        rng = np.random.default_rng(2)
        lats = rng.uniform(-85, 85, 3000)
        lngs = rng.uniform(-180, 180, 3000)
        for res in (2, 4, 6):
            cells = np.unique(h3.geo_to_h3(lats, lngs, res))
            la, _ = h3.h3_to_geo_boundary(cells, distortion=True)
            pent = h3.is_pentagon(cells)
            nv = (~np.isnan(la)).sum(axis=1)
            assert (nv[~pent] == 6).all()

    def test_pentagon_class3_ten_vertices(self):
        from h3_rs_spark.h3core import geom, indexing
        from h3_rs_spark.h3core.constants import BASE_CELL_IS_PENTAGON

        pent_bc = np.flatnonzero(BASE_CELL_IS_PENTAGON)
        h1 = indexing.from_components(
            pent_bc,
            np.full(len(pent_bc), 1),
            np.zeros((len(pent_bc), 15), dtype=np.int64),
        )
        la, lo = h3.h3_to_geo_boundary(h1)
        nv = (~np.isnan(la)).sum(axis=1)
        # all Class III pentagon edges cross icosa edges: 5 true + 5 extra
        assert (nv == 10).all()
        normals = self._icosa_edge_normals()
        la6, lo6 = h3.h3_to_geo_boundary(h1, distortion=False)
        for i in range(len(h1)):
            true5 = {
                (round(la6[i, v], 9), round(lo6[i, v], 9))
                for v in range(6)
                if not np.isnan(la6[i, v])
            }
            extra = 0
            for v in range(10):
                p = (round(la[i, v], 9), round(lo[i, v], 9))
                if p in true5:
                    continue
                xyz = geom.geo_to_xyz(np.radians(p[0]), np.radians(p[1]))
                assert np.abs(normals @ xyz).min() < 1e-9
                extra += 1
            assert extra == 5


class TestTransmeridian:
    """Antimeridian-crossing polygons (beyond the reference's fixtures —
    H3's own polyfill handles these; round 1 documented them as a bbox
    limitation, closed in round 2 by shifting into the [0,360) domain)."""

    BOX = [(179.0, -1.0), (-179.0, -1.0), (-179.0, 1.0), (179.0, 1.0)]

    def test_pip_across_seam(self):
        from h3_rs_spark.h3core import regions

        inside = regions.points_in_polygon(
            np.array([179.9, -179.9, 178.0, 0.0]),
            np.array([0.0, 0.0, 0.0, 0.0]),
            self.BOX,
        )
        assert inside.tolist() == [True, True, False, False]

    def test_polyfill_straddles_seam(self):
        from h3_rs_spark.h3core import regions

        cells = regions.polyfill(self.BOX, [], 5)
        clat, clng = h3.h3_to_geo(cells)
        assert (clng > 100).any() and (clng < -100).any()
        # count comparable to the identical box at lng 0 (grid alignment
        # differs slightly; same latitude band so same cell sizes)
        ref_box = [(-1.0, -1.0), (1.0, -1.0), (1.0, 1.0), (-1.0, 1.0)]
        ref = regions.polyfill(ref_box, [], 5)
        assert abs(len(cells) - len(ref)) / len(ref) < 0.1
        # every returned centroid is truly inside (shifted-domain check)
        lngs = np.where(clng < 0, clng + 360.0, clng)
        assert ((lngs >= 179.0) & (lngs <= 181.0)).all()
        assert ((clat >= -1.0) & (clat <= 1.0)).all()


class TestDissolveShapes:
    def test_annulus_and_islands(self):
        from h3_rs_spark.h3core import traversal as tv
        from tests.dissolve import cells_to_multipolygon

        A = 0x8928308280FFFFF
        _, hollow = tv.hex_ring(np.array([A]), 1)
        rings = cells_to_multipolygon(hollow)
        assert sorted(len(r) for r in rings) == [6, 18]  # hole + outer
        _, disk = tv.k_ring(np.array([A]), 2)
        far = h3.geo_to_h3(np.array([-33.87]), np.array([151.21]), 9)
        _, far_disk = tv.k_ring(far, 1)
        rings = cells_to_multipolygon(
            np.concatenate([disk, far_disk])
        )
        assert sorted(len(r) for r in rings) == [18, 30]


class TestPolarPolyfill:
    """Pole-containing polygons (beyond the reference: H3 v3.6 itself
    cannot fill them). Constant-latitude rings make containment
    enumerable exactly: every ring edge linearly interpolates latitude
    between equal endpoints, so the true interior of a lat-L polar cap
    is precisely {centroid lat > L} — checked against the FULL cell
    enumeration at the target res (uncompacted from the 122 base
    cells), cell-for-cell."""

    @staticmethod
    def _all_cells(res):
        from h3_rs_spark.h3core import hierarchy, indexing

        res0 = indexing.from_components(
            np.arange(122, dtype=np.int64), 0, np.full((122, 15), 7)
        )
        return hierarchy.uncompact(res0, res)

    @staticmethod
    def _ring(lat, eastward=True, n=12):
        lngs = np.linspace(-180.0, 180.0, n, endpoint=False)
        if not eastward:
            lngs = lngs[::-1]
        return [(float(lng), float(lat)) for lng in lngs]

    def test_north_cap_exact(self):
        from h3_rs_spark.h3core import faceijk as fk
        from h3_rs_spark.h3core import regions

        got = set(regions.polyfill(self._ring(80.0), [], 3).tolist())
        allc = self._all_cells(3)
        lat, _ = fk.h3_to_geo(allc)
        exp = set(allc[lat > 80.0].tolist())
        assert got == exp and len(exp) > 50

    def test_south_cap_exact(self):
        from h3_rs_spark.h3core import faceijk as fk
        from h3_rs_spark.h3core import regions

        # westward winding -> interior left of travel = south side
        got = set(
            regions.polyfill(self._ring(-80.0, eastward=False), [], 3).tolist()
        )
        allc = self._all_cells(3)
        lat, _ = fk.h3_to_geo(allc)
        exp = set(allc[lat < -80.0].tolist())
        assert got == exp and len(exp) > 50

    def test_polar_annulus_with_polar_hole(self):
        from h3_rs_spark.h3core import faceijk as fk
        from h3_rs_spark.h3core import regions

        got = set(
            regions.polyfill(
                self._ring(75.0), [self._ring(85.0)], 3
            ).tolist()
        )
        allc = self._all_cells(3)
        lat, _ = fk.h3_to_geo(allc)
        exp = set(allc[(lat > 75.0) & ~(lat > 85.0)].tolist())
        assert got == exp and len(exp) > 50

    def test_polar_annulus_rfc7946_hole_winding(self):
        """RFC 7946 holes wind OPPOSITE to the exterior. Containment
        must not depend on the hole's winding: a polar hole inside a
        polar exterior always excludes the exterior pole's cap, so an
        eastward exterior at 75N with a westward (clockwise) hole at
        85N yields the same annulus as the same-winding form above."""
        from h3_rs_spark.h3core import faceijk as fk
        from h3_rs_spark.h3core import regions

        same = set(
            regions.polyfill(self._ring(75.0), [self._ring(85.0)], 3).tolist()
        )
        opposite = set(
            regions.polyfill(
                self._ring(75.0), [self._ring(85.0, eastward=False)], 3
            ).tolist()
        )
        allc = self._all_cells(3)
        lat, _ = fk.h3_to_geo(allc)
        exp = set(allc[(lat > 75.0) & ~(lat > 85.0)].tolist())
        assert opposite == same == exp and len(exp) > 50

    def test_polar_cover_split_consistent(self):
        """polygon_cover over a polar cap: interior/boundary disjoint,
        every truly-contained centroid is in interior ∪ boundary."""
        from h3_rs_spark.h3core import faceijk as fk
        from h3_rs_spark.h3core import regions

        ring = self._ring(82.0)
        interior, boundary = regions.polygon_cover(ring, [], 3)
        assert not (set(interior.tolist()) & set(boundary.tolist()))
        filled = set(regions.polyfill(ring, [], 3).tolist())
        fine = h3.uncompact(interior, 3)
        assert filled <= (set(fine.tolist()) | set(boundary.tolist()))
        # interior cells must be fully inside: all vertices above 82
        blat, _ = fk.h3_to_geo_boundary(interior)
        assert np.nanmin(blat) > 82.0

    def test_non_polar_rings_unaffected(self):
        """The polar branch must not fire for ordinary polygons: SF
        golden count is unchanged."""
        from h3_rs_spark.h3core import regions
        from h3_rs_spark.sources.datagen import SF_EXTERIOR

        assert regions.polyfill(SF_EXTERIOR, [], 9).shape[0] == 1253
