"""H3-surface gates over fixed, scale-independent fixtures.

Each test computes one summary through the same public functions a
caller would use (the Spark UDFs and JVM columns where the surface is a
Spark one, the kernel where it is a driver one) and pins the whole
value tuple. The values were re-derived from the kernel and are
corroborated by H3 laws noted per test; a regression that conserves
counts but moves cells shifts at least one pinned value.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from h3_rs_spark.functions.native import (
    h3_resolution,
    h3_to_parent_col,
    haversine_m_sql,
)
from h3_rs_spark.functions.udfs import (
    geo_to_h3_udf,
    h3_boundary_udf,
    h3_to_geo_udf,
    k_ring_udf,
)
from h3_rs_spark.h3core import edge_length_m, hex_ring
from h3_rs_spark.h3core import faceijk as fk
from h3_rs_spark.h3core import hierarchy, indexing, regions, traversal
from h3_rs_spark.h3core.constants import PENTAGON_BASE_CELLS
from h3_rs_spark.sources.datagen import POLYGONS, SF_EXTERIOR
from tests.dissolve import cells_to_multipolygon


def _fixture_points_res7():
    """Deterministic point set for the kernel-surface gates: a fixed
    global lat/lng lattice (pentagon-free bulk, some cells crossing
    icosahedron edges) plus the centroids of the full k=2 disks of all
    12 res-7 pentagons (pentagon + distortion coverage). Returns
    (lat, lng) float64 arrays."""
    lats = np.linspace(-78.0, 78.0, 27)
    lngs = np.linspace(-180.0, 175.0, 72)
    glat = np.repeat(lats, len(lngs))
    glng = np.tile(lngs, len(lats))
    pb = PENTAGON_BASE_CELLS.astype(np.int64)
    digits = np.full((len(pb), 15), 7, dtype=np.int64)
    digits[:, :7] = 0
    pents = indexing.from_components(pb, 7, digits)
    _, disk = traversal.k_ring(pents, 2)
    dlat, dlng = fk.h3_to_geo(disk)
    return np.concatenate([glat, dlat]), np.concatenate([glng, dlng])


def _first_pentagon(res):
    digits = np.full((1, 15), 7, dtype=np.int64)
    digits[:, :res] = 0
    return indexing.from_components(
        PENTAGON_BASE_CELLS[:1].astype(np.int64), res, digits
    )


@pytest.fixture(scope="module")
def fixture_points(spark):
    lat, lng = _fixture_points_res7()
    return spark.createDataFrame(pd.DataFrame({"lat": lat, "lng": lng}))


@pytest.fixture(scope="module")
def fixture_cells(fixture_points):
    return (
        fixture_points.withColumn("cell", geo_to_h3_udf(7)("lat", "lng"))
        .select("cell")
        .distinct()
    )


def test_kring_disk_histogram(fixture_cells):
    """1944 lattice cells + 192 pentagon-disk cells = 2136. The split
    follows the pentagon deficit law disk(d) = 19 - (3,1,0)[d] for
    origin distance d from a pentagon: the 12 pentagons give 16, their
    60 direct neighbours 18, everything else 19."""
    disks = (
        fixture_cells.withColumn("ring_cell", F.explode(k_ring_udf(2)("cell")))
        .groupBy("cell")
        .agg(F.count("*").alias("disk_size"))
    )
    row = disks.agg(
        F.count("*").alias("n_cells"),
        F.sum((F.col("disk_size") == 19).cast("long")).alias("n_19"),
        F.sum((F.col("disk_size") == 18).cast("long")).alias("n_18"),
        F.sum((F.col("disk_size") == 17).cast("long")).alias("n_17"),
        F.sum((F.col("disk_size") == 16).cast("long")).alias("n_16"),
    ).first()
    assert tuple(row) == (2136, 2064, 60, 0, 12)


def test_parent_rollup_structure(fixture_points):
    """All 2136 fixture points land in distinct res-9 cells, rolling up
    into 1956 distinct res-5 parents, every one carrying res field 5."""
    rollup = (
        fixture_points.withColumn("cell", geo_to_h3_udf(9)("lat", "lng"))
        .withColumn("cell_r5", h3_to_parent_col("cell", 5))
        .groupBy("cell_r5")
        .agg(F.count("*").alias("n"), F.countDistinct("cell").alias("n_cells"))
    )
    row = rollup.agg(
        F.sum("n").alias("pts"),
        F.sum("n_cells").alias("cells"),
        F.count("*").alias("groups"),
        F.sum((h3_resolution("cell_r5") == 5).cast("long")).alias("res5"),
    ).first()
    assert tuple(row) == (2136, 2136, 1956, 1956)


def test_polygon_cover_per_polygon():
    """Interior/boundary split, the interior's res-`res` expansion and
    centroid polyfill per test polygon. sf_hexagon polyfill@9 == 1253 is
    the reference's own region golden; interior and boundary must be
    disjoint."""
    rows = []
    for pid, (ext, holes, res) in sorted(POLYGONS.items()):
        interior, boundary = regions.polygon_cover(ext, holes, res)
        pf = regions.polyfill(ext, holes, res)
        n_fine = len(hierarchy.uncompact(interior, res))
        disjoint = not (set(interior.tolist()) & set(boundary.tolist()))
        rows.append(
            (pid, len(interior), n_fine, len(boundary), len(pf), int(disjoint))
        )
    assert rows == [
        ("null_island_box", 163, 325, 223, 440, 1),
        ("sf_hexagon", 295, 1105, 313, 1253, 1),
        ("sf_hexagon_2holes", 437, 947, 445, 1172, 1),
        ("sf_hexagon_hole", 387, 1029, 375, 1214, 1),
        ("sydney", 42, 54, 88, 92, 1),
    ]


def test_boundary_vertex_classes(fixture_cells):
    """The 12 res-7 (Class III) pentagons carry the 5+5 distortion-vertex
    form (n_v10), 122 lattice cells crossing an icosahedron edge pick up
    one distortion vertex (n_v7), the rest are plain hexagons; the
    farthest vertex lands in the 1.2-1.3x edge-length decile."""
    verts = fixture_cells.withColumn(
        "vert", F.explode(h3_boundary_udf("cell"))
    ).withColumn("c", h3_to_geo_udf("cell"))
    verts = verts.withColumn(
        "vdist_m",
        F.expr(haversine_m_sql("c.lat", "c.lng", "vert.lat", "vert.lng")),
    )
    per_cell = verts.groupBy("cell").agg(
        F.count("*").alias("nv"), F.max("vdist_m").alias("max_d")
    )
    row = per_cell.agg(
        F.count("*").alias("n_cells"),
        *[
            F.sum((F.col("nv") == n).cast("long")).alias(f"n_v{n}")
            for n in (6, 7, 8, 9, 10)
        ],
        F.floor(F.max("max_d") / F.lit(edge_length_m(7)) * 10.0)
        .cast("long")
        .alias("max_dist_decile"),
    ).first()
    assert tuple(row) == (2136, 2002, 122, 0, 0, 12, 12)


def test_ring_sizes_hexagon_and_pentagon():
    """Hollow rings hold exactly 6k cells around a hexagon and 5k around
    a pentagon."""
    hex_origin = np.array([0x8928308280FFFFF], dtype=np.int64)
    for origin, per_k in ((hex_origin, 6), (_first_pentagon(9), 5)):
        for k in (1, 2, 3):
            assert hex_ring(origin, k)[1].shape[0] == per_k * k


def test_polyfill_refuses_above_driver_cap():
    """An octagon (centre 30N 20E, r=8 deg, hole r=1.5 deg) fills to
    more than MAX_POLYFILL_CELLS cells at res 8, so the driver polyfill
    refuses it and names a coarser res."""
    ang = np.linspace(0.0, 2.0 * np.pi, 9)[:-1]
    ext = tuple((30.0 + 8.0 * np.cos(a), 20.0 + 8.0 * np.sin(a)) for a in ang)
    hole = tuple((30.0 + 1.5 * np.cos(a), 20.0 + 1.5 * np.sin(a)) for a in ang)
    with pytest.raises(
        ValueError,
        match=r"polyfill: ~2\.43e\+06 cells at res 8 \(> 2000000\); "
        "fill at a coarser res",
    ):
        regions.polyfill(ext, [hole], 8)


def test_polar_polyfill_matches_enumeration():
    """Pole-containing polyfills at res 3 equal the full res-3 cell
    enumeration filtered by centroid latitude, cell for cell. A hole
    wound opposite to the exterior (RFC 7946) fills identically."""

    def ring(lat, eastward=True, n=12):
        lngs = np.linspace(-180.0, 180.0, n, endpoint=False)
        if not eastward:
            lngs = lngs[::-1]
        return [(float(x), float(lat)) for x in lngs]

    res0 = indexing.from_components(
        np.arange(122, dtype=np.int64), 0, np.full((122, 15), 7)
    )
    allc = hierarchy.uncompact(res0, 3)
    lat, _ = fk.h3_to_geo(allc)
    fixtures = [
        ("annulus75_85", ring(75.0), [ring(85.0)], (lat > 75) & ~(lat > 85)),
        (
            "annulus75_85_rfc",
            ring(75.0),
            [ring(85.0, eastward=False)],
            (lat > 75) & ~(lat > 85),
        ),
        ("north80", ring(80.0), [], lat > 80),
        ("south80", ring(-80.0, eastward=False), [], lat < -80),
    ]
    rows = []
    for name, ext, holes, pred in fixtures:
        got = regions.polyfill(ext, holes, 3)
        n_wrong = len(set(got.tolist()) ^ set(allc[pred].tolist()))
        rows.append((name, int(got.shape[0]), n_wrong))
    assert rows == [
        ("annulus75_85", 591, 0),
        ("annulus75_85_rfc", 591, 0),
        ("north80", 293, 0),
        ("south80", 294, 0),
    ]


def test_dissolve_ring_structure():
    """Cells -> multipolygon over the SF polyfill@9 set and a two-island
    set with one hole (k<=3 annulus around a hexagon plus a far k<=2
    disk). Outer rings wind CCW, holes opposite. The islands row obeys
    the disk-boundary vertex law 6(2k+1): 42 + 18 + 30 = 90 vertices,
    and 30 + 12 = 42 perimeter cells."""

    def summarize(cells):
        cells = np.unique(np.asarray(cells, dtype=np.int64))
        rings = cells_to_multipolygon(cells)
        n_outer = n_holes = n_verts = 0
        for ring in rings:
            pts = np.asarray(ring, dtype=np.float64)
            x, y = pts[:, 0], pts[:, 1]
            area2 = float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))
            n_verts += len(ring)
            if area2 > 0:
                n_outer += 1
            else:
                n_holes += 1
        owner, nb = traversal.neighbors(cells)
        inset = np.isin(nb, cells)
        nv_in = np.bincount(
            owner, weights=inset.astype(np.float64), minlength=cells.size
        )
        nv_tot = np.bincount(owner, minlength=cells.size)
        n_perim = int((nv_in < nv_tot).sum())
        return n_outer, n_holes, n_verts, n_perim

    base = np.array([0x8928308280FFFFF], dtype=np.int64)
    _, d3 = traversal.k_ring(base, 3)
    _, d1 = traversal.k_ring(base, 1)
    annulus = np.setdiff1d(d3, d1)
    far = fk.geo_to_h3(np.array([-33.87]), np.array([151.21]), 9)
    _, island = traversal.k_ring(far, 2)

    rows = sorted(
        (name, int(cells.shape[0])) + summarize(cells)
        for name, cells in (
            ("sf_polyfill", regions.polyfill(SF_EXTERIOR, [], 9)),
            ("islands_hole", np.concatenate([annulus, island])),
        )
    )
    assert rows == [
        ("islands_hole", 49, 2, 1, 90, 42),
        ("sf_polyfill", 1253, 1, 0, 284, 139),
    ]

