"""Point-in-polygon join: the engine's flagship operator.

Plan shape (SURVEY.md §2.9/§4.2, designed for 10^12-row probe tables):

  1. Driver-side cover of each polygon at its target res
     (regions.polygon_cover, a coarse-to-fine walk whose cost grows
     with the perimeter): interior cells, whose every target-res
     descendant lies inside the polygon, and boundary cells at the
     target res.
  2. The interior comes out as a multi-res antichain, so the broadcast
     build side is already compact with no compact pass (SF hexagon:
     295 interior rows stand for 1105 of its 1253 res-9 cells).
  3. The probe side derives one parent key per distinct build res with
     pure JVM bit math (functions/native.parent_keys, which explodes
     only when there are several) — a BroadcastHashJoin with no
     probe-side shuffle. Because the build set is an antichain, each
     probe row matches at most one build row (no double counting;
     asserted in tests).
  4. Only rows matched to *boundary* cells pay the exact ray-casting PIP
     refinement; interior matches are free. The refine is one JVM
     expression: each boundary build row carries the few ring edges
     that can cross its cell, and an `aggregate` over them runs the
     kernel's own per-edge test (regions.points_in_polygon), so a
     request starts no Python worker and decides every row as the
     kernel does.

  At scale, file pruning comes for free: the images table is sorted on
  `cell` (sources/io.write_images), so each base cell's rows sit in a
  contiguous run of files, and the build side's distinct bc0 prefixes
  are pushed to the parquet scan as a data filter that skips files by
  their min/max statistics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.native import parent_keys, wrap_lng_sql
from ..h3core import faceijk as fk
from ..h3core import indexing as ix
from ..h3core import regions
from ..h3core.constants import EARTH_RADIUS_M, EDGE_LENGTH_M
from ..h3core.hierarchy import uncompact
from ..session import local_frame


def build_polygon_cells(polygons: dict) -> pd.DataFrame:
    """Driver-side cover -> (polygon_id, cell, is_boundary) build table;
    the interior cells are a multi-res antichain.

    polygons: {polygon_id: (exterior, holes, res)}.
    """
    rows = []
    for pid, (ext, holes, res) in polygons.items():
        interior, boundary = regions.polygon_cover(ext, holes, res)
        for c in interior:
            rows.append((pid, int(c), False))
        for c in boundary:
            rows.append((pid, int(c), True))
    return pd.DataFrame(rows, columns=["polygon_id", "cell", "is_boundary"])


# one ring edge of a boundary build row, in the frame of
# regions._framed_rings: `ring` is the row's own bit for the edge's
# ring, `pole` +1/-1 for a pole-encircling ring (else 0), `shifted` a
# planar ring moved into the [0, 360) longitude domain. dx and dy are
# the deltas the kernel derives from the edge's ends: for a planar edge
# x1 - x0 and its divisor (y1 - y0, or 1 for a level edge); for a polar
# edge x1 - x0 wrapped the short way round and y1 - y0. Computed here
# by the kernel's own operations, they are the same doubles, and the
# Spark refine evaluates fewer interpreted nodes per edge.
_EDGE = pa.struct(
    [("ring", pa.int32()), ("pole", pa.int8()), ("shifted", pa.bool_())]
    + [(k, pa.float64()) for k in ("x0", "y0", "y1", "dx", "dy")]
)
# slack on the longitude band, for the kernel's rounding of a point's
# wrapped offset (a point 1e-15 deg short of an edge's span can count)
_LNG_SLACK_DEG = 1e-9


def _wrap(d):
    return (d + 180.0) % 360.0 - 180.0


def _polygon_edges(exterior, holes) -> dict:
    """Every edge of the framed rings, as the _EDGE columns with the
    ring index. A polar edge with no wrapped longitude span is left
    out: the kernel divides by NaN there and counts no point."""
    parts = []
    for i, (ring, pole, shifted) in enumerate(regions._framed_rings(exterior, holes)):
        x0, y0 = ring[:-1].T
        x1, y1 = ring[1:].T
        dx, dy = x1 - x0, y1 - y0
        if pole is None:
            keep = np.ones(len(dx), dtype=bool)
            dy = np.where(dy == 0.0, 1.0, dy)
        else:
            dx = _wrap(dx)
            keep = dx != 0.0
        cols = {"x0": x0, "y0": y0, "y1": y1, "dx": dx, "dy": dy}
        cols = {k: v[keep] for k, v in cols.items()}
        n = int(keep.sum())
        cols.update(ring=np.full(n, i), pole=np.full(n, pole or 0),
                    shifted=np.full(n, shifted))
        parts.append(cols)
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def _boundary_edges(build_pdf: pd.DataFrame, polygons: dict):
    """(polar_bits, edges) for each build row: a boundary row's edges
    are the framed ring edges that can cross a point of its cell, as a
    list<struct> arrow column; an interior row has none.

    A cell's points lie within rho = REACH * EDGE_LENGTH_M[res] of its
    centre (regions.polygon_cover), so within rho degrees of latitude
    and, unless that reach touches a pole, within rho / cos(top) of
    longitude, top being the highest latitude the reach touches. A
    planar edge whose latitude span misses the band straddles no point
    of the cell, and a polar edge whose wrapped longitude span misses
    the longitude band spans none; leaving them out keeps every
    point's crossing parity as the kernel counts it.

    Each row numbers its own rings, so a polygon may have any number
    of holes: bit 0 is the exterior, then every ring that keeps an edge
    or is polar. A polar ring holds its points on EVEN parity, so its
    bit starts set in polar_bits."""
    n = len(build_pdf)
    polar_bits = np.zeros(n, dtype=np.int64)
    counts = np.zeros(n, dtype=np.int64)
    owner, bits, picked = [], [], []
    boundary = build_pdf["is_boundary"].to_numpy(dtype=bool)
    pids = build_pdf["polygon_id"].to_numpy()
    all_cells = build_pdf["cell"].to_numpy(dtype=np.int64)
    for pid, (ext, holes, _res) in polygons.items():
        rows = np.flatnonzero(boundary & (pids == pid))
        if not rows.size:
            continue
        e = _polygon_edges(ext, holes)
        polar_edge = e["pole"] != 0
        lo = np.minimum(e["y0"], e["y1"])
        hi = np.maximum(e["y0"], e["y1"])
        mid = e["x0"] + 0.5 * e["dx"]
        half = 0.5 * np.abs(e["dx"]) + _LNG_SLACK_DEG
        n_rings = int(e["ring"].max()) + 1
        polar_ring = np.zeros(n_rings, dtype=bool)
        polar_ring[e["ring"][polar_edge]] = True
        cells = all_cells[rows]
        lat, lng = fk.h3_to_geo(cells)
        rho = np.degrees(
            regions.REACH * EDGE_LENGTH_M[ix.get_resolution(cells)] / EARTH_RADIUS_M
        )
        top = np.abs(lat) + rho
        with np.errstate(divide="ignore"):
            dl = np.where(top < 90.0, rho / np.cos(np.radians(top)), np.inf)
        step = max(1, regions._BLOCK // len(lo))
        for s in range(0, rows.size, step):
            b = slice(s, s + step)
            la, r, ln = lat[b, None], rho[b, None], lng[b, None]
            keep = np.where(
                polar_edge,
                np.abs(_wrap(ln - mid)) <= half + dl[b, None],
                (lo <= la + r) & (hi >= la - r),
            )
            has = np.column_stack(
                [keep[:, e["ring"] == k].any(axis=1) for k in range(n_rings)]
            )
            has[:, 0] = True
            has |= polar_ring
            bit = np.cumsum(has, axis=1) - 1
            if bit[:, -1].max() > 63:
                raise ValueError(
                    f"pip_join: polygon {pid!r} has more than 63 holes "
                    "crossing one boundary cell"
                )
            polar_bits[rows[b]] = np.bitwise_or.reduce(
                np.where(polar_ring, np.left_shift(1, bit), 0), axis=1
            )
            counts[rows[b]] = keep.sum(axis=1)
            i, j = np.nonzero(keep)
            owner.append(rows[b][i])
            bits.append(bit[i, e["ring"][j]])
            picked.append({k: v[j] for k, v in e.items()})
    if owner:
        order = np.argsort(np.concatenate(owner), kind="stable")
        cols = {k: np.concatenate([p[k] for p in picked])[order] for k in picked[0]}
        cols["ring"] = np.concatenate(bits)[order]
        values = pa.StructArray.from_arrays(
            [pa.array(cols[f.name], type=f.type) for f in _EDGE], fields=list(_EDGE)
        )
    else:
        values = pa.array([], type=_EDGE)
    offsets = pa.array(np.concatenate([[0], np.cumsum(counts)]), type=pa.int32())
    return polar_bits, pa.ListArray.from_arrays(offsets, values)


# the kernel's per-edge tests, operation for operation: the ray toward
# +lng of regions.points_in_ring and the meridian toward the pole of
# regions._points_in_polar_ring. The polar test's last comparison is
# cross_lat > lat toward the north pole and cross_lat < lat toward the
# south, written as the sign of (cross_lat - lat) * pole: for finite
# doubles a - b > 0 exactly when a > b.
_PLANAR_CROSS = (
    "(e.y0 <= lat) != (e.y1 <= lat) AND "
    "IF(e.shifted AND lng < 0D, lng + 360D, lng) "
    "< e.x0 + (lat - e.y0) / e.dy * e.dx"
)
_T = f"{wrap_lng_sql('lng - e.x0')} / e.dx"
_POLAR_CROSS = (
    f"{_T} >= 0D AND {_T} < 1D AND (e.y0 + {_T} * e.dy - lat) * e.pole > 0D"
)


def _refine_sql(polar: bool) -> str:
    """The refine predicate: a matched row is kept when its cell is
    interior, or when the crossing parities leave exactly the
    exterior's bit set (inside the exterior and inside no hole). The
    polar test is left out unless a polygon has a polar ring: Spark
    plans each request's expression tree afresh, and the polar one is
    the larger part of it."""
    cross = _PLANAR_CROSS
    if polar:
        cross = f"IF(e.pole = 0Y, {_PLANAR_CROSS}, {_POLAR_CROSS})"
    return (
        "NOT is_boundary OR aggregate(edges, polar_bits, (m, e) -> "
        f"IF({cross}, m ^ shiftleft(1L, e.ring), m)) = 1"
    )


def pip_join(
    spark: SparkSession, images: DataFrame, polygons: dict
) -> DataFrame:
    """Join images (with a `cell` column at or finer than every
    polygon's res, and lat/lng columns) against polygons; returns
    matched rows + polygon_id.

    When `images` carries the `bc0` column, the build side's distinct
    base cells are pushed to the scan as a filter on it. An empty
    polygon set returns the typed empty result (polygon_id string)
    without a Spark job."""
    if not polygons:
        fields = images.schema.fields + [StructField("polygon_id", StringType())]
        return local_frame(spark, [], StructType(fields))
    # cost-based build strategy: a compacted build keeps the broadcast
    # tiny but makes the PROBE side explode one parent key per distinct
    # build resolution — at 10^8+ probe rows that multiplies the join
    # input 4-5x. When the UNCOMPACTED build still fits a broadcast
    # comfortably, expanding it driver-side and probing on the single
    # native-res key is strictly cheaper (measured ~25% on the 64M-row
    # flagship). Compaction remains the scale path for continental
    # polygons at fine res, where expansion would be millions of cells.
    build_pdf = _maybe_expand_build(build_polygon_cells(polygons), polygons)
    build_res = sorted(
        int(r) for r in np.unique(ix.get_resolution(build_pdf["cell"].to_numpy()))
    )
    polar_bits, edges = _boundary_edges(build_pdf, polygons)
    build_table = pa.Table.from_pandas(build_pdf, preserve_index=False).append_column(
        "polar_bits", pa.array(polar_bits)
    ).append_column("edges", edges)
    build = F.broadcast(
        spark.createDataFrame(build_table).withColumnsRenamed({"cell": "poly_cell"})
    )

    probe = images
    if "bc0" in images.columns:
        bc0s = sorted(
            int(b)
            for b in np.unique(
                ix.get_base_cell(build_pdf["cell"].to_numpy(dtype=np.int64))
            )
        )
        probe = probe.where(F.col("bc0").isin(bc0s))

    # one JVM-side parent key per distinct build resolution; a
    # single-res build (every expanded build, and any single-res
    # compaction) plans no Generate node
    probe = probe.withColumn("probe_key", parent_keys("cell", build_res))

    joined = probe.join(build, probe["probe_key"] == build["poly_cell"], "inner")

    return joined.where(F.expr(_refine_sql(bool(polar_bits.any())))).drop(
        "probe_key", "poly_cell", "is_boundary", "polar_bits", "edges"
    )


_EXPAND_BUILD_MAX = 200_000  # uncompacted build cells worth broadcasting


def _maybe_expand_build(build_pdf: pd.DataFrame, polygons: dict) -> pd.DataFrame:
    """Expand compacted interior cells to each polygon's native res when
    the result stays broadcast-sized (see pip_join strategy note)."""
    cells = build_pdf["cell"].to_numpy(dtype=np.int64)
    res_by_pid = {pid: int(r) for pid, (_e, _h, r) in polygons.items()}
    res_of = ix.get_resolution(cells)
    target = build_pdf["polygon_id"].map(res_by_pid).to_numpy()
    interior = ~build_pdf["is_boundary"].to_numpy(dtype=bool)
    est = int(np.sum(7.0 ** (target[interior] - res_of[interior])))
    already_flat = bool(np.all(res_of[interior] == target[interior]))
    if already_flat or est > _EXPAND_BUILD_MAX:
        return build_pdf
    frames = [build_pdf[~interior]]
    for pid, grp in build_pdf[interior].groupby("polygon_id"):
        exp = uncompact(grp["cell"].to_numpy(dtype=np.int64), res_by_pid[pid])
        frames.append(
            pd.DataFrame(
                {
                    "polygon_id": pid,
                    "cell": exp,
                    "is_boundary": False,
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def pip_count(spark, images, polygons) -> DataFrame:
    return (
        pip_join(spark, images, polygons)
        .groupBy("polygon_id")
        .agg(F.count("*").alias("n_images"))
    )
