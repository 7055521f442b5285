"""Arrow-vectorized pandas UDFs over the numpy H3 kernel.

Every UDF is Series->Series over whole Arrow batches (no per-row Python,
per BASELINE.json input_hint); the heavy math is the same numpy kernel
validated against the reference goldens (tests/test_h3_goldens.py).

Resolution/k parameters are Python literals captured in closures so only
the data columns cross the JVM->Python boundary.

The factory functions are lru_cached (r7): every call used to rebuild
the pandas UDF — a cloudpickle of the closure plus py4j registration
chatter per call — measurable driver-side latency in the kNN round loop
and every query that re-derives cells. The returned UDF objects are
session-independent (registration happens at use), so caching by the
literal parameters is safe.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..h3core import faceijk, traversal


def _lists_by_owner(owner: np.ndarray, cells: np.ndarray, n: int) -> list:
    """Split a kernel's flat (owner row, cell) output into n per-row
    int64 arrays, each row's cells in their output order: one stable
    sort and one split, no per-element Python."""
    order = np.argsort(owner, kind="stable")
    bounds = np.cumsum(np.bincount(owner, minlength=n))
    return np.split(np.asarray(cells, dtype=np.int64)[order], bounds)[:-1]


@functools.lru_cache(maxsize=64)
def geo_to_h3_udf(res: int):
    """(lat, lng) degrees -> cell int64 (0 for invalid input).

    Marked asNondeterministic as an OPTIMIZER BARRIER, not a semantics
    statement (the encode is pure): when the cell column feeds a join,
    Catalyst pushes the join's isnotnull(f(cell)) constraint through
    the defining projection, re-embedding the UDF so the optimized
    plan evaluates the Arrow encode TWICE per probe row (found r4 in
    the flagship PIP plan: 8.4M -> 4.7M rows/s; same shape in the kNN
    probe). Every call site assigns via withColumn and consumers
    reference only the resulting attribute, so the marking costs
    nothing; it just forbids the optimizer from duplicating or
    relocating the eval."""

    @F.pandas_udf(LongType())
    def _f(lat: pd.Series, lng: pd.Series) -> pd.Series:
        h = faceijk.geo_to_h3(
            lat.to_numpy(dtype=np.float64, na_value=np.nan),
            lng.to_numpy(dtype=np.float64, na_value=np.nan),
            res,
        )
        return pd.Series(h)

    return _f.asNondeterministic()


_GEO_STRUCT = StructType(
    [StructField("lat", DoubleType()), StructField("lng", DoubleType())]
)


@F.pandas_udf(_GEO_STRUCT)
def h3_to_geo_udf(cell: pd.Series) -> pd.DataFrame:
    lat, lng = faceijk.h3_to_geo(cell.to_numpy(dtype=np.int64))
    return pd.DataFrame({"lat": lat, "lng": lng})


_BOUNDARY_TYPE = ArrayType(
    StructType([StructField("lng", DoubleType()), StructField("lat", DoubleType())])
)


@F.pandas_udf(_BOUNDARY_TYPE)
def h3_boundary_udf(cell: pd.Series) -> pd.Series:
    blat, blng = faceijk.h3_to_geo_boundary(cell.to_numpy(dtype=np.int64))
    out = []
    for i in range(blat.shape[0]):
        keep = ~np.isnan(blat[i])
        out.append(
            [
                {"lng": float(blng[i, v]), "lat": float(blat[i, v])}
                for v in np.flatnonzero(keep)
            ]
        )
    return pd.Series(out)


@functools.lru_cache(maxsize=64)
def k_ring_udf(k: int):
    """cell -> array<long> of all cells within grid distance k."""

    @F.pandas_udf(ArrayType(LongType()))
    def _f(cell: pd.Series) -> pd.Series:
        c = cell.to_numpy(dtype=np.int64)
        owner, cells = traversal.k_ring(c, k)
        return pd.Series(_lists_by_owner(owner, cells, len(c)), dtype=object)

    return _f


@functools.lru_cache(maxsize=64)
def geo_disk_dyn_udf():
    """(lat, lng, res, ring) -> array<long>: the full k-ring disk of
    the point's cell at a per-ROW (res, ring). Fuses the dynamic-res
    encode and the dynamic-radius traversal into ONE Arrow stage so a
    multi-level kNN round builds its whole candidate relation in a
    single python pass (one stage, one broadcast) instead of one per
    distinct resolution. Each batch groups by distinct (res, ring) so
    every group is one vectorized encode + traversal call."""

    @F.pandas_udf(ArrayType(LongType()))
    def _f(
        lat: pd.Series, lng: pd.Series, res: pd.Series, ring: pd.Series
    ) -> pd.Series:
        la = lat.to_numpy(dtype=np.float64)
        ln = lng.to_numpy(dtype=np.float64)
        rs = res.to_numpy(dtype=np.int64)
        rg = ring.to_numpy(dtype=np.int64)
        owners, disks = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        combos = np.unique(np.stack([rs, rg], axis=1), axis=0)
        for rv, gv in combos:
            idx = np.flatnonzero((rs == rv) & (rg == gv))
            cells = faceijk.geo_to_h3(la[idx], ln[idx], int(rv))
            owner, disk = traversal.k_ring(cells, int(gv))
            owners.append(idx[owner])
            disks.append(disk)
        return pd.Series(
            _lists_by_owner(
                np.concatenate(owners), np.concatenate(disks), len(la)
            ),
            dtype=object,
        )

    # same optimizer-barrier rationale as geo_to_h3_udf
    return _f.asNondeterministic()
