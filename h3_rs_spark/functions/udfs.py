"""Arrow UDFs over the numpy H3 kernel.

Every UDF is an Arrow UDF (`F.arrow_udf`): pyarrow Arrays in, one
pyarrow Array out, over whole Arrow batches, with no pandas object and
no per-row Python on the worker (BASELINE.json input_hint). Inputs are
read as numpy views, and list and struct results are assembled from
offsets and child arrays, so the rows cross the JVM->Python boundary
only as Arrow buffers. The heavy math is the same numpy kernel
validated against the reference goldens (tests/test_h3_goldens.py).

Resolution/k parameters are Python literals captured in closures so only
the data columns cross the JVM->Python boundary.

The factory functions are lru_cached (r7): every call used to rebuild
the UDF — a cloudpickle of the closure plus py4j registration
chatter per call — measurable driver-side latency in the kNN round loop
and every query that re-derives cells. The returned UDF objects are
session-independent (registration happens at use), so caching by the
literal parameters is safe.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..h3core import faceijk, traversal


def _np(arr: pa.Array, dtype) -> np.ndarray:
    """An Arrow column as a numpy array of `dtype` (a null reads as NaN
    for floats)."""
    return arr.to_numpy(zero_copy_only=False).astype(dtype, copy=False)


# a valid cell (res 0, base cell 0) the kernel decodes in place of a
# NULL input cell; _with_input_nulls makes that output row NULL again
_FILL_CELL = 0x8001FFFFFFFFFFF


def _cells(cell: pa.Array) -> np.ndarray:
    """A `cell` column as int64 for the kernel, each NULL replaced by
    _FILL_CELL (read through float64, a NULL would decode as INT64_MIN
    and every other cell would lose its low bits)."""
    return _np(cell.fill_null(_FILL_CELL) if cell.null_count else cell, np.int64)


def _with_input_nulls(cell: pa.Array, out: pa.Array) -> pa.Array:
    """`out` with NULL in each row whose input `cell` is NULL."""
    if not cell.null_count:
        return out
    return pc.if_else(cell.is_null(), pa.nulls(len(out), out.type), out)


def _list_array(counts: np.ndarray, values: pa.Array) -> pa.ListArray:
    """A list array whose row i holds the next counts[i] of `values`."""
    offsets = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    return pa.ListArray.from_arrays(offsets, values)


def _lists_by_owner(owner: np.ndarray, cells: np.ndarray, n: int) -> pa.ListArray:
    """Split a kernel's flat (owner row, cell) output into an n-row
    list<int64> array, each row's cells in their output order: one
    stable sort and one offsets cumsum, no per-element Python."""
    order = np.argsort(owner, kind="stable")
    return _list_array(
        np.bincount(owner, minlength=n),
        pa.array(np.asarray(cells, dtype=np.int64)[order]),
    )


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

    @F.arrow_udf(LongType())
    def _f(lat: pa.Array, lng: pa.Array) -> pa.Array:
        return pa.array(
            faceijk.geo_to_h3(_np(lat, np.float64), _np(lng, np.float64), res)
        )

    return _f.asNondeterministic()


_GEO_STRUCT = StructType(
    [StructField("lat", DoubleType()), StructField("lng", DoubleType())]
)


@F.arrow_udf(_GEO_STRUCT)
def h3_to_geo_udf(cell: pa.Array) -> pa.Array:
    """cell -> its centre (lat, lng) in degrees; NULL for a NULL cell."""
    lat, lng = faceijk.h3_to_geo(_cells(cell))
    geo = pa.StructArray.from_arrays(
        [pa.array(lat), pa.array(lng)], names=["lat", "lng"]
    )
    return _with_input_nulls(cell, geo)


_BOUNDARY_TYPE = ArrayType(
    StructType([StructField("lng", DoubleType()), StructField("lat", DoubleType())])
)


@F.arrow_udf(_BOUNDARY_TYPE)
def h3_boundary_udf(cell: pa.Array) -> pa.Array:
    """cell -> its boundary vertices, (lng, lat) structs in order; the
    kernel's NaN padding (a hexagon has fewer vertices than the widest
    cell) marks the vertices each row does not have; NULL for a NULL
    cell."""
    blat, blng = faceijk.h3_to_geo_boundary(_cells(cell))
    keep = ~np.isnan(blat)
    vertices = pa.StructArray.from_arrays(
        [pa.array(blng[keep]), pa.array(blat[keep])], names=["lng", "lat"]
    )
    return _with_input_nulls(cell, _list_array(keep.sum(axis=1), vertices))


@functools.lru_cache(maxsize=64)
def k_ring_udf(k: int):
    """cell -> array<long> of all cells within grid distance k; NULL for
    a NULL cell."""

    @F.arrow_udf(ArrayType(LongType()))
    def _f(cell: pa.Array) -> pa.Array:
        owner, cells = traversal.k_ring(_cells(cell), k)
        return _with_input_nulls(cell, _lists_by_owner(owner, cells, len(cell)))

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

    @F.arrow_udf(ArrayType(LongType()))
    def _f(lat: pa.Array, lng: pa.Array, res: pa.Array, ring: pa.Array) -> pa.Array:
        la = _np(lat, np.float64)
        ln = _np(lng, np.float64)
        rs = _np(res, np.int64)
        rg = _np(ring, np.int64)
        owners, disks = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        combos = np.unique(np.stack([rs, rg], axis=1), axis=0)
        for rv, gv in combos:
            idx = np.flatnonzero((rs == rv) & (rg == gv))
            cells = faceijk.geo_to_h3(la[idx], ln[idx], int(rv))
            owner, disk = traversal.k_ring(cells, int(gv))
            owners.append(idx[owner])
            disks.append(disk)
        return _lists_by_owner(
            np.concatenate(owners), np.concatenate(disks), len(la)
        )

    # same optimizer-barrier rationale as geo_to_h3_udf
    return _f.asNondeterministic()
