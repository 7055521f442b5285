"""Distributed polyfill: continent-scale polygons at fine resolutions.

Driver-side polyfill (h3core.regions.polyfill) materializes every bbox
candidate on the driver and raises above MAX_POLYFILL_CELLS — correct
for dimension-table polygons, impossible for a continent at res 9+.
This operator composes the documented escape hatch (regions.py raise
message): cover the polygon with COARSE cells on the driver (a few
thousand rows), explode them to the target res distributively
(uncompact children UDF — pure bit math, ~10^6 children/cell feasible),
and filter by exact centroid ray-casting in Arrow-batched numpy. The
only driver-resident relation is the coarse cover; everything
proportional to the fine cell count stays distributed.

Exactness: the coarse cover (polygon_cover interior + boundary, plus
one extra safety ring) contains every coarse cell that can contain an
inside point, and descendants' centroids drift at most a fraction of a
coarse edge from their ancestor — so the exploded candidate set is a
superset of the driver polyfill, and the centroid filter makes the two
identical (asserted in tests/test_operators.py at a feasible res).

Reference parity: polyfill is the reference's flagship region op
(src/region.rs:49-59); this is its at-scale form.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..h3core import faceijk as fk
from ..h3core import regions
from ..h3core.traversal import neighbors as _neighbors
from .hierarchy_ops import uncompact_cells_df

# target driver-side coarse-cover size: small enough to createDataFrame
# cheaply, large enough to keep the explode factor per task bounded
_COARSE_CAP = 60_000


def pick_coarse_res(exterior, res: int, cap: int = _COARSE_CAP) -> int:
    """Finest res whose bbox scan fits the driver cap (shares the exact
    scan-estimate formula with regions._bbox_scan_cells)."""
    ext = regions._close_ring(np.asarray(exterior, dtype=np.float64))
    for r in range(res, -1, -1):
        if regions.bbox_cell_estimate(ext, r) <= cap:
            return r
    return 0


def centroid_in_polygon_udf(exterior, holes):
    """cell -> centroid-inside-polygon flag (Arrow-batched numpy:
    vectorized decode + ray casting; polygon rings ride the closure)."""
    ext = np.asarray(exterior, dtype=np.float64)
    hls = [np.asarray(h, dtype=np.float64) for h in (holes or [])]

    @F.pandas_udf(BooleanType())
    def _f(cell: pd.Series) -> pd.Series:
        c = cell.to_numpy(dtype=np.int64)
        lat, lng = fk.h3_to_geo(c)
        return pd.Series(regions.points_in_polygon(lng, lat, ext, hls))

    return _f


def polyfill_distributed(
    spark: SparkSession,
    exterior,
    holes,
    res: int,
    coarse_res: int | None = None,
    cell_col: str = "cell",
) -> DataFrame:
    """All cells at `res` whose centroid is inside the polygon, as a
    distributed relation. Result set equals driver polyfill exactly."""
    if coarse_res is None:
        coarse_res = pick_coarse_res(exterior, res)
    if coarse_res > res:
        raise ValueError(f"coarse_res {coarse_res} finer than target {res}")

    # driver-side coarse cover: polygon_cover interior + boundary, plus
    # one extra safety ring beyond polygon_cover's own dilation: a
    # sliver can clip the corner of a cell already in the dilation ring,
    # and fine-res descendants' centroids can drift across a coarse edge
    # — over-inclusion only costs filtered candidates
    interior, boundary = regions.polygon_cover(exterior, holes, coarse_res)
    cover = np.union1d(interior, boundary)
    if boundary.size:
        cover = np.union1d(cover, _neighbors(boundary)[1])

    # ship the cover PRE-SPLIT via parallelize slices instead of
    # createDataFrame + repartition (r7, guide §2.1): the repartition
    # was a whole shuffle (one 32-task map stage measured holding ~8 s
    # of summed task time for 7k rows) whose only purpose was spreading
    # the explode — round-robin slices achieve that with no exchange,
    # so candidate generation fuses into the scan stage. The cover is
    # driver-bounded (<= _COARSE_CAP rows) by construction.
    n_slices = max(spark.sparkContext.defaultParallelism, 1)
    cover_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(int(c),) for c in cover], min(n_slices, max(len(cover), 1))
        ),
        f"{cell_col} long",
    )

    # the cover is uniformly at coarse_res by construction — min_res
    # skips uncompact's derivation job and max_res skips its (empty)
    # already-at-res pass-through branch, one fewer scan stage (r7)
    cand = uncompact_cells_df(
        cover_df, res, cell_col=cell_col, min_res=coarse_res,
        max_res=coarse_res if coarse_res < res else None,
    )
    return cand.where(centroid_in_polygon_udf(exterior, holes)(F.col(cell_col)))
