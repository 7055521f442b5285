"""Distributed polyfill: continent-scale polygons at fine resolutions.

Driver-side polyfill (h3core.regions.polyfill) raises above
MAX_POLYFILL_CELLS output cells. The polygon's cover
(regions.polygon_cover) stays small even then, because its cost and
size grow with the perimeter: a compacted interior antichain plus the
res-`res` boundary cells. So the driver computes the cover at the
target res, keeps the boundary cells whose centroid is inside, and the
executors expand the interior to `res` (uncompact_cells_df, a pure-JVM
children explode). Everything proportional to the fine cell count stays
distributed, and no Python runs on the executors.

Exactness: every res-`res` descendant of an interior cell lies inside
the polygon and every other inside centroid's cell is a boundary cell,
so the result equals the driver polyfill cell for cell (asserted in
tests/test_operators.py at a feasible res).

Reference parity: polyfill is the reference's flagship region op
(src/region.rs:49-59); this is its at-scale form.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..h3core import faceijk as fk
from ..h3core import indexing as ix
from ..h3core import regions
from .hierarchy_ops import uncompact_cells_df


def polyfill_distributed(
    spark: SparkSession,
    exterior,
    holes,
    res: int,
) -> DataFrame:
    """All cells at `res` whose centroid is inside the polygon, as a
    distributed `cell` relation. Result set equals driver polyfill
    exactly."""
    interior, boundary = regions.polygon_cover(exterior, holes, res)
    lat, lng = fk.h3_to_geo(boundary)
    inside = boundary[regions.points_in_polygon(lng, lat, exterior, holes)]
    cells = np.concatenate([interior, inside])

    # an Arrow local relation: its scan splits into defaultParallelism
    # slices, so the explode fuses into the scan stage with no exchange,
    # and no Python runs on the executors
    cells_df = spark.createDataFrame(pa.table({"cell": pa.array(cells, pa.int64())}))
    min_res = int(ix.get_resolution(cells).min()) if cells.size else res
    return uncompact_cells_df(cells_df, res, min_res=min_res)
