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
     pure JVM bit math (functions/native.h3_to_parent_col) and explodes —
     a BroadcastHashJoin with no probe-side shuffle. Because the build
     set is an antichain, each probe row matches at most one build row
     (no double counting; asserted in tests).
  4. Only rows matched to *boundary* cells pay the exact ray-casting PIP
     refinement (Arrow-batched pandas UDF); interior matches are free.

  At scale, partition pruning comes for free: the images table is
  partitioned by coarse cell (sources/io.write_images) and the build
  side's distinct bc0 prefixes are pushed as a partition filter.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, StringType, StructField, StructType,
)

from ..functions.native import h3_to_parent_col
from ..h3core import indexing as ix
from ..h3core import regions
from ..h3core.hierarchy import uncompact


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


def pip_join(
    spark: SparkSession, images: DataFrame, polygons: dict
) -> DataFrame:
    """Join images (with a `cell` column at each polygon's res and
    lat/lng columns) against polygons; returns matched rows +
    polygon_id.

    When `images` carries the `bc0` partition column, the build side's
    distinct base cells are pushed as a partition filter. An empty
    polygon set returns the typed empty result (polygon_id string)
    without a Spark job."""
    if not polygons:
        return spark.createDataFrame(
            [],
            StructType(
                images.schema.fields
                + [StructField("polygon_id", StringType())]
            ),
        )
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
    build = F.broadcast(
        spark.createDataFrame(build_pdf).withColumnsRenamed({"cell": "poly_cell"})
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

    # one JVM-side parent key per distinct build resolution; the
    # single-res case (every expanded build, and any single-res
    # compaction) skips the array+explode Generate node entirely — the
    # generator copies every probe row, a pure bandwidth tax when
    # there is only one key (r4 narrowed-probe work)
    if len(build_res) == 1:
        probe = probe.withColumn(
            "probe_key", h3_to_parent_col("cell", build_res[0])
        )
    else:
        keys = F.array(*[h3_to_parent_col("cell", r) for r in build_res])
        probe = probe.withColumn("probe_key", F.explode(keys))

    joined = probe.join(build, probe["probe_key"] == build["poly_cell"], "inner")

    return _refine_boundary(joined, polygons).drop("probe_key", "poly_cell", "is_boundary")


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


def _build_refine_udf(polygons: dict):
    geoms = {pid: (ext, holes) for pid, (ext, holes, _res) in polygons.items()}

    @F.pandas_udf(BooleanType())
    def _pip(
        polygon_id: pd.Series, lat: pd.Series, lng: pd.Series,
        is_boundary: pd.Series,
    ) -> pd.Series:
        out = np.ones(len(polygon_id), dtype=bool)
        mask = is_boundary.to_numpy(dtype=bool)
        if mask.any():
            la = lat.to_numpy(dtype=np.float64)
            ln = lng.to_numpy(dtype=np.float64)
            sub = polygon_id[mask]
            res = np.zeros(int(mask.sum()), dtype=bool)
            pos = np.flatnonzero(mask)
            for pid, idx in sub.groupby(sub).groups.items():
                ext, holes = geoms[pid]
                ii = np.asarray(idx)
                res_idx = np.searchsorted(pos, ii)
                res[res_idx] = regions.points_in_polygon(
                    ln[ii], la[ii], ext, holes
                )
            out[mask] = res
        return pd.Series(out)

    return _pip


def _refine_boundary(joined: DataFrame, polygons: dict) -> DataFrame:
    """Exact PIP for rows matched via boundary cells.

    Single Arrow pass over the matched rows; the ray-casting kernel runs
    only on the boundary-matched subset (interior matches short-circuit
    to True inside the batch), so the plan keeps one probe scan and the
    Python cost is proportional to boundary matches, not all matches.
    """
    pip_udf = _build_refine_udf(polygons)
    return joined.where(pip_udf("polygon_id", "lat", "lng", "is_boundary"))


def pip_count(spark, images, polygons) -> DataFrame:
    return (
        pip_join(spark, images, polygons)
        .groupBy("polygon_id")
        .agg(F.count("*").alias("n_images"))
    )
