"""kNN join: expanding k_ring candidate generation + haversine re-rank.

One entry, `knn_join`, for a dimension-sized query batch (at most
_MAX_QUERIES rows) against the 10^12-row image fact table
(SURVEY.md §7.3). The batch and its round state live on the driver;
Spark runs only the probe, the haversine and the top-k window. Per call:

1. One bounded action, limit(N+1).toPandas(), checks the batch size and
   brings the batch to the driver, where bad rows raise ValueError.
2. The driver seeds each query: numpy pre-cells at two coarse scales,
   one broadcast-join count over the fact table on the fact cell's
   parent at both scales (native.parent_keys), and a numpy fold of the
   implied base-res ring to a bounded (res_eff, ring) pair.
3. Rounds: the remaining queries' state is a local relation whose geo
   disks at (res_eff, ring) explode on the executors to
   (query_id, cand_cell) and are *broadcast*; the probe is a single
   BroadcastHashJoin on one parent key of the fact cell per distinct
   level (native.parent_keys, as in pip_join; no shuffle of the fact
   table). The haversine re-rank is JVM SQL, and a ROW_NUMBER window
   keeps at most k rows per query, which one toPandas() brings back.
   The driver then decides in numpy: a query is done when it holds k
   rows whose k-th distance is inside the ring's guaranteed coverage
   radius, or when its ring is exhausted; the rest widen the ring x4,
   fold to a coarser res when it grows past _COARSEN_AT, and go round
   again.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StructField, StructType,
)

from ..functions.native import haversine_m_sql, parent_keys

from ..h3core.constants import EDGE_LENGTH_M
from ..session import local_frame

# conservative minimum center-to-center spacing between adjacent cells,
# accounting for icosahedron distortion (avg spacing ~= 1.73 * edge; the
# worst-case shrink factor is ~0.75)
_MIN_SPACING_FACTOR = 1.2

_COARSEN_AT = 16  # ring size beyond which we escalate to a coarser res
_INITIAL_RING = 2  # smallest starting ring the seeder hands out
_MAX_RING = 1 << 20  # base-res rings after which a query stops widening

# largest batch knn_join brings to the driver (~a few MB of narrow rows)
_MAX_QUERIES = 100_000


def knn_join(
    spark: SparkSession,
    images: DataFrame,
    queries: DataFrame,
    k: int,
    res: int,
) -> DataFrame:
    """Exact k nearest images per query point.

    images: fact table with `cell` (res `res`), lat, lng, image_id.
    queries: query_id, lat, lng (k is the parameter, uniform per call).
    Returns (query_id, image_id, dist_m, rank), ties broken by image_id —
    matching knn_oracle row-for-row. A query whose ring reaches
    _MAX_RING base-res rings stops there with what it found.

    Raises ValueError for a batch above _MAX_QUERIES rows (split it),
    a duplicate query_id, or a null/NaN lat or lng. The checks read the
    rows the one bounded limit(N+1).toPandas() brought to the driver.
    Each round then ships the remaining queries as a local relation
    under the caller's schema, so the queries plan never re-executes,
    and collects at most k rows per remaining query. The result is a
    local relation of the collected rows; an empty batch returns it
    typed and empty without further Spark jobs.
    """
    from ..functions.udfs import geo_disk_dyn_udf

    q_cols = queries.select("query_id", "lat", "lng")
    q_pdf = q_cols.limit(_MAX_QUERIES + 1).toPandas()
    if len(q_pdf) > _MAX_QUERIES:
        raise ValueError(
            f"knn_join takes at most {_MAX_QUERIES} queries per call;"
            " split the batch"
        )
    _check_query_rows(q_pdf)
    out_schema = StructType(
        [
            queries.schema["query_id"],
            images.schema["image_id"],
            StructField("dist_m", DoubleType()),
            StructField("rank", IntegerType()),
        ]
    )
    if q_pdf.empty:
        return local_frame(spark, [], out_schema)

    res_eff, ring = _seed_plans(spark, images, q_pdf, k, res)
    state = q_pdf.assign(res_eff=res_eff, ring=ring)
    # the caller's dtypes, not pandas inference: an int32 query_id must
    # round-trip to the exact input schema (ADVICE r5)
    state_schema = StructType(
        list(q_cols.schema.fields)
        + [
            StructField("res_eff", IntegerType()),
            StructField("ring", LongType()),
        ]
    )

    done_rows = []
    while len(state):
        # ONE candidate relation for all levels: the fused dynamic-res
        # disk UDF builds every query's candidates in a single Arrow
        # stage and a single broadcast. The probe side derives one
        # parent key of the fact cell per distinct level with
        # native.parent_keys, the multi-res probe of pip_join.
        cand = F.broadcast(
            spark.createDataFrame(state, state_schema).select(
                "query_id",
                F.col("lat").alias("q_lat"),
                F.col("lng").alias("q_lng"),
                F.explode(
                    geo_disk_dyn_udf()("lat", "lng", "res_eff", "ring")
                ).alias("cand_cell"),
            )
        )

        levels = np.unique(state["res_eff"]).tolist()
        probe = images.withColumn("probe_key", parent_keys("cell", levels))
        topk = (
            probe.join(cand, F.col("probe_key") == cand["cand_cell"])
            .selectExpr(
                "query_id",
                "image_id",
                f"{haversine_m_sql('q_lat', 'q_lng', 'lat', 'lng')} AS dist_m",
            )
            .selectExpr(
                "*",
                "ROW_NUMBER() OVER (PARTITION BY query_id"
                " ORDER BY dist_m, image_id) AS rank",
            )
            .where(f"rank <= {int(k)}")
            .toPandas()
        )

        # a ring at res_eff covers ring * 7^((res - res_eff) // 2)
        # base-res rings; a query is exhausted at _MAX_RING base rings or
        # at a big ring at res 0. A query with no matched rows stays in
        # flight until it is exhausted, and then finishes empty.
        res_eff = state["res_eff"].to_numpy(dtype=np.int64)
        ring = state["ring"].to_numpy(dtype=np.int64)
        per_q = topk.groupby("query_id")["dist_m"]
        n = state["query_id"].map(per_q.size()).fillna(0).to_numpy()
        mx = state["query_id"].map(per_q.max()).to_numpy(dtype=np.float64)
        exhausted = (ring * 7 ** ((res - res_eff) // 2) >= _MAX_RING) | (
            (res_eff == 0) & (ring >= 32)
        )
        done = ((n >= k) & (mx <= _safe_radius(ring, res_eff))) | exhausted
        done_rows.append(
            topk[topk["query_id"].isin(state["query_id"][done])]
        )
        res_eff, ring = _fold(res_eff[~done], ring[~done] * 4)
        state = state[~done].assign(res_eff=res_eff, ring=ring)
    return local_frame(spark, pd.concat(done_rows, ignore_index=True), out_schema)


def _check_query_rows(q_pdf: pd.DataFrame) -> None:
    """Raise ValueError for rows knn_join cannot answer: a duplicate
    query_id (both points would share one window partition, so one
    answer is silently dropped) or a null/NaN coordinate."""
    ids = q_pdf["query_id"]
    dup = ids[ids.duplicated()].unique()
    if len(dup):
        raise ValueError(
            f"knn_join: duplicate query_id, first: {list(dup[:5])}"
        )
    bad = ids[q_pdf[["lat", "lng"]].isna().any(axis=1)]
    if len(bad):
        raise ValueError(
            "knn_join: null or NaN lat/lng for query_id, first:"
            f" {list(bad[:5])}"
        )


def _seed_plans(spark, images, q_pdf, k, res):
    """Per-query starting (res_eff, ring) arrays, in q_pdf's row order,
    from a two-scale density estimate.

    Pre-cells are the k=1 disks of each query at res-4 and res-8 (numpy,
    on the driver); one broadcast-join count job tallies the fact rows
    under each. A query whose fine disk holds >= k rows plans from the
    fine density; the rest (sparse/ocean) use the coarse count, so they
    start at the level that actually holds their neighbors instead of
    cascading through widen-and-fold rounds — each avoided round is a
    full fact-relation probe pass. The implied base-res ring folds to a
    bounded pair through _fold."""
    from ..h3core import traversal

    stages = [max(0, res - 4)]
    if stages[0] > 0:
        stages.append(max(0, stages[0] - 4))

    pre_frames = []
    for si, rp in enumerate(stages):
        q_cells = traversal.fk.geo_to_h3(
            q_pdf["lat"].to_numpy(), q_pdf["lng"].to_numpy(), rp
        )
        owner, cells, _ = traversal.k_ring_distances(q_cells, 1)
        pre_frames.append(
            pd.DataFrame(
                {
                    "query_id": q_pdf["query_id"].to_numpy()[owner],
                    "stage": si,
                    "pre_cell": cells,
                }
            )
        )
    pre = F.broadcast(
        spark.createDataFrame(pd.concat(pre_frames, ignore_index=True))
    )
    # the stages are two resolutions, so a key's resolution names its
    # stage and one key column is the whole join condition
    cnt = (
        images.select(parent_keys("cell", stages).alias("probe_key"))
        .join(pre, F.col("probe_key") == pre["pre_cell"])
        .groupBy("query_id", "stage")
        .agg(F.count("*").alias("n"))
        .toPandas()
        .set_index(["query_id", "stage"])["n"]
    )

    def _count(si):
        key = pd.MultiIndex.from_arrays([q_pdf["query_id"], [si] * len(q_pdf)])
        return cnt.reindex(key).fillna(0).to_numpy(dtype=np.float64)

    rp, n = np.full(len(q_pdf), stages[0]), _count(0)
    if len(stages) > 1:
        # fewer than k rows in the whole fine disk: the answer extends
        # beyond it, so the coarse-disk density is the better estimator
        # (n==0 is the ocean case)
        coarse = n < k
        rp, n = np.where(coarse, stages[1], rp), np.where(coarse, _count(1), n)
    # disk of 7 pre-cells covers ~7^(res-rp+1) base-res cells
    density = n / 7.0 ** (res - rp + 1)  # fact rows per base-res cell
    with np.errstate(divide="ignore", invalid="ignore"):
        # ring holding ~3k expected rows (cells(r) ~= 3r^2); nothing even
        # in the coarsest disk: start there
        r = np.where(
            density > 0,
            np.ceil(1.3 * np.sqrt(k / density)).astype(np.int64) + 1,
            _COARSEN_AT * 7 ** ((res - rp) // 2),
        )
    return _fold(np.full(len(q_pdf), res), np.maximum(r, _INITIAL_RING))


def _fold(res_eff, ring):
    """Fold (res_eff, ring) arrays to bounded pairs: while a ring is
    above _COARSEN_AT and res_eff > 0, res_eff drops by 2 (floor 0) and
    the ring by //7 (floor 1). A folded ring then gains 2 rings, capped
    at _COARSEN_AT: the integer //7 steps lose margin, and 2 more rings
    at a coarse res are cheap and usually save a probe round."""
    res0 = np.asarray(res_eff, dtype=np.int64)
    res_eff, ring = res0, np.asarray(ring, dtype=np.int64)
    while (m := (ring > _COARSEN_AT) & (res_eff > 0)).any():
        res_eff = np.where(m, np.maximum(res_eff - 2, 0), res_eff)
        ring = np.where(m, np.maximum(ring // 7, 1), ring)
    return res_eff, np.where(
        res_eff < res0, np.minimum(ring + 2, _COARSEN_AT), ring
    )


def _safe_radius(ring, res_eff):
    """Every point within this geo distance of a query point is inside
    some cell at grid distance <= ring (planar hex lattice bound with a
    distortion safety factor)."""
    edge = np.asarray(EDGE_LENGTH_M, dtype=np.float64)[res_eff]
    return np.maximum(
        0.0, ((ring + 1) * 0.866 - 1.16) * (_MIN_SPACING_FACTOR * edge)
    )


def knn_oracle(images_pdf: pd.DataFrame, queries_pdf: pd.DataFrame, k: int):
    """Single-process exact oracle (numpy haversine over the full table)."""
    from ..h3core.geom import haversine_m

    rows = []
    ilat = np.radians(images_pdf["lat"].to_numpy(dtype=np.float64))
    ilng = np.radians(images_pdf["lng"].to_numpy(dtype=np.float64))
    ids = images_pdf["image_id"].to_numpy()
    for _, q in queries_pdf.iterrows():
        d = haversine_m(
            np.radians(q["lat"]), np.radians(q["lng"]), ilat, ilng
        )
        order = np.lexsort((ids, d))[:k]
        for rank, j in enumerate(order, 1):
            rows.append((q["query_id"], ids[j], float(d[j]), rank))
    return pd.DataFrame(rows, columns=["query_id", "image_id", "dist_m", "rank"])
