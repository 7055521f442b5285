"""kNN join: expanding k_ring candidate generation + haversine re-rank.

One entry, `knn_join`, for a dimension-sized query batch (at most
_MAX_QUERIES rows) against the 10^12-row image fact table
(SURVEY.md §7.3). Per call:

1. One bounded action, limit(N+1).toPandas(), checks the batch size and
   brings the batch to the driver, where bad rows raise ValueError.
2. The driver seeds each query: numpy pre-cells at two coarse scales,
   one broadcast-join count over the fact table, and a Python fold of
   the implied base-res ring to a bounded (res_eff, ring) pair. The
   seeded state is a local relation whose levels the driver knows.
3. Rounds: candidate cells = the query's geo disk at (res_eff, ring),
   exploded to (query_id, cell) and *broadcast*; the probe is a single
   BroadcastHashJoin on one parent key of the fact cell per distinct
   level (no shuffle of the fact table). The haversine re-rank is JVM
   SQL; top-k is a window over the (small) matched candidate set.
   Queries finish when they hold k candidates whose k-th distance is
   provably inside the ring's guaranteed coverage radius, or when their
   ring is exhausted; the rest widen the ring x4, escalate to a coarser
   res when it grows past _COARSEN_AT, and re-join — each round touches
   only the remaining queries' cells.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StructField, StructType,
)

from ..functions.native import EARTH_RADIUS_M, h3_to_parent_col

from ..h3core.constants import EDGE_LENGTH_M

# conservative minimum center-to-center spacing between adjacent cells,
# accounting for icosahedron distortion (avg spacing ~= 1.73 * edge; the
# worst-case shrink factor is ~0.75)
_MIN_SPACING_FACTOR = 1.2

_COARSEN_AT = 16  # ring size beyond which we escalate to a coarser res
_INITIAL_RING = 2  # smallest starting ring the seeder hands out

# largest batch knn_join brings to the driver (~a few MB of narrow rows)
_MAX_QUERIES = 100_000


def knn_join(
    spark: SparkSession,
    images: DataFrame,
    queries: DataFrame,
    k: int,
    res: int,
    cell_col: str = "cell",
    max_ring: int = 1 << 20,
) -> DataFrame:
    """Exact k nearest images per query point.

    images: fact table with `cell_col` (res `res`), lat, lng, image_id.
    queries: query_id, lat, lng (k is the parameter, uniform per call).
    Returns (query_id, image_id, dist_m, rank), ties broken by image_id —
    matching knn_oracle row-for-row. A query whose ring reaches
    `max_ring` base-res rings stops there with what it found.

    Raises ValueError for a batch above _MAX_QUERIES rows (split it),
    a duplicate query_id, or a null/NaN lat or lng. The checks read the
    rows the one bounded limit(N+1).toPandas() brought to the driver;
    the rounds then run on a local relation built from those rows under
    the caller's schema, so the queries plan never re-executes. An empty
    batch returns the typed empty result without further Spark jobs.
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
    if q_pdf.empty:
        schema = StructType(
            [
                queries.schema["query_id"],
                images.schema["image_id"],
                StructField("dist_m", DoubleType()),
                StructField("rank", IntegerType()),
            ]
        )
        return spark.createDataFrame([], schema)

    plans = _seed_plans(spark, images, q_pdf, k, res, cell_col)
    seeded = q_pdf.assign(
        res_eff=[p[0] for p in plans], ring=[p[1] for p in plans]
    )
    # the caller's dtypes, not pandas inference: an int32 query_id must
    # round-trip to the exact input schema (ADVICE r5)
    state = spark.createDataFrame(
        seeded,
        schema=StructType(
            list(q_cols.schema.fields)
            + [
                StructField("res_eff", IntegerType()),
                StructField("ring", LongType()),
            ]
        ),
    )
    levels = sorted({p[0] for p in plans})

    # a ring at res_eff covers ring * 7^((res - res_eff) / 2) base-res
    # rings; a query is exhausted at max_ring base rings or at a big
    # ring at res 0. The same SQL text flags its topk rows done and
    # retires it from the state when it matched nothing.
    exhausted = (
        f"((ring * CAST(POW(7.0D, FLOOR(({int(res)} - res_eff) / 2))"
        f" AS BIGINT)) >= {int(max_ring)})"
        " OR ((res_eff = 0) AND (ring >= 32))"
    )
    results = None
    to_unpersist = []
    while True:
        # ONE candidate relation for all levels: the fused dynamic-res
        # disk UDF builds every query's candidates in a single Arrow
        # stage and a single broadcast. The probe side derives one
        # parent key per distinct level, the same multi-res probe design
        # as pip_join; keys at different res are distinct int64s, so no
        # cross-level collisions, and the single-level case keeps the
        # direct key.
        cand = F.broadcast(
            state.select(
                "query_id",
                F.col("lat").alias("q_lat"),
                F.col("lng").alias("q_lng"),
                "ring",
                "res_eff",
                F.explode(
                    geo_disk_dyn_udf()("lat", "lng", "res_eff", "ring")
                ).alias("cand_cell"),
            )
        )

        def _key_at(level):
            return (
                images[cell_col]
                if level == res
                else h3_to_parent_col(images[cell_col], level)
            )

        if len(levels) == 1:
            probe = images.withColumn("probe_key", _key_at(levels[0]))
        else:
            probe = images.withColumn(
                "probe_key",
                F.explode(F.array(*[_key_at(L) for L in levels])),
            )
        matched = probe.join(
            cand, F.col("probe_key") == cand["cand_cell"], "inner"
        ).select(
            "image_id", "lat", "lng", "query_id", "q_lat", "q_lng",
            "ring", "res_eff",
        )
        # per-query stats (_n, _mx over the kept top-k rows) ride the
        # SAME window partition key as the ranking, so the round needs
        # exactly ONE shuffle: no stats groupBy and no state-x-stats
        # join. ring/res_eff travel with the candidate rows, so the
        # completion proof evaluates in-plan, per row. Built as SQL
        # text (r7): the Column form of this chain cost ~250 py4j
        # round-trips per round of pure driver latency; the strings
        # produce the SAME expression trees (pinned by the oracle tests
        # and test_knn_sql_parity).
        kept = (
            matched.selectExpr("*", f"{_HAVERSINE_SQL} AS dist_m")
            .selectExpr(
                "*",
                "ROW_NUMBER() OVER (PARTITION BY query_id"
                " ORDER BY dist_m, image_id) AS rank",
            )
            .where(f"rank <= {int(k)}")
        )
        topk = (
            kept.selectExpr(
                "query_id", "image_id", "dist_m", "rank", "ring",
                "res_eff",
                "COUNT(*) OVER (PARTITION BY query_id) AS _n",
                "MAX(dist_m) OVER (PARTITION BY query_id) AS _mx",
            )
            .selectExpr(
                "query_id", "image_id", "dist_m", "rank",
                f"(((_n >= {int(k)}) AND (_mx <= {_safe_radius_sql()}))"
                f" OR {exhausted}) AS _done",
            )
            .persist()
        )
        to_unpersist.append(topk)
        round_res = topk.where(F.col("_done")).select(
            "query_id", "image_id", "dist_m", "rank"
        )
        results = (
            round_res if results is None else results.unionByName(round_res)
        )
        # queries finish only via their topk rows' _done flag; queries
        # with NO matched rows this round are absent from topk and stay
        # in flight via the anti-join
        done_q = F.broadcast(
            topk.where(F.col("_done")).select("query_id").distinct()
        )
        state = state.join(done_q, "query_id", "left_anti")
        # a query that matched ZERO rows at an exhausted ring has no
        # topk row to carry _done — retire it here (nothing to emit)
        # instead of looping forever on an empty region
        state = state.where(f"NOT ({exhausted})")
        # the remaining-query count materializes the round's
        # probe+window into the persisted topk, so the escalation below
        # (skipped entirely on the final round) re-evaluates only the
        # cheap anti-join over the cached topk
        if state.count() == 0:
            break
        # lazy checkpoint (r7): the levels distinct-collect right after
        # it folds the checkpoint materialization into its own action.
        # Lineage still truncates at materialization, which is what
        # keeps the unrolled CASE-WHEN plan from growing across rounds.
        state = _escalate_state(
            state.select(
                "query_id",
                "lat",
                "lng",
                "res_eff",
                (F.col("ring") * 4).cast("long").alias("ring"),
            ),
            res,
        ).localCheckpoint(eager=False)
        levels = [
            int(r[0]) for r in state.select("res_eff").distinct().collect()
        ]
    # materialize the final relation so the per-round topk caches can
    # drop without forcing a recompute at consumption time
    results = results.persist()
    results.count()
    for df in to_unpersist:
        df.unpersist()
    return results


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


def _seed_plans(spark, images, q_pdf, k, res, cell_col):
    """Per-query starting (res_eff, ring), in q_pdf's row order, from a
    two-scale density estimate.

    Pre-cells are the k=1 disks of each query at res-4 and res-8 (numpy,
    on the driver); one broadcast-join count job tallies the fact rows
    under each. A query whose fine disk holds >= k rows plans from the
    fine density; the rest (sparse/ocean) use the coarse count, so they
    start at the level that actually holds their neighbors instead of
    cascading through expand-escalate rounds — each avoided round is a
    full fact-relation probe pass. The implied base-res ring folds to a
    bounded pair through _fold_seed."""
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
    keyed = images.withColumn(
        "_pre",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(si).alias("stage"),
                        (
                            images[cell_col]
                            if rp == res
                            else h3_to_parent_col(images[cell_col], rp)
                        ).alias("key"),
                    )
                    for si, rp in enumerate(stages)
                ]
            )
        ),
    )
    cnt = (
        keyed.join(
            pre,
            (keyed["_pre.stage"] == pre["stage"])
            & (keyed["_pre.key"] == pre["pre_cell"]),
        )
        .groupBy("query_id", pre["stage"])
        .agg(F.count("*").alias("n"))
        .toPandas()
        .set_index(["query_id", "stage"])["n"]
    )

    plans = []
    for qid in q_pdf["query_id"]:
        rp, n = stages[0], float(cnt.get((qid, 0), 0))
        if n < k and len(stages) > 1:
            # fewer than k rows in the whole fine disk: the answer
            # extends beyond it, so the coarse-disk density is the
            # better estimator (n==0 is the ocean case)
            rp, n = stages[1], float(cnt.get((qid, 1), 0))
        # disk of 7 pre-cells covers ~7^(res-rp+1) base-res cells
        cover = 7.0 ** (res - rp + 1)
        density = n / cover  # fact rows per base-res cell
        if density > 0:
            # ring holding ~3k expected rows (cells(r) ~= 3r^2)
            r = int(np.ceil(1.3 * np.sqrt(k / density))) + 1
        else:
            # nothing even in the coarsest disk: start there
            r = _COARSEN_AT * 7 ** ((res - rp) // 2)
        plans.append(_fold_seed(res, max(r, _INITIAL_RING)))
    return plans


def _fold_seed(res: int, ring: int) -> tuple[int, int]:
    """Fold a base-res ring to a bounded (res_eff, ring) pair: the
    Python twin of _escalate_state for one seed (pinned equal by
    tests/test_operators.py::TestKnnSeedFold)."""
    res_eff = res
    while ring > _COARSEN_AT and res_eff > 0:
        res_eff = max(0, res_eff - 2)
        ring = max(1, ring // 7)
    if res_eff < res:
        ring = min(ring + 2, _COARSEN_AT)
    return res_eff, ring


def _escalate_state(df: DataFrame, res: int) -> DataFrame:
    """Statically-unrolled per-query resolution escalation: res_eff
    drops by 2 per firing step and stops at 0, and every state starts
    at res_eff <= res, so (res + 1) // 2 steps always reach the fixed
    point (extra steps would be no-ops).

    Inside the round loop this MUST be followed by a localCheckpoint:
    the unrolled CASE-WHEN rewrites res_eff/ring through nested
    expressions each round, so the logical plan grows exponentially
    otherwise; localCheckpoint keeps the state distributed while
    resetting the plan to a leaf. Catalyst's projection collapse nests
    each step's CASE-WHEN inside the next TWICE, so analysis cost grows
    ~2^steps — the reason the depth follows `res` instead of a fixed 8.

    Each step is ONE selectExpr with SQL text (r7): the Column-object
    form cost ~0.28 s of pure py4j expression-building per call."""
    others = [c for c in df.columns if c not in ("res_eff", "ring")]
    df = df.selectExpr(*df.columns, "res_eff AS _res0")
    m = f"(ring > {_COARSEN_AT} AND res_eff > 0)"
    step = [*others, "_res0",
            f"CASE WHEN {m} THEN greatest(res_eff - 2, 0) "
            "ELSE res_eff END AS res_eff",
            f"CAST(CASE WHEN {m} THEN greatest(floor(ring / 7), 1) "
            "ELSE ring END AS BIGINT) AS ring"]
    for _ in range((int(res) + 1) // 2):
        df = df.selectExpr(*step)
    # coarse escalations lose margin to the integer //7 steps; +2
    # rings at a coarse res is cheap (cells ~ 3r^2 of FEW coarse
    # cells) and usually saves a whole extra probe round
    return df.selectExpr(
        *others, "res_eff",
        "CAST(CASE WHEN res_eff < _res0 THEN least(ring + 2, "
        f"{_COARSEN_AT}) ELSE ring END AS BIGINT) AS ring",
    )


def _edge_len_col(res_col):
    """EDGE_LENGTH_M[res] as a codegen'd array lookup (res 0..15)."""
    return F.element_at(
        F.array(*[F.lit(float(e)) for e in EDGE_LENGTH_M]), res_col + 1
    )


def _guaranteed_radius_col(ring_col, res_col):
    """Every point within this geo distance of a query point is inside
    some cell at grid distance <= ring (planar hex lattice bound with a
    distortion safety factor). Column reference form of
    _safe_radius_sql."""
    s = F.lit(_MIN_SPACING_FACTOR) * _edge_len_col(res_col)
    return F.greatest(
        F.lit(0.0), ((ring_col + 1) * F.lit(0.866) - F.lit(1.16)) * s
    )


# SQL-text twins for the round-loop hot path (r7 driver-latency work):
# operation-for-operation mirrors of haversine_m_col(q_lat, q_lng, lat,
# lng) and _guaranteed_radius_col(ring, res_eff), so the expression
# trees — and therefore every double — are identical to the Column
# forms (repr() round-trips literals; the D suffix keeps them DOUBLE,
# not DECIMAL). Pinned by tests/test_operators.py::test_knn_sql_parity.
_HAVERSINE_SQL = (
    f"({2.0 * EARTH_RADIUS_M!r}D * ASIN(SQRT("
    "POWER(SIN(RADIANS(lat - q_lat) / 2), 2)"
    " + COS(RADIANS(q_lat)) * COS(RADIANS(lat))"
    " * POWER(SIN(RADIANS(lng - q_lng) / 2), 2))))"
)

_EDGE_ARR_SQL = "ARRAY(" + ", ".join(
    f"{float(e)!r}D" for e in EDGE_LENGTH_M
) + ")"


def _safe_radius_sql() -> str:
    return (
        "GREATEST(0.0D, (((ring + 1) * 0.866D) - 1.16D)"
        f" * ({_MIN_SPACING_FACTOR!r}D"
        f" * ELEMENT_AT({_EDGE_ARR_SQL}, res_eff + 1)))"
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
