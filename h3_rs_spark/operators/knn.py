"""kNN join: expanding k_ring candidate generation + haversine re-rank.

Plan shape (SURVEY.md §7.3): queries are a small dimension; images the
10^12-row fact. Per round, candidate cells = k_ring_distances(query cell,
ring) exploded to (query_id, cell) and *broadcast*; the probe side is a
single BroadcastHashJoin on the cell column (no shuffle of the fact
table). The haversine re-rank is pure JVM trig; top-k is a window over
the (small) matched candidate set. Queries finish when they hold k
candidates whose k-th distance is provably inside the ring's guaranteed
coverage radius; unsatisfied queries (sparse regions) expand the ring and
re-join — each round touches only the remaining queries' cells.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..functions.native import EARTH_RADIUS_M, h3_to_parent_col

from ..h3core.constants import EDGE_LENGTH_M

# conservative minimum center-to-center spacing between adjacent cells,
# accounting for icosahedron distortion (avg spacing ~= 1.73 * edge; the
# worst-case shrink factor is ~0.75)
_MIN_SPACING_FACTOR = 1.2


def _guaranteed_radius_m(ring: int, res: int) -> float:
    """Every point within this geo distance of a query point is inside
    some cell at grid distance <= ring (planar hex lattice bound with a
    distortion safety factor; validated against the exact oracle in
    tests/test_operators.py)."""
    s = _MIN_SPACING_FACTOR * EDGE_LENGTH_M[res]
    return max(0.0, ((ring + 1) * 0.866 - 1.16) * s)


_COARSEN_AT = 16  # ring size beyond which we escalate to a coarser res

# last routing decision of knn_join ("driver_seeded" | "distributed"),
# observable by tests asserting the oversized-batch guard
_LAST_ROUTE = [None]


def knn_join(
    spark: SparkSession,
    images: DataFrame,
    queries: DataFrame,
    k: int,
    res: int,
    cell_col: str = "cell",
    initial_ring: int = 2,
    max_ring: int = 1 << 20,
    density_precheck: bool | None = None,
    max_driver_queries: int = 100_000,
) -> DataFrame:
    """Exact k nearest images per query point.

    images: fact table with `cell_col` (res `res`), lat, lng, image_id.
    queries: query_id, lat, lng (k is the parameter, uniform per call).
    Returns (query_id, image_id, dist_m, rank), ties broken by image_id —
    matching the single-process oracle row-for-row.

    Thin front-end over knn_join_distributed — ONE algorithm body for
    both the dimension-sized and the 10^7-query shape (an earlier
    ~180-line duplicated pandas round loop was retired into it). This wrapper
    runs the density seeding DRIVER-side (numpy pre-cells, one
    broadcast-join count job, local seeded relation — measured ~1s
    cheaper per call than the distributed seeder for dimension-sized
    batches, which is this wrapper's whole domain); huge query sets
    go straight to knn_join_distributed(density_precheck=True), whose
    all-Spark seed_state never collects. The two seeders evaluate the
    SAME plan formula in different dialects and are pinned equal by
    tests/test_operators.py::TestSeedingParity. density_precheck=None
    (auto) seeds unless the batch is near-singleton (the seeding job
    doesn't amortize for 1-3 queries, ADVICE r2).

    The contract is self-enforcing: ONE bounded action
    — limit(N+1).toPandas(), never an unbounded scan — both probes the
    size and materializes the batch, so driver memory is capped at N+1
    narrow rows (~a few MB at the default N). On the small-batch
    routes the materialized rows ARE the inputs (the queries plan
    never re-executes); the oversized route discards the probe and the
    distributed path re-reads the plan once — one bounded transfer
    buys skipping a second full execution everywhere it matters.
    Batches above `max_driver_queries` route straight to the all-Spark
    distributed path — a caller piping 10^7 queries through the
    convenience wrapper gets the right plan, not an OOM. _LAST_ROUTE
    records the decision for tests/telemetry.
    """
    q_pdf = (
        queries.select("query_id", "lat", "lng")
        .limit(max_driver_queries + 1)
        .toPandas()
    )
    if len(q_pdf) > max_driver_queries:
        _LAST_ROUTE[0] = "distributed"
        return knn_join_distributed(
            spark,
            images,
            queries.select("query_id", "lat", "lng"),
            k,
            res,
            cell_col=cell_col,
            initial_ring=initial_ring,
            max_ring=max_ring,
            density_precheck=True,
        )
    _LAST_ROUTE[0] = "driver_seeded"
    # rebuild the materialized rows with the CALLER'S dtypes, not pandas
    # inference: an int32 query_id (or a null-bearing lat that pandas
    # widened to float64 object) must round-trip to the exact input
    # schema so output column types match the plan-reuse behavior
    # (ADVICE r5)
    q_schema = queries.select("query_id", "lat", "lng").schema
    if density_precheck is None:
        density_precheck = len(q_pdf) >= _PRECHECK_MIN_QUERIES
    if density_precheck and len(q_pdf):
        plans = _initial_plans_driver(
            spark, images, q_pdf, k, res, cell_col, initial_ring
        )
        seeded = q_pdf.copy()
        seeded["res_eff"] = [plans[q][0] for q in seeded["query_id"]]
        seeded["ring"] = [plans[q][1] for q in seeded["query_id"]]
        seeded_schema = StructType(
            list(q_schema.fields)
            + [
                StructField("res_eff", IntegerType()),
                StructField("ring", IntegerType()),
            ]
        )
        return knn_join_distributed(
            spark,
            images,
            spark.createDataFrame(seeded, schema=seeded_schema),
            k,
            res,
            cell_col=cell_col,
            initial_ring=initial_ring,
            max_ring=max_ring,
            seed_prepared=True,
            initial_levels=sorted({p[0] for p in plans.values()}),
        )
    # no-precheck small batch: reuse the already-materialized rows
    # instead of re-executing the caller's queries plan (r5 review),
    # under the caller's exact schema (no pandas inference)
    return knn_join_distributed(
        spark,
        images,
        spark.createDataFrame(q_pdf, schema=q_schema),
        k,
        res,
        cell_col=cell_col,
        initial_ring=initial_ring,
        max_ring=max_ring,
    )


# measured at sf0.1: 6 mixed metro/world queries run ~0.8 s faster WITH
# the precheck (sparse queries skip blind expand rounds), so only a
# near-single-query batch skips it
_PRECHECK_MIN_QUERIES = 4


def seed_state(
    images: DataFrame,
    queries: DataFrame,
    k: int,
    res: int,
    cell_col: str = "cell",
    initial_ring: int = 2,
    prefilter_broadcast: bool = False,
) -> DataFrame:
    """Per-query starting ring from a fully DISTRIBUTED two-scale
    density estimate — no driver collect, so it works unchanged for a
    10^7-row query relation.

    Shape: the fact side aggregates FIRST (one scan, stage-tagged
    parent keys, partial-agg groupBy to per-coarse-cell counts — the
    shuffle is bounded by distinct coarse cells, never raw fact rows),
    then joins the tiny per-cell counts to each query's k=1 disk at
    res-4 and res-8 and sums per query. Queries whose fine disk holds
    >= k rows plan from the fine density; the rest (sparse/ocean) use
    the coarse count, so they start at the level that actually holds
    their neighbors instead of cascading through expand-escalate
    rounds — each avoided round is a full fact-relation probe pass.

    Returns (query_id, lat, lng, res_eff=res, ring) with the ring at
    BASE res (possibly huge); knn_join_distributed's entry escalation
    folds it to a bounded (res_eff, ring) pair."""
    from ..functions.native import h3_to_parent_sql
    from ..functions.udfs import geo_disk_dyn_udf

    stages = [max(0, res - 4)]
    if stages[0] > 0:
        stages.append(max(0, stages[0] - 4))

    # SQL-text construction (r7): the Column form of this explode (two
    # structs x parent bit math) plus the count/ring arithmetic below
    # cost ~0.3 s of pure py4j round-trips per call; the strings parse
    # JVM-side in one call each and yield identical plans (pinned by
    # TestSeedingParity and test_knn_sql_parity).
    cq = f"`{cell_col}`"
    pre_items = ", ".join(
        "named_struct('stage', {si}, 'pre_cell', {p})".format(
            si=si, p=(cq if rp == res else h3_to_parent_sql(cq, rp))
        )
        for si, rp in enumerate(stages)
    )
    keyed = images.selectExpr(
        f"explode(array({pre_items})) AS _pre"
    ).selectExpr("_pre.stage AS stage", "_pre.pre_cell AS pre_cell")
    pre_parts = [
        queries.select(
            "query_id",
            F.lit(si).alias("stage"),
            F.explode(
                geo_disk_dyn_udf()("lat", "lng", F.lit(rp), F.lit(1))
            ).alias("pre_cell"),
        )
        for si, rp in enumerate(stages)
    ]
    pre = pre_parts[0]
    for p in pre_parts[1:]:
        pre = pre.unionByName(p)

    if prefilter_broadcast:
        # dimension-sized query sets: semi-join the fact side down to
        # the queried coarse cells BEFORE aggregating, so the groupBy
        # touches only matching rows instead of every coarse cell on
        # the planet. Off for huge query relations (pre ~ |queries|
        # rows must not broadcast).
        keyed = keyed.join(
            F.broadcast(pre.select("stage", "pre_cell").distinct()),
            ["stage", "pre_cell"],
            "left_semi",
        )
    cell_counts = keyed.groupBy("stage", "pre_cell").agg(
        F.count("*").alias("nc")
    )

    counts = (
        pre.join(cell_counts, ["stage", "pre_cell"], "left")
        .groupBy("query_id")
        .agg(
            F.expr(
                "sum(CASE WHEN stage = 0 THEN coalesce(nc, 0) END)"
                " AS n0"
            ),
            F.expr(
                "sum(CASE WHEN stage = 1 THEN coalesce(nc, 0) END)"
                " AS n1"
            ),
        )
    )
    q2 = queries.join(counts, "query_id", "left")

    # fewer than k rows in the whole fine disk: the answer provably
    # extends beyond it, so the coarse-disk density is the better
    # estimator (n0 == 0 is the ocean case). One selectExpr SQL string
    # (r7) — same plan formula as the former Column chain.
    two = "true" if len(stages) > 1 else "false"
    use_coarse = f"(coalesce(n0, 0) < {int(k)} AND {two})"
    rp = (
        f"(CASE WHEN {use_coarse} THEN {stages[-1]}"
        f" ELSE {stages[0]} END)"
    )
    n = (
        f"CAST(coalesce(CASE WHEN {use_coarse} THEN n1 ELSE n0 END, 0)"
        " AS DOUBLE)"
    )
    # disk of 7 pre-cells covers ~7^(res-rp+1) base-res cells;
    # density = n / cover = fact rows per base-res cell; the fine ring
    # holds ~3k expected rows (cells(r) ~= 3r^2)
    cover = f"pow(7.0D, {int(res)} - {rp} + 1)"
    ring = (
        f"(CASE WHEN {n} > 0 THEN"
        f" ceil(1.3D * sqrt(CAST({int(k)} AS DOUBLE)"
        f" / ({n} / {cover}))) + 1"
        # nothing even in the coarsest disk: start there
        f" ELSE {_COARSEN_AT} * CAST(pow(7.0D,"
        f" floor(({int(res)} - {rp}) / 2)) AS BIGINT) END)"
    )
    return q2.selectExpr(
        "query_id",
        "lat",
        "lng",
        f"CAST({int(res)} AS INT) AS res_eff",
        f"greatest(CAST({ring} AS BIGINT),"
        f" CAST({int(initial_ring)} AS BIGINT)) AS ring",
    )


def _initial_plans_driver(spark, images, q_pdf, k, res, cell_col,
                          initial_ring):
    """Driver-dialect twin of seed_state: the SAME two-scale density
    formula (identical constants and branch structure, pinned equal by
    TestSeedingParity) evaluated with numpy pre-cells and a
    broadcast-join count, returning pre-escalated (res_eff, ring)
    plans as a dict. Exists because for dimension-sized query sets a
    local seeded relation skips the entry checkpoint and distinct-
    collect jobs the lazy distributed seeder needs — worth ~1s/call at
    bench scale."""
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

    plans = {}
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
        r = max(r, initial_ring)
        res_eff = res
        while r > _COARSEN_AT and res_eff > 0:
            res_eff = max(0, res_eff - 2)
            r = max(1, r // 7)
        if res_eff < res:
            # coarse starts lost margin to the integer //7 escalation
            # (mirrors _escalate's post-loop margin)
            r = min(r + 2, _COARSEN_AT)
        plans[qid] = (res_eff, r)
    return plans


def _escalate_state(df: DataFrame, steps: int = 8) -> DataFrame:
    """Statically-unrolled per-query resolution escalation (res drops
    by 2 per step, so 8 steps cover res 15 -> 0). Inside the round
    loop this MUST be followed by a localCheckpoint: the unrolled
    CASE-WHEN rewrites res_eff/ring through nested expressions each
    round, so the logical plan grows exponentially otherwise (plan
    materialization OOMs by round ~3); localCheckpoint keeps the state
    distributed (executor blocks) while resetting the plan to a leaf.

    Each step is ONE selectExpr with SQL text (r7): the Column-object
    form cost ~0.28 s of pure py4j expression-building per call — a
    per-round driver tax in the kNN loop; the SQL strings build in
    Python and parse JVM-side in one call per step, producing the
    identical nested-projection plan.

    steps: unroll depth. Catalyst's projection collapse nests each
    step's CASE-WHEN inside the next TWICE (both branches reference
    the previous res_eff), so analysis+optimization cost grows
    ~2^steps — measured 0.97 s of pure driver time at 8 steps vs
    0.12 s at 4, identical results. Callers whose state provably has
    res_eff <= R pass ceil(R/2): escalation drops res_eff by 2 per
    firing step and stops at 0, so ceil(R/2) steps always reach the
    fixed point; extra steps are no-ops (ring > COARSEN_AT requires
    res_eff > 0 to fire)."""
    steps = max(1, min(int(steps), 8))
    others = [c for c in df.columns if c not in ("res_eff", "ring")]
    df = df.selectExpr(*df.columns, "res_eff AS _res0")
    m = f"(ring > {_COARSEN_AT} AND res_eff > 0)"
    step = [*others, "_res0",
            f"CASE WHEN {m} THEN greatest(res_eff - 2, 0) "
            "ELSE res_eff END AS res_eff",
            f"CAST(CASE WHEN {m} THEN greatest(floor(ring / 7), 1) "
            "ELSE ring END AS BIGINT) AS ring"]
    for _ in range(steps):
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
    """Column form of _guaranteed_radius_m (same constants)."""
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


def knn_join_distributed(
    spark: SparkSession,
    images: DataFrame,
    queries: DataFrame,
    k: int,
    res: int,
    cell_col: str = "cell",
    initial_ring: int = 2,
    max_ring: int = 1 << 20,
    broadcast_candidates: bool = True,
    density_precheck: bool = False,
    seed_prepared: bool = False,
    initial_levels=None,
) -> DataFrame:
    """Exact kNN with the QUERY SET kept distributed end-to-end.

    Same algorithm and (exact) output as knn_join — per-query expanding
    k_ring candidates, haversine re-rank, guaranteed-radius completion
    proof — but shaped for 10^7-query batches: top-k
    rows NEVER visit the driver (they accumulate as a persisted
    distributed relation), candidate disks explode executor-side via
    k_ring_dyn_udf, and the only per-round driver traffic is the <= 8
    distinct effective resolutions plus one scalar count of unfinished
    queries. Ring-size state lives in a column; the coarsen loop is a
    statically-unrolled conditional rewrite.

    broadcast_candidates=True fits dimension-to-moderate query sets
    (candidate rows ~ queries * ring^2). For genuinely huge query sets
    pass False: the probe becomes a shuffle join, which at 10^12 fact
    rows wants the fact table pre-bucketed on cell_col
    (sources/bucketing.py) so only the candidate side moves.

    density_precheck=True runs seed_state first (fully distributed —
    one fact scan, partial-agg shuffle, no driver collect), so every
    query starts at the (res_eff, ring) its local density implies. If
    `queries` already carries res_eff/ring columns they seed the state
    directly; otherwise every query starts at (res, initial_ring).
    """
    from ..functions.udfs import geo_disk_dyn_udf

    # res_eff bound for the escalate unroll depth: every state built
    # here (lit(res)), by seed_state (res_eff = res), or by knn_join's
    # driver seeder (seed_prepared, res_eff <= res) starts at or below
    # `res`, and escalation only ever lowers it — so ceil(res/2) steps
    # reach the fixed point in every round. Only a caller shipping its
    # own res_eff/ring columns is unbounded (-> 15).
    caller_seeded = {"res_eff", "ring"} <= set(queries.columns)
    res_bound = 15 if (caller_seeded and not seed_prepared) else int(res)
    esc_steps = (res_bound + 1) // 2

    def _escalate(df):
        # lazy checkpoint (r7): every _escalate call is followed
        # immediately by an action over the state (the levels
        # distinct-collect at the top of the round), so eager=False
        # folds the checkpoint materialization into that action — one
        # driver round-trip per escalate instead of two. Lineage still
        # truncates at materialization, which is what keeps the
        # unrolled CASE-WHEN plan from growing across rounds (same
        # pattern as compact_cells_df's lazy checkpoint).
        return _escalate_state(df, steps=esc_steps).localCheckpoint(
            eager=False
        )

    if density_precheck and not caller_seeded:
        queries = seed_state(
            images, queries, k, res, cell_col, initial_ring,
            prefilter_broadcast=broadcast_candidates,
        )
        # the seeded state starts at res_eff == res exactly
        res_bound = int(res)
        esc_steps = (res_bound + 1) // 2
    if {"res_eff", "ring"} <= set(queries.columns):
        state = queries.select(
            "query_id",
            "lat",
            "lng",
            F.col("res_eff").cast("int").alias("res_eff"),
            F.col("ring").cast("long").alias("ring"),
        )
    else:
        state = queries.select(
            "query_id",
            "lat",
            "lng",
            F.lit(int(res)).alias("res_eff"),
            F.lit(int(initial_ring)).cast("long").alias("ring"),
        )
    if seed_prepared:
        # the caller's seed columns are already escalated and bounded
        # (knn_join's driver seeder) and the state is a LOCAL relation:
        # skip the entry folding and its checkpoint job, and take the
        # round-1 levels from the caller instead of a distinct-collect
        levels = (
            sorted(set(int(r) for r in initial_levels))
            if initial_levels
            else None
        )
    else:
        # entry escalation folds any seed ring (possibly huge for
        # ocean queries) to a bounded (res_eff, ring) pair; its
        # checkpoint also materializes the lazy seeding job exactly
        # once, so rounds don't re-evaluate it
        state = _escalate(state)
        levels = None
    results = None
    to_unpersist = []
    while True:
        if levels is None:
            levels = [
                int(r[0])
                for r in state.select("res_eff").distinct().collect()
            ]
        if not levels:
            break
        # ONE candidate relation for all levels: the fused dynamic-res
        # disk UDF builds every query's candidates in a single Arrow
        # stage and a single broadcast (the per-level loop paid one
        # python stage + one broadcast-build job per distinct res —
        # measured as the dominant per-round cost for mixed-level
        # batches). The probe side derives one parent key per distinct
        # level, the same multi-res probe design as pip_join; keys at
        # different res are distinct int64s, so no cross-level
        # collisions, and the single-level case keeps the direct key.
        cand = state.select(
            "query_id",
            F.col("lat").alias("q_lat"),
            F.col("lng").alias("q_lng"),
            "ring",
            "res_eff",
            F.explode(
                geo_disk_dyn_udf()("lat", "lng", "res_eff", "ring")
            ).alias("cand_cell"),
        )
        if broadcast_candidates:
            cand = F.broadcast(cand)

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
        # join (both were full-query-set shuffles at the 10^7 shape).
        # ring/res_eff travel with the candidate rows, so the
        # completion proof evaluates in-plan, per row.
        # Built as SQL text (r7): the Column form of this chain
        # (haversine + two window scopes + the completion predicate)
        # cost ~250 py4j round-trips per round of pure driver latency;
        # the strings parse JVM-side in four calls and produce the
        # SAME expression trees operation-for-operation (doubles stay
        # bit-identical — pinned by the kNN oracle tests).
        eq_sql = (
            f"(ring * CAST(POW(7.0D, FLOOR(({int(res)} - res_eff) / 2))"
            " AS BIGINT))"
        )
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
                f" OR ({eq_sql} >= {int(max_ring)})"
                " OR ((res_eff = 0) AND (ring >= 32))) AS _done",
            )
            .persist()
        )
        eq_base_ring = F.col("ring") * F.pow(
            F.lit(7.0), F.floor((F.lit(res) - F.col("res_eff")) / 2)
        ).cast("long")
        to_unpersist.append(topk)
        round_res = topk.where(F.col("_done")).select(
            "query_id", "image_id", "dist_m", "rank"
        )
        results = (
            round_res if results is None else results.unionByName(round_res)
        )
        # queries finish only via their topk rows' _done flag; queries
        # with NO matched rows this round are absent from topk and stay
        # in flight via the anti-join. done_q ~ |queries|, so it only
        # broadcasts when the caller said the query set is small.
        done_q = topk.where(F.col("_done")).select("query_id").distinct()
        if broadcast_candidates:
            done_q = F.broadcast(done_q)
        state = state.join(done_q, "query_id", "left_anti")
        # a query that matched ZERO rows at an exhausted ring has no
        # topk row to carry _done — retire it here (nothing to emit)
        # instead of looping forever on an empty region
        state = state.where(
            ~(
                (eq_base_ring >= F.lit(max_ring))
                | ((F.col("res_eff") == 0) & (F.col("ring") >= 32))
            )
        )
        # the ONLY per-round collected value: remaining-query count.
        # This action is what materializes the round's probe+window
        # into the persisted topk, so the escalate/checkpoint below
        # (skipped entirely on the final round) re-evaluates only the
        # cheap anti-join over the cached topk.
        n_remaining = state.count()
        if n_remaining == 0:
            break
        state = _escalate(
            state.select(
                "query_id",
                "lat",
                "lng",
                "res_eff",
                (F.col("ring") * 4).cast("long").alias("ring"),
            )
        )
        levels = None
    if results is None:
        from pyspark.sql.types import (
            DoubleType, IntegerType, StructField, StructType,
        )

        schema = StructType(
            [
                queries.schema["query_id"],
                images.schema["image_id"],
                StructField("dist_m", DoubleType()),
                StructField("rank", IntegerType()),
            ]
        )
        return spark.createDataFrame([], schema)
    # materialize the final relation so the per-round state/topk caches
    # can drop without forcing a recompute at consumption time
    results = results.persist()
    results.count()
    for df in to_unpersist:
        df.unpersist()
    return results


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
