"""Distributed hierarchy operators for huge cell relations.

compact_cells_df implements H3 compact as pure relational algebra
(SURVEY.md §2.5 "relational algorithm"): iterate res from finest to
coarsest; groupBy(parent) counts promote complete families (7 children,
6 for pentagons) to their parent. Each round is one hash aggregation +
one join — partial aggregation makes the shuffle proportional to the
number of *parents*, so a 10^12-cell relation compacts in <= 15 rounds
of shrinking shuffles. The in-memory kernel variant (h3core.hierarchy)
is the per-polygon fast path; this is the table-scale path.

uncompact_cells_df is the inverse: a JVM children explode to uniform res.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.native import h3_resolution, h3_to_parent_col
from ..h3core.constants import PENTAGON_BASE_CELLS

_PENT_IN_SQL = ", ".join(str(int(b)) for b in PENTAGON_BASE_CELLS)


def _is_pentagon_sql(x: str) -> str:
    """Pentagon test as one SQL expression: a pentagon base cell and all
    digits 0 (each 3-bit digit up to the cell res equals 0; digits
    beyond res are 7), i.e. the cell equals its own base cell's
    'center child' pattern at its res (2^k is exact in doubles for
    k <= 45, so pow-cast is lossless). x is a plain column name."""
    res = f"(shiftright({x}, 52) & 15)"
    fill = (
        f"(CAST(pow(2.0D, CAST((15 - {res}) * 3 AS DOUBLE)) AS BIGINT)"
        " - 1)"
    )
    center = (
        f"(576460752303423488 | (CAST({res} AS BIGINT) *"
        f" 4503599627370496) | (CAST((shiftright({x}, 45) & 127) AS"
        f" BIGINT) * 35184372088832) | {fill})"
    )
    return (
        f"((shiftright({x}, 45) & 127) IN ({_PENT_IN_SQL})"
        f" AND {x} = {center})"
    )


# descendants of one cell, `d` levels down: hexagons fan out 7^d; a
# pentagon has 6 children (1 pentagon + 5 hexagons), so
# N_pent(d) = N_pent(d-1) + 5 * 7^(d-1)
_HEX_DESC = [7 ** d for d in range(16)]
_PENT_DESC = [1]
for _d in range(1, 16):
    _PENT_DESC.append(_PENT_DESC[-1] + 5 * 7 ** (_d - 1))


def compact_cells_df(cells: DataFrame) -> DataFrame:
    """Minimal multi-res covering set of a uniform-res cell relation.

    Returns a DataFrame with one `cell` column holding the compacted
    (mixed-res) set. Input cells must all have one resolution.

    Single-pass form (r7, guide §2.4 — replaces the r6 finest-to-
    coarsest round loop, which ran 2 sequential jobs per resolution
    level): because the input is uniform-res, an ancestor A at res p
    is in the transitive-promotion closure iff ALL of its res-r leaf
    descendants are present, i.e. iff count(leaves under A) equals A's
    full descendant count (pentagon-aware _PENT_DESC/_HEX_DESC).
    Completeness is monotone down the tree (a complete ancestor's
    sub-ancestors are complete), so the compact output is exactly:
      - complete ancestors whose own parent is not complete, plus
      - leaves whose res-(r-1) parent is not complete.
    One ancestors-explode + partial-agg'd groupBy (shuffle bounded by
    DISTINCT ancestors — map-side combine collapses the r-way explode
    of spatially clustered cells to ~n/6 rows), one checkpoint of the
    complete set (<= n/6 rows), two anti-joins. A constant number of
    shuffles instead of O(res) sequential rounds; output pinned by the
    reference's own 1253 -> 209 golden
    (tests/test_h3_surface.py::test_compact_distributed_sf_golden) and
    tests/test_operators.py round-trip/idempotence tests. One job
    derives the resolution; duplicate rows are removed first, since
    they would inflate the ancestor counts."""
    res = cells.select(F.max(h3_resolution("cell"))).first()[0]
    if res is None:
        return cells.select("cell")
    res = int(res)
    distinct = cells.select("cell").distinct()
    if res == 0:
        return distinct
    anc = distinct.select(F.explode(ancestors_col()).alias("_anc"))
    counts = anc.groupBy("_anc").agg(F.count("*").alias("_n"))
    depth = (F.lit(res) - h3_resolution(F.col("_anc")) + F.lit(1)).cast("int")
    expected = F.when(
        F.expr(_is_pentagon_sql("_anc")),
        F.element_at(F.array(*[F.lit(v) for v in _PENT_DESC]), depth),
    ).otherwise(F.element_at(F.array(*[F.lit(v) for v in _HEX_DESC]), depth))
    # lazy checkpoint: `complete` feeds two anti-joins below; the
    # checkpoint guarantees the explode+groupBy runs once per
    # materialization instead of once per join branch, and eager=False
    # folds that materialization into the caller's first action (one
    # fewer driver round-trip; a concurrent-AQE-stage race could at
    # worst compute it twice, which is waste, not wrongness)
    complete = (
        counts.where(F.col("_n") == expected)
        .select(F.col("_anc").alias("cell"))
        .localCheckpoint(eager=False)
    )
    # a complete ancestor survives iff its own parent is not complete
    # (res-0 ancestors have no parent -> null key never anti-matches)
    anc_res = h3_resolution("cell")
    anc_parent = F.when(
        anc_res > 0,
        F.element_at(ancestors_col(), anc_res.cast("int")),
    )
    complete_keys = complete.select(F.col("cell").alias("_pk"))
    kept_anc = (
        complete.withColumn("_pk", anc_parent)
        .join(complete_keys, "_pk", "left_anti")
        .select("cell")
    )
    # a leaf survives iff its immediate parent is not complete (monotone
    # completeness: no coarser ancestor can be complete either)
    kept_leaves = (
        distinct.withColumn("_pk", h3_to_parent_col("cell", res - 1))
        .join(complete_keys, "_pk", "left_anti")
        .select("cell")
    )
    return kept_leaves.unionByName(kept_anc)


def ancestors_col():
    """array<long> of ALL coarser ancestors (res 0 .. res-1) of the
    `cell` column, as one codegen'd expression — the dynamic-res
    generalization of h3_to_parent_col (2^k via pow-cast is exact for
    k <= 45, the largest digit-fill shift)."""
    c = F.col("cell")
    res = h3_resolution("cell")

    def parent_at(r):
        fill = F.pow(
            F.lit(2.0), ((F.lit(15) - r) * 3).cast("double")
        ).cast("long") - 1
        return (
            c.bitwiseAND(F.lit(~(0xF << 52)))
            .bitwiseOR(r.cast("long") * F.lit(1 << 52))
            .bitwiseOR(fill)
        )

    return F.when(
        res > 0, F.transform(F.sequence(F.lit(0), res - 1), parent_at)
    ).otherwise(F.array().cast("array<bigint>"))


def antichain_violations(cells: DataFrame) -> DataFrame:
    """Rows of `cells` that have an ancestor ALSO in `cells` (empty ==
    the relation is an antichain, e.g. a valid compact output). Fully
    distributed: explode <= 15 ancestors per cell, one semi-join back —
    no driver collect, shuffle proportional to |cells| * avg_res."""
    anc = cells.select(
        F.col("cell").alias("_child"),
        F.explode(ancestors_col()).alias("cell"),
    )
    return anc.join(
        cells.select("cell"), "cell", "left_semi"
    ).select(F.col("_child").alias("cell"), F.col("cell").alias("ancestor"))


_MAX_EXPLODE_LEVELS = 4  # resolution levels between redistributions


def children_one_level_sql(x: str) -> str:
    """array<long> of a cell's DIRECT children (res+1) as one SQL
    expression, the JVM form of the kernel's to_children_batch level
    step: child = cell + 2^52 (res nibble bump) - 7*2^off + d*2^off, d
    in 0..6, with pentagons (_is_pentagon_sql) skipping the K digit
    d=1. 2^off via pow-cast is exact (off <= 42). SQL text rather than
    a Column tree: the Column form cost ~120 py4j round-trips per
    explode level.
    Pinned against the kernel by
    tests/test_operators.py::test_children_one_level_sql_parity.
    x is a plain column name."""
    r1 = f"((shiftright({x}, 52) & 15) + 1)"
    off = f"CAST(pow(2.0D, CAST((15 - {r1}) * 3 AS DOUBLE)) AS BIGINT)"
    base = f"({x} + 4503599627370496 - 7 * {off})"
    digits = (
        f"(CASE WHEN {_is_pentagon_sql(x)}"
        " THEN array(0, 2, 3, 4, 5, 6)"
        " ELSE array(0, 1, 2, 3, 4, 5, 6) END)"
    )
    return f"transform({digits}, d -> {base} + CAST(d AS BIGINT) * {off})"


def uncompact_cells_df(cells: DataFrame, res: int, min_res: int) -> DataFrame:
    """Expand a mixed-res cell relation to uniform `res` (children
    explode; cells already at `res` pass through, finer rows are
    dropped).

    One pure-JVM Generate per resolution level (children_one_level_sql
    — rows already at `res` pass through as single-element arrays), so
    the whole expansion stays inside WholeStageCodegen with no
    JVM->Python Arrow transfer. Every _MAX_EXPLODE_LEVELS levels the
    relation is redistributed so a deep fan-out (7^4 per stage) spreads
    across the cluster instead of amplifying within one task.

    min_res: the coarsest input res, which the caller knows (deriving
    it would cost a Spark job). Understating it only adds pass-through
    explode levels (each row wraps in a 1-element array), never
    wrongness."""
    spark = cells.sparkSession
    todo = cells.where(h3_resolution("cell") <= res).select("cell")
    levels = res - int(min_res)
    # one selectExpr SQL string per level: it parses JVM-side in one
    # call per level
    level_expr = (
        f"explode(CASE WHEN (shiftright(cell, 52) & 15) < {res}"
        f" THEN {children_one_level_sql('cell')}"
        " ELSE array(cell) END) AS cell"
    )
    for i in range(levels):
        todo = todo.selectExpr(level_expr)
        if (i + 1) % _MAX_EXPLODE_LEVELS == 0 and (i + 1) < levels:
            todo = todo.repartition(
                max(spark.sparkContext.defaultParallelism, 1)
            )
    return todo
