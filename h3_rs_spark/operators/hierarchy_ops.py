"""Distributed hierarchy operators for huge cell relations.

uncompact_cells_df expands a mixed-res cell relation to uniform res with
a JVM children explode. Compacting runs on the driver
(h3core.hierarchy.compact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.native import h3_resolution
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
