"""Pure-JVM column expressions (no Python worker round-trip).

Everything here stays inside WholeStageCodegen: bit ops for index
inspection/parent and the multi-resolution parent probe key of the PIP
and kNN joins (SURVEY.md §2.3/§2.5/§2.9 — H1/N4/N5/N7 need no UDF),
haversine re-ranking for kNN (§2.9), the longitude wrap and the hex
string codec.
Keeping these native is a core scale decision: at 10^12 rows the
per-row ops must not cross the JVM->Python boundary.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..h3core.constants import EARTH_RADIUS_M


def h3_resolution(cell: Column | str) -> Column:
    """(cell >> 52) & 0xF — parity: /root/reference/src/inspection.rs:52-54."""
    return F.shiftright(F.col(cell) if isinstance(cell, str) else cell, 52).bitwiseAND(
        F.lit(0xF)
    )


def h3_base_cell(cell: Column | str) -> Column:
    """(cell >> 45) & 0x7F — parity: src/inspection.rs:47-49."""
    return F.shiftright(F.col(cell) if isinstance(cell, str) else cell, 45).bitwiseAND(
        F.lit(0x7F)
    )


def h3_to_parent_col(cell: Column | str, parent_res: int) -> Column:
    """Ancestor at `parent_res` as pure bit math (src/hierarchy.rs:30-32).

    Sets the res nibble and fills digits below parent_res with 7s —
    runs fully inside codegen, which makes multi-resolution prefix joins
    (compacted PIP join) shuffle-free JVM work.
    """
    c = F.col(cell) if isinstance(cell, str) else cell
    fill = (1 << (3 * (15 - parent_res))) - 1
    res_cleared = c.bitwiseAND(F.lit(~(0xF << 52)))
    return res_cleared.bitwiseOR(F.lit(parent_res << 52)).bitwiseOR(F.lit(fill))


def parent_keys(cell: Column | str, levels: list[int]) -> Column:
    """The probe key of a multi-resolution parent join: the ancestor of
    `cell` at each of `levels`, one row per level. Keys at different
    resolutions are distinct int64s, so one equality on this column
    matches a build set that mixes them. A single level is the plain
    parent column, with no Generate node copying every probe row."""
    keys = [h3_to_parent_col(cell, r) for r in levels]
    return keys[0] if len(keys) == 1 else F.explode(F.array(*keys))


def wrap_lng_sql(d: str) -> str:
    """Longitude (or longitude difference) `d` wrapped into [-180, 180)
    as SQL text, bit for bit numpy's `(d + 180) % 360 - 180`. % truncates
    like C fmod in Spark SQL; numpy then adds 360 to a negative
    remainder. (pmod's (r + 360) % 360 differs: it gives 0 where numpy
    gives 360, for r within 3e-14 below 0.)"""
    r = f"(({d}) + 180D) % 360D"
    return f"({r} + IF({r} < 0D, 360D, 0D) - 180D)"


def cell_to_hex_str(cell: Column | str) -> Column:
    """u64 -> lowercase hex string (src/inspection.rs:81-95 semantics)."""
    c = F.col(cell) if isinstance(cell, str) else cell
    return F.lower(F.conv(c.cast("string"), 10, 16))


def hex_str_to_cell(s: Column | str) -> Column:
    """hex string -> int64 cell (src/inspection.rs:97-102 semantics)."""
    c = F.col(s) if isinstance(s, str) else s
    return F.conv(c, 16, 10).cast("long")


def haversine_m_sql(lat1: str, lng1: str, lat2: str, lng2: str) -> str:
    """Great-circle meters between two degree points as one SQL
    expression over the named columns, entirely JVM-side trig (the kNN
    re-rank hot path). SQL text rather than a Column tree: it parses in
    one py4j call. repr() round-trips the radius literal and the D
    suffix keeps it DOUBLE, not DECIMAL."""
    return (
        f"({2.0 * EARTH_RADIUS_M!r}D * ASIN(SQRT("
        f"POWER(SIN(RADIANS({lat2} - {lat1}) / 2), 2)"
        f" + COS(RADIANS({lat1})) * COS(RADIANS({lat2}))"
        f" * POWER(SIN(RADIANS({lng2} - {lng1}) / 2), 2))))"
    )
