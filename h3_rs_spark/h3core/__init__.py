"""h3core: from-scratch vectorized (numpy) H3 v3.6 kernel.

Public surface mirrors the reference crate's operator inventory
(SURVEY.md §2) as batch array functions, less grid distance and grid
line (T3/T4) and icosahedron faces (N6), which no engine query runs;
the Spark engine wraps these in Arrow UDFs (h3_rs_spark.functions.udfs).
"""

from .constants import EDGE_LENGTH_M, HEX_AREA_M2, MAX_RES, num_hexagons  # noqa: F401
from .faceijk import geo_to_h3, h3_to_geo, h3_to_geo_boundary  # noqa: F401
from .hierarchy import compact, uncompact  # noqa: F401
from .indexing import (  # noqa: F401
    get_base_cell,
    get_resolution,
    h3_to_hex_str,
    hex_str_to_h3,
    is_pentagon,
    is_res_class3,
    is_valid,
    max_children,
    to_children,
    to_parent,
)
from .regions import (  # noqa: F401
    points_in_polygon,
    polyfill,
    polyfill_compact,
)
from .traversal import (  # noqa: F401
    hex_ring,
    k_ring,
    k_ring_distances,
    neighbors,
)


def edge_length_m(res: int) -> float:
    return float(EDGE_LENGTH_M[res])


def hex_area_m2(res: int) -> float:
    return float(HEX_AREA_M2[res])
