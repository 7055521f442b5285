from .native import (  # noqa: F401
    cell_to_hex_str,
    h3_base_cell,
    h3_resolution,
    h3_to_parent_col,
    haversine_m_sql,
    hex_str_to_cell,
)
from .udfs import (  # noqa: F401
    geo_to_h3_udf,
    h3_boundary_udf,
    h3_to_geo_udf,
    k_ring_udf,
)
