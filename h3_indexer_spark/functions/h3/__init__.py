"""Pure-Python port of the public H3 core algorithms (uber/h3,
Apache-2.0 — re-implemented from the published algorithm descriptions
and grid constants; no Sedona/h3-py dependency).

Provides exactly the kernel surface the engine needs
(SURVEY.md §2.6-2.7):
- ``latlng_to_cell`` (U1 point path)
- ``cell_to_parent`` (U2; also available as native Spark SQL bitops)
- ``cell_to_boundary`` / ``cell_to_latlng`` (U3 hex geometry)
- ``vectorized.cell_area_km2_batch`` (h3_area_km2 column)
- ``polyfill`` + ``line_cells`` (U1 line/polygon paths)
"""

from h3_indexer_spark.functions.h3.core import (
    cell_to_boundary,
    cell_to_latlng,
    cell_to_parent,
    get_resolution,
    h3_to_string,
    is_pentagon,
    is_valid_cell,
    latlng_to_cell,
    string_to_h3,
)
from h3_indexer_spark.functions.h3.coverage import (
    cell_neighbors,
    line_cells,
    polyfill,
)

__all__ = [
    "cell_neighbors",
    "cell_to_boundary",
    "cell_to_latlng",
    "cell_to_parent",
    "get_resolution",
    "h3_to_string",
    "is_pentagon",
    "is_valid_cell",
    "latlng_to_cell",
    "line_cells",
    "polyfill",
    "string_to_h3",
]
