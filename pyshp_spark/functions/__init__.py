from pyshp_spark.functions.bbox import bbox_overlap_expr, bbox_contains_expr, point_in_bbox_expr  # noqa: F401
from pyshp_spark.functions.cells import (  # noqa: F401
    GRID,
    cell_id_expr,
    cell_id_sql,
    with_point_cell,
    tile_to_lonlat_cols,
    lonlat_to_tile_cols,
)
