from pyshp_spark.functions.bbox import point_in_bbox_expr  # noqa: F401
from pyshp_spark.functions.cells import (  # noqa: F401
    GRID,
    tile_to_lonlat_cols,
)
