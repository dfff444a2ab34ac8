from pyshp_spark.functions.cells import (  # noqa: F401
    GRID,
    tile_to_lonlat_cols,
)
