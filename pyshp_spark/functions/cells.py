"""Spatial cell index: grid cells, covers, tile math.

The reference has no spatial index (its only pushdown is the per-record
bbox prefix test, reference src/shapefile.py:1683-1687).  This module
is the engine's scale path: points/tiles get an int64 cell id (pure
Column math -> whole-stage codegen), polygons get a cell *cover*
(one row per cell, a JVM explode in operators/spatial.py), and
spatial joins become plain equi-joins on ``cell`` that Catalyst can
broadcast / sort-merge / AQE-skew-split like any other join.

The cell id is ``col + row * width`` — trivially SQL-expressible (the
DuckDB oracle runs the same formula), used for correctness contracts.

Tile math (Web-Mercator slippy tiles) is pure Column trig, matching the
usual OSM formulas.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Grid:
    """Uniform grid over an extent; cell = col + row * width."""

    x0: float
    y0: float
    dx: float
    dy: float
    width: int = 1 << 20

    @classmethod
    def for_extent(cls, xmin, ymin, xmax, ymax, cells_per_axis=64):
        return cls(
            x0=xmin,
            y0=ymin,
            dx=(xmax - xmin) / cells_per_axis or 1.0,
            dy=(ymax - ymin) / cells_per_axis or 1.0,
        )

    # -- column expressions ------------------------------------------------
    def col_expr(self, x: Column) -> Column:
        return F.floor((x - F.lit(self.x0)) / F.lit(self.dx)).cast("long")

    def row_expr(self, y: Column) -> Column:
        return F.floor((y - F.lit(self.y0)) / F.lit(self.dy)).cast("long")

    def cell_expr(self, x: Column, y: Column) -> Column:
        return self.col_expr(x) + self.row_expr(y) * F.lit(self.width)

    # -- numpy (UDF-side) --------------------------------------------------
    def cell_np(self, x: np.ndarray, y: np.ndarray) -> np.ndarray:
        cx = np.floor((np.asarray(x) - self.x0) / self.dx).astype(np.int64)
        cy = np.floor((np.asarray(y) - self.y0) / self.dy).astype(np.int64)
        return cx + cy * self.width

    def bbox_cover_np(self, xmin, ymin, xmax, ymax) -> np.ndarray:
        """All cells whose rectangle intersects the bbox (inclusive edges)
        — a guaranteed superset cover for the filter stage."""
        c0 = int(np.floor((xmin - self.x0) / self.dx))
        c1 = int(np.floor((xmax - self.x0) / self.dx))
        r0 = int(np.floor((ymin - self.y0) / self.dy))
        r1 = int(np.floor((ymax - self.y0) / self.dy))
        cols = np.arange(c0, c1 + 1, dtype=np.int64)
        rows = np.arange(r0, r1 + 1, dtype=np.int64)
        return (cols[None, :] + rows[:, None] * self.width).ravel()


# default grid used by fixture-scale tests: polygon fixture extent
from pyshp_spark.fixtures.polygons import BBOX as _FIX_BBOX  # noqa: E402

GRID = Grid.for_extent(*_FIX_BBOX, cells_per_axis=64)


def missing_coord_expr(*cols: str) -> Column:
    """TRUE when any coordinate column is NULL or NaN — the engine's
    two encodings for missing geometry.  isNull() alone misses NaN,
    and floor(NaN) cast to long fabricates a real value (0 non-ANSI,
    an error under ANSI); any PERSISTED key derived from coordinates
    must gate on this.  Shared by the cell layout writer
    (plans/layout.py) and the kNN index build (operators/spatial.py)."""
    if not cols:
        raise ValueError("missing_coord_expr needs at least one column")
    cond = None
    for c in cols:
        this = F.col(c).isNull() | F.isnan(F.col(c).cast("double"))
        cond = this if cond is None else (cond | this)
    return cond


# ------------------------------------------------------------ tile math ----

def tile_to_lonlat_cols(tx: Column, ty: Column, zoom: Column,
                        fx: Column | None = None, fy: Column | None = None
                        ) -> tuple[Column, Column]:
    """Slippy tile (+ optional in-tile fraction) -> (lon, lat), pure
    Column trig (stays in whole-stage codegen)."""
    n = F.pow(F.lit(2.0), zoom.cast("double"))
    xf = tx.cast("double") + (fx if fx is not None else F.lit(0.0))
    yf = ty.cast("double") + (fy if fy is not None else F.lit(0.0))
    lon = xf / n * F.lit(360.0) - F.lit(180.0)
    lat = F.degrees(F.atan(F.sinh(F.lit(float(np.pi)) * (F.lit(1.0) - F.lit(2.0) * yf / n))))
    return lon, lat
