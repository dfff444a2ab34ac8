"""Spatial cell index: grid cells, Morton codes, covers, tile math.

The reference has no spatial index (its only pushdown is the per-record
bbox prefix test, reference src/shapefile.py:1683-1687).  This module
is the engine's scale path: points/tiles get an int64 cell id (pure
Column math -> whole-stage codegen), polygons get a cell *cover*
(one row per cell, a JVM explode in operators/spatial.py), and
spatial joins become plain equi-joins on ``cell`` that Catalyst can
broadcast / sort-merge / AQE-skew-split like any other join.

Two encodings:
- grid cell: ``col + row * width`` — trivially SQL-expressible (the
  DuckDB oracle runs the same formula), used for correctness contracts;
- Morton (z-order) code of the same (col, row) — bit-interleave via
  Column shift/mask ops, better range-partition locality at scale.

Tile math (Web-Mercator slippy tiles) is pure Column trig, matching the
usual OSM formulas.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
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

    def cell_sql(self, x: str, y: str) -> str:
        """Identical formula as ANSI SQL (DuckDB oracle parity)."""
        return (
            f"(CAST(floor(({x} - ({self.x0!r})) / ({self.dx!r})) AS BIGINT)"
            f" + CAST(floor(({y} - ({self.y0!r})) / ({self.dy!r})) AS BIGINT)"
            f" * {self.width})"
        )

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

    def neighbors_np(self, cell: int, ring: int = 1) -> np.ndarray:
        """Cells within `ring` steps (Chebyshev) of `cell` — kNN expansion."""
        c = cell % self.width
        r = cell // self.width
        cols = np.arange(c - ring, c + ring + 1, dtype=np.int64)
        rows = np.arange(r - ring, r + ring + 1, dtype=np.int64)
        return (cols[None, :] + rows[:, None] * self.width).ravel()


# default grid used by fixture-scale tests: polygon fixture extent
from pyshp_spark.fixtures.polygons import BBOX as _FIX_BBOX  # noqa: E402

GRID = Grid.for_extent(*_FIX_BBOX, cells_per_axis=64)


def cell_id_expr(x: Column, y: Column, grid: Grid = GRID) -> Column:
    return grid.cell_expr(x, y)


def cell_id_sql(x: str, y: str, grid: Grid = GRID) -> str:
    return grid.cell_sql(x, y)


def missing_coord_expr(*cols: str) -> Column:
    """TRUE when any coordinate column is NULL or NaN — the engine's
    two encodings for missing geometry.  isNull() alone misses NaN,
    and floor(NaN) cast to long fabricates a real value (0 non-ANSI,
    an error under ANSI); any PERSISTED key derived from coordinates
    must gate on this.  Shared by the cell and Z-order layout writers
    (plans/layout.py) and :func:`with_point_cell`."""
    if not cols:
        raise ValueError("missing_coord_expr needs at least one column")
    cond = None
    for c in cols:
        this = F.col(c).isNull() | F.isnan(F.col(c).cast("double"))
        cond = this if cond is None else (cond | this)
    return cond


def with_point_cell(df: DataFrame, x: str, y: str, grid: Grid = GRID,
                    out: str = "cell") -> DataFrame:
    """Attach the grid cell id; missing (NULL/NaN) coordinates yield a
    NULL cell rather than a fabricated one.  The raw formula stays in
    Grid.cell_expr/cell_sql — the SQL mirror cannot even express the
    unguarded NaN behavior (CAST(NaN AS BIGINT) errors in ANSI SQL)."""
    return df.withColumn(
        out,
        F.when(missing_coord_expr(x, y), F.lit(None)).otherwise(
            grid.cell_expr(F.col(x), F.col(y))
        ),
    )


# -------------------------------------------------------- Morton codes ----

def _spread_bits32(v: Column) -> Column:
    """Interleave zeros between the low 32 bits of v (magic-number spread),
    all in Column bitwise ops (JVM-side, codegen'd).  NOTE: must use
    Column.bitwiseOR — Python's `|` on Columns is LOGICAL or, which
    fails analysis on integer types."""
    v = v.bitwiseAND(F.lit(0xFFFFFFFF))
    v = v.bitwiseOR(F.shiftleft(v, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x3333333333333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return v


def morton_expr(col: Column, row: Column) -> Column:
    """Z-order code from non-negative (col, row) — locality-preserving
    alternative cell id for range partitioning at scale."""
    return _spread_bits32(col).bitwiseOR(
        F.shiftleft(_spread_bits32(row), 1)
    )


def morton_np(col: np.ndarray, row: np.ndarray) -> np.ndarray:
    def spread(v):
        v = v.astype(np.uint64) & np.uint64(0xFFFFFFFF)
        v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
        return v

    return (spread(np.asarray(col)) | (spread(np.asarray(row)) << np.uint64(1))).astype(
        np.int64
    )


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


def lonlat_to_tile_cols(lon: Column, lat: Column, zoom: Column
                        ) -> tuple[Column, Column]:
    n = F.pow(F.lit(2.0), zoom.cast("double"))
    tx = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n).cast("long")
    lat_rad = F.radians(lat)
    ty = F.floor(
        (F.lit(1.0) - F.asinh(F.tan(lat_rad)) / F.lit(float(np.pi))) / F.lit(2.0) * n
    ).cast("long")
    return tx, ty
