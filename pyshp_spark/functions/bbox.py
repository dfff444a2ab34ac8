"""Bounding-box predicate as a pure Column expression.

The reference's ``bbox_overlap`` kernel (reference src/shapefile.py:856-869,
inclusive <= comparisons) becomes, for the point-vs-bbox case the joins
use, a whole-stage-codegen'd Column expression: no UDF, fully pushable to
Parquet min/max row-group skipping once bbox lives in top-level columns.
"""

from __future__ import annotations

from pyspark.sql import Column


def point_in_bbox_expr(
    x: Column, y: Column, xmin: Column, ymin: Column, xmax: Column, ymax: Column
) -> Column:
    """Point-vs-bbox overlap (a point is a degenerate bbox; inclusive)."""
    return (xmin <= x) & (x <= xmax) & (ymin <= y) & (y <= ymax)
