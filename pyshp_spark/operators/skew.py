"""Skew diagnosis + salting planner.

Dense multipart polygons (blockgroups-style) concentrate many points in
few cells; on the partitioned PIP path each of those cells is one
cogroup bucket, a straggler Python call.  The planner measures the
cell histogram with a cheap pre-pass aggregation (map-side partial
combine — one small shuffle) and picks a salt factor from the
hot-cell/median ratio; the PIP join then
splits hot cells into ``salt_k`` buckets (see
operators/spatial.point_in_polygon_join(salt_k=...)).  A cogroup gets
no AQE skew split, so the salt is the only remedy for a hot cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyshp_spark.functions.cells import GRID, Grid


def cell_histogram(points: DataFrame, x: str = "x", y: str = "y",
                   grid: Grid = GRID) -> DataFrame:
    """Rows per cell — the skew pre-pass (and the offline twin of
    streaming/streaming_cell_counts)."""
    return (
        points.withColumn("cell", grid.cell_expr(F.col(x), F.col(y)))
        .groupBy("cell")
        .agg(F.count("*").alias("n_rows"))
    )


def skew_stats(points: DataFrame, x: str = "x", y: str = "y",
               grid: Grid = GRID) -> dict:
    """max/mean/median cell occupancy from one aggregation job."""
    hist = cell_histogram(points, x, y, grid)
    row = hist.agg(
        F.max("n_rows").alias("max_rows"),
        F.avg("n_rows").alias("mean_rows"),
        F.expr("percentile_approx(n_rows, 0.5)").alias("median_rows"),
        F.count("*").alias("n_cells"),
    ).collect()[0]
    return {
        "max_rows": row.max_rows,
        "mean_rows": float(row.mean_rows),
        "median_rows": row.median_rows,
        "n_cells": row.n_cells,
    }


def plan_salt_k(points: DataFrame, x: str = "x", y: str = "y",
                grid: Grid = GRID, target_ratio: float = 4.0,
                max_k: int = 16) -> int | None:
    """Salt factor for the partitioned PIP join: None when the hottest
    cell is within ``target_ratio`` of the mean (no salting needed),
    else the power-of-two k that brings the hot cell under the target,
    capped at ``max_k`` (each polygon cover row is replicated k times —
    build-side cost grows linearly)."""
    s = skew_stats(points, x, y, grid)
    if s["mean_rows"] <= 0 or s["max_rows"] <= target_ratio * s["mean_rows"]:
        return None
    k = 2
    while k < max_k and s["max_rows"] / k > target_ratio * s["mean_rows"]:
        k *= 2
    return k
