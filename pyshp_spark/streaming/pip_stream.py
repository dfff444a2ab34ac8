"""Structured Streaming spatial operators.

The reference is strictly batch (no streaming surface, SURVEY.md §2.10);
this module is the engine's forward-looking streaming path: a stream of
georeferenced rows (e.g. images arriving from an ingest bus) spatially
joined against a STATIC polygon dimension — a stream-static broadcast
join, which Structured Streaming executes incrementally per micro-batch
with no state store — plus watermarked per-cell window counts for
monitoring density/skew online.

Both return unstarted streaming DataFrames; callers attach sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyshp_spark.functions.cells import GRID, Grid
from pyshp_spark.operators.spatial import point_in_polygon_join


def streaming_point_in_polygon(
    stream: DataFrame,
    polygons: DataFrame,
    x: str = "x",
    y: str = "y",
    grid: Grid = GRID,
    polygon_cols: list[str] | None = None,
) -> DataFrame:
    """Stream-static PIP join: identical semantics to the batch
    operator (same cell filter -> bbox prune -> ray-cast refine), run
    incrementally.  ``polygons`` must be a static (batch) DataFrame —
    it is collected and broadcast once; every micro-batch of points
    probes it without shuffling."""
    if not stream.isStreaming:
        raise ValueError("stream must be a streaming DataFrame")
    if polygons.isStreaming:
        raise ValueError("polygons must be static (stream-static join)")
    return point_in_polygon_join(
        stream,
        polygons,
        x=x,
        y=y,
        grid=grid,
        broadcast_polygons=True,
        polygon_cols=polygon_cols,
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text: str = "text",
    ts: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival of each normalized
    text; duplicates arriving within the watermark horizon are dropped
    (state-store-backed ``dropDuplicatesWithinWatermark``, so state is
    bounded — a key's entry expires once the watermark passes it).

    The streaming twin of ``operators.dedup.exact_dedup``: at 10^12-row
    ingest the batch dedup becomes this operator on the bus, and only
    the first copy of a document reaches the lake."""
    if not stream.isStreaming:
        raise ValueError("stream must be a streaming DataFrame")
    return (
        stream.withColumn("norm_text", F.lower(F.trim(F.col(text))))
        .withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["norm_text"])
        .drop("norm_text")
    )


def streaming_cell_counts(
    stream: DataFrame,
    x: str = "x",
    y: str = "y",
    ts: str = "ts",
    grid: Grid = GRID,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked per-cell, per-event-time-window row counts — the
    online view of the cell histogram the salting planner uses offline
    (operators/skew).  Late rows beyond the watermark are dropped."""
    return (
        stream.withColumn("cell", grid.cell_expr(F.col(x), F.col(y)))
        .withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), window).alias("win"), F.col("cell"))
        .agg(F.count("*").alias("n_rows"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "cell",
            "n_rows",
        )
    )
