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


def streaming_sessionize(
    stream: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of operators/temporal.sessionize using Spark's
    native ``session_window``: per-key sessions close when no event
    arrives within ``gap``; the watermark bounds state (sessions whose
    window end falls behind it finalize and evict).  Emits one row per
    closed-or-updated session with its bounds and event count —
    state-store-backed, merge-on-arrival, no custom stateful code."""
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(F.session_window(F.col(ts), gap).alias("sw"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_interval_join(
    stream: DataFrame,
    intervals: DataFrame,
    ts: str = "ts",
    start: str = "start_us",
    end: str = "end_us",
    bucket_s: float = 600.0,
) -> DataFrame:
    """Stream-static interval join: every arriving event pairs with the
    static intervals covering its timestamp — identical semantics to
    the batch operator (time-bucket blocking + exact integer refine),
    run incrementally.  The intervals side explodes to its covered
    buckets once and broadcasts (stream-static equi-join), so each
    micro-batch probes without shuffling the stream."""
    from pyshp_spark.operators.temporal import interval_join  # noqa: PLC0415

    if not stream.isStreaming:
        raise ValueError("stream must be a streaming DataFrame")
    if intervals.isStreaming:
        raise ValueError("intervals must be static (stream-static join)")
    return interval_join(
        stream, F.broadcast(intervals), ts=ts, start=start, end=end,
        bucket_s=bucket_s,
    )
