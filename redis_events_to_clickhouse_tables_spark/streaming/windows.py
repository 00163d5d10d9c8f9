"""Event-time windowed aggregation — one definition for batch and stream.

The reference has no event-time processing (SURVEY §2.9); this is the
Layer-B streaming surface: tumbling/sliding windows with watermarked
late-data handling. The same function serves the batch images (the
``events_hourly_windows`` and ``events_sliding_windows`` oracle
queries call it) and a streaming file source — which is the point of
Structured Streaming's unified model: the query shape is identical,
only the source/sink differ.

Scale: windowed aggregation shuffles on (window, event_type) — bounded
keys; the watermark bounds state size (windows older than
max_event_time - watermark are finalized and evicted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import dec


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` differs) event-time windows
    over (ts, event_type, value) with exact-decimal value sums."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        src.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", 12)).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
