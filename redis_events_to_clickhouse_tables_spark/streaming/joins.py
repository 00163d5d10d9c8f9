"""Stream-stream interval join: conversions attributed in flight.

The Structured Streaming capability the rest of the streaming layer
doesn't cover: joining TWO unbounded streams (here: view events to the
same user's purchase within the attribution window) with watermarks
bounding the buffered state. Spark keeps each side's rows in state
only until the other side's watermark passes the join range, so state
is O(window x arrival rate), not O(stream) — the property that makes
the join runnable forever.

Batch parity: `attribution_pairs` is the same join expressed over
static frames; the test pins streamed output == batch output on the
same corpus, the repo-wide discipline for every streaming operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .stream import FILES_PER_TRIGGER

# a purchase converts a view if it happens within this many seconds
ATTRIBUTION_WINDOW_S = 30 * 60


def attribution_pairs(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """(user_id, view_id, purchase_id, view_ts, purchase_ts, lag_s):
    every purchase matched to each of the user's views it follows
    within the attribution window. Works identically on static frames
    and on watermarked streams (the join condition is what bounds
    streaming state)."""
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_S} SECONDS")
        )
    )
    lag_s = (
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).cast("double")
        / 1_000_000.0
    )
    return v.join(p, cond).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        lag_s.alias("lag_s"),
    )


def start_attribution_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str | None = None,
) -> StreamingQuery:
    """One event file-stream split into two watermarked sides, interval
    joined, appended to parquet. Both sides carry a watermark one full
    attribution window past the join range so late events within the
    window still match and state is still dropped eventually —
    the standard stream-stream join watermark arithmetic."""
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(input_dir)
    )
    wm = watermark or f"{2 * ATTRIBUTION_WINDOW_S} seconds"
    views = events.filter(F.col("event_type") == "view").withWatermark("ts", wm)
    purchases = events.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", wm
    )
    joined = attribution_pairs(views, purchases)
    return (
        joined.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
