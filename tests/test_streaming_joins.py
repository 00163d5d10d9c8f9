"""Stream-stream interval join: streamed attribution == the batch
join, and the join runs statefully across micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.joins import (
    attribution_pairs,
    start_attribution_stream,
)

from .conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_stream_join_matches_batch(spark, tmp_path):
    ev = table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    input_dir = tmp_path / "events_stream"
    ev.repartition(4).write.parquet(str(input_dir))

    out = tmp_path / "attributed"
    q = start_attribution_stream(
        spark,
        str(input_dir),
        ev.schema,
        output_dir=str(out),
        checkpoint_dir=str(tmp_path / "ckpt"),
        # files arrive in random ts order, so use a watermark wider
        # than the corpus span: the join still exercises cross-batch
        # state, and no row can be declared late — making batch parity
        # exact. A production deployment with in-order arrival uses
        # the default 2x-window watermark to bound state.
        watermark="40 days",
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 4  # genuinely incremental

    got = spark.read.parquet(str(out))
    views = ev.filter(F.col("event_type") == "view")
    purchases = ev.filter(F.col("event_type") == "purchase")
    want = attribution_pairs(views, purchases)
    assert _rows(got) == _rows(want)
    assert want.count() > 0


def test_attribution_window_semantics(spark):
    """Batch form: every pair respects (0, window] lag and user match."""
    ev = table(spark, SF_DIR, "events")
    pairs = attribution_pairs(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    bad = pairs.filter(
        (F.col("lag_s") <= 0) | (F.col("lag_s") > 30 * 60)
    ).count()
    assert bad == 0
