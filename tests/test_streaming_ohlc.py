"""Continuous OHLC monitor: streamed candles equal the batch query
bit-for-bit, out-of-order arrival doesn't matter, replay is
idempotent, and compaction preserves the ledger."""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.registry import load_all
from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.ohlc import (
    ContinuousOhlcMonitor,
)
from redis_events_to_clickhouse_tables_spark.streaming.stream import start_batch_stream

from .conftest import SF_DIR


def _events(spark):
    return table(spark, SF_DIR, "events")


def _batch_ohlc(spark):
    build = load_all()["timeseries_ohlc_weekly"].build
    return [tuple(r) for r in build(spark, SF_DIR).collect()]


def test_streamed_ohlc_equals_batch_query(spark, tmp_path):
    events = _events(spark)
    input_dir = tmp_path / "events_stream"
    events.repartition(4).write.parquet(str(input_dir))

    mon = ContinuousOhlcMonitor(spark, tmp_path / "ohlc")
    q = start_batch_stream(
        spark,
        str(input_dir),
        events.schema,
        mon.process_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 4

    got = [tuple(r) for r in mon.current().collect()]
    assert got == _batch_ohlc(spark)  # bit-for-bit, incl. the doubles


def test_ohlc_out_of_order_replay_and_compaction(spark, tmp_path):
    events = _events(spark)
    # arrival order decorrelated from event time: batches split by
    # event type interleave every week's events across batches
    types = [r[0] for r in events.select("event_type").distinct().collect()]

    mon = ContinuousOhlcMonitor(spark, tmp_path / "ohlc")
    for i, ty in enumerate(sorted(types)):
        mon.process_batch(events.filter(F.col("event_type") == ty), i)

    expected = _batch_ohlc(spark)
    assert [tuple(r) for r in mon.current().collect()] == expected

    # replayed batch: ledger unchanged
    mon.process_batch(
        events.filter(F.col("event_type") == sorted(types)[0]), 0
    )
    assert [tuple(r) for r in mon.current().collect()] == expected

    # compaction preserves the candles exactly
    mon.compact()
    assert [tuple(r) for r in mon.current().collect()] == expected
