"""Continuous Page-Hinkley monitor: streamed trace equals the batch
query bit-for-bit, replay/compaction are idempotent, and late data
corrects the WHOLE downstream trace (the running-min revision an
online accumulator cannot undo)."""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.registry import load_all
from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.drift_monitor import (
    ContinuousPageHinkley,
)
from redis_events_to_clickhouse_tables_spark.streaming.stream import start_batch_stream

from .conftest import SF_DIR


def _events(spark):
    return table(spark, SF_DIR, "events")


def _batch_trace(spark):
    build = load_all()["stats_page_hinkley_daily"].build
    return sorted(tuple(r) for r in build(spark, SF_DIR).collect())


def test_streamed_page_hinkley_equals_batch_query(spark, tmp_path):
    events = _events(spark)
    input_dir = tmp_path / "events_stream"
    events.repartition(4).write.parquet(str(input_dir))

    mon = ContinuousPageHinkley(spark, tmp_path / "ph")
    q = start_batch_stream(
        spark,
        str(input_dir),
        events.schema,
        mon.process_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 4

    got = sorted(tuple(r) for r in mon.current().collect())
    assert got == _batch_trace(spark)


def test_page_hinkley_replay_compaction_and_late_data(spark, tmp_path):
    events = _events(spark)
    cut = F.lit("2024-01-20").cast("timestamp")
    mon = ContinuousPageHinkley(spark, tmp_path / "ph")
    mon.process_batch(events.filter(F.col("ts") < cut), 0)
    early = sorted(tuple(r) for r in mon.current().collect())

    # late arrivals: the remaining days land AFTER the detector has
    # already run — the rebuild must revise the global mean, every
    # cumulative deviation, and the running minimum
    mon.process_batch(events.filter(F.col("ts") >= cut), 1)
    full = sorted(tuple(r) for r in mon.current().collect())
    assert full == _batch_trace(spark)
    assert full != early  # the late batch really changed the trace

    # replay + compaction leave the ledger exactly unchanged
    mon.process_batch(events.filter(F.col("ts") >= cut), 1)
    mon.compact()
    mon.process_batch(events.filter(F.col("ts") >= cut), 1)
    assert sorted(tuple(r) for r in mon.current().collect()) == full
