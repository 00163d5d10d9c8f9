"""Continuous SCD2 maintainer: streamed interval frame equals the
batch query bit-for-bit, replay is idempotent across compaction, and
a late-arriving high-spend month re-derives the moved intervals."""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.registry import load_all
from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.scd2 import (
    ContinuousScd2Dimension,
)
from redis_events_to_clickhouse_tables_spark.streaming.stream import start_batch_stream

from .conftest import SF_DIR


def _events(spark):
    return table(spark, SF_DIR, "events")


def _batch_history(spark):
    build = load_all()["scd2_user_tier_history"].build
    return sorted(
        tuple(r) for r in build(spark, SF_DIR).collect()
    )


def test_streamed_scd2_equals_batch_query(spark, tmp_path):
    events = _events(spark)
    input_dir = tmp_path / "events_stream"
    events.repartition(4).write.parquet(str(input_dir))

    dim = ContinuousScd2Dimension(spark, tmp_path / "scd2")
    q = start_batch_stream(
        spark,
        str(input_dir),
        events.schema,
        dim.process_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 4

    got = sorted(tuple(r) for r in dim.current().collect())
    assert got == _batch_history(spark)  # bit-for-bit, incl. doubles


def test_scd2_replay_idempotent_and_late_month_rederives(spark, tmp_path):
    events = _events(spark)
    cut = F.lit("2024-07-01").cast("timestamp")
    early = events.filter(F.col("ts") < cut)
    late = events.filter(F.col("ts") >= cut)

    dim = ContinuousScd2Dimension(spark, tmp_path / "scd2")
    dim.process_batch(early, 0)
    dim.process_batch(late, 1)
    before = sorted(tuple(r) for r in dim.current().collect())

    # checkpoint replay of batch 1: ledger unchanged
    dim.process_batch(late, 1)
    assert sorted(tuple(r) for r in dim.current().collect()) == before

    # compaction preserves the ledger exactly
    dim.compact()
    assert sorted(tuple(r) for r in dim.current().collect()) == before

    # full-corpus ingest in ANY batch split equals the batch query
    assert before == _batch_history(spark)

    # a late correction lands in an OLD month and flips its tier:
    # pick a user+month currently LOW, pour in a 10_000.00 spend
    low = (
        dim.current()
        .filter(F.col("tier") == "LOW")
        .select("user_id", "valid_from")
        .orderBy("user_id", "valid_from")
        .limit(1)
        .collect()[0]
    )
    user, month = low[0], low[1]
    patch = spark.createDataFrame(
        [(user, month, 10_000.0)], "user_id long, ts timestamp, value double"
    )
    dim.process_batch(patch, 2)
    flipped = (
        dim.current()
        .filter(
            (F.col("user_id") == user)
            & (F.col("valid_from") <= F.lit(month))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(month)))
        )
        .collect()
    )
    assert len(flipped) == 1 and flipped[0]["tier"] == "HIGH"
