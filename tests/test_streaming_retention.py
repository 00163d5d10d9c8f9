"""Continuous retention maintainer: streamed curve equals the batch
query bit-for-bit, replay/double-delivery are idempotent across
compaction, and a late event that REBASES a user's first day
re-derives the cohort correctly."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.registry import load_all
from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.retention import (
    ContinuousRetention,
)
from redis_events_to_clickhouse_tables_spark.streaming.stream import start_batch_stream

from .conftest import SF_DIR


def _events(spark):
    return table(spark, SF_DIR, "events")


def _batch_curve(spark):
    build = load_all()["events_retention_halflife"].build
    return sorted(tuple(r) for r in build(spark, SF_DIR).collect())


def test_streamed_retention_equals_batch_query(spark, tmp_path):
    events = _events(spark)
    input_dir = tmp_path / "events_stream"
    events.repartition(4).write.parquet(str(input_dir))

    ret = ContinuousRetention(spark, tmp_path / "ret")
    q = start_batch_stream(
        spark,
        str(input_dir),
        events.schema,
        ret.process_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 4

    got = sorted(tuple(r) for r in ret.current().collect())
    assert got == _batch_curve(spark)  # bit-for-bit, incl. half-life


def test_retention_replay_and_first_day_rebase(spark, tmp_path):
    events = _events(spark)
    cut = F.lit("2024-01-15").cast("timestamp")
    ret = ContinuousRetention(spark, tmp_path / "ret")
    ret.process_batch(events.filter(F.col("ts") >= cut), 0)
    ret.process_batch(events.filter(F.col("ts") < cut), 1)
    before = sorted(tuple(r) for r in ret.current().collect())

    # replay + compaction leave the ledger exactly unchanged
    ret.process_batch(events.filter(F.col("ts") < cut), 1)
    assert sorted(tuple(r) for r in ret.current().collect()) == before
    ret.compact()
    assert sorted(tuple(r) for r in ret.current().collect()) == before

    # any batch split of the full corpus equals the batch query
    assert before == _batch_curve(spark)

    # late event BEFORE a user's current first day rebases the cohort:
    # the user's old day-0 becomes a day-k activity
    u = ret.activity().agg(F.min("user_id")).collect()[0][0]
    d0 = (
        ret.activity().filter(F.col("user_id") == u).agg(F.min("d")).collect()
    )[0][0]
    new_d0 = d0 - datetime.timedelta(days=3)
    patch = spark.createDataFrame(
        [(u, datetime.datetime.combine(new_d0, datetime.time(12)))],
        "user_id long, ts timestamp",
    )
    ret.process_batch(patch, 2)
    after = {
        (r["k"], r["n_retained"]) for r in ret.current().collect()
    }
    # day-3 retention must now count the rebased user
    k3_after = dict(after).get(3)
    k3_before = {(r[0], r[2]) for r in before}
    k3_before = dict(k3_before).get(3)
    assert k3_after is not None and k3_before is not None
    assert k3_after >= k3_before  # the rebased user lands in day-3
