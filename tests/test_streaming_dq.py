"""Continuous quality monitor: batch parity of the integer counters,
HLL duplicate detection, replay idempotence, and alerting."""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.dq import (
    _RULES,
    ContinuousQualityMonitor,
)
from redis_events_to_clickhouse_tables_spark.streaming.stream import start_batch_stream

from .conftest import SF_DIR


def _events(spark):
    return table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def _batch_counters(spark):
    """The same rule counters computed in one batch pass."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    aggs += [
        F.sum(F.when(F.expr(pred), 1).otherwise(0)).cast("long").alias(name)
        for name, pred in _RULES.items()
    ]
    df = (
        _events(spark)
        .groupBy(F.to_date("ts").cast("timestamp").alias("event_day"))
        .agg(*aggs)
    )
    return sorted(tuple(r) for r in df.collect())


def _counters(cur):
    cols = ["event_day", "n_rows", *_RULES]
    return sorted(tuple(r) for r in cur.select(*cols).collect())


def test_streaming_dq_counters_match_batch(spark, tmp_path):
    ev = _events(spark)
    input_dir = tmp_path / "events_stream"
    ev.repartition(4).write.parquet(str(input_dir))

    mon = ContinuousQualityMonitor(spark, tmp_path / "dq")
    q = start_batch_stream(
        spark,
        str(input_dir),
        ev.schema,
        mon.process_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 4

    assert _counters(mon.current()) == _batch_counters(spark)

    # clean synthetic corpus: no violations, and the merged HLL
    # estimate of the unique event_id stream sits within error
    for r in mon.current().collect():
        assert r["n_violations"] == 0, r
        assert abs(r["dup_ratio"]) <= 0.08, r
    assert mon.alerts().count() == 0


def test_streaming_dq_flags_bad_batch_and_replays_idempotently(
    spark, tmp_path
):
    ev = _events(spark)
    good = ev.filter(F.dayofmonth("ts") <= 15)
    # a bad producer deploy: null users and a bogus event type
    bad = (
        ev.filter(F.dayofmonth("ts") > 15)
        .withColumn("user_id", F.lit(None).cast("long"))
        .withColumn("event_type", F.lit("mystery"))
    )
    mon = ContinuousQualityMonitor(spark, tmp_path / "dq")
    mon.process_batch(good, 0)
    mon.process_batch(bad, 1)
    before = _counters(mon.current())

    alerts = mon.alerts().collect()
    assert alerts, "poisoned days must page"
    assert all(r["violation_ratio"] > 0.9 for r in alerts)

    # checkpoint replay of the bad batch: ledger unchanged (counters
    # AND sketches overwrite their own partial)
    mon.process_batch(bad, 1)
    assert _counters(mon.current()) == before
    # duplicate detector: re-ingesting the good batch as a NEW batch
    # doubles n_rows but not distinct ids -> dup_ratio jumps to ~0.5
    mon.process_batch(good, 2)
    dup_days = {
        r["event_day"]: r["dup_ratio"]
        for r in mon.current().collect()
        if r["dup_ratio"] > 0.3
    }
    assert dup_days, "re-ingested days must show duplicate ratio ~0.5"
    mon.compact()
    dup_after = {
        r["event_day"]: r["dup_ratio"]
        for r in mon.current().collect()
        if r["dup_ratio"] > 0.3
    }
    assert dup_days == dup_after
