"""Continuous aggregate (streaming daily rollup): batch parity,
replay idempotence, and compaction safety."""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.rollup import (
    ContinuousAggregate,
    merge_partials,
)
from redis_events_to_clickhouse_tables_spark.streaming.stream import start_batch_stream

from .conftest import SF_DIR


def _events(spark):
    return table(spark, SF_DIR, "events").select("ts", "event_type", "value")


def _batch_expected(spark):
    """The same rollup computed in one batch pass over the corpus."""
    cents = F.round(F.col("value") * 100).cast("long")
    partials = _events(spark).groupBy(
        "event_type", F.to_date("ts").cast("timestamp").alias("event_day")
    ).agg(F.count(F.lit(1)).alias("n_events"), F.sum(cents).alias("cents"))
    return merge_partials(partials)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_rollup_matches_batch(spark, tmp_path):
    ev = _events(spark)
    input_dir = tmp_path / "events_stream"
    ev.repartition(4).write.parquet(str(input_dir))

    agg = ContinuousAggregate(spark, tmp_path / "rollup")
    q = start_batch_stream(
        spark,
        str(input_dir),
        ev.schema,
        agg.process_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 4

    assert _rows(agg.current()) == _rows(_batch_expected(spark))


def test_rollup_replay_and_compaction(spark, tmp_path):
    ev = _events(spark)
    b1 = ev.filter(F.dayofmonth("ts") <= 15)
    b2 = ev.filter(F.dayofmonth("ts") > 15)
    agg = ContinuousAggregate(spark, tmp_path / "rollup")
    agg.process_batch(b1, 0)
    agg.process_batch(b2, 1)
    before = _rows(agg.current())
    agg.process_batch(b2, 1)  # checkpoint replay: overwrites its own partial
    assert _rows(agg.current()) == before
    # compaction folds partials without changing the rollup, and the
    # partial count drops to the key count
    agg.compact()
    assert _rows(agg.current()) == before
    assert agg.read().count() == len(before)


def test_rollup_anomalies_match_batch_query(spark, tmp_path):
    """Alerts off the streamed rollup == the registered batch anomaly
    query on the same events."""
    from redis_events_to_clickhouse_tables_spark.operators.timeseries import (
        events_anomaly_zscore,
    )

    ev = _events(spark)
    agg = ContinuousAggregate(spark, tmp_path / "rollup")
    # ingest in three uneven slices
    agg.process_batch(ev.filter(F.dayofmonth("ts") <= 9), 0)
    agg.process_batch(ev.filter(F.dayofmonth("ts").between(10, 20)), 1)
    agg.process_batch(ev.filter(F.dayofmonth("ts") > 20), 2)
    got = _rows(agg.anomalies())
    expected = _rows(events_anomaly_zscore(spark, SF_DIR))
    assert got == expected
