"""Continuous text-drift monitor: streamed JSD equals the batch query
bit-for-bit, replay is idempotent, compaction preserves the ledger,
and drift actually moves the needle."""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.registry import load_all
from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.stream import start_batch_stream
from redis_events_to_clickhouse_tables_spark.streaming.textdrift import (
    ContinuousTextDriftMonitor,
)

from .conftest import SF_DIR


def _docs(spark):
    return table(spark, SF_DIR, "documents")


def _batch_jsd(spark):
    build = load_all()["text_js_divergence_en_rest"].build
    return sorted(tuple(r) for r in build(spark, SF_DIR).collect())


def test_streamed_jsd_equals_batch_query(spark, tmp_path):
    docs = _docs(spark)
    input_dir = tmp_path / "docs_stream"
    docs.repartition(4).write.parquet(str(input_dir))

    mon = ContinuousTextDriftMonitor(spark, tmp_path / "drift")
    q = start_batch_stream(
        spark,
        str(input_dir),
        docs.schema,
        mon.process_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 4

    got = sorted(tuple(r) for r in mon.current().collect())
    assert got == _batch_jsd(spark)  # bit-for-bit, incl. the double


def test_textdrift_replay_idempotent_and_drift_visible(spark, tmp_path):
    docs = _docs(spark)
    en = docs.filter(F.col("lang") == "en")
    rest = docs.filter(F.col("lang") != "en")

    mon = ContinuousTextDriftMonitor(spark, tmp_path / "drift")
    mon.process_batch(en, 0)
    mon.process_batch(rest, 1)
    before = sorted(tuple(r) for r in mon.current().collect())

    # checkpoint replay of batch 1: ledger unchanged
    mon.process_batch(rest, 1)
    assert sorted(tuple(r) for r in mon.current().collect()) == before
    mon.compact()
    assert sorted(tuple(r) for r in mon.current().collect()) == before
    base_jsd = before[0][1]

    # drift injection: a flood of one-character non-English docs must
    # move the divergence (the monitor's reason to exist)
    flood = en.limit(20).select(
        F.col("doc_id"),
        F.expr("repeat('~', 400)").alias("text"),
        F.lit("zz").alias("lang"),
        F.col("source"),
        F.lit(400).alias("n_chars"),
    )
    mon.process_batch(flood, 2)
    after = mon.current().collect()[0]
    assert after["jsd_bits"] > max(base_jsd * 100, 0.01)
