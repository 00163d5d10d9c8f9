"""Continuous value-drift (PSI) monitor: streamed PSI equals the
batch query bit-for-bit, replay is idempotent, compaction preserves
the ledger, and drift actually moves the needle."""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.registry import load_all
from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.stream import start_batch_stream
from redis_events_to_clickhouse_tables_spark.streaming.valuedrift import (
    ContinuousValueDriftMonitor,
)

from .conftest import SF_DIR


def _orders(spark):
    return table(spark, SF_DIR, "orders")


def _batch_psi(spark):
    build = load_all()["stats_psi_price_drift"].build
    return sorted(tuple(r) for r in build(spark, SF_DIR).collect())


def test_streamed_psi_equals_batch_query(spark, tmp_path):
    orders = _orders(spark)
    input_dir = tmp_path / "orders_stream"
    orders.repartition(4).write.parquet(str(input_dir))

    mon = ContinuousValueDriftMonitor(spark, tmp_path / "drift")
    q = start_batch_stream(
        spark,
        str(input_dir),
        orders.schema,
        mon.process_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 4

    got = sorted(tuple(r) for r in mon.current().collect())
    assert got == _batch_psi(spark)  # bit-for-bit, incl. the doubles


def test_valuedrift_replay_idempotent_and_drift_visible(spark, tmp_path):
    orders = _orders(spark)
    early = orders.filter(F.col("o_orderdate") < F.lit("1995-01-01").cast("date"))
    late = orders.filter(F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))

    mon = ContinuousValueDriftMonitor(spark, tmp_path / "drift")
    mon.process_batch(early, 0)
    mon.process_batch(late, 1)
    before = sorted(tuple(r) for r in mon.current().collect())

    # checkpoint replay of batch 1: ledger unchanged
    mon.process_batch(late, 1)
    assert sorted(tuple(r) for r in mon.current().collect()) == before

    # compaction preserves the ledger exactly
    mon.compact()
    assert sorted(tuple(r) for r in mon.current().collect()) == before

    # drift moves the needle: replaying the LATE side shifted +3x
    # (a pricing change) as a NEW batch raises PSI
    psi_before = before[0][-1]
    shifted = late.withColumn(
        "o_totalprice", (F.col("o_totalprice").cast("double") * 3.0)
    )
    mon.process_batch(shifted, 2)
    after = sorted(tuple(r) for r in mon.current().collect())
    assert after[0][-1] > psi_before
