"""Continuous count-min sketch: the streamed sketch must be
bit-identical to the one-pass batch sketch, and its estimates must
match the registered batch calibration query."""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.operators.advanced import countmin_cells
from redis_events_to_clickhouse_tables_spark.registry import load_all
from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.sketch import (
    ContinuousCountMin,
)
from redis_events_to_clickhouse_tables_spark.streaming.stream import start_batch_stream

from .conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streamed_sketch_identical_to_batch(spark, tmp_path):
    ev = table(spark, SF_DIR, "events").select("ts", "user_id", "event_type")
    input_dir = tmp_path / "events_stream"
    ev.repartition(4).write.parquet(str(input_dir))

    sk = ContinuousCountMin(spark, tmp_path / "cm", key_col="user_id")
    q = start_batch_stream(
        spark,
        str(input_dir),
        ev.schema,
        sk.process_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 4

    assert _rows(sk.cells()) == _rows(countmin_cells(ev, "user_id"))

    # replay idempotence: reprocessing a batch under its own id
    # overwrites the same partial — the sketch is unchanged
    before = _rows(sk.cells())
    sk.process_batch(ev.limit(100), 99)
    with_extra = _rows(sk.cells())
    assert with_extra != before
    sk.process_batch(ev.limit(100), 99)  # crash-replay of batch 99
    assert _rows(sk.cells()) == with_extra

    # compaction preserves the sketch
    sk.compact()
    assert _rows(sk.cells()) == with_extra


def test_sketch_estimates_match_batch_query(spark, tmp_path):
    ev = table(spark, SF_DIR, "events")
    sk = ContinuousCountMin(spark, tmp_path / "cm", key_col="user_id")
    sk.process_batch(ev, 0)

    est = sk.estimate(ev.select("user_id").distinct())
    batch = load_all()["sketch_countmin_user_counts"].build(spark, SF_DIR)
    got = _rows(est)
    want = _rows(batch.select("user_id", "cm_estimate"))
    assert got == want

    # count-min never undercounts
    joined = est.join(
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact")), "user_id"
    )
    assert joined.filter(F.col("cm_estimate") < F.col("exact")).count() == 0


def test_heavy_hitters_no_false_negatives(spark, tmp_path):
    """Streamed in 4 batches with candidate_floor = threshold / 4:
    every key whose exact count exceeds the threshold must surface,
    and count-min's one-sided error means no true heavy hitter is
    filtered out."""
    ev = table(spark, SF_DIR, "events").select("ts", "user_id", "event_type")
    input_dir = tmp_path / "events_stream"
    ev.repartition(4).write.parquet(str(input_dir))

    n = ev.count()
    threshold = n // 20  # ~top-heavy cut on this corpus
    sk = ContinuousCountMin(
        spark,
        tmp_path / "cm",
        key_col="user_id",
        candidate_floor=max(threshold // 4, 1),
    )
    q = start_batch_stream(
        spark,
        str(input_dir),
        ev.schema,
        sk.process_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    # heavy_hitters returns keys in canonical string (hash-input) form
    got = {r["user_id"] for r in sk.heavy_hitters(threshold).collect()}
    exact = {
        str(r["user_id"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > threshold)
        .collect()
    }
    assert exact, "fixture should contain at least one heavy hitter"
    assert exact <= got  # no false negatives (count-min is one-sided)
