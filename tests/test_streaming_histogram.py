"""Streaming histogram rollup: batch-query parity, replay
idempotence, compaction safety."""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.histogram import (
    HistogramAggregate,
)

from .conftest import SF_DIR


def _events(spark):
    return table(spark, SF_DIR, "events").select("ts", "value")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streamed_weekly_percentiles_match_batch_query(spark, tmp_path):
    """Weekly P50/P90 bins off the incrementally-maintained histogram
    == the registered batch query sketch_histogram_weekly_rollup on
    the same events (bin columns; the batch query additionally
    carries the exact percentiles and invariants)."""
    from redis_events_to_clickhouse_tables_spark.operators.advanced import (
        sketch_histogram_weekly_rollup,
    )

    ev = _events(spark)
    agg = HistogramAggregate(spark, tmp_path / "hist")
    # three uneven micro-batches split mid-week: partial merging must
    # reassemble weeks whose days arrived in different batches
    agg.process_batch(ev.filter(F.dayofmonth("ts") <= 9), 0)
    agg.process_batch(
        ev.filter((F.dayofmonth("ts") > 9) & (F.dayofmonth("ts") <= 23)), 1
    )
    agg.process_batch(ev.filter(F.dayofmonth("ts") > 23), 2)

    got = _rows(
        agg.weekly_percentiles().select("week", "n", "p50_bin", "p90_bin")
    )
    want = _rows(
        sketch_histogram_weekly_rollup(spark, SF_DIR).select(
            "week", "n", "p50_bin", "p90_bin"
        )
    )
    assert got == want


def test_histogram_replay_and_compaction(spark, tmp_path):
    ev = _events(spark)
    b1 = ev.filter(F.dayofmonth("ts") <= 15)
    b2 = ev.filter(F.dayofmonth("ts") > 15)
    agg = HistogramAggregate(spark, tmp_path / "hist")
    agg.process_batch(b1, 0)
    agg.process_batch(b2, 1)
    before = _rows(agg.current())
    agg.process_batch(b2, 1)  # checkpoint replay overwrites its partial
    assert _rows(agg.current()) == before
    agg.compact()
    assert _rows(agg.current()) == before
    assert agg.read().count() == len(before)


def test_streamed_hll_weekly_equals_direct_sketch(spark, tmp_path):
    """Mergeability of the streamed HLL partials: weekly estimates
    from incrementally-built daily sketches == estimates of sketches
    built from the raw week in one pass (register-max is associative
    and idempotent), and both sit within HLL error of exact."""
    from redis_events_to_clickhouse_tables_spark.streaming.sketch import (
        ContinuousDistinct,
    )

    ev = table(spark, SF_DIR, "events").select("ts", "user_id")
    cd = ContinuousDistinct(spark, tmp_path / "hll")
    cd.process_batch(ev.filter(F.dayofmonth("ts") <= 9), 0)
    cd.process_batch(
        ev.filter((F.dayofmonth("ts") > 9) & (F.dayofmonth("ts") <= 23)), 1
    )
    cd.process_batch(ev.filter(F.dayofmonth("ts") > 23), 2)
    cd.process_batch(ev.filter(F.dayofmonth("ts") > 23), 2)  # replay

    got = _rows(cd.weekly())
    direct = _rows(
        ev.groupBy(F.date_trunc("week", "ts").alias("week")).agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
                "est_users"
            )
        )
    )
    assert got == direct
    exact = {
        r["week"]: r["n"]
        for r in ev.groupBy(F.date_trunc("week", "ts").alias("week"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for week, est in got:
        assert abs(est - exact[week]) <= max(2, 0.08 * exact[week])
