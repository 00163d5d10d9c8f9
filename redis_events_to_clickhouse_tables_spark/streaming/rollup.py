"""Continuous aggregate: a streaming-maintained daily rollup table.

The hypertable "continuous aggregate" / ClickHouse materialized-view
analog for this pipeline: the (event_type, day) rollup that
``events_flagship_daily`` computes over a finished corpus, maintained
incrementally as events stream in, so dashboards read a tiny rollup
instead of re-scanning the event log.

Shape — delta partials with merge-on-read:

1. Each micro-batch reduces to its per-(event_type, day) PARTIAL
   aggregate (count + exact cent sum) — a few-hundred-row frame no
   matter the batch size, because count and sum are commutative
   monoids (this is why the maintained aggregate carries cents, not
   doubles, and no AVG/DISTINCT directly — averages come out at read
   time, distincts need their own (day, user) partial table).
2. Partials append to a per-batch subdirectory with overwrite
   semantics: offsets commit after the write, so a crash replays the
   batch and the replay overwrites its own partial — idempotent,
   exactly-once contribution per event.
3. ``current()`` merges partials with one bounded groupBy (keys =
   types x days, not events). A periodic ``compact()`` folds all
   partials into one, keeping merge-on-read O(recent batches) — the
   same merge tree discipline as the reference's target engine.

Scale: the shuffle per batch is the partial frame (bounded by key
cardinality); the event log itself is never re-read. At 100 TB the
partials directory is a date-partitioned table and compact() runs per
partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partials import PartialStore

_PARTIAL_SCHEMA = (
    "event_type string, event_day timestamp, n_events long, cents long"
)


def _partials(events: DataFrame) -> DataFrame:
    """Reduce an event frame to its mergeable per-(type, day) partial."""
    cents = F.round(F.col("value") * 100).cast("long")
    return events.groupBy(
        "event_type", F.to_date("ts").cast("timestamp").alias("event_day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("cents"),
    )


def merge_partials(partials: DataFrame) -> DataFrame:
    """Fold partial frames into the user-facing rollup. Counts and
    cent sums merge exactly (integer monoids); the average falls out
    at read time as one IEEE division — same doctrine as the batch
    oracle queries."""
    merged = partials.groupBy("event_type", "event_day").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("cents").alias("cents"),
    )
    return merged.select(
        "event_type",
        "event_day",
        "n_events",
        (F.col("cents").cast("double") / 100.0).alias("total_value"),
        (
            F.col("cents").cast("double") / 100.0 / F.col("n_events")
        ).alias("avg_value"),
    )


def _merge_partial_rows(partials: DataFrame) -> DataFrame:
    """The monoid sum over partial rows (idempotent on merged frames)."""
    return partials.groupBy("event_type", "event_day").agg(
        F.sum("n_events").alias("n_events"), F.sum("cents").alias("cents")
    )


class ContinuousAggregate(PartialStore):
    """Parquet-backed incrementally-maintained daily rollup.

    Storage, replay idempotence (including replays racing a
    compaction) and crash-safe compaction come from
    :class:`PartialStore` — see its docstring for the durability
    contract."""

    schema = _PARTIAL_SCHEMA
    reduce = staticmethod(_partials)
    merge = staticmethod(_merge_partial_rows)

    def current(self) -> DataFrame:
        """The rollup as of the last completed batch (merge-on-read)."""
        return merge_partials(self.read())

    def anomalies(self) -> DataFrame:
        """Trailing-window z-score alerts computed off the maintained
        rollup — the alerting view a dashboard polls. Reuses the batch
        anomaly scorer (operators/timeseries.py zscore_daily) over the
        merged partials, so an alert raised here is exactly the alert
        the batch query would raise on the full event log: the rollup
        carries exact integer cents, and merged partials equal the
        batch aggregate by the monoid laws the tests pin."""
        from ..operators.timeseries import zscore_daily

        merged = self.read().groupBy("event_type", "event_day").agg(
            F.sum("cents").alias("c")
        )
        return zscore_daily(merged.withColumnRenamed("event_day", "day"))
