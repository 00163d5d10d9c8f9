"""Continuous histogram aggregate: streaming-maintained fixed-bin
value histograms that roll up to percentiles.

The quantile face of the continuous-aggregate pattern (see
``rollup.py`` for the count/sum face and the storage contract): each
micro-batch reduces to its per-(week, day, bin) COUNT partial — a
mergeable integer monoid, so partials from different micro-batches,
machines, or backfills fold losslessly — and percentile questions are
answered from the merged histogram without ever re-reading the event
log. This is the streaming twin of the registered batch query
``sketch_histogram_weekly_rollup`` (operators/advanced.py); the
parity test pins that the streamed weekly P50/P90 bins equal the
batch query's on the same events.

Scale: the per-batch shuffle is the partial frame (weeks x days x 20
bins — bounded by key cardinality, never event count); merge-on-read
is one bounded groupBy; ``compact()`` keeps the partial count at the
key count. The percentile read touches only the merged histogram
(#weeks x 20 rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .partials import PartialStore

BIN_WIDTH = 25  # bin width over the observed 0..500 value range
TOP_BIN = 19  # top bin open-ended

_PARTIAL_SCHEMA = (
    "week timestamp, event_day timestamp, bin long, cnt long"
)


def bin_of(c: F.Column) -> F.Column:
    """The fixed histogram bin of a value column (the batch rollup
    ``sketch_histogram_weekly_rollup`` bins with it too)."""
    return F.least(
        F.floor(c / BIN_WIDTH).cast("long"), F.lit(TOP_BIN).cast("long")
    )


def _partials(events: DataFrame) -> DataFrame:
    """Reduce an event frame to its mergeable (week, day, bin) counts."""
    return events.groupBy(
        F.date_trunc("week", "ts").alias("week"),
        F.to_date("ts").cast("timestamp").alias("event_day"),
        bin_of(F.col("value")).alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))


def _merge_partial_rows(partials: DataFrame) -> DataFrame:
    return partials.groupBy("week", "event_day", "bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def weekly_percentile_bins(partials: DataFrame) -> DataFrame:
    """(week, p50_bin, p90_bin, n) from (week, bin, cnt) histogram
    partials (other columns are ignored): the first bin whose running
    total reaches ceil(q*n). The batch query
    ``sketch_histogram_weekly_rollup`` reads its weekly bins from this
    function too, so streamed and batch answers share one definition."""
    wb = partials.groupBy("week", "bin").agg(
        F.sum("cnt").cast("long").alias("w_cnt")
    )
    tot = wb.groupBy("week").agg(F.sum("w_cnt").cast("long").alias("n"))
    cum = wb.withColumn(
        "cum", F.sum("w_cnt").over(Window.partitionBy("week").orderBy("bin"))
    )
    pb = (
        cum.join(F.broadcast(tot), "week")
        .groupBy("week")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("bin"))
            ).alias("p50_bin"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(9 * n + 9) div 10"), F.col("bin")
                )
            ).alias("p90_bin"),
        )
    )
    return pb.join(F.broadcast(tot), "week")


class HistogramAggregate(PartialStore):
    """Parquet-backed incrementally-maintained histogram rollup.

    Storage, replay idempotence, and crash-safe compaction come from
    :class:`PartialStore` (same durability contract as the daily
    rollup)."""

    schema = _PARTIAL_SCHEMA
    reduce = staticmethod(_partials)
    merge = staticmethod(_merge_partial_rows)

    def current(self) -> DataFrame:
        """Merged (week, event_day, bin, cnt) as of the last batch."""
        return self.merged()

    def weekly_percentiles(self) -> DataFrame:
        """The dashboard view: weekly P50/P90 bins off the maintained
        histogram — no event-log rescan."""
        return weekly_percentile_bins(self.read())
