"""Continuous weekly OHLC compaction over an events stream.

The streaming counterpart of ``operators/drift.py``'s
``timeseries_ohlc_weekly``: each micro-batch of arriving events
reduces to one candle partial per touched week. Every field of the
partial is a monoid — counts add, high/low take max/min, and
open/close are lexicographic MIN/MAX over the (ts, event_id, value)
struct (a total order, since (ts, event_id) is unique) — so the
ledger merges exactly, replay is idempotent (PartialStore's batch-id
overwrite), and ``current()`` equals the batch query bit-for-bit over
everything ingested so far. This is the metrics-store compaction a
hypertable keeps per key: late or out-of-order events land in their
week's candle correctly because min/max do not care about arrival
order.

Shape notes: the partial is #touched-weeks rows per batch; the ledger
grows with the calendar, not the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partials import PartialStore

_PARTIAL_SCHEMA = (
    "wk timestamp, n_events long, "
    "o_t timestamp, o_e long, o_v double, "
    "high_v double, low_v double, "
    "c_t timestamp, c_e long, c_v double"
)


def _first_struct() -> F.Column:
    return F.struct(
        F.col("o_t").alias("t"), F.col("o_e").alias("e"), F.col("o_v").alias("v")
    )


def _last_struct() -> F.Column:
    return F.struct(
        F.col("c_t").alias("t"), F.col("c_e").alias("e"), F.col("c_v").alias("v")
    )


def ohlc_partials(events: DataFrame) -> DataFrame:
    """Reduce an events frame to its mergeable per-week candle partial
    (same bucket and tiebreak as ``timeseries_ohlc_weekly``)."""
    tagged = F.struct(
        F.col("ts").alias("t"),
        F.col("event_id").alias("e"),
        F.col("value").alias("v"),
    )
    g = events.groupBy(F.date_trunc("week", "ts").alias("wk")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min(tagged).alias("__o"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max(tagged).alias("__c"),
    )
    return g.select(
        "wk",
        "n_events",
        F.col("__o.t").alias("o_t"),
        F.col("__o.e").alias("o_e"),
        F.col("__o.v").alias("o_v"),
        "high_v",
        "low_v",
        F.col("__c.t").alias("c_t"),
        F.col("__c.e").alias("c_e"),
        F.col("__c.v").alias("c_v"),
    )


def _merge_partial_rows(partials: DataFrame) -> DataFrame:
    g = partials.groupBy("wk").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.min(_first_struct()).alias("__o"),
        F.max("high_v").alias("high_v"),
        F.min("low_v").alias("low_v"),
        F.max(_last_struct()).alias("__c"),
    )
    return g.select(
        "wk",
        "n_events",
        F.col("__o.t").alias("o_t"),
        F.col("__o.e").alias("o_e"),
        F.col("__o.v").alias("o_v"),
        "high_v",
        "low_v",
        F.col("__c.t").alias("c_t"),
        F.col("__c.e").alias("c_e"),
        F.col("__c.v").alias("c_v"),
    )


class ContinuousOhlcMonitor(PartialStore):
    """Parquet-backed, incrementally-maintained weekly candle ledger."""

    schema = _PARTIAL_SCHEMA
    reduce = staticmethod(ohlc_partials)
    merge = staticmethod(_merge_partial_rows)

    def current(self) -> DataFrame:
        """(wk, n_events, open_v, high_v, low_v, close_v) over
        everything ingested so far — identical columns and values to
        the batch ``timeseries_ohlc_weekly``."""
        m = self.merged()
        return m.select(
            "wk",
            "n_events",
            F.col("o_v").alias("open_v"),
            "high_v",
            "low_v",
            F.col("c_v").alias("close_v"),
        ).orderBy("wk")
