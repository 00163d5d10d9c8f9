"""Continuously-maintained retention curve over an events stream.

The streaming counterpart of ``operators/events.py``'s
``events_retention_halflife``: each micro-batch reduces to the set of
(user_id, day) ACTIVITY CELLS it touched — a set-union monoid (the
partial row carries a constant 1; merge is a distinct/max fold, so
the ledger is insensitive to how events split across batches AND to
double-delivery inside a batch), and ``current()`` re-derives the
whole retention table + half-life with the SAME
``retention_from_activity`` algebra as the batch query, bit-for-bit.

A late event does the right thing by construction: it lands in its
(user, day) cell; if it pushes a user's FIRST day earlier, the
rebuild re-bases that user's whole retention contribution — the
cohort-revision case imperative retention counters get wrong.

Shape notes for 100 TB: the per-batch partial is |distinct (user,
day) cells touched| rows (bounded by the batch, typically far
smaller); the rebuild is one distinct fold plus the batch query's own
aggregates (a per-user min and a 14-row broadcast k-frame). The
ledger grows with distinct activity cells — users x active days, the
same cardinality the batch query's first aggregate shuffles — folded
by periodic compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partials import PartialStore

_PARTIAL_SCHEMA = "user_id long, d date, one int"


def activity_partials(events: DataFrame) -> DataFrame:
    """Reduce an events frame to its (user, day) activity cells."""
    return (
        events.filter(F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .withColumn("one", F.lit(1).cast("int"))
    )


def _merge(partials: DataFrame) -> DataFrame:
    # set-union monoid: a cell is present or not; max() folds
    # duplicates from any batch split or replay into one row.
    return partials.groupBy("user_id", "d").agg(
        F.max("one").cast("int").alias("one")
    )


class ContinuousRetention(PartialStore):
    """Parquet-backed (user, day) activity ledger with a retention
    readout identical to the batch algebra."""

    schema = _PARTIAL_SCHEMA
    reduce = staticmethod(activity_partials)
    merge = staticmethod(_merge)

    def activity(self) -> DataFrame:
        """Merged ledger as distinct (user_id, d) activity cells."""
        return self.merged().select("user_id", "d")

    def current(self) -> DataFrame:
        """The retention-curve frame over everything ingested so far —
        identical algebra (and bit-identical output) to the batch
        ``events_retention_halflife``."""
        from ..operators.events import retention_from_activity

        return retention_from_activity(self.spark, self.activity())
