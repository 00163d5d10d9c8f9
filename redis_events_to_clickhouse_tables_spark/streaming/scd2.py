"""Continuously-maintained type-2 dimension over an events stream.

The streaming counterpart of ``operators/scd.py``: each micro-batch
reduces to per-(user, month) spend in CENTS — an integer monoid, so
ledger merge is exact addition and replay is idempotent under
PartialStore's watermark discipline — and ``current()`` rebuilds the
SCD2 interval frame from the merged ledger with the SAME
``history_from_monthly`` algebra as the batch query. Parity is
bit-for-bit (integer cents sum exactly; /100 back to DECIMAL(14,2)
is exact), which is what the test pins.

A late event for an old month does the right thing by construction:
it lands in that month's cell, and the rebuild re-derives any
interval boundaries the revision moved — the "type-2 corrections"
problem that imperative SCD maintainers get wrong.

Shape notes for 100 TB: the per-batch partial is |users x months
touched in the batch| rows; the rebuild groups by user (no global
window — every window in ``history_from_monthly`` is partitioned by
user_id). The ledger grows with touched (user, month) cells, folded
by periodic compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import dec
from ..operators.scd import history_from_monthly
from .partials import PartialStore

_PARTIAL_SCHEMA = "user_id long, month timestamp, cents long"


def scd2_spend_partials(events: DataFrame) -> DataFrame:
    """Reduce an events frame to its mergeable (user, month, cents)
    partial — cents = 100 x the exact decimal spend, so partial
    addition commutes with the batch query's decimal sum."""
    return events.groupBy(
        "user_id", F.date_trunc("month", "ts").alias("month")
    ).agg(
        F.sum((dec("value", 14) * 100).cast("long")).cast("long").alias("cents")
    )


def _merge(partials: DataFrame) -> DataFrame:
    return partials.groupBy("user_id", "month").agg(
        F.sum("cents").cast("long").alias("cents")
    )


class ContinuousScd2Dimension(PartialStore):
    """Parquet-backed (user, month, cents) ledger with an SCD2
    interval readout identical to the batch algebra."""

    schema = _PARTIAL_SCHEMA
    reduce = staticmethod(scd2_spend_partials)
    merge = staticmethod(_merge)

    def monthly(self) -> DataFrame:
        """Merged ledger as (user_id, month, mv DECIMAL(14,2))."""
        return self.merged().select(
            "user_id",
            "month",
            (F.col("cents").cast("decimal(16,0)") / 100)
            .cast("decimal(14,2)")
            .alias("mv"),
        )

    def current(self) -> DataFrame:
        """The type-2 interval frame over everything ingested so far —
        identical algebra (and bit-identical output) to the batch
        ``scd2_user_tier_history``."""
        return history_from_monthly(self.monthly())
