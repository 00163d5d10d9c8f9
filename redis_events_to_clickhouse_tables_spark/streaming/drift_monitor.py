"""Continuously-maintained Page-Hinkley drift monitor over an events
stream.

The streaming counterpart of ``operators/stats2.py``'s
``stats_page_hinkley_daily``: each micro-batch reduces to per-day
exact cent sums — a COUNTER monoid (integer addition; splitting
events across batches in any order folds to the same ledger), stored
in the shared :class:`PartialStore` with its replay-idempotent /
crash-safe-compaction contract — and ``current()`` re-derives the
whole detector trace with the SAME ``page_hinkley_from_daily``
algebra as the batch query, bit-for-bit.

Late data is handled by construction: a late event adds into its
day's cell, and because the detector is an exact replay over the
ledger (the global mean, the cumulative deviation, and the running
minimum all re-derive), the correction propagates through every
downstream day — the case an online PH accumulator gets permanently
wrong once its running min has passed.

Shape notes for 100 TB: per-batch partials are |days touched| rows;
the ledger is bounded by the calendar (compaction folds batch
partials), and the rebuild costs exactly the batch query: two
bucketed prefix scans over the day frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import dec
from ..operators.stats2 import page_hinkley_from_daily
from .partials import PartialStore

_PARTIAL_SCHEMA = "d long, x long"


def daily_cents_partials(events: DataFrame) -> DataFrame:
    """Reduce an events frame to per-day exact cent sums."""
    cents = F.round(dec("value", 10) * 100).cast("long")
    return events.groupBy(
        F.expr("datediff(to_date(ts), date'1970-01-01')").alias("d")
    ).agg(F.sum(cents).cast("long").alias("x"))


def _merge(partials: DataFrame) -> DataFrame:
    # counter monoid: integer addition over the day key
    return partials.groupBy("d").agg(F.sum("x").cast("long").alias("x"))


class ContinuousPageHinkley(PartialStore):
    """Parquet-backed daily-cents ledger with a Page-Hinkley readout
    identical to the batch algebra."""

    schema = _PARTIAL_SCHEMA
    reduce = staticmethod(daily_cents_partials)
    merge = staticmethod(_merge)

    def daily(self) -> DataFrame:
        """Merged ledger: one (d, x) row per day seen so far."""
        return self.merged()

    def current(self) -> DataFrame:
        """The Page-Hinkley trace over everything ingested so far —
        identical algebra (and bit-identical output) to the batch
        ``stats_page_hinkley_daily``."""
        return page_hinkley_from_daily(self.spark, self.daily())
