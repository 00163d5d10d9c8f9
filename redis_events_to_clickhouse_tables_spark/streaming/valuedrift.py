"""Continuous value-distribution drift (PSI) over an orders stream.

The streaming counterpart of ``operators/drift.py``'s Population
Stability Index: each micro-batch of arriving orders reduces to
per-(price-bucket, side) counts — an integer monoid, so the ledger
merges exactly and replay is idempotent (PartialStore's batch-id
overwrite) — and ``current()`` recomputes the PSI between the
pre-split and post-split value distributions over EVERYTHING ingested
so far. A stream whose value mix shifts mid-ingest (a pricing change,
a partner feed going bad) moves ``psi`` within minutes — the
model-monitoring alarm that otherwise waits for the nightly batch.

Shape notes:
- the partial is bucket-sized per batch (~120 rows), so the ledger
  grows with the bucket grid, not the stream;
- ``current()`` reuses ``operators.drift.psi_from_counts`` verbatim —
  the BATCH query and the stream share one algebra, which is what the
  parity test pins (stream result == batch query result,
  bit-for-bit, because partial merge is exact integer addition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.drift import _PSI_BUCKET_CENTS, _PSI_SPLIT, psi_from_counts
from .partials import PartialStore

_PARTIAL_SCHEMA = "bucket long, ca long, cb long"


def psi_count_partials(orders: DataFrame) -> DataFrame:
    """Reduce an orders frame to its mergeable (bucket, ca, cb)
    partial (same bucket grid and date split as
    ``stats_psi_price_drift``)."""
    b = orders.select(
        F.expr(
            f"cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"
            f" div {_PSI_BUCKET_CENTS}"
        ).alias("bucket"),
        F.when(F.col("o_orderdate") < F.lit(_PSI_SPLIT).cast("date"), 1)
        .otherwise(0)
        .alias("ia"),
    )
    return b.groupBy("bucket").agg(
        F.sum("ia").cast("long").alias("ca"),
        (F.count(F.lit(1)) - F.sum("ia")).cast("long").alias("cb"),
    )


def _merge_partial_rows(partials: DataFrame) -> DataFrame:
    return partials.groupBy("bucket").agg(
        F.sum("ca").cast("long").alias("ca"),
        F.sum("cb").cast("long").alias("cb"),
    )


class ContinuousValueDriftMonitor(PartialStore):
    """Parquet-backed, incrementally-maintained price-bucket ledger
    with a PSI drift readout."""

    schema = _PARTIAL_SCHEMA
    reduce = staticmethod(psi_count_partials)
    merge = staticmethod(_merge_partial_rows)

    def counts(self) -> DataFrame:
        """Merged (bucket, ca, cb) ledger."""
        return self.merged()

    def current(self) -> DataFrame:
        """(n_buckets, n_a, n_b, psi_bits, psi) over everything
        ingested so far — identical algebra to the batch
        ``stats_psi_price_drift``."""
        return psi_from_counts(self.counts())
