"""Continuous mixture-allocation monitoring over a documents stream.

The streaming counterpart of ``operators/pipeline.py``'s water-filling
budget allocator: each micro-batch of arriving documents reduces to
per-source token counts — an integer monoid, so the ledger merges
exactly and replay is idempotent (PartialStore's batch-id overwrite) —
and ``current()`` recomputes the exact water-filling allocation of the
50% token budget over EVERYTHING ingested so far. As a dominant crawl
source floods in, its ``keep_rate`` visibly sinks while small sources
stay at 1.0 — the adaptive mixture rebalancing a 100-TB ingest wants
to watch live rather than recompute from scratch nightly.

``current()`` reuses ``operators.pipeline.waterfill_from_counts``
verbatim — stream and batch share one algebra, pinned bit-for-bit by
the parity test (exact integer partials make the equality exact, not
approximate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.pipeline import waterfill_from_counts
from .partials import PartialStore

_PARTIAL_SCHEMA = "source string, c long"


def token_count_partials(docs: DataFrame) -> DataFrame:
    """Reduce a documents frame to its mergeable (source, c) partial —
    the same whitespace token count as the batch allocator."""
    return docs.groupBy("source").agg(
        F.sum(F.size(F.filter(F.split("text", " "), lambda x: x != "")))
        .cast("long")
        .alias("c")
    )


def _merge_partial_rows(partials: DataFrame) -> DataFrame:
    return partials.groupBy("source").agg(
        F.sum("c").cast("long").alias("c")
    )


class ContinuousMixtureMonitor(PartialStore):
    """Parquet-backed, incrementally-maintained per-source token
    ledger with a live water-filling allocation readout."""

    schema = _PARTIAL_SCHEMA
    reduce = staticmethod(token_count_partials)
    merge = staticmethod(_merge_partial_rows)

    def counts(self) -> DataFrame:
        """Merged (source, c) ledger."""
        return self.merged()

    def current(self) -> DataFrame:
        """Exact water-filling allocation over everything ingested so
        far — identical algebra to ``pipeline_token_budget_waterfill``."""
        return waterfill_from_counts(self.counts())
