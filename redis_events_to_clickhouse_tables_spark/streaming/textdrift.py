"""Continuous corpus-drift monitoring over a documents stream.

The streaming counterpart of ``operators/textstats.py``'s
Jensen-Shannon divergence: each micro-batch of arriving documents
reduces to per-(group, character) counts — an integer monoid, so the
ledger merges exactly and replay is idempotent (PartialStore's
batch-id overwrite) — and ``current()`` recomputes the JSD between
the English and non-English character distributions over EVERYTHING
ingested so far. A corpus whose language mix (or encoding health)
shifts mid-ingest shows up as a moving ``jsd_bits`` within minutes,
the drift alarm a 100-TB crawl pipeline wants long before training.

Shape notes:
- the partial is alphabet-sized per batch (|groups| x |chars| rows),
  so the ledger grows with the alphabet, not the corpus;
- ``current()`` reuses ``operators.textstats.jsd_from_counts``
  verbatim — the BATCH query and the stream share one algebra, which
  is what the parity test pins (stream result == batch query result,
  bit-for-bit, because partial merge is exact integer addition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.textstats import jsd_from_counts
from .partials import PartialStore

_PARTIAL_SCHEMA = "grp int, ch string, c long"


def char_count_partials(docs: DataFrame) -> DataFrame:
    """Reduce a documents frame to its mergeable (grp, ch, c) partial
    (grp 0 = English, 1 = everything else — the same split as
    ``text_js_divergence_en_rest``)."""
    return (
        docs.filter(F.length("text") > 0)
        .select(
            F.when(F.col("lang") == "en", 0).otherwise(1).alias("grp"),
            F.explode(F.split("text", "")).alias("ch"),
        )
        .groupBy("grp", "ch")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def _merge_partial_rows(partials: DataFrame) -> DataFrame:
    return partials.groupBy("grp", "ch").agg(
        F.sum("c").cast("long").alias("c")
    )


class ContinuousTextDriftMonitor(PartialStore):
    """Parquet-backed, incrementally-maintained char-distribution
    ledger with a JSD drift readout."""

    schema = _PARTIAL_SCHEMA
    reduce = staticmethod(char_count_partials)
    merge = staticmethod(_merge_partial_rows)

    def counts(self) -> DataFrame:
        """Merged (grp, ch, c) ledger."""
        return self.merged()

    def current(self) -> DataFrame:
        """(n_chars, jsd_bits) over everything ingested so far —
        identical algebra to the batch ``text_js_divergence_en_rest``."""
        return jsd_from_counts(self.counts())
