"""Continuous data-quality monitoring over the ingest stream.

The streaming counterpart of ``operators/quality_checks.py``: the
same constraint suite evaluated per micro-batch and maintained as a
per-day quality ledger, so a bad producer deploy shows up minutes
after it starts instead of in tomorrow's batch audit. (The reference
pipeline drops malformed events at ingest — `src/main.ts` routing
guard — but keeps no quality ledger; this is the observability layer
its operators ask for first.)

Shape — the same delta-partial discipline as ``rollup.py``:

1. Each micro-batch reduces to per-day counters (rows, per-rule
   violations) plus an HLL sketch of event_id. Counters are integer
   monoids; HLL sketches are a commutative monoid under union — so
   every column of the partial merges exactly and the ledger is
   idempotent under replay (PartialStore's batch-id overwrite).
2. ``current()`` merges partials with one bounded groupBy (keys =
   days) and derives the duplicate alarm as n_rows vs the merged
   sketch's distinct estimate — the only cross-batch uniqueness
   check that doesn't require shuffling every historical event_id
   per batch at 100 TB.
3. ``alerts()`` is the paging condition: days whose violation ratio
   or duplicate ratio crosses a threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partials import PartialStore

_KNOWN_TYPES = ("view", "click", "purchase", "signup", "error")

_PARTIAL_SCHEMA = (
    "event_day timestamp, n_rows long, n_null_user long, n_bad_type long,"
    " n_bad_value long, n_bad_ts long, id_sketch binary"
)

# Violation predicates, shared by the stream and the batch replica the
# parity test compares against.
_RULES = {
    "n_null_user": "user_id IS NULL",
    "n_bad_type": "event_type NOT IN ({})".format(
        ", ".join(f"'{t}'" for t in _KNOWN_TYPES)
    ),
    "n_bad_value": "value IS NULL OR value < 0",
    "n_bad_ts": "ts < TIMESTAMP '2000-01-01' OR ts >= TIMESTAMP '2100-01-01'",
}


def quality_partials(events: DataFrame) -> DataFrame:
    """Reduce an event frame to its mergeable per-day quality partial."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    aggs += [
        F.sum(F.when(F.expr(pred), 1).otherwise(0)).cast("long").alias(name)
        for name, pred in _RULES.items()
    ]
    aggs.append(F.hll_sketch_agg("event_id").alias("id_sketch"))
    return events.groupBy(
        F.to_date("ts").cast("timestamp").alias("event_day")
    ).agg(*aggs)


def _merge_partial_rows(partials: DataFrame) -> DataFrame:
    return partials.groupBy("event_day").agg(
        F.sum("n_rows").alias("n_rows"),
        *[F.sum(c).alias(c) for c in _RULES],
        F.hll_union_agg("id_sketch").alias("id_sketch"),
    )


class ContinuousQualityMonitor(PartialStore):
    """Parquet-backed, incrementally-maintained per-day quality ledger."""

    schema = _PARTIAL_SCHEMA
    reduce = staticmethod(quality_partials)
    merge = staticmethod(_merge_partial_rows)

    def current(self) -> DataFrame:
        """Merged per-day ledger with violation and duplicate ratios."""
        merged = self.merged()
        viol = sum(F.col(c) for c in _RULES)
        est = F.hll_sketch_estimate("id_sketch")
        return merged.select(
            "event_day",
            "n_rows",
            *_RULES,
            viol.alias("n_violations"),
            (viol.cast("double") / F.col("n_rows")).alias("violation_ratio"),
            est.alias("est_distinct_ids"),
            (
                (F.col("n_rows") - est).cast("double") / F.col("n_rows")
            ).alias("dup_ratio"),
        )

    def alerts(
        self, max_violation_ratio: float = 0.01, max_dup_ratio: float = 0.05
    ) -> DataFrame:
        """Days that should page: violation or duplicate ratio above
        threshold (dup threshold must exceed HLL relative error)."""
        cur = self.current()
        return cur.filter(
            (F.col("violation_ratio") > max_violation_ratio)
            | (F.col("dup_ratio") > max_dup_ratio)
        )
