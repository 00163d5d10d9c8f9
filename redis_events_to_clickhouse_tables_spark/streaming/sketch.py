"""Continuous count-min sketch: streaming-maintained key-frequency
estimates.

The streaming face of ``sketch_countmin_user_counts``
(operators/advanced.py): count-min cells are integer counters indexed
by (hash row, bucket), and counters merge by addition — so each
micro-batch reduces to its own 4x256-cell partial and the live sketch
is the cell-wise sum of all partials. Storage, replay idempotence and
crash-safe compaction come from the shared
:class:`~..streaming.partials.PartialStore`; the batch-vs-stream
parity test pins that the streamed sketch is BIT-IDENTICAL to the
one-pass batch sketch, so every estimate downstream agrees too.

At 100 TB the partial per batch is ~1 KB regardless of batch size —
the whole point of sketching the stream instead of re-counting it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.advanced import _cm_probe_array, countmin_cells
from .partials import PartialStore

_CELL_SCHEMA = "d int, bucket long, c long"
# candidate keys are stored in their canonical hash-input form (the
# string cast every probe applies), so one schema fits any key type
_CAND_SCHEMA = "key string"


def _merge_cells(partials: DataFrame) -> DataFrame:
    return partials.groupBy("d", "bucket").agg(F.sum("c").alias("c"))


def _merge_cands(partials: DataFrame) -> DataFrame:
    return partials.distinct()


class ContinuousCountMin:
    """Parquet-backed incrementally-maintained count-min sketch."""

    def __init__(
        self,
        spark: SparkSession,
        root: str | os.PathLike,
        key_col: str,
        candidate_floor: int | None = None,
    ):
        self.spark = spark
        self.key_col = key_col
        self.store = PartialStore(spark, root, _CELL_SCHEMA, _merge_cells)
        # heavy-hitter candidate tracking: keep keys whose WITHIN-BATCH
        # count reaches the floor (see heavy_hitters for the guarantee)
        self.candidate_floor = candidate_floor
        self.cands = (
            PartialStore(
                spark,
                self.store.root.with_name(self.store.root.name + "-cands"),
                _CAND_SCHEMA,
                _merge_cands,
            )
            if candidate_floor is not None
            else None
        )

    def cells(self) -> DataFrame:
        """The merged sketch as of the last completed batch."""
        return _merge_cells(self.store.read())

    def estimate(self, keys: DataFrame) -> DataFrame:
        """Frequency estimate for each distinct key in ``keys`` (a
        one-column frame named ``key_col``): min over hash rows of the
        key's cell counts — the classic count-min point query, served
        from a ~1 KB broadcast. A probe that misses its cell means the
        true count hashing there is 0, so the null from the left join
        coalesces to 0 BEFORE the min (a key never inserted estimates
        0 even when its other probes collide with hot cells)."""
        probes = keys.select(
            self.key_col, _cm_probe_array(self.key_col).alias("x")
        ).select(self.key_col, "x.d", "x.bucket")
        return (
            probes.join(F.broadcast(self.cells()), ["d", "bucket"], "left")
            .groupBy(self.key_col)
            .agg(
                F.min(F.coalesce(F.col("c"), F.lit(0)))
                .cast("long")
                .alias("cm_estimate")
            )
        )

    def process_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        """Reduce one micro-batch to its cell partial (plus, when
        candidate tracking is on, the batch's candidate keys).
        Replay-idempotent, including replays racing a compaction
        (PartialStore skips batches the compacted run already folded)."""
        self.store.write(countmin_cells(batch, self.key_col), batch_id)
        if self.cands is not None:
            cands = (
                batch.groupBy(self.key_col)
                .agg(F.count(F.lit(1)).alias("c"))
                .filter(F.col("c") >= self.candidate_floor)
                .select(F.col(self.key_col).cast("string").alias("key"))
            )
            self.cands.write(cands, batch_id)

    def heavy_hitters(self, threshold: int) -> DataFrame:
        """Keys whose sketch estimate exceeds ``threshold``, drawn from
        the tracked candidate set. Keys come back as ``key_col`` in
        canonical string form (the hash-input representation — works
        for any key type, numeric or not).

        Guarantee (pigeonhole): a key with TRUE total count >
        ``threshold`` across ``n`` batches exceeded ``threshold / n``
        in at least one batch, so with
        ``candidate_floor <= threshold / n_batches`` every true heavy
        hitter is in the candidate set; count-min never undercounts,
        so none is filtered out — no false negatives, and false
        positives are bounded by the sketch's overcount. The candidate
        partials stay tiny (only keys already hot within one batch).
        """
        if self.cands is None:
            raise ValueError("construct with candidate_floor to track candidates")
        keys = self.cands.read().distinct()
        est = self.estimate(keys.select(F.col("key").alias(self.key_col)))
        return est.filter(F.col("cm_estimate") > threshold)

    def compact(self) -> None:
        """Fold all live partials into one compacted run (crash-safe;
        see PartialStore)."""
        self.store.compact()
        if self.cands is not None:
            self.cands.compact()


# --------------------------------------------------------------------
# Continuous distinct-count sketch (HyperLogLog partials)
# --------------------------------------------------------------------

_HLL_SCHEMA = "week timestamp, event_day timestamp, sk binary"


def _merge_hll(partials: DataFrame) -> DataFrame:
    return partials.groupBy("week", "event_day").agg(
        F.hll_union_agg("sk").alias("sk")
    )


class ContinuousDistinct(PartialStore):
    """Streaming-maintained distinct-user counts: per-(week, day)
    HyperLogLog sketches, merged upward on read.

    The streaming face of ``sketch_hll_mergeable_rollup``
    (operators/advanced.py): HLL registers merge by element-wise MAX,
    an idempotent commutative monoid — so a micro-batch's sketch
    unions losslessly into the day's sketch, a replayed batch unions
    the SAME registers and changes nothing (idempotence beyond what
    PartialStore's overwrite already guarantees), and weekly
    estimates come from ``hll_union_agg`` over daily sketches without
    rescanning events. The parity test pins the mergeability law the
    batch query asserts as its ``merge_equals_direct`` invariant:
    merging incrementally-built daily sketches yields the identical
    estimate to sketching the raw week in one pass.

    At 100 TB the partial per batch is #days x ~4 KB regardless of
    batch size.
    """

    schema = _HLL_SCHEMA
    merge = staticmethod(_merge_hll)

    @staticmethod
    def reduce(events: DataFrame) -> DataFrame:
        return events.groupBy(
            F.date_trunc("week", "ts").alias("week"),
            F.to_date("ts").cast("timestamp").alias("event_day"),
        ).agg(F.hll_sketch_agg("user_id").alias("sk"))

    def daily(self) -> DataFrame:
        """(week, event_day, est_users) from merged daily sketches."""
        return self.merged().select(
            "week",
            "event_day",
            F.hll_sketch_estimate("sk").alias("est_users"),
        )

    def weekly(self) -> DataFrame:
        """(week, est_users) by unioning the maintained daily sketches."""
        return (
            self.merged()
            .groupBy("week")
            .agg(
                F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                    "est_users"
                )
            )
        )
