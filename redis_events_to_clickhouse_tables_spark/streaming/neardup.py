"""Streaming near-duplicate detection: an incremental MinHash-LSH index.

The batch near-dup stack (operators/dedup.py) answers "which documents
in this corpus are near-dups of each other". A training-data INGEST
pipeline needs the online form: as documents stream in, flag each new
document's near-dup candidates against everything seen so far, without
recomparing the history to itself. This module is that operator,
VERDICT r1 item 5: the streaming half of the dedup family beyond exact
``dropDuplicates`` (tests/test_streaming_window.py).

Shape (foreachBatch over any document stream):

1. Compute the micro-batch's MinHash band signatures
   (operators/dedup.py band_signatures — the same 16-hash/4-band
   pipeline as batch, so stream and batch agree exactly).
2. Join them against the persisted signature index on (band, bsig).
   The NEW side is a micro-batch — small by construction — so it
   broadcasts: the index is stream-scanned once per trigger and never
   shuffled. New-new collisions come from the same join by unioning
   the batch's own signatures into the probe side.
3. Emit each candidate pair once, ordered (doc_a < doc_b), when its
   LATER member arrives; append to the pairs output.
4. Append the batch's signatures to the index.

A pair therefore appears exactly once no matter how the corpus is
split into batches, and the union of all emissions equals the batch
pipeline's candidate set on the same corpus — the parity the test
asserts.

Scale notes: the index grows without bound BY DESIGN (global dedup
has unbounded state — the reference point is corpus-level, not
window-level; a time-bounded variant would watermark + TTL the index
exactly like ``dropDuplicates`` state). At 100 TB the index is a
bucketed table on (band, bsig) so each micro-batch's probe prunes to
colliding buckets instead of a full scan, and hot buckets are bounded
by the same stop-shingle/frequency-cap policy as the batch path.
State lives in parquet + the streaming checkpoint: offsets commit
after the foreachBatch completes, so a crash replays the batch. Each
batch writes its signatures and pairs to a per-batch subdirectory
with overwrite semantics, making the replay idempotent — and the
pair join stays correct even when the failed attempt's signatures
are already in the index, because a (new, new-already-indexed)
collision folds into the same (doc_a, doc_b) row the clean run
emits.
"""

from __future__ import annotations

import os
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import band_signatures

_SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("bsig", T.StringType()),
    ]
)


class NearDupIndex:
    """Parquet-backed incremental LSH index + candidate-pair log."""

    def __init__(self, spark: SparkSession, root: str | os.PathLike):
        self.spark = spark
        self.root = Path(root)
        self.sig_dir = self.root / "signatures"
        self.pairs_dir = self.root / "pairs"
        self.root.mkdir(parents=True, exist_ok=True)

    def _sigs(self) -> DataFrame:
        if not self.sig_dir.exists() or not any(self.sig_dir.rglob("*.parquet")):
            return self.spark.createDataFrame([], _SIG_SCHEMA)
        return (
            self.spark.read.schema(_SIG_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(str(self.sig_dir))
        )

    def pairs(self) -> DataFrame:
        """(doc_a, doc_b): all candidate pairs emitted so far."""
        if not self.pairs_dir.exists() or not any(self.pairs_dir.rglob("*.parquet")):
            return self.spark.createDataFrame([], "doc_a long, doc_b long")
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(str(self.pairs_dir))
            .select("doc_a", "doc_b")
        )

    def process_batch(self, docs: DataFrame, batch_id: int | None = None) -> None:
        """Index a micro-batch of (doc_id, text) rows and emit the new
        candidate pairs it creates."""
        new_sigs = band_signatures(docs).persist()
        try:
            if new_sigs.isEmpty():
                return
            # probe = history + this batch: one join finds both
            # new-old and new-new collisions. The new side is the
            # micro-batch — broadcast it; the index never shuffles.
            probe = self._sigs().unionByName(new_sigs)
            n = F.broadcast(
                new_sigs.select(
                    F.col("doc_id").alias("new_id"), "band", "bsig"
                )
            )
            pairs = (
                probe.join(n, ["band", "bsig"])
                .filter(F.col("doc_id") != F.col("new_id"))
                .select(
                    F.least("doc_id", "new_id").alias("doc_a"),
                    F.greatest("doc_id", "new_id").alias("doc_b"),
                    # the later-arriving member "discovers" the pair:
                    # old-new pairs surface once here; new-new pairs
                    # surface twice in this join and fold in distinct()
                )
                .distinct()
            )
            # old-old pairs were emitted when THEIR later member
            # arrived — the join can't produce them (both sides old
            # means neither is in the broadcast batch), so no
            # cross-batch anti-join is needed for exactly-once pairs.
            # Per-batch subdirs + overwrite make a checkpoint replay
            # of this batch idempotent (see module docstring).
            tag = f"b{batch_id}" if batch_id is not None else f"b{uuid.uuid4().hex[:8]}"
            pairs.write.mode("overwrite").parquet(str(self.pairs_dir / tag))
            new_sigs.write.mode("overwrite").parquet(str(self.sig_dir / tag))
        finally:
            new_sigs.unpersist()
