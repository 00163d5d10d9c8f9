"""Streaming curation: per-document quality verdicts as documents
arrive.

The batch curation stack (operators/pipeline.py) scores a finished
corpus; an INGEST pipeline wants the online form — every incoming
document scored for benchmark contamination, internal repetition, and
Gopher-rule quality the moment it lands, so contaminated or spammy
documents never reach the training shards. This module is that operator, composing the
exact batch scoring code inside ``foreachBatch``:

1. The benchmark n-gram set is built ONCE, up front, from the known
   eval suite (operators/pipeline.py ``bench_ngram_set``) — in
   production it's a published artifact, not derived from the stream.
2. Each micro-batch runs ``contamination_scores`` (probe the
   broadcast bench set) and ``repetition_scores`` (stateless per-row
   HOFs) — the same functions the batch queries call, so stream and
   batch verdicts agree exactly by construction; the parity test
   asserts it empirically across micro-batch splits.
3. Verdicts append to a per-batch subdirectory with overwrite
   semantics: offsets commit after the foreachBatch completes, so a
   crash replays the batch and the replay overwrites its own output
   — idempotent, exactly-once per document.

Scale notes: both scorers are stateless per document (contamination's
only aggregation is per-doc within the micro-batch), so unlike the
near-dup index (streaming/neardup.py) there is NO growing state — the
stream sustains any rate the sink can absorb, and the bench broadcast
is the only shared structure (rebuilt per batch from a
broadcast-sized frame; at a 100-TB bench suite you'd persist the
hash set as a bucketed table and bloom-prefilter instead).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..operators.pipeline import contamination_scores, repetition_scores
from ..operators.text import gopher_scores


class CurationLog:
    """Parquet-backed log of per-document curation verdicts."""

    def __init__(self, spark: SparkSession, root: str | os.PathLike, bench: DataFrame):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        # the static side of every stream-static probe; tiny -> cache
        self.bench = bench.cache()

    def verdicts(self) -> DataFrame:
        if not any(self.root.rglob("*.parquet")):
            return self.spark.createDataFrame(
                [],
                "doc_id long, n_ngrams long, n_hits long, overlap_share double,"
                " contaminated boolean, n_bigrams int, n_distinct int,"
                " dup_fraction double, keep boolean, n_words long,"
                " mean_word_len double, alpha_word_frac double,"
                " n_stop_hits long, rule_word_count int,"
                " rule_mean_word_len int, rule_alpha_words int,"
                " rule_stopwords int, keep_gopher int",
            )
        return self.spark.read.option("recursiveFileLookup", "true").parquet(
            str(self.root)
        )

    def process_batch(self, docs: DataFrame, batch_id: int | None = None) -> None:
        """Score one micro-batch of (doc_id, text) rows and append the
        verdicts. Pure function of the batch + the static bench set —
        no cross-batch state, so any split of the corpus into batches
        yields the same union of verdicts."""
        contam = contamination_scores(docs, self.bench)
        rep = repetition_scores(docs)
        gopher = gopher_scores(docs)
        verdict = contam.join(rep, "doc_id").join(gopher, "doc_id")
        tag = f"b{batch_id}" if batch_id is not None else "adhoc"
        verdict.write.mode("overwrite").parquet(str(self.root / tag))
