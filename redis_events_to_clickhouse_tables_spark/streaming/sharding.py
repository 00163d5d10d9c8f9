"""Streaming shard writer: hash-sharded training layout maintained as
documents arrive.

The batch reshard stage (operators/pipeline.py ``shard_manifest``)
assigns every document to one of 16 hash shards; this module is the
streaming half — each arriving micro-batch is written straight into
the sharded directory layout a distributed tokenizer/loader consumes,
so the training corpus is always shard-complete without a terminal
batch reshuffle pass.

Design (same doctrine as streaming/curation.py):

1. Shard assignment reuses the EXACT batch expression
   (md5-derived integer of the doc id, mod 16) — a document lands in
   the same shard whether it arrived by stream or by batch reshard,
   so the two paths are interchangeable mid-corpus.
2. Each micro-batch writes ``partitionBy(shard)`` into a per-batch
   subdirectory with overwrite semantics: offsets commit after
   foreachBatch returns, so a crash replays the batch onto itself —
   idempotent, exactly-once per document.
3. ``manifest()`` is merge-on-read: one hash-groupBy over the sharded
   files reproduces the batch ``shard_manifest`` columns; the parity
   test asserts equality against the batch query on the same corpus.

Scale: the per-batch write is a single narrow pass (the shard column
is per-row arithmetic; ``partitionBy`` splits files without a
shuffle), manifest aggregation is 16 rows at any corpus size, and
there is no cross-batch state — the stream sustains any rate the
filesystem absorbs. At 100 TB the per-batch subdirectories compact
into per-shard files on the maintenance schedule
(streaming/store.py ``compact``), which rewrites data but never
reassigns a shard.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from ..functions.hashing import md5_long

N_SHARDS = 16  # matches operators/pipeline.py _N_SHARDS

# Canonical corpus schema (the driver's documents table) plus the two
# layout columns this store appends. Used only to answer reads before
# the first batch lands; once files exist the on-disk schema wins.
EMPTY_LAYOUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("batch_tag", T.StringType()),
        T.StructField("shard", T.IntegerType()),
    ]
)


def shard_of(doc_id_col) -> F.Column:
    """The shared shard-assignment expression (batch == stream)."""
    return md5_long(F.col(doc_id_col).cast("string")) % N_SHARDS


class ShardStore:
    """Parquet-backed hash-sharded document layout."""

    def __init__(self, spark: SparkSession, root: str | os.PathLike):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def process_batch(self, docs: DataFrame, batch_id: int | None = None) -> None:
        """Write one micro-batch of documents into the sharded layout.

        The batch id is a partition column and the write runs under
        dynamic partition overwrite: a replayed batch replaces exactly
        its own (batch_tag=*) partitions and nothing else — idempotent
        without a per-batch directory that would break partition
        discovery over the whole layout.
        """
        tag = f"b{batch_id}" if batch_id is not None else "adhoc"
        (
            docs.withColumn("batch_tag", F.lit(tag))
            .withColumn("shard", shard_of("doc_id"))
            .write.mode("overwrite")
            # per-write option, not session conf: foreachBatch hands the
            # batch a CLONED session whose conf the store doesn't own
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_tag", "shard")
            .parquet(str(self.root))
        )

    def documents(self) -> DataFrame:
        """All sharded documents (merge-on-read over batch partitions).

        Before the first batch has been written there are no parquet
        files to infer a schema from, so (like ``TableStore.read``)
        return an empty frame with the canonical layout schema instead
        of letting the reader throw ``Unable to infer schema``.
        """
        if not any(self.root.rglob("*.parquet")):
            return self.spark.createDataFrame([], EMPTY_LAYOUT_SCHEMA)
        return self.spark.read.parquet(str(self.root))

    def manifest(self) -> DataFrame:
        """Per-shard volume stats — same columns as the batch
        ``shard_manifest`` query, computed off the sharded layout."""
        d = self.documents()
        return d.groupBy(F.col("shard").cast("long").alias("shard")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).alias(
                "total_tokens"
            ),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
