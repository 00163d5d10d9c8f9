"""Streaming incremental MinHash-LSH near-dup: batch-vs-stream parity.

The batch pipeline (operators/dedup.py) and the streaming incremental
index (streaming/neardup.py) share the banding code, so the union of
per-batch pair emissions must equal the batch candidate set on the
same corpus regardless of how it is split into micro-batches.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.operators.dedup import (
    _lsh_candidate_pairs,
)
from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.neardup import (
    NearDupIndex,
)
from redis_events_to_clickhouse_tables_spark.streaming.stream import start_batch_stream

from .conftest import SF_DIR


def test_streaming_neardup_matches_batch(spark, tmp_path):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    input_dir = tmp_path / "docs_stream"
    docs.repartition(3).write.parquet(str(input_dir))

    index = NearDupIndex(spark, tmp_path / "nd_index")
    q = start_batch_stream(
        spark,
        str(input_dir),
        docs.schema,
        index.process_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 3

    got = {(r["doc_a"], r["doc_b"]) for r in index.pairs().collect()}
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in _lsh_candidate_pairs(spark, SF_DIR).collect()
    }
    assert got == expected
    # exactly-once emission: no pair appears in two batches' outputs
    assert index.pairs().count() == len(got)


def test_neardup_batch_replay_is_idempotent(spark, tmp_path):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") < 60)
    b2 = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120))
    index = NearDupIndex(spark, tmp_path / "nd_index")
    index.process_batch(b1, 0)
    index.process_batch(b2, 1)
    before = sorted(
        (r["doc_a"], r["doc_b"]) for r in index.pairs().collect()
    )
    index.process_batch(b2, 1)  # crash-replay of the last batch
    after = sorted((r["doc_a"], r["doc_b"]) for r in index.pairs().collect())
    assert after == before
