"""Streaming shard writer: batch-vs-stream parity.

The streaming shard layout (streaming/sharding.py) uses the same
hash-shard assignment as the registered ``shard_manifest`` batch
query, so the merge-on-read manifest over the streamed layout must
equal the batch manifest on the same corpus regardless of how the
stream splits it into micro-batches.
"""

from __future__ import annotations

from redis_events_to_clickhouse_tables_spark.operators.pipeline import shard_manifest
from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.sharding import (
    N_SHARDS,
    ShardStore,
)
from redis_events_to_clickhouse_tables_spark.streaming.stream import start_batch_stream

from .conftest import SF_DIR


def test_streaming_shards_match_batch_manifest(spark, tmp_path):
    docs = table(spark, SF_DIR, "documents")
    input_dir = tmp_path / "docs_stream"
    docs.repartition(3).write.parquet(str(input_dir))

    store = ShardStore(spark, tmp_path / "shards")
    q = start_batch_stream(
        spark,
        str(input_dir),
        docs.schema,
        store.process_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 3

    got = {
        r["shard"]: (
            r["n_docs"],
            r["total_chars"],
            r["total_tokens"],
            r["min_doc_id"],
            r["max_doc_id"],
        )
        for r in store.manifest().collect()
    }
    expected = {
        r["shard"]: (
            r["n_docs"],
            r["total_chars"],
            r["total_tokens"],
            r["min_doc_id"],
            r["max_doc_id"],
        )
        for r in shard_manifest(spark, SF_DIR).collect()
    }
    assert got == expected
    assert set(got) <= set(range(N_SHARDS))

    # every document landed in exactly one shard file, none duplicated
    assert store.documents().count() == docs.count()
    assert store.documents().select("doc_id").distinct().count() == docs.count()
