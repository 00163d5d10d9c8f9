"""Streaming curation verdicts: batch-vs-stream parity.

The streaming curation log (streaming/curation.py) calls the same
scoring functions as the registered batch queries, so the union of
per-micro-batch verdicts must equal the batch results on the same
corpus no matter how it is split into batches.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.operators.pipeline import (
    _BENCH_MOD,
    bench_ngram_set,
    contamination_scores,
    repetition_scores,
)
from redis_events_to_clickhouse_tables_spark.operators.text import gopher_scores
from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.curation import (
    CurationLog,
)
from redis_events_to_clickhouse_tables_spark.streaming.stream import start_batch_stream

from .conftest import SF_DIR


def _train_docs(spark):
    return (
        table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % _BENCH_MOD != 0)
    )


def _batch_expected(spark):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    bench = bench_ngram_set(docs)
    train = _train_docs(spark)
    return (
        contamination_scores(train, bench)
        .join(repetition_scores(train), "doc_id")
        .join(gopher_scores(train), "doc_id")
    )


def test_streaming_curation_matches_batch(spark, tmp_path):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    input_dir = tmp_path / "docs_stream"
    _train_docs(spark).repartition(3).write.parquet(str(input_dir))

    log = CurationLog(spark, tmp_path / "verdicts", bench_ngram_set(docs))
    q = start_batch_stream(
        spark,
        str(input_dir),
        docs.schema,
        log.process_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 3

    got = {tuple(r) for r in log.verdicts().collect()}
    expected = {tuple(r) for r in _batch_expected(spark).collect()}
    assert got == expected
    # exactly-once: each doc is scored in exactly one micro-batch
    assert log.verdicts().count() == len(got)


def test_curation_replay_is_idempotent(spark, tmp_path):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    train = _train_docs(spark)
    b1 = train.filter(F.col("doc_id") < 60)
    b2 = train.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 120))
    log = CurationLog(spark, tmp_path / "verdicts", bench_ngram_set(docs))
    log.process_batch(b1, 0)
    log.process_batch(b2, 1)
    before = sorted(tuple(r) for r in log.verdicts().collect())
    log.process_batch(b2, 1)  # checkpoint replay of the same batch
    after = sorted(tuple(r) for r in log.verdicts().collect())
    assert before == after
