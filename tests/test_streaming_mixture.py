"""Continuous mixture monitor: streamed water-filling equals the
batch query bit-for-bit, replay is idempotent, and a flooding source
gets capped while small sources pass through."""

from __future__ import annotations

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.registry import load_all
from redis_events_to_clickhouse_tables_spark.sources.tables import table
from redis_events_to_clickhouse_tables_spark.streaming.mixture import (
    ContinuousMixtureMonitor,
)
from redis_events_to_clickhouse_tables_spark.streaming.stream import start_batch_stream

from .conftest import SF_DIR


def _docs(spark):
    return table(spark, SF_DIR, "documents")


def _batch_alloc(spark):
    build = load_all()["pipeline_token_budget_waterfill"].build
    return sorted(tuple(r) for r in build(spark, SF_DIR).collect())


def test_streamed_waterfill_equals_batch_query(spark, tmp_path):
    docs = _docs(spark)
    input_dir = tmp_path / "docs_stream"
    docs.repartition(4).write.parquet(str(input_dir))

    mon = ContinuousMixtureMonitor(spark, tmp_path / "mix")
    q = start_batch_stream(
        spark,
        str(input_dir),
        docs.schema,
        mon.process_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert len(q.recentProgress) >= 4

    got = sorted(tuple(r) for r in mon.current().collect())
    assert got == _batch_alloc(spark)


def test_mixture_flood_caps_dominant_source(spark, tmp_path):
    docs = _docs(spark)
    mon = ContinuousMixtureMonitor(spark, tmp_path / "mix")
    mon.process_batch(docs, 0)
    base = {r["source"]: r for r in mon.current().collect()}

    # replay idempotence
    mon.process_batch(docs, 0)
    assert {r["source"]: r for r in mon.current().collect()} == base

    # one source floods with 100x the whole corpus's tokens
    total = sum(r["c_tokens"] for r in base.values())
    flood = docs.limit(1).select(
        "doc_id",
        F.expr(f"repeat('w ', {min(total // 10, 100_000)})").alias("text"),
        "lang",
        F.lit("floodsrc").alias("source"),
        "n_chars",
    )
    for b in range(1, 11):
        mon.process_batch(flood, b)
    mon.compact()
    cur = {r["source"]: r for r in mon.current().collect()}
    assert cur["floodsrc"]["keep_rate"] < 0.6  # the flood is capped
    small = [
        r
        for s, r in cur.items()
        if s != "floodsrc" and r["c_tokens"] <= r["lam_floor"]
    ]
    assert small and all(r["keep_rate"] == 1.0 for r in small)
