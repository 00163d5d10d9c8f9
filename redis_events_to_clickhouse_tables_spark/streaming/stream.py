"""Structured-Streaming wrapper around the ingest engine (B1-B5, E5/E6).

The reference's flow-control machinery maps onto the streaming
harness (SURVEY §2.5):

- B1 micro-batch trigger  -> ``trigger(processingTime=...)`` /
  ``availableNow`` (the interval tick, src/main.ts:670-673)
- B2 single-flight        -> guaranteed: one micro-batch at a time
- B3 bounded buffer       -> ``maxFilesPerTrigger`` source rate limit
- B5/E5/E6 watchdog + re-enqueue -> checkpointing: source offsets are
  committed only after the batch succeeds, so a crash replays the
  batch instead of losing it (at-least-once, same as the reference)

The file source stands in for the Redis Bull queue (the driver
environment has no Redis); ``sources/redis_bull.py`` documents the
drop-in real source.

``start_batch_stream`` is the same harness for the Layer-B monitors
(rollup, sketches, drift, quality, curation, sharding, ...): a parquet
file stream handed micro-batch by micro-batch to a replay-idempotent
``process(batch, batch_id)``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..config import IngestConfig
from .ingest import IngestEngine
from .store import TableStore

# One file per micro-batch: a backlog of N files drains as N
# incremental batches, which is what the batch-parity tests exercise.
FILES_PER_TRIGGER = 1


def start_file_ingest(
    spark: SparkSession,
    input_path: str,
    store: TableStore,
    config: IngestConfig | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream JSONL event files from ``input_path`` into the store.

    One event per line (the shape of the reference's ``job.data``).
    """
    engine = IngestEngine(spark, store, config)
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(input_path)

    writer = raw.writeStream.foreachBatch(
        lambda batch_df, batch_id: engine.process_raw_batch(batch_df, batch_id)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=available_now)
    return writer.start()


def start_batch_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Stream parquet files from ``input_dir`` through
    ``process(batch, batch_id)`` (typically a monitor's
    ``process_batch``), one file per micro-batch.

    Offsets commit to ``checkpoint_dir`` only after ``process``
    returns, so a crash replays the batch under the same id and the
    idempotent sink absorbs it. ``availableNow`` drains the backlog in
    bounded micro-batches then stops; a live deployment drops that
    trigger and runs continuously off the same checkpoint.
    """
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(input_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
