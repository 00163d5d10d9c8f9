"""Worker entrypoint — the reference's ``src/main.ts`` equivalent.

``python -m redis_events_to_clickhouse_tables_spark`` starts a
long-running ingestion worker: config from the reference's env-var
surface (IngestConfig.from_env), a streaming source feeding the
micro-batch engine, and graceful SIGTERM/SIGINT shutdown (the
reference re-enqueues in-memory events on exit, src/main.ts:678-744;
here query.stop() suffices — checkpointed offsets only commit after a
batch succeeds, so nothing is ever in-memory-only).

Environment:
- ``INGEST_INPUT_PATH``   (required) JSONL event directory to stream
- ``INGEST_WAREHOUSE``    (required) table-store root directory
- ``INGEST_CHECKPOINT``   (default <warehouse>/_checkpoint)
- ``BULK_REPEAT_INTERVAL_SEC`` micro-batch trigger period
  (reference .env.sample:28; default 5, same as the sample)
- ``TAKE_UP_TO_PER_BATCH``  max files per trigger (the closest Spark
  rate-limit analog of the reference's batch cap, .env.sample:32)
- ``WATCH_DOG_MAX_INACTIVITY_SEC`` B5 stall watchdog: a query silent
  for this long (no progress/idle event — a hung batch) is stopped
  and rebuilt from its checkpoint, replaying the uncommitted batch
  (reference src/main.ts:551-644; default 300, 0 disables)
- ``COMPACT_EVERY_SEC`` periodic small-file compaction of every store
  table (scale maintenance; default 0 = disabled)
- plus the IngestConfig.from_env surface (flatten flags, routing key,
  non-critical types, altered-column-nullable flag)
"""

from __future__ import annotations

import os
import signal
import sys
import threading
import time

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from .config import IngestConfig
from .session import get_spark
from .streaming.store import TableStore
from .streaming.stream import start_file_ingest
from .streaming.watchdog import StallWatchdog


def build_worker(
    spark: SparkSession, env: dict[str, str] | None = None
) -> StreamingQuery:
    """Wire config + store + stream from the environment; returns the
    running StreamingQuery (caller awaits/stops it)."""
    e = dict(os.environ) if env is None else env
    input_path = e["INGEST_INPUT_PATH"]
    warehouse = e["INGEST_WAREHOUSE"]
    checkpoint = e.get("INGEST_CHECKPOINT", os.path.join(warehouse, "_checkpoint"))
    interval = int(e.get("BULK_REPEAT_INTERVAL_SEC", "5"))
    max_files = e.get("TAKE_UP_TO_PER_BATCH")
    cfg = IngestConfig.from_env(e)
    store = TableStore(spark, warehouse)
    return start_file_ingest(
        spark,
        input_path,
        store,
        config=cfg,
        checkpoint_dir=checkpoint,
        available_now=False,
        processing_time=f"{interval} seconds",
        max_files_per_trigger=int(max_files) if max_files else None,
    )


def run_worker(
    spark: SparkSession,
    env: dict[str, str] | None = None,
    shutdown: threading.Event | None = None,
) -> int:
    """Supervised worker loop: build the query, arm the B5 watchdog,
    run periodic compaction, and on stall stop + rebuild from the
    checkpoint (the uncommitted batch replays — at-least-once holds).

    ``shutdown`` lets signal handlers (and tests) request a graceful
    exit; without it the loop runs until the process dies.
    """
    e = dict(os.environ) if env is None else env
    shutdown = shutdown or threading.Event()
    stall_timeout = float(e.get("WATCH_DOG_MAX_INACTIVITY_SEC", "300"))
    compact_every = float(e.get("COMPACT_EVERY_SEC", "0"))
    store = TableStore(spark, e["INGEST_WAREHOUSE"])
    restarts = 0
    stalled = threading.Event()
    current = {"id": None}

    # only the CURRENT run's silence may trigger a restart: a hung
    # batch keeps its foreachBatch thread alive long after stop(), so
    # the replaced run's runId can keep firing stall events — acting
    # on those would kill every healthy successor mid-batch (a
    # checkpointed query keeps the same id across restarts; runId is
    # the per-incarnation key)
    def _on_stall(run_id: str) -> None:
        if run_id == current["id"]:
            stalled.set()

    watchdog = None
    if stall_timeout > 0:
        watchdog = StallWatchdog(spark, stall_timeout, on_stall=_on_stall).start()

    last_compact = time.monotonic()
    try:
        while not shutdown.is_set():
            stalled.clear()
            compact_due = False
            query = build_worker(spark, e)
            current["id"] = str(query.runId)
            try:
                while not shutdown.is_set() and not stalled.is_set():
                    if query.exception() is not None or not query.isActive:
                        break
                    compact_due = (
                        compact_every > 0
                        and time.monotonic() - last_compact > compact_every
                    )
                    if compact_due:
                        break
                    shutdown.wait(1.0)
            finally:
                try:
                    query.stop()
                except Exception:  # noqa: BLE001 — a failed query's stop
                    pass            # rethrows its error; handled below
            if compact_due and not shutdown.is_set() and not stalled.is_set():
                # maintenance window: the query is STOPPED while
                # compacting, and each compact holds its table's writer
                # lock — a rewrite must never race a concurrent
                # micro-batch append into the same table. Each compact
                # writes a new data version and commits the table's
                # manifest once (concurrent READERS keep their snapshot);
                # the rebuilt query resumes from the checkpoint, and
                # the batch-id commit log absorbs any replay. The same
                # window replays the DLQ (E2's unitary retry): events
                # demoted by transient faults re-enter their tables
                # while poison events age out at the attempt cap.
                for t in store.tables():
                    store.compact(t)
                try:
                    from .streaming.ingest import IngestEngine

                    IngestEngine(
                        spark, store, IngestConfig.from_env(e)
                    ).retry_dead_letters()
                except Exception as exc:  # noqa: BLE001 — maintenance
                    # must not kill the worker; next window retries.
                    # But a persistently failing replay (bad config,
                    # unreadable DLQ) has to be VISIBLE, not silent.
                    print(
                        f"[maintenance] DLQ replay failed: {exc!r}",
                        file=sys.stderr,
                        flush=True,
                    )
                last_compact = time.monotonic()
                continue
            if stalled.is_set() and not shutdown.is_set():
                restarts += 1  # B5: stop+rebuild replays from checkpoint
                continue
            if not shutdown.is_set() and query.exception() is not None:
                raise query.exception()
            break
    finally:
        if watchdog is not None:
            watchdog.stop()
    return restarts


def main() -> int:
    spark = get_spark("redis-events-to-clickhouse-tables-spark-worker")
    shutdown = threading.Event()

    def _shutdown(signum, frame):  # noqa: ARG001 — E5 graceful stop
        shutdown.set()

    signal.signal(signal.SIGTERM, _shutdown)
    signal.signal(signal.SIGINT, _shutdown)
    run_worker(spark, shutdown=shutdown)
    return 0


if __name__ == "__main__":
    sys.exit(main())
