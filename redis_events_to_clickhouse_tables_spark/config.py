"""Engine configuration — the reference's env surface, re-expressed.

Mirrors the knobs of the reference worker (/root/reference/.env.sample,
src/main.ts:140-166) that still have meaning on Spark. Flow-control
knobs (BULKER_MAX_LENGTH, TAKE_UP_TO_PER_BATCH, intervals) map to
Structured Streaming trigger/rate options and are taken at stream
start instead (streaming/stream.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass(frozen=True)
class IngestConfig:
    # routing key naming the destination table
    # (reference: REDIS_JOB_EVENT_TYPE_PROPERTY, src/main.ts:70-73)
    event_type_property: str = "event_type"
    # P3: {'a': {'subKey': v}} -> column a_sub_key
    # (reference: SPLIT_RECORDS_AS_COLUMNS, src/main.ts:147-148)
    split_records_as_columns: bool = False
    # P5: {'k': [x, y]} -> columns k_0, k_1
    # (reference: SPLIT_ARRAY_ITEMS_AS_COLUMNS, src/main.ts:149-150)
    split_array_items_as_columns: bool = False
    # D3: columns added to an existing table are nullable
    # (reference: CLICKHOUSE_ALTERED_COLUMN_NULLABLE, src/main.ts:145-146)
    altered_column_nullable: bool = True
    # E4/F2: event types droppable under repeated failure
    # (reference: NON_CRITICAL_EVENT_TYPES, src/main.ts:164)
    non_critical_event_types: tuple[str, ...] = ()
    # P8: user transform hook applied to each normalized DataFrame;
    # receives (df) post-normalization, returns df. The default adds
    # timestamp = received_at (reference: src/transform.ts:9-12).
    transform: Callable | None = None
    # storage layout fixed at table creation: directory partitioning
    # (scale addition; the reference has none). The in-file sort order
    # is always sent_at (streaming/ingest.py _SORT_BY, D2).
    table_partition_by: tuple[str, ...] = ()
    # CDC mode (scale addition; the reference appends only): when set,
    # batches MERGE into their table on this key tuple (last-write-wins
    # — the ReplacingMergeTree analog) instead of appending. Incoming
    # rows are aligned to the current table schema; schema evolution
    # still happens through append-mode tables.
    upsert_keys: tuple[str, ...] = ()
    # S2: salvage legacy failed jobs from an old producer
    # (reference: RE_ENQUEUE_OLD_BULL_EVENTS[_JOBNAME],
    # src/main.ts:422-461; consumed by
    # sources.redis_bull.RedisBullSource.salvage_old_queue)
    re_enqueue_old_bull_events: bool = False
    re_enqueue_old_bull_events_jobname: str = "main"
    # K4: debug-trace destination (reference: DEBUG_STORE_LOG=1 +
    # DEBUG_STORE_LOG_PATH, default /tmp/debug.log, src/main.ts:140-142
    # and the trace() helper :170-216). None keeps the engine default
    # — a single JSONL at <store root>/_trace.jsonl. A path switches
    # to the reference's layout: per-outcome files at
    # trace_path + suffix (".success.log", ".bulkjobfailed.log",
    # ".failedsingle.error.log", ... — the outputSuffix values of
    # src/main.ts:305-491).
    trace_path: str | None = None

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "IngestConfig":
        """Build from the reference's environment-variable surface
        (/root/reference/.env.sample), same names and 0/1 flag
        encoding. Unset variables keep the dataclass defaults.

        - REDIS_JOB_EVENT_TYPE_PROPERTY   (.env.sample:25)
        - SPLIT_RECORDS_AS_COLUMNS        (.env.sample:72)
        - SPLIT_ARRAY_ITEMS_AS_COLUMNS    (.env.sample:76)
        - CLICKHOUSE_ALTERED_COLUMN_NULLABLE (.env.sample:48)
        - NON_CRITICAL_EVENT_TYPES        (comma-separated, .env.sample:85)
        - RE_ENQUEUE_OLD_BULL_EVENTS[_JOBNAME] (.env.sample:54-56, S2)
        - DEBUG_STORE_LOG / DEBUG_STORE_LOG_PATH (K4; src/main.ts:
          140-142 — trace files at the configured path + per-outcome
          suffix when DEBUG_STORE_LOG=1, path defaulting to
          /tmp/debug.log exactly like the reference)

        DELIBERATE DEVIATION — CLICKHOUSE_ALTERED_COLUMN_NULLABLE
        defaults to True here when unset, whereas the reference treats
        unset as false (src/main.ts:145-146, ``=== "1"``). The
        reference can afford non-nullable added columns because
        ClickHouse backfills them with type defaults (0, ''); this
        store NULL-fills rows written before an ADD COLUMN, so a
        non-nullable default would declare a schema the stored data
        violates. Set the variable to "0" explicitly to opt into the
        reference behavior (new tables' first-batch columns are then
        declared non-nullable; columns added later still read back
        NULL for pre-existing rows — that caveat is why True is the
        default).
        """
        import os as _os

        e = _os.environ if env is None else env

        def flag(name: str, default: bool) -> bool:
            v = e.get(name)
            return default if v is None else v.strip() == "1"

        non_critical = tuple(
            t.strip()
            for t in e.get("NON_CRITICAL_EVENT_TYPES", "").split(",")
            if t.strip()
        )
        upsert_keys = tuple(
            t.strip()
            for t in e.get("INGEST_UPSERT_KEYS", "").split(",")
            if t.strip()
        )
        return cls(
            event_type_property=e.get(
                "REDIS_JOB_EVENT_TYPE_PROPERTY", cls.event_type_property
            ),
            split_records_as_columns=flag("SPLIT_RECORDS_AS_COLUMNS", False),
            split_array_items_as_columns=flag("SPLIT_ARRAY_ITEMS_AS_COLUMNS", False),
            altered_column_nullable=flag("CLICKHOUSE_ALTERED_COLUMN_NULLABLE", True),
            non_critical_event_types=non_critical,
            upsert_keys=upsert_keys,
            re_enqueue_old_bull_events=flag("RE_ENQUEUE_OLD_BULL_EVENTS", False),
            re_enqueue_old_bull_events_jobname=e.get(
                "RE_ENQUEUE_OLD_BULL_EVENTS_JOBNAME",
                cls.re_enqueue_old_bull_events_jobname,
            ),
            trace_path=(
                e.get("DEBUG_STORE_LOG_PATH", "/tmp/debug.log")
                if flag("DEBUG_STORE_LOG", False)
                else None
            ),
        )
