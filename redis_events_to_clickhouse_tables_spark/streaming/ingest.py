"""Micro-batch ingest engine (reference parity: G1, F1-F2, E1-E6, K4).

One call to :meth:`IngestEngine.process_raw_batch` is the Spark
equivalent of the reference's interval tick (src/main.ts:463-514): it
takes a batch of raw JSON events, routes them per ``event_type`` to
their tables (G1), normalizes (P1-P8), evolves each table's schema
(D1-D5) and appends (K2). Used directly for batch ingest, or as the
``foreachBatch`` body of the streaming wrapper (stream.py).

Delivery semantics: the streaming harness's checkpointing replaces the
reference's manual re-enqueue machinery (E5/E6/B5 — source offsets
commit only after the batch succeeds). What remains engine-level is
dead-lettering: a table whose write fails gets its events appended to
the ``_dlq`` table with attempt counters and the error (E1), and
events of non-critical types that have already failed once are
dropped (E4/F2). The DLQ is a ``TableStore`` table on the event
store's root, with the event tables' commit protocol and writer lock;
``retry_dead_letters`` replays it through the tick's own flush
(E2/E3). ``_trace`` is the JSONL side-output (K4).

Scale note: a tick's fixed cost does not grow with its number of
event types T. The batch is flattened once and every table's columns
are decided by one grouped aggregate (``normalize.normalize_batch``),
whose rows are also the routing table: the driver collects one row per
*distinct event type* (bounded by the number of destination tables —
the same cardinality as the reference's bulker map), never event rows.
Each table's rows are then one filtered write over that one cached
flatten, so a tick runs 4 + T Spark jobs (JSON inference, the decision
aggregate, then T writes; more with P5 splitting, a widening rewrite or
CDC merges).
"""

from __future__ import annotations

import json
import re
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from py4j.protocol import Py4JError, Py4JNetworkError
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IngestConfig
from ..plans.inference import parse_events
# normalize_events is not called here; the benchmark's traced runs bind
# it as ``ingest.normalize_events`` (perfbench/spans.py)
from .normalize import NormalizedBatch, normalize_batch, normalize_events  # noqa: F401
from .store import TableStore, _listing

DLQ_TABLE = "_dlq"
# the columns _dead_letter writes
_DLQ_SCHEMA = (
    "target_table string, payload string, error string, attempts bigint,"
    " dead_lettered_at timestamp"
)
# in-file sort order of every table (the MergeTree ORDER BY sent_at
# analog, D2)
_SORT_BY = ("sent_at",)
# small-files guard (scale addition): the per-table append coalesces its
# partitions down to ceil(batch_rows / this) before writing, so a
# 20k-row micro-batch lands as ONE parquet file instead of one per
# shuffle partition — the classic small-files failure at 100 TB (and
# the MergeTree too-many-parts analog)
_TARGET_ROWS_PER_FILE = 1_000_000

# Spark failure shapes that signal an interrupted/cancelled job (query
# stop, context shutdown) rather than a bad batch — see the E1 catch.
# Classification is structural, not a substring match over str(exc):
# Spark quotes ROW VALUES in data errors, and a poison value reading
# "cancelled" would re-raise forever and stall ingestion:
#  - exception CLASS names along the python AND java cause chains;
#  - Spark error conditions that name a cancellation (conditions are
#    Spark-generated and never quote row data);
#  - scheduler-generated cancellation phrases, anchored, and only
#    from exceptions that carry NO Spark error condition (data errors
#    like CAST_INVALID_INPUT always carry one, and only their
#    messages embed row data);
#  - a per-(batch, table) replay cap as the final backstop: even a
#    perfectly disguised poison batch is demoted to the DLQ after
#    _INTERRUPTION_REPLAY_CAP interruption-shaped replays.
_INTERRUPTION_CLASS_MARKERS = (
    "InterruptedException",
    "InterruptedError",
    "TaskKilled",
    "Py4JNetworkError",
    "KeyboardInterrupt",
)
_INTERRUPTION_CONDITIONS = ("SPARK_JOB_CANCELLED", "OPERATION_CANCELED")
_CANCEL_MSG_RE = re.compile(
    r"\bJob \d+ cancelled\b"
    r"|\bSparkContext was shut down\b"
    r"|\bjava\.lang\.InterruptedException\b"
    r"|\bTaskKilled\b"
)
_INTERRUPTION_REPLAY_CAP = 3


def _error_condition(exc) -> str | None:
    """The Spark error condition (e.g. CAST_INVALID_INPUT) if the
    exception carries one — works for pyspark CapturedException
    (getCondition/getErrorClass) and, via py4j, for any SparkThrowable."""
    for probe in ("getCondition", "getErrorClass"):
        fn = getattr(exc, probe, None)
        if callable(fn):
            try:
                cond = fn()
            except Exception:  # noqa: BLE001 — non-SparkThrowable java obj
                continue
            if cond:
                return str(cond)
    return None


def _is_interruption(exc: BaseException) -> bool:
    chain: list[BaseException] = []
    e: BaseException | None = exc
    seen: set[int] = set()
    while e is not None and id(e) not in seen:
        seen.add(id(e))
        chain.append(e)
        e = e.__cause__ or e.__context__
    names: list[str] = []
    messages: list[str] = []
    for e in chain:
        names.append(type(e).__name__)
        # the Java throwable: Py4JJavaError.java_exception, or a pyspark
        # CapturedException's _origin (which IS the throwable)
        jt = getattr(e, "java_exception", None)
        if jt is None:
            jt = getattr(e, "_origin", None)
        if jt is None:
            # plain python exception: its message is scanned only when
            # no data-error condition marks it as value-quoting
            if _error_condition(e) is None:
                messages.append(str(e))
        while jt is not None:
            try:
                cls = jt.getClass().getName()
            except Py4JNetworkError:  # gateway gone == interruption
                names.append("Py4JNetworkError")
                break
            except (AttributeError, Py4JError):  # not a Java throwable
                break
            names.append(cls)
            cond = _error_condition(jt)
            if cond in _INTERRUPTION_CONDITIONS:
                return True
            # other scheduler failures (a shut-down context) surface as
            # condition-less SparkExceptions; their messages are
            # Spark-generated and never embed row data (data errors
            # carry a condition and are excluded here)
            if cls.endswith(".SparkException") and cond is None:
                try:
                    messages.append(jt.getMessage() or "")
                except Exception:  # noqa: BLE001
                    pass
            try:
                jt = jt.getCause()
            except Exception:  # noqa: BLE001
                break
    if any(m in n for n in names for m in _INTERRUPTION_CLASS_MARKERS):
        return True
    return any(_CANCEL_MSG_RE.search(m or "") for m in messages)


class _DeadLetterStore(TableStore):
    """A store whose one table is ``DLQ_TABLE``, a name the event store
    rejects: no event type routes into it. Opening a root without that
    table commits it, adopting any dead letters appended to
    ``<root>/_dlq/data`` before the DLQ had a manifest; as the table
    exists before the first dead letter lands, the files of one killed
    before its commit are never adopted."""

    def __init__(self, spark: SparkSession, root):
        super().__init__(spark, root)
        if not self.table_exists(DLQ_TABLE):
            data = self.root / DLQ_TABLE / "data"
            data.mkdir(parents=True, exist_ok=True)
            schema = spark.createDataFrame([], _DLQ_SCHEMA).schema.jsonValue()
            layout = {"partition_by": [], "sort_by": [], "current": "data", "committed_batches": []}
            self._commit(DLQ_TABLE, {**layout, "schema": schema, "files": _listing(data)})

    def table_path(self, table: str) -> Path:
        if table != DLQ_TABLE:
            raise ValueError(f"illegal table name: {table!r}")
        return self.root / table


class StoreUnavailableError(RuntimeError):
    """B4: raised when the destination health probe fails — the batch
    is not processed, and (in streaming) source offsets are not
    committed, so events are redelivered once the sink recovers. The
    same outcome as the reference's ping-gated tick skip
    (src/main.ts:463-469): ingestion pauses, nothing is lost."""


@dataclass
class IngestReport:
    batch_id: int | None
    n_events: int = 0
    n_missing_routing_key: int = 0
    n_dead_lettered: int = 0
    n_dropped_non_critical: int = 0
    tables: dict[str, int] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)
    # Wall seconds per pipeline phase, so a slow tick says where its
    # time went. parse_infer is the JSON
    # schema inference; normalize is the serial batch-level flatten plus
    # the grouped decision aggregate (which is also the routing table);
    # append is the SUM across the concurrent per-table flushes (P8 +
    # evolve + write), so it can exceed the batch wall time — it
    # attributes cost, it doesn't partition the clock.
    phase_seconds: dict[str, float] = field(default_factory=dict)


class IngestEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        config: IngestConfig | None = None,
    ):
        self.spark = spark
        self.store = store
        self.config = config or IngestConfig()
        self._lock = threading.Lock()
        self._dlq = _DeadLetterStore(spark, store.root)
        # interruption replay cap (see _is_interruption): counts
        # interruption-shaped re-raises per (batch_id, table) so a
        # disguised poison batch can't replay forever. Bounded by the
        # number of distinct failing batches in this process lifetime.
        self._interruption_replays: dict[tuple[int, str], int] = {}

    # -- K4: trace side-output -------------------------------------------
    def _trace(self, payload: dict, suffix: str = "") -> None:
        """JSONL trace append (reference trace(), src/main.ts:170-216).

        Default destination is one file, ``<store root>/_trace.jsonl``,
        with the outcome in the ``event`` field. When
        ``config.trace_path`` is set (the reference's DEBUG_STORE_LOG=1
        + DEBUG_STORE_LOG_PATH mode), writes go to ``trace_path +
        suffix`` instead — the reference's per-outcome file layout
        (".success.log", ".bulkjobfailed.log", ..., main.ts:305-491;
        no suffix appends to the bare path, like its outputSuffix ||
        "")."""
        if self.config.trace_path is not None:
            path = Path(self.config.trace_path + suffix)
        else:
            path = Path(self.store.root) / "_trace.jsonl"
        with self._lock, path.open("a") as fh:
            fh.write(json.dumps({"ts": time.time(), **payload}) + "\n")

    def _phase(self, report: IngestReport, name: str, sec: float) -> None:
        with self._lock:
            report.phase_seconds[name] = report.phase_seconds.get(name, 0.0) + sec

    # -- E1/E4: dead-letter ----------------------------------------------
    def _drop_non_critical(self, dlq: DataFrame, table: str) -> tuple[DataFrame, int]:
        """E4/F2: DLQ rows of a non-critical type that have already
        failed once are dropped instead of dead-lettered again; returns
        the rows kept and the number dropped."""
        if table not in self.config.non_critical_event_types:
            return dlq, 0
        again = F.col("attempts") > 1
        return dlq.filter(~again), dlq.filter(again).count()

    def _dead_letter(self, events: DataFrame, table: str, error: str, report: IngestReport):
        """E1: append ``events`` to the DLQ under the batch id
        ``<report.batch_id>/<table>``: a replayed tick's dead letters are
        neither written, counted nor traced twice."""
        attempts = (
            F.col("__single_retry_attempts").cast("long")
            if "__single_retry_attempts" in events.columns
            else F.lit(0).cast("long")
        )
        dlq = events.select(
            F.lit(table).alias("target_table"),
            F.to_json(F.struct(*[F.col(f"`{c}`") for c in events.columns])).alias(
                "payload"
            ),
            F.lit(error).alias("error"),
            (attempts + 1).alias("attempts"),
            F.current_timestamp().alias("dead_lettered_at"),
        )
        dlq, dropped = self._drop_non_critical(dlq, table)
        batch_id = None if report.batch_id is None else f"{report.batch_id}/{table}"
        if self._dlq.write(dlq, DLQ_TABLE, batch_id=batch_id) is None:
            return
        n = dlq.count()
        with self._lock:
            report.n_dropped_non_critical += dropped
            report.n_dead_lettered += n
        self._trace(
            {"event": "dead_letter", "table": table, "rows": n, "error": error},
            suffix=".bulkjobfailed.log",
        )

    def read_dlq(self) -> DataFrame:
        """The dead letters."""
        return self._dlq.read(DLQ_TABLE)

    def retry_dead_letters(self, max_attempts: int = 5) -> IngestReport:
        """E2/E3: replay dead-lettered events back into their tables.

        The DLQ replaces the reference's re-enqueue of failed events
        onto the Redis queue, flagged ``__is_single_retry``, with Bull
        retrying up to 5 attempts (src/main.ts:284-363, :482-511). DLQ
        rows under the attempt ceiling are written like a tick
        (``normalize_batch``, then ``_flush``); a table that fails again
        gets its rows back with ``attempts`` + 1, or drops them for
        non-critical types (E4); rows at the ceiling stay parked
        (poison). E3's busy-client mutex has no equivalent. An
        interruption aborts the replay and leaves the DLQ untouched.

        Each dead-letter write group (one ``_dead_letter`` call: its
        ``target_table`` and ``dead_lettered_at``) is flushed as its own
        batch under the id ``dlq-`` + 24 hex digits of the sha256 of its
        table, time and sorted payloads. What is left then replaces the
        DLQ in one ``TableStore.overwrite``, under the DLQ's writer lock
        held since the read. A replay killed before that commit left the
        DLQ as it was; its rerun gets the same ids for the groups it
        wrote, and the commit logs skip them.
        """
        report = IngestReport(batch_id=-1)
        with self._dlq._writer(DLQ_TABLE):  # noqa: SLF001 — the DLQ's own lock
            dlq = self._dlq.read(DLQ_TABLE).persist()
            try:
                eligible = dlq.filter(F.col("attempts") < max_attempts)
                parked = dlq.filter(F.col("attempts") >= max_attempts)
                at = F.unix_micros("dead_lettered_at")
                digest = F.sha2(
                    F.concat_ws(
                        "\n",
                        "target_table",
                        at.cast("string"),
                        F.array_sort(F.collect_list("payload")),
                    ),
                    256,
                )
                groups = sorted(
                    eligible.groupBy("target_table", at.alias("at")).agg(digest).collect()
                )
                if not groups:  # everything is parked
                    report.n_dead_lettered = dlq.count()
                    return report
                remaining = parked
                for t, micros, h in groups:
                    rows = eligible.filter(
                        (F.col("target_table") == t) & (at == micros)
                    )
                    # a dead letter's payload routes to its target_table:
                    # _dead_letter serializes one event type's rows per table
                    events = parse_events(
                        self.spark, rows.select(F.col("payload").alias("value"))
                    )
                    batch = normalize_batch(events, self.config)
                    try:
                        err = self._flush(batch, t, "dlq-" + h[:24], report)
                    finally:
                        batch.unpersist()
                    if err is None:
                        continue
                    self._trace(
                        {"event": "dlq_retry_fail", "table": t, "error": err},
                        suffix=".failedsingle.error.log",
                    )
                    again, dropped = self._drop_non_critical(
                        rows.withColumn("attempts", F.col("attempts") + 1)
                        .withColumn("error", F.lit(err))
                        .withColumn("dead_lettered_at", F.current_timestamp()),
                        t,
                    )
                    report.n_dropped_non_critical += dropped
                    remaining = remaining.unionByName(again)
                report.n_dead_lettered = remaining.count()
                self._dlq.overwrite(DLQ_TABLE, remaining)
                return report
            finally:
                dlq.unpersist()

    # -- the per-table flush ----------------------------------------------
    def _flush(
        self, batch: NormalizedBatch, etype: str, batch_id, report: IngestReport
    ) -> str | None:
        """Write one event type's rows of ``batch`` to its table (P8,
        then a CDC merge when they carry every ``upsert_keys`` column,
        else an evolving append) in the configured layout, idempotent
        per ``batch_id``: a replay of a committed id is neither counted
        in ``report.tables`` nor traced. Returns None once written or
        skipped, or the error for the caller to dead-letter (E1); an
        interruption re-raises."""
        try:
            t_append = time.perf_counter()
            rows = batch.finish(etype)
            # the aggregate's count holds unless a custom P8 transform
            # changes the rows
            n = rows.count() if self.config.transform else batch.decisions[etype].n_rows
            coalesce_to = -(-n // _TARGET_ROWS_PER_FILE) if n else None
            keys = self.config.upsert_keys
            if keys and all(k in rows.columns for k in keys):
                # CDC mode: MERGE on the key tuple (last-write-wins;
                # store.upsert docstring)
                written = self.store.upsert(
                    rows,
                    etype,
                    keys=keys,
                    batch_id=batch_id,
                    partition_by=self.config.table_partition_by,
                    sort_by=_SORT_BY,
                )
            else:
                written = self.store.write(
                    rows,
                    etype,
                    nullable_new=self.config.altered_column_nullable,
                    batch_id=batch_id,
                    partition_by=self.config.table_partition_by,
                    sort_by=_SORT_BY,
                    coalesce_to=coalesce_to,
                )
            self._phase(report, "append", time.perf_counter() - t_append)
            if written is None:  # a replay: the commit log skipped it
                return None
            with self._lock:
                report.tables[etype] = report.tables.get(etype, 0) + n
            self._trace(
                {"event": "insert", "batch": batch_id, "table": etype, "rows": n},
                suffix=".success.log",
            )
            return None
        except Exception as exc:  # noqa: BLE001 — E1: the caller dead-letters
            if _is_interruption(exc):
                # A stop()/shutdown interrupt mid-flush is NOT a bad
                # batch: demoting it would commit the micro-batch's
                # offsets and strand its events in the DLQ. Re-raise, so
                # it replays on restart into the batch-id logs. A false
                # positive costs one replay, up to the replay cap, so a
                # poison batch whose error mimics a cancellation still
                # reaches the DLQ instead of stalling ingestion.
                capped = False
                if batch_id is not None:
                    key = (batch_id, etype)
                    with self._lock:
                        replays = self._interruption_replays.get(key, 0) + 1
                        self._interruption_replays[key] = replays
                    capped = replays > _INTERRUPTION_REPLAY_CAP
                if not capped:
                    raise
                self._trace(
                    {
                        "event": "interruption_replay_cap",
                        "batch": batch_id,
                        "table": etype,
                        "replays": replays,
                    }
                )
            err = str(exc)[:500]
            with self._lock:
                report.errors[etype] = err
            return err

    # -- the tick ---------------------------------------------------------
    def process_raw_batch(self, raw: DataFrame, batch_id: int | None = None) -> IngestReport:
        """Ingest a batch of raw JSON strings (column ``value``).

        ``batch_id`` (passed by the streaming wrapper's foreachBatch)
        makes the per-table writes idempotent: a replayed batch id is
        skipped by the store's commit log, so crash-replay never
        double-inserts. Direct batch callers omit it.
        """
        if not self.store.ping():  # B4: sink-health gate
            raise StoreUnavailableError(f"store {self.store.root} unavailable")
        report = IngestReport(batch_id=batch_id)

        t_parse = time.perf_counter()
        events = parse_events(self.spark, raw)
        if not events.columns:
            return report
        etp = self.config.event_type_property
        if etp not in events.columns:
            n = events.count()
            report.n_events = n
            report.n_missing_routing_key = n
            self._trace({"event": "missing_routing_key", "batch": batch_id, "rows": n})
            return report
        # parse_events runs the JSON schema inference job
        self._phase(report, "parse_infer", time.perf_counter() - t_parse)

        t_norm = time.perf_counter()
        batch = normalize_batch(events, self.config)
        self._phase(report, "normalize", time.perf_counter() - t_norm)
        try:
            # the batch's one decision aggregate is also the routing
            # table: rows per event type, and its null group is the F1
            # missing-routing-key bucket (group cardinality is bounded
            # by the number of destination tables, like the reference's
            # bulker map)
            counts = batch.counts
            report.n_events = sum(counts.values())
            # F1: events with no routing key are logged and dropped
            report.n_missing_routing_key = counts.get(None, 0)
            if report.n_missing_routing_key:
                self._trace(
                    {
                        "event": "missing_routing_key",
                        "batch": batch_id,
                        "rows": report.n_missing_routing_key,
                    }
                )
            types = sorted(t for t in counts if t is not None)
            if not types:
                return report

            def _process_type(etype: str) -> None:
                err = self._flush(batch, etype, batch_id, report)
                if err is not None:
                    self._dead_letter(
                        events.filter(F.col(etp) == etype), etype, err, report
                    )

            # per-table flushes run concurrently, like the reference's
            # independent bulkers (src/main.ts:463-514) — each submits
            # its own Spark jobs against the shared cached batch, and
            # distinct types write to distinct table directories. Each
            # task carries the caller's local properties (job group,
            # description, tags), so its jobs are attributed to the
            # caller. Wrap per task: one wrapper hands every thread the
            # same Properties object, and a property one task sets
            # would leak into the others.
            with ThreadPoolExecutor(max_workers=min(8, len(types))) as pool:
                futures = [
                    pool.submit(inheritable_thread_target(self.spark)(_process_type), etype)
                    for etype in types
                ]
                for fut in futures:
                    fut.result()
            return report
        finally:
            batch.unpersist()
