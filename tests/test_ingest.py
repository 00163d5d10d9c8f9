"""End-to-end batch ingest: routing, F1 drop, evolution, DLQ, trace."""

from __future__ import annotations

import json

from redis_events_to_clickhouse_tables_spark.config import IngestConfig
from redis_events_to_clickhouse_tables_spark.streaming.ingest import IngestEngine
from redis_events_to_clickhouse_tables_spark.streaming.store import TableStore


def _raw(spark, payloads):
    return spark.createDataFrame([(json.dumps(p),) for p in payloads], "value string")


def _engine(spark, tmp_path, **cfg):
    store = TableStore(spark, tmp_path / "warehouse")
    return IngestEngine(spark, store, IngestConfig(**cfg)), store


def test_routing_and_insert(spark, tmp_path):
    engine, store = _engine(spark, tmp_path)
    report = engine.process_raw_batch(
        _raw(
            spark,
            [
                {"event_type": "session", "user": "u1", "n": 1},
                {"event_type": "session", "user": "u2", "n": 2},
                {"event_type": "click", "target": "#buy"},
            ],
        )
    )
    assert report.n_events == 3
    assert report.tables == {"click": 1, "session": 2}
    assert store.tables() == ["click", "session"]  # G1 routing
    session = store.read("session")
    assert session.count() == 2
    assert {"user", "n", "received_at", "sent_at", "message_id", "timestamp"} <= set(
        session.columns
    )


def test_replayed_batch_is_neither_counted_nor_traced(spark, tmp_path):
    """A batch id already in the table's commit log writes nothing: the
    replay's report counts no rows and the trace holds one insert."""
    engine, store = _engine(spark, tmp_path)
    raw = _raw(spark, [{"event_type": "t", "x": 1}, {"event_type": "t", "x": 2}])
    assert engine.process_raw_batch(raw, batch_id=3).tables == {"t": 2}
    assert engine.process_raw_batch(raw, batch_id=3).tables == {}
    trace = (store.root / "_trace.jsonl").read_text().splitlines()
    inserts = [e for e in map(json.loads, trace) if e["event"] == "insert"]
    assert [e["table"] for e in inserts] == ["t"]
    assert store.read("t").count() == 2


def test_missing_routing_key_dropped(spark, tmp_path):
    # F1: no event_type value -> logged + dropped
    engine, store = _engine(spark, tmp_path)
    report = engine.process_raw_batch(
        _raw(spark, [{"event_type": "a", "x": 1}, {"x": 2}, {"event_type": None, "x": 3}])
    )
    assert report.n_missing_routing_key == 2
    assert store.read("a").count() == 1
    trace = (store.root / "_trace.jsonl").read_text()
    assert "missing_routing_key" in trace


def test_schema_evolution_across_batches(spark, tmp_path):
    engine, store = _engine(spark, tmp_path)
    engine.process_raw_batch(_raw(spark, [{"event_type": "t", "a": 1}]))
    engine.process_raw_batch(_raw(spark, [{"event_type": "t", "a": "two", "b": 9}]))
    df = store.read("t")
    assert df.schema["a"].dataType.simpleString() == "string"  # D4 widen
    assert {r["a"] for r in df.collect()} == {"1", "two"}
    assert df.schema["b"].dataType.simpleString() == "bigint"  # D3 add


def test_dead_letter_on_write_failure(spark, tmp_path, monkeypatch):
    engine, store = _engine(spark, tmp_path)

    original = store.write

    def failing_write(df, table, **kw):
        if table == "poison":
            raise RuntimeError("sink exploded")
        return original(df, table, **kw)

    monkeypatch.setattr(store, "write", failing_write)
    report = engine.process_raw_batch(
        _raw(
            spark,
            [{"event_type": "poison", "x": 1}, {"event_type": "ok", "x": 2}],
        )
    )
    assert report.tables == {"ok": 1}
    assert report.n_dead_lettered == 1  # E1
    assert "poison" in report.errors
    dlq = engine.read_dlq().collect()
    assert len(dlq) == 1
    assert dlq[0]["target_table"] == "poison"
    assert dlq[0]["attempts"] == 1
    assert json.loads(dlq[0]["payload"])["x"] == 1
    assert "sink exploded" in dlq[0]["error"]
    # the healthy table still landed
    assert store.read("ok").count() == 1


def test_non_critical_retry_dropped(spark, tmp_path, monkeypatch):
    # E4/F2: non-critical event that already failed once is dropped
    engine, store = _engine(spark, tmp_path, non_critical_event_types=("noise",))
    monkeypatch.setattr(
        store, "write", lambda df, table, **kw: (_ for _ in ()).throw(RuntimeError("x"))
    )
    report = engine.process_raw_batch(
        _raw(spark, [{"event_type": "noise", "a": 1, "__single_retry_attempts": 2}])
    )
    assert report.n_dropped_non_critical == 1
    assert report.n_dead_lettered == 0


def test_store_health_gate(spark, tmp_path, monkeypatch):
    # B4: a failing sink ping pauses ingestion instead of half-writing
    import pytest

    from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
        StoreUnavailableError,
    )

    engine, store = _engine(spark, tmp_path)
    monkeypatch.setattr(store, "ping", lambda: False)
    with pytest.raises(StoreUnavailableError):
        engine.process_raw_batch(_raw(spark, [{"event_type": "a", "x": 1}]))
    assert store.tables() == []  # nothing landed


def test_dlq_retry_replays_and_clears(spark, tmp_path, monkeypatch):
    # E2: dead-lettered events replay into their table once the sink heals
    engine, store = _engine(spark, tmp_path)
    original = store.write
    monkeypatch.setattr(
        store,
        "write",
        lambda df, table, **kw: (_ for _ in ()).throw(RuntimeError("down"))
        if table == "poison"
        else original(df, table, **kw),
    )
    engine.process_raw_batch(
        _raw(spark, [{"event_type": "poison", "x": 7}, {"event_type": "ok", "x": 1}])
    )
    assert engine.read_dlq().count() == 1
    monkeypatch.setattr(store, "write", original)  # sink heals
    report = engine.retry_dead_letters()
    assert report.tables == {"poison": 1}
    assert report.n_dead_lettered == 0
    assert engine.read_dlq().count() == 0
    assert store.read("poison").filter("x = 7").count() == 1


def test_dlq_retry_attempts_and_parking(spark, tmp_path, monkeypatch):
    # E3-lineage: attempts increment per failed retry; poison rows park
    engine, store = _engine(spark, tmp_path)
    monkeypatch.setattr(
        store,
        "write",
        lambda df, table, **kw: (_ for _ in ()).throw(RuntimeError("still down")),
    )
    engine.process_raw_batch(_raw(spark, [{"event_type": "bad", "x": 1}]))
    assert engine.read_dlq().collect()[0]["attempts"] == 1
    report = engine.retry_dead_letters(max_attempts=2)
    assert "bad" in report.errors
    assert engine.read_dlq().collect()[0]["attempts"] == 2
    # now at the ceiling: parked, not retried
    report = engine.retry_dead_letters(max_attempts=2)
    assert report.tables == {} and report.errors == {}
    assert engine.read_dlq().collect()[0]["attempts"] == 2


def test_concurrent_multi_table_failures_keep_all_dead_letters(
    spark, tmp_path, monkeypatch
):
    # a store outage mid-batch fails EVERY table's flush concurrently;
    # DLQ appends are serialized (shared FileOutputCommitter staging
    # dir), so no dead-lettered event may be lost
    engine, store = _engine(spark, tmp_path)
    monkeypatch.setattr(
        store,
        "write",
        lambda df, table, **kw: (_ for _ in ()).throw(RuntimeError("outage")),
    )
    report = engine.process_raw_batch(
        _raw(spark, [{"event_type": f"t{i}", "x": i} for i in range(6)])
    )
    assert report.n_dead_lettered == 6
    dlq = engine.read_dlq()
    assert dlq.count() == 6
    assert {r["target_table"] for r in dlq.collect()} == {f"t{i}" for i in range(6)}


def test_interruption_errors_are_not_demoted():
    """Stop()-induced Spark failures must abort the batch (replay on
    restart), never dead-letter it — demotion would commit the batch's
    offsets with its rows stranded in the DLQ."""
    from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
        _is_interruption,
    )

    assert _is_interruption(RuntimeError("Job 7 cancelled because of stop"))
    assert _is_interruption(Exception("java.lang.InterruptedException: sleep"))
    assert _is_interruption(Exception("TaskKilled (Stage cancelled)"))
    assert _is_interruption(InterruptedError())  # class, not message
    assert not _is_interruption(ValueError("CAST_INVALID_INPUT: bad row"))
    assert not _is_interruption(Exception("schema mismatch for column x"))


def test_data_errors_quoting_hostile_values_are_demoted():
    """ADVICE r4: Spark data errors quote the offending row value in
    the message. A value that mimics a cancellation phrase must NOT be
    classified as an interruption — that would replay the same poison
    batch forever and stall ingestion."""
    from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
        _is_interruption,
    )

    class FakeCastError(Exception):
        """Shape of pyspark CapturedException for CAST_INVALID_INPUT."""

        def getCondition(self):
            return "CAST_INVALID_INPUT"

    hostile = "[CAST_INVALID_INPUT] The value 'Job 5 cancelled' cannot be cast"
    assert not _is_interruption(FakeCastError(hostile))
    # a condition-less message mentioning cancellation incidentally
    # (old substring matcher tripped on bare "cancelled"/"killed")
    assert not _is_interruption(ValueError("user field was 'order cancelled'"))
    assert not _is_interruption(ValueError("process killed the budget"))


def test_interruption_replay_cap_demotes_disguised_poison(spark, tmp_path, monkeypatch):
    """Backstop for a poison batch whose failure is interruption-shaped
    every time: after _INTERRUPTION_REPLAY_CAP re-raises for the same
    (batch_id, table), the events go to the DLQ instead of stalling
    the stream forever."""
    import pytest

    from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
        _INTERRUPTION_REPLAY_CAP,
    )

    engine, store = _engine(spark, tmp_path)
    original = store.write

    def interrupted_write(df, table, **kw):
        if table == "p":
            raise RuntimeError("Job 3 cancelled as part of shutdown")
        return original(df, table, **kw)

    monkeypatch.setattr(store, "write", interrupted_write)
    batch = _raw(spark, [{"event_type": "p", "x": 1}])
    for _ in range(_INTERRUPTION_REPLAY_CAP):
        with pytest.raises(RuntimeError):
            engine.process_raw_batch(batch, batch_id=41)
    # replay past the cap: demoted to the DLQ, batch completes
    report = engine.process_raw_batch(batch, batch_id=41)
    assert report.n_dead_lettered == 1
    assert engine.read_dlq().count() == 1
    trace = (store.root / "_trace.jsonl").read_text()
    assert "interruption_replay_cap" in trace
    # batch_id-less (direct) calls never consume the cap
    with pytest.raises(RuntimeError):
        engine.process_raw_batch(batch)


def test_dlq_replay_races_live_ingest(spark, tmp_path, monkeypatch):
    """VERDICT r4 item 5: retry_dead_letters replay racing a live
    process_raw_batch on the SAME table must lose no row and duplicate
    no row (the versioned store + dlq lock make this hold)."""
    import threading

    engine, store = _engine(spark, tmp_path)
    original = store.write
    fail = {"on": True}

    def flaky_write(df, table, **kw):
        if fail["on"] and table == "t":
            raise RuntimeError("sink exploded")
        return original(df, table, **kw)

    monkeypatch.setattr(store, "write", flaky_write)
    engine.process_raw_batch(_raw(spark, [{"event_type": "t", "x": 1}]))
    assert engine.read_dlq().count() == 1
    fail["on"] = False

    errs: list[Exception] = []

    def replay():
        try:
            engine.retry_dead_letters()
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def live():
        try:
            for i in range(2, 5):
                engine.process_raw_batch(_raw(spark, [{"event_type": "t", "x": i}]))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=replay), threading.Thread(target=live)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    xs = sorted(r["x"] for r in store.read("t").select("x").collect())
    assert xs == [1, 2, 3, 4]  # every row exactly once
    assert engine.read_dlq().count() == 0


def test_cdc_upsert_mode_last_write_wins(spark, tmp_path):
    """upsert_keys turns ingest into CDC merge: later batches replace
    rows sharing the key, replays stay idempotent."""
    from pyspark.sql import functions as F

    engine, store = _engine(spark, tmp_path, upsert_keys=("entity_id",))
    engine.process_raw_batch(
        _raw(
            spark,
            [
                {"event_type": "account", "entity_id": 1, "plan": "free"},
                {"event_type": "account", "entity_id": 2, "plan": "free"},
            ],
        ),
        batch_id=0,
    )
    engine.process_raw_batch(
        _raw(
            spark,
            [
                {"event_type": "account", "entity_id": 1, "plan": "pro"},
                {"event_type": "account", "entity_id": 3, "plan": "team"},
            ],
        ),
        batch_id=1,
    )
    acc = store.read("account")
    assert acc.count() == 3
    plans = {r["entity_id"]: r["plan"] for r in acc.collect()}
    assert plans == {1: "pro", 2: "free", 3: "team"}

    # replayed merge batch: no change
    engine.process_raw_batch(
        _raw(spark, [{"event_type": "account", "entity_id": 1, "plan": "pro"}]),
        batch_id=1,
    )
    assert store.read("account").count() == 3
    assert {
        r["entity_id"]: r["plan"] for r in store.read("account").collect()
    } == plans

    # a table without the key column falls back to append
    engine.process_raw_batch(
        _raw(spark, [{"event_type": "click", "target": "#a"},
                     {"event_type": "click", "target": "#a"}]),
        batch_id=2,
    )
    assert store.read("click").count() == 2


def test_ingest_reports_phase_timings(spark, tmp_path):
    """BENCH r6 item 6: every batch must self-attribute its wall time
    across parse_infer / normalize / append so a depressed ingest
    headline can be decomposed (routing rides the parse_infer
    aggregate, so it has no phase of its own)."""
    from pyspark.sql import functions as F

    from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
        IngestEngine,
    )
    from redis_events_to_clickhouse_tables_spark.streaming.store import (
        TableStore,
    )
    from redis_events_to_clickhouse_tables_spark.sources.tables import table

    events = table(spark, "/root/testdata/sf0.001", "events").limit(500)
    raw = events.select(
        F.to_json(F.struct(*[F.col(c) for c in events.columns])).alias(
            "value"
        )
    )
    engine = IngestEngine(spark, TableStore(spark, str(tmp_path)))
    report = engine.process_raw_batch(raw, 0)
    assert report.n_events == 500
    assert set(report.phase_seconds) == {"parse_infer", "normalize", "append"}
    for phase in ("parse_infer", "normalize", "append"):
        assert report.phase_seconds[phase] > 0


def test_k4_trace_path_per_outcome_files(spark, tmp_path):
    """K4 parity: with trace_path set (DEBUG_STORE_LOG mode), traces
    land at trace_path + per-outcome suffix exactly like the
    reference's trace() (src/main.ts:170-216 appends to
    DEBUG_STORE_LOG_PATH + outputSuffix; bulk success '.success.log'
    :479, bulk failure '.bulkjobfailed.log' :491)."""
    base = tmp_path / "debug.log"
    engine, store = _engine(spark, tmp_path, trace_path=str(base))
    engine.process_raw_batch(
        _raw(spark, [{"event_type": "ok_t", "x": 1}, {"x": 2}])
    )
    success = (tmp_path / "debug.log.success.log").read_text()
    assert '"event": "insert"' in success and "ok_t" in success
    # no-suffix outcomes append to the bare path (outputSuffix || "")
    bare = base.read_text()
    assert "missing_routing_key" in bare
    # the default single-file layout is NOT used in this mode
    assert not (store.root / "_trace.jsonl").exists()


def test_k4_trace_env_surface(monkeypatch):
    """DEBUG_STORE_LOG=1 enables the reference trace mode with the
    reference's default path (src/main.ts:140-142); unset leaves the
    engine default (trace_path None)."""
    assert IngestConfig.from_env({}).trace_path is None
    assert (
        IngestConfig.from_env({"DEBUG_STORE_LOG": "1"}).trace_path
        == "/tmp/debug.log"
    )
    assert (
        IngestConfig.from_env(
            {"DEBUG_STORE_LOG": "1", "DEBUG_STORE_LOG_PATH": "/x/t.log"}
        ).trace_path
        == "/x/t.log"
    )
    assert IngestConfig.from_env({"DEBUG_STORE_LOG_PATH": "/x/t.log"}).trace_path is None


def test_per_type_jobs_stay_in_callers_job_group(spark, tmp_path):
    """The per-type flushes run on pool threads; every job they launch
    must carry the caller's job group, like the jobs the caller's own
    thread launches."""
    engine, _ = _engine(spark, tmp_path)
    raw = _raw(
        spark,
        [
            {"event_type": "session", "user": "u1", "n": 1},
            {"event_type": "click", "target": "#buy"},
            {"event_type": "purchase", "sku": "a", "qty": 2},
        ],
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("ingest-job-group-test", "ingest under a job group")
    try:
        report = engine.process_raw_batch(raw, batch_id=0)
    finally:
        sc._jsc.sc().clearJobGroup()
    assert set(report.tables) == {"session", "click", "purchase"}
    grouped = tracker.getJobIdsForGroup("ingest-job-group-test")
    ungrouped = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    assert len(grouped) > 3
    assert not ungrouped


def test_captured_data_error_is_not_an_interruption(spark):
    """A real Spark data error (a pyspark CapturedException, whose
    ``_origin`` is the Java throwable) is a bad batch, not an
    interruption: the flush must dead-letter it, not replay it."""
    import pytest
    from pyspark.sql import functions as F

    from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
        _is_interruption,
    )

    with pytest.raises(Exception) as info:
        spark.range(1).select(F.lit(1e30).cast("long")).collect()
    assert "CAST_OVERFLOW" in str(info.value)
    assert not _is_interruption(info.value)


def test_cancelled_job_is_an_interruption(spark):
    """A job cancelled by the scheduler (SPARK_JOB_CANCELLED) aborts
    the batch for replay instead of being dead-lettered."""
    import threading
    import time

    import pytest
    from pyspark.sql import functions as F

    from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
        _is_interruption,
    )

    sc = spark.sparkContext
    group = "ingest-cancel-test"

    def cancel_when_running():
        deadline = time.time() + 60
        while time.time() < deadline and not sc.statusTracker().getJobIdsForGroup(group):
            time.sleep(0.05)
        sc.cancelJobGroup(group)

    canceller = threading.Thread(target=cancel_when_running)
    canceller.start()
    sc.setJobGroup(group, "cancelled on purpose")
    try:
        with pytest.raises(Exception) as info:
            spark.range(10**13).select(F.sum(F.sqrt("id"))).collect()
    finally:
        sc._jsc.sc().clearJobGroup()
        canceller.join()
    assert _is_interruption(info.value)


def test_out_of_range_numeric_received_at_cannot_fail_the_batch(spark, tmp_path):
    """A numeric __received_at beyond any timestamp falls back to the
    ingest time, like an unparseable string: under ANSI mode its cast
    would overflow, and the flatten runs over the whole batch."""
    engine, store = _engine(spark, tmp_path)
    report = engine.process_raw_batch(
        _raw(
            spark,
            [
                {"event_type": "p", "__received_at": 1e30, "x": 1},
                {"event_type": "ok", "x": 2},
            ],
        )
    )
    assert report.tables == {"ok": 1, "p": 1}
    assert report.n_dead_lettered == 0 and not report.errors
    row = store.read("p").first()
    assert row["received_at"] is not None and row["x"] == 1


def test_other_types_key_spelling_keeps_this_types_column(spark, tmp_path):
    """Keys that collide after snake_case resolve per row: type b's
    ``session_id`` (absent from type a's rows) must not erase type a's
    ``sessionId``."""
    engine, store = _engine(spark, tmp_path)
    engine.process_raw_batch(
        _raw(
            spark,
            [
                {"event_type": "a", "sessionId": "x"},
                {"event_type": "b", "session_id": "y"},
            ],
        )
    )
    assert [r["session_id"] for r in store.read("a").collect()] == ["x"]
    assert [r["session_id"] for r in store.read("b").collect()] == ["y"]


def test_each_extra_type_costs_one_job(spark, tmp_path):
    """The batch is flattened and decided once; each event type then
    runs only its write, so three more types cost three more jobs."""
    sc = spark.sparkContext

    def jobs(k: int) -> int:
        store = TableStore(spark, tmp_path / f"w{k}")
        engine = IngestEngine(spark, store, IngestConfig())
        raw = _raw(
            spark,
            [
                {"event_type": f"t{i}", "x": i, f"c{i}": "v", "d": "2024-01-01"}
                for i in range(k)
            ],
        )
        group = f"ingest-jobs-{k}"
        sc.setJobGroup(group, "count the jobs of one batch")
        try:
            report = engine.process_raw_batch(raw, batch_id=0)
        finally:
            sc._jsc.sc().clearJobGroup()
        assert len(report.tables) == k
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(6) - jobs(3) == 3


def _failing(store, method, message="down", table=None):
    """Replace ``store.<method>`` with one that raises (for ``table``
    only, when given); returns the original so the test can heal the
    sink."""
    original = getattr(store, method)

    def fail(df, name, *args, **kw):
        if table not in (None, name):
            return original(df, name, *args, **kw)
        raise RuntimeError(message)

    setattr(store, method, fail)
    return original


def test_dlq_replay_merges_into_cdc_table(spark, tmp_path):
    """A replayed event of a CDC table replaces the row with its key,
    like the tick would have, instead of appending a second one."""
    engine, store = _engine(spark, tmp_path, upsert_keys=("id",))
    engine.process_raw_batch(_raw(spark, [{"event_type": "acct", "id": 1, "v": "a"}]))
    original = _failing(store, "upsert")
    engine.process_raw_batch(_raw(spark, [{"event_type": "acct", "id": 1, "v": "b"}]))
    assert engine.read_dlq().count() == 1
    store.upsert = original
    report = engine.retry_dead_letters()
    assert report.tables == {"acct": 1}
    assert [(r["id"], r["v"]) for r in store.read("acct").collect()] == [(1, "b")]
    assert engine.read_dlq().count() == 0


def test_dlq_replay_creates_table_in_configured_layout(spark, tmp_path):
    """A table first created by a replay records the configured
    partitioning and sort order, like one created by a tick."""
    engine, store = _engine(spark, tmp_path, table_partition_by=("day",))
    original = _failing(store, "write")
    engine.process_raw_batch(_raw(spark, [{"event_type": "t", "day": "d1", "x": 1}]))
    assert not store.table_exists("t")
    store.write = original
    engine.retry_dead_letters()
    meta = store._manifest("t")
    assert meta["partition_by"] == ["day"]
    assert meta["sort_by"] == ["sent_at"]
    assert (store.data_dir("t") / "day=d1").is_dir()
    assert store.read("t").count() == 1


def test_dlq_replay_crashed_before_swap_inserts_once(spark, tmp_path, monkeypatch):
    """A replay that dies after writing the table and before committing
    the DLQ's replacement leaves the DLQ as it was; rerun, it writes
    under the same content-hash batch id and the commit log skips the
    rows."""
    import pytest

    engine, store = _engine(spark, tmp_path)
    engine.process_raw_batch(_raw(spark, [{"event_type": "t", "x": 0}]))
    original = _failing(store, "write")
    engine.process_raw_batch(_raw(spark, [{"event_type": "t", "x": 1}]))
    store.write = original

    def crash(table, manifest):
        raise RuntimeError("process died before the DLQ commit")

    monkeypatch.setattr(engine._dlq, "_commit", crash)
    with pytest.raises(RuntimeError, match="DLQ commit"):
        engine.retry_dead_letters()
    assert engine.read_dlq().count() == 1
    monkeypatch.undo()

    # the restarted process replays the same DLQ
    restarted = IngestEngine(spark, store, IngestConfig())
    restarted.retry_dead_letters()
    assert sorted(r["x"] for r in store.read("t").collect()) == [0, 1]
    assert restarted.read_dlq().count() == 0


def test_dlq_replay_rerun_leaves_no_orphan_version_dir(spark, tmp_path, monkeypatch):
    """A replay that dies before committing the DLQ's replacement leaves
    that version's directory uncommitted; the rerun writes its own
    version in its place, so the DLQ holds only its current version and
    the one it replaced."""
    import pytest

    from redis_events_to_clickhouse_tables_spark.streaming import ingest

    engine, store = _engine(spark, tmp_path)
    original = _failing(store, "write")
    engine.process_raw_batch(_raw(spark, [{"event_type": "t", "x": 1}]))
    store.write = original

    def crash(table, manifest):
        raise RuntimeError("process died before the DLQ commit")

    monkeypatch.setattr(engine._dlq, "_commit", crash)
    with pytest.raises(RuntimeError, match="DLQ commit"):
        engine.retry_dead_letters()
    monkeypatch.undo()
    dlq_root = store.root / ingest.DLQ_TABLE
    assert sorted(d.name for d in dlq_root.iterdir() if d.is_dir()) == [
        "data",
        "data-v000001",
    ]

    rerun = IngestEngine(spark, store, IngestConfig())
    rerun.retry_dead_letters()
    current = rerun._dlq.data_dir(ingest.DLQ_TABLE)
    assert sorted(d.name for d in dlq_root.iterdir() if d.is_dir()) == [
        "data",
        current.name,
    ]
    assert rerun.read_dlq().count() == 0
    assert [r["x"] for r in store.read("t").collect()] == [1]


def test_dlq_replay_drops_failing_non_critical_type(spark, tmp_path):
    """E4 holds for a replay: a non-critical event that fails again is
    dropped, not returned to the DLQ."""
    engine, store = _engine(spark, tmp_path, non_critical_event_types=("noise",))
    _failing(store, "write")
    engine.process_raw_batch(_raw(spark, [{"event_type": "noise", "a": 1}]))
    assert engine.read_dlq().collect()[0]["attempts"] == 1
    report = engine.retry_dead_letters()
    assert "noise" in report.errors
    assert report.n_dropped_non_critical == 1
    assert engine.read_dlq().count() == 0


def test_dlq_replay_interruption_leaves_dlq_untouched(spark, tmp_path):
    """An interruption aborts a replay the way it aborts a tick: the
    error propagates and no attempt is counted against the rows."""
    import pytest

    engine, store = _engine(spark, tmp_path)
    original = _failing(store, "write")
    engine.process_raw_batch(_raw(spark, [{"event_type": "t", "x": 1}]))
    _failing(store, "write", "Job 3 cancelled as part of shutdown")
    with pytest.raises(RuntimeError, match="cancelled"):
        engine.retry_dead_letters()
    [row] = engine.read_dlq().collect()
    assert row["attempts"] == 1 and row["error"] == "down"
    store.write = original
    engine.retry_dead_letters()
    assert [r["x"] for r in store.read("t").collect()] == [1]


def test_dlq_replays_of_identical_events_each_land(spark, tmp_path):
    """The replay id hashes each dead letter's time with its payload:
    the same event dead-lettered and replayed twice lands twice."""
    engine, store = _engine(spark, tmp_path)
    for _ in range(2):
        original = _failing(store, "write")
        engine.process_raw_batch(_raw(spark, [{"event_type": "t", "x": 1}]))
        store.write = original
        engine.retry_dead_letters()
    assert [r["x"] for r in store.read("t").collect()] == [1, 1]


def test_dlq_rerun_after_interleaved_dead_letter_inserts_once(spark, tmp_path, monkeypatch):
    """A tick that dead-letters into a table between a crashed replay and
    its rerun adds a write group; the rerun skips the group the crashed
    replay wrote and lands only the new one."""
    import pytest

    engine, store = _engine(spark, tmp_path)
    original = _failing(store, "write")
    engine.process_raw_batch(_raw(spark, [{"event_type": "t", "x": 1}]))
    store.write = original

    def crash(table, manifest):
        raise RuntimeError("process died before the DLQ commit")

    monkeypatch.setattr(engine._dlq, "_commit", crash)
    with pytest.raises(RuntimeError, match="DLQ commit"):
        engine.retry_dead_letters()
    monkeypatch.undo()
    assert [r["x"] for r in store.read("t").collect()] == [1]

    original = _failing(store, "write")
    engine.process_raw_batch(_raw(spark, [{"event_type": "t", "x": 2}]))
    store.write = original
    assert engine.read_dlq().count() == 2

    IngestEngine(spark, store, IngestConfig()).retry_dead_letters()
    assert sorted(r["x"] for r in store.read("t").collect()) == [1, 2]
    assert engine.read_dlq().count() == 0


def test_dead_letters_land_in_the_dlq_tables_first_version(spark, tmp_path):
    """The DLQ is a table of its own store on the event store's root:
    until the first replay its files sit in ``_dlq/data``, the event
    store still lists and names no ``_dlq`` table."""
    import pytest

    from redis_events_to_clickhouse_tables_spark.streaming.ingest import DLQ_TABLE

    engine, store = _engine(spark, tmp_path)
    _failing(store, "write", table="poison")
    engine.process_raw_batch(
        _raw(spark, [{"event_type": "poison", "x": 7}, {"event_type": "ok", "x": 1}])
    )
    assert list((store.root / DLQ_TABLE / "data").glob("*.parquet"))
    assert store.tables() == ["ok"]
    with pytest.raises(ValueError):
        store.table_path(DLQ_TABLE)


def test_replayed_tick_dead_letters_once(spark, tmp_path):
    """A tick id processed twice, with the same table failing both times,
    dead-letters its rows once: the DLQ's commit log holds
    ``<batch id>/<table>``, and the replay counts and traces nothing."""
    engine, store = _engine(spark, tmp_path)
    _failing(store, "write")
    raw = _raw(spark, [{"event_type": "t", "x": 1}])
    assert engine.process_raw_batch(raw, batch_id=5).n_dead_lettered == 1
    report = engine.process_raw_batch(raw, batch_id=5)
    assert report.n_dead_lettered == 0
    assert engine.read_dlq().count() == 1
    trace = (store.root / "_trace.jsonl").read_text().splitlines()
    assert [e["event"] for e in map(json.loads, trace)].count("dead_letter") == 1


class _Killed(BaseException):
    """A process death: no ``except Exception`` on the way catches it."""


def test_dlq_replay_killed_at_any_rename_keeps_each_dead_letter_once(
    spark, tmp_path, monkeypatch
):
    """A replay killed at its k-th ``os.replace``/``Path.rename``, for
    every k it makes: a fresh engine's replay then leaves every dead
    letter exactly once, in its table or in the DLQ."""
    import os
    import pathlib
    import shutil

    seed = tmp_path / "seed"
    engine = IngestEngine(spark, TableStore(spark, seed))
    _failing(engine.store, "write")
    for x, etype in ((1, "t"), (2, "t"), (3, "u")):
        engine.process_raw_batch(_raw(spark, [{"event_type": etype, "x": x}]))
    real = {"replace": os.replace, "rename": pathlib.Path.rename}
    kills = 0
    for k in range(1, 10):
        root = tmp_path / f"k{k}"
        shutil.copytree(seed, root)
        store = TableStore(spark, root)
        # u fails again in the killed replay, so it rewrites the DLQ
        _failing(store, "write", "still down", table="u")
        calls = []

        def kill_at_k(fn):
            def call(*args, **kw):
                calls.append(fn)
                if len(calls) == k:
                    raise _Killed
                return fn(*args, **kw)

            return call

        monkeypatch.setattr(os, "replace", kill_at_k(real["replace"]))
        monkeypatch.setattr(pathlib.Path, "rename", kill_at_k(real["rename"]))
        try:
            IngestEngine(spark, store).retry_dead_letters()
        except _Killed:
            kills += 1
        finally:
            monkeypatch.undo()
        fresh_store = TableStore(spark, root)
        fresh = IngestEngine(spark, fresh_store)
        fresh.retry_dead_letters()
        landed = [
            r["x"] for t in fresh_store.tables() for r in fresh_store.read(t).collect()
        ]
        waiting = [json.loads(r["payload"])["x"] for r in fresh.read_dlq().collect()]
        assert sorted(landed + waiting) == [1, 2, 3], (k, landed, waiting)
        if len(calls) < k:  # the replay made fewer than k renames: all covered
            break
    assert kills >= 3  # two table commits and the DLQ's


def test_dlq_without_manifest_is_adopted(spark, tmp_path):
    """Dead letters appended to ``_dlq/data`` before the DLQ had a
    manifest become its first version: a later dead letter keeps them,
    and one replay lands both."""
    import shutil

    from redis_events_to_clickhouse_tables_spark.streaming.ingest import DLQ_TABLE

    old, _ = _engine(spark, tmp_path / "old")
    _failing(old.store, "write")
    old.process_raw_batch(_raw(spark, [{"event_type": "t", "x": 1}]))
    store = TableStore(spark, tmp_path / "warehouse")
    legacy = store.root / DLQ_TABLE / "data"
    shutil.copytree(old.store.root / DLQ_TABLE / "data", legacy)
    assert not store.root.joinpath(DLQ_TABLE, "_table.json").exists()

    engine = IngestEngine(spark, store, IngestConfig())
    assert engine.read_dlq().count() == 1
    original = _failing(store, "write")
    engine.process_raw_batch(_raw(spark, [{"event_type": "t", "x": 2}]))
    store.write = original
    assert engine.read_dlq().count() == 2
    engine.retry_dead_letters()
    assert sorted(r["x"] for r in store.read("t").collect()) == [1, 2]
    assert engine.read_dlq().count() == 0


def test_first_dead_letter_killed_before_its_commit_lands_once(spark, tmp_path, monkeypatch):
    """The DLQ is committed before its first dead letter lands: when
    that one dies before committing its rows, a fresh engine does not
    adopt them, and the rerun tick dead-letters them once."""
    import pytest

    engine, store = _engine(spark, tmp_path)
    _failing(store, "write")
    commit = engine._dlq._commit

    def rows_commit_dies(table, manifest):
        if manifest["files"]:
            raise _Killed
        commit(table, manifest)

    monkeypatch.setattr(engine._dlq, "_commit", rows_commit_dies)
    raw = _raw(spark, [{"event_type": "t", "x": 1}])
    with pytest.raises(_Killed):
        engine.process_raw_batch(raw, batch_id=1)
    monkeypatch.undo()

    restarted = IngestEngine(spark, store, IngestConfig())
    assert restarted.read_dlq().count() == 0
    assert restarted.process_raw_batch(raw, batch_id=1).n_dead_lettered == 1
    assert restarted.read_dlq().count() == 1
