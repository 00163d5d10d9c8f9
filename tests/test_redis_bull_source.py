"""S1/S2: crash-safe Redis Bull source — at-least-once poll/ack and
old-queue salvage (reference src/main.ts:422-461, :463-514, :678-735),
driven through a fake Redis client (the real library is not in this
container; the fake implements the five list commands the source uses
with redis-py semantics: bytes out, LMOVE atomic per element)."""

from __future__ import annotations

import json

import pytest

from redis_events_to_clickhouse_tables_spark.config import IngestConfig
from redis_events_to_clickhouse_tables_spark.sources.redis_bull import RedisBullSource
from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
    IngestEngine,
    StoreUnavailableError,
)
from redis_events_to_clickhouse_tables_spark.streaming.store import TableStore


class FakeRedis:
    """In-memory stand-in for redis-py: list commands only."""

    def __init__(self):
        self.lists: dict[str, list[bytes]] = {}
        self.hashes: dict[str, dict[bytes, bytes]] = {}
        self.counters: dict[str, int] = {}

    def _l(self, key) -> list[bytes]:
        return self.lists.setdefault(key, [])

    @staticmethod
    def _b(v) -> bytes:
        return v if isinstance(v, bytes) else str(v).encode("utf-8")

    def rpush(self, key, *vals):
        self._l(key).extend(self._b(v) for v in vals)
        return len(self._l(key))

    def lpush(self, key, *vals):
        for v in vals:
            self._l(key).insert(0, self._b(v))
        return len(self._l(key))

    def lmove(self, src, dst, wherefrom="LEFT", whereto="RIGHT"):
        s = self._l(src)
        if not s:
            return None
        v = s.pop(0 if wherefrom == "LEFT" else -1)
        if whereto == "LEFT":
            self._l(dst).insert(0, v)
        else:
            self._l(dst).append(v)
        return v

    def lrem(self, key, count, value):
        val, removed, out = self._b(value), 0, []
        for item in self._l(key):
            if item == val and (count == 0 or removed < abs(count)):
                removed += 1
                continue
            out.append(item)
        self.lists[key] = out
        return removed

    def lrange(self, key, start, stop):
        items = self._l(key)
        stop = len(items) if stop == -1 else stop + 1
        return items[start:stop]

    def llen(self, key):
        return len(self._l(key))

    # hash + counter commands (bull wire format)
    def hset(self, key, mapping):
        h = self.hashes.setdefault(key, {})
        for k, v in mapping.items():
            h[self._b(k)] = self._b(v)
        return len(mapping)

    def hgetall(self, key):
        return dict(self.hashes.get(key, {}))

    def incr(self, key):
        self.counters[key] = self.counters.get(key, 0) + 1
        return self.counters[key]

    def delete(self, *keys):
        n = 0
        for key in keys:
            n += int(key in self.hashes or key in self.lists)
            self.hashes.pop(key, None)
            self.lists.pop(key, None)
        return n


def _event(i, etype="event_session", **extra):
    return json.dumps({"event_type": etype, "n": i, **extra})


def _source(spark, fake, **kw):
    return RedisBullSource(spark, queue="q", client=fake, **kw)


def _engine(spark, tmp_path, **cfg):
    store = TableStore(spark, tmp_path / "warehouse")
    return IngestEngine(spark, store, IngestConfig(**cfg)), store


def test_poll_moves_wait_to_processing_and_ack_clears(spark):
    fake = FakeRedis()
    fake.rpush("bull:q:wait", *[_event(i) for i in range(5)])
    src = _source(spark, fake, max_batch=3)

    df = src.poll()
    assert df.count() == 3
    assert fake.llen("bull:q:wait") == 2
    assert fake.llen("bull:q:processing:worker-1") == 3

    assert src.ack() == 3
    assert fake.llen("bull:q:processing:worker-1") == 0
    # FIFO: the first three pushed were the three polled
    vals = sorted(json.loads(r["value"])["n"] for r in df.collect())
    assert vals == [0, 1, 2]


def test_crash_between_poll_and_commit_replays(spark):
    """At-least-once: a consumer that polls then dies (no ack) leaves
    the batch in its processing list; a restarted consumer's salvage()
    re-delivers every job, ahead of newer traffic, in order."""
    fake = FakeRedis()
    fake.rpush("bull:q:wait", *[_event(i) for i in range(3)])
    crashed = _source(spark, fake, max_batch=10)
    crashed.poll()  # ... and the process dies here: no ack()
    assert fake.llen("bull:q:wait") == 0
    fake.rpush("bull:q:wait", _event(99))  # newer traffic arrives

    restarted = _source(spark, fake, max_batch=10)
    assert restarted.salvage() == 3
    df = restarted.poll()
    assert [json.loads(r["value"])["n"] for r in df.collect()] == [0, 1, 2, 99]
    restarted.ack()
    assert fake.llen("bull:q:processing:worker-1") == 0


def test_run_once_acks_only_after_commit(spark, tmp_path, monkeypatch):
    """A store outage mid-batch must NOT ack: the jobs stay in the
    processing list, and the retry after recovery ingests them."""
    fake = FakeRedis()
    fake.rpush("bull:q:wait", *[_event(i) for i in range(4)])
    src = _source(spark, fake, max_batch=10)
    engine, store = _engine(spark, tmp_path)

    monkeypatch.setattr(store, "ping", lambda: False)  # B4 outage
    with pytest.raises(StoreUnavailableError):
        src.run_once(engine, batch_id=1)
    assert fake.llen("bull:q:processing:worker-1") == 4  # un-acked

    monkeypatch.undo()
    src.salvage()
    report = src.run_once(engine, batch_id=1)
    assert report.tables == {"event_session": 4}
    assert fake.llen("bull:q:processing:worker-1") == 0
    assert store.read("event_session").count() == 4


def test_double_delivery_of_committed_batch_is_idempotent(spark, tmp_path):
    """Crash AFTER commit but BEFORE ack: the replay re-processes the
    same batch id, and the store's commit log absorbs it — no double
    insert (the downstream half of the at-least-once contract)."""
    fake = FakeRedis()
    fake.rpush("bull:q:wait", *[_event(i) for i in range(3)])
    engine, store = _engine(spark, tmp_path)

    first = _source(spark, fake, max_batch=10)
    engine.process_raw_batch(first.poll(), batch_id=7)  # committed...
    # ...crash before first.ack()

    second = _source(spark, fake, max_batch=10)
    assert second.salvage() == 3
    report = second.run_once(engine, batch_id=7)  # same batch id replays
    assert report is not None
    assert store.read("event_session").count() == 3  # not 6


def test_run_once_without_batch_id_replays_idempotently(spark, tmp_path, monkeypatch):
    """``run_once`` with no batch id keys the batch by a content hash of
    its payloads, so a crash after commit but before ack replays the
    salvaged batch to a no-op."""
    fake = FakeRedis()
    fake.rpush("bull:q:wait", *[_event(i) for i in range(3)])
    engine, store = _engine(spark, tmp_path)

    first = _source(spark, fake, max_batch=10)

    def crash():
        raise RuntimeError("worker died before ack")

    monkeypatch.setattr(first, "ack", crash)
    with pytest.raises(RuntimeError):
        first.run_once(engine)  # committed, never acked
    assert store.read("event_session").count() == 3

    second = _source(spark, fake, max_batch=10)
    assert second.salvage() == 3
    assert second.run_once(engine) is not None
    assert fake.llen("bull:q:processing:worker-1") == 0
    assert store.read("event_session").count() == 3  # not 6


def test_empty_queue_returns_empty_dataframe(spark):
    src = _source(spark, FakeRedis())
    df = src.poll()
    assert df.count() == 0
    assert df.columns == ["value"]
    assert src.ack() == 0


def test_old_queue_salvage_requeues_legacy_jobs_only(spark):
    """S2: only failed jobs under the configured name AND with a
    seconds-granularity timestamp are re-enqueued (main.ts:426-428);
    the re-enqueued payload carries __is_from_old_queue and a stamped
    __received_at; the legacy job is removed from failed."""
    fake = FakeRedis()
    legacy = {"name": "__default__", "timestamp": 1714000000,  # 10 digits
              "data": {"event_type": "event_session", "n": 1}}
    modern = {"name": "__default__", "timestamp": 1714000000123,  # 13: ms
              "data": {"event_type": "event_session", "n": 2}}
    other = {"name": "other_job", "timestamp": 1714000000,
             "data": {"event_type": "event_session", "n": 3}}
    fake.rpush("bull:q:failed", *[json.dumps(j) for j in (legacy, modern, other)])

    src = _source(spark, fake)
    assert src.salvage_old_queue(now_iso="2024-05-01T00:00:00+00:00") == 1

    assert fake.llen("bull:q:failed") == 2  # modern + other kept
    [requeued] = [json.loads(v.decode()) for v in fake.lrange("bull:q:wait", 0, -1)]
    assert requeued["__is_from_old_queue"] is True
    assert requeued["__received_at"] == "2024-05-01T00:00:00+00:00"
    assert requeued["n"] == 1


def test_old_queue_salvage_preserves_existing_received_at(spark):
    """Second trip through salvage must keep the FIRST __received_at
    (lineage, E6 — main.ts:433-436 only stamps when absent)."""
    fake = FakeRedis()
    job = {"name": "__default__", "timestamp": 1714000000,
           "data": {"event_type": "event_session", "n": 1,
                    "__received_at": "2024-01-01T00:00:00+00:00"}}
    fake.rpush("bull:q:failed", json.dumps(job))
    src = _source(spark, fake)
    src.salvage_old_queue(now_iso="2024-05-01T00:00:00+00:00")
    [requeued] = [json.loads(v.decode()) for v in fake.lrange("bull:q:wait", 0, -1)]
    assert requeued["__received_at"] == "2024-01-01T00:00:00+00:00"


def test_old_queue_salvage_flows_through_ingest(spark, tmp_path):
    """End-to-end S2: salvaged legacy event -> poll -> normalize ->
    table. The __is_from_old_queue tag is dropped (P1 reserved key)
    and received_at preserves the salvage stamp (E6)."""
    fake = FakeRedis()
    job = {"name": "__default__", "timestamp": 1714000000,
           "data": {"event_type": "event_session", "zozo": "yolo"}}
    fake.rpush("bull:q:failed", json.dumps(job))
    src = _source(spark, fake, max_batch=10)
    engine, store = _engine(spark, tmp_path)

    assert src.salvage_old_queue(now_iso="2024-05-01T00:00:00+00:00") == 1
    report = src.run_once(engine, batch_id=1)
    assert report.tables == {"event_session": 1}

    out = store.read("event_session")
    assert "__is_from_old_queue" not in out.columns
    assert "is_from_old_queue" not in out.columns
    row = out.collect()[0]
    assert row["zozo"] == "yolo"
    assert row["received_at"] is not None
    assert row["received_at"].strftime("%Y-%m-%d") == "2024-05-01"


def test_old_queue_salvage_env_gate(spark):
    """S2 runs only under RE_ENQUEUE_OLD_BULL_EVENTS=1, with the
    configured job name (main.ts:425-426, .env.sample:54-56)."""
    fake = FakeRedis()
    job = {"name": "main", "timestamp": 1714000000,
           "data": {"event_type": "event_session", "n": 1}}
    fake.rpush("bull:q:failed", json.dumps(job))
    src = _source(spark, fake)

    off = IngestConfig.from_env({})
    assert not off.re_enqueue_old_bull_events
    assert src.maybe_salvage_old_queue(off) == 0
    assert fake.llen("bull:q:failed") == 1  # untouched when gated off

    on = IngestConfig.from_env(
        {"RE_ENQUEUE_OLD_BULL_EVENTS": "1",
         "RE_ENQUEUE_OLD_BULL_EVENTS_JOBNAME": "main"}
    )
    assert on.re_enqueue_old_bull_events
    assert on.re_enqueue_old_bull_events_jobname == "main"
    assert src.maybe_salvage_old_queue(on) == 1
    assert fake.llen("bull:q:failed") == 0
    assert fake.llen("bull:q:wait") == 1


def test_polling_worker_drains_salvages_and_survives_restart(spark, tmp_path):
    """The supervised polling loop: drains the queue into tables with
    content-hash batch ids, and a restarted worker (crash after commit,
    before ack) replays the identical batch to a no-op while NEW
    batches after restart are never skipped."""
    import threading

    fake = FakeRedis()
    fake.rpush("bull:q:wait", *[_event(i) for i in range(6)])
    engine, store = _engine(spark, tmp_path)

    src = _source(spark, fake, max_batch=10)
    shutdown = threading.Event()

    def stop_when_drained():
        import time
        deadline = time.time() + 120
        while time.time() < deadline:
            if fake.llen("bull:q:wait") == 0 and not src._inflight:
                break
            time.sleep(0.2)
        shutdown.set()

    watcher = threading.Thread(target=stop_when_drained, daemon=True)
    watcher.start()
    batches = src.run_polling_worker(engine, shutdown, interval_s=0.2)
    assert batches >= 1
    assert store.read("event_session").count() == 6

    # crash-after-commit simulation: re-inject the SAME payload set
    # (what salvage would redeliver) -> content hash matches -> no-op;
    # then a genuinely new event must still land.
    fake.rpush("bull:q:wait", *[_event(i) for i in range(6)])
    fake.rpush("bull:q:wait", _event(100))
    shutdown2 = threading.Event()
    src2 = _source(spark, fake, max_batch=6)  # first poll == old batch

    def stop2():
        import time
        deadline = time.time() + 120
        while time.time() < deadline:
            if fake.llen("bull:q:wait") == 0 and not src2._inflight:
                break
            time.sleep(0.2)
        shutdown2.set()

    threading.Thread(target=stop2, daemon=True).start()
    src2.run_polling_worker(engine, shutdown2, interval_s=0.2)
    got = sorted(
        r["n"] for r in store.read("event_session").select("n").collect()
    )
    assert got == [0, 1, 2, 3, 4, 5, 100]  # replay absorbed, new landed


# -- bull wire format (real classic-Bull layout) ------------------------


def _add_bull_job(fake, queue, payload_dict, name="__default__",
                  timestamp=1714000000123):
    """Producer-side job add in classic-Bull layout: hash + id list."""
    job_id = str(fake.incr(f"bull:{queue}:id"))
    fake.hset(f"bull:{queue}:{job_id}", mapping={
        "name": name,
        "timestamp": str(timestamp),
        "data": json.dumps(payload_dict),
    })
    fake.rpush(f"bull:{queue}:wait", job_id)
    return job_id


def test_bull_mode_poll_ack_parity_with_payload_mode(spark):
    """Same jobs through both wire formats yield the same DataFrame;
    bull-mode ack clears the processing list AND deletes job hashes
    (removeOnComplete, main.ts:446)."""
    fake = FakeRedis()
    ids = [
        _add_bull_job(fake, "q", {"event_type": "event_session", "n": i})
        for i in range(3)
    ]
    src = _source(spark, fake, wire_format="bull", max_batch=10)
    df = src.poll()
    vals = sorted(json.loads(r["value"])["n"] for r in df.collect())
    assert vals == [0, 1, 2]
    assert fake.llen("bull:q:wait") == 0
    assert fake.llen("bull:q:processing:worker-1") == 3

    assert src.ack() == 3
    assert fake.llen("bull:q:processing:worker-1") == 0
    for job_id in ids:
        assert fake.hgetall(f"bull:q:{job_id}") == {}  # hash deleted


class _Recording:
    """Forwards every command to a ``FakeRedis`` and logs its name."""

    def __init__(self, inner):
        self.inner = inner
        self.calls: list[str] = []

    def __getattr__(self, name):
        self.calls.append(name.upper())
        return getattr(self.inner, name)


@pytest.mark.parametrize("wire_format", ["payload", "bull"])
def test_poll_is_one_lmove_per_job_plus_one(spark, wire_format):
    """The delivery protocol's shape: a poll that drains n < max_batch
    jobs issues n + 1 LMOVEs (the last finds the wait list empty) and,
    in bull format, one HGETALL per job for its payload; nothing else."""
    fake = FakeRedis()
    n = 3
    for i in range(n):
        event = {"event_type": "event_session", "n": i}
        if wire_format == "bull":
            _add_bull_job(fake, "q", event)
        else:
            fake.rpush("bull:q:wait", json.dumps(event))
    client = _Recording(fake)
    src = _source(spark, client, wire_format=wire_format, max_batch=10)
    assert src.poll().count() == n
    per_job = ["LMOVE", "HGETALL"] if wire_format == "bull" else ["LMOVE"]
    assert client.calls == per_job * n + ["LMOVE"]


def test_bull_mode_crash_salvage_redelivers_by_id(spark):
    """At-least-once in bull mode: un-acked ids return to wait on
    salvage; payloads survive because the hashes were never deleted."""
    fake = FakeRedis()
    for i in range(3):
        _add_bull_job(fake, "q", {"event_type": "event_session", "n": i})
    crashed = _source(spark, fake, wire_format="bull", max_batch=10)
    crashed.poll()  # dies before ack

    revived = _source(spark, fake, wire_format="bull", max_batch=10)
    assert revived.salvage() == 3
    df = revived.poll()
    vals = [json.loads(r["value"])["n"] for r in df.collect()]
    assert sorted(vals) == [0, 1, 2]
    assert revived.ack() == 3


def test_bull_mode_old_queue_salvage(spark):
    """S2 in bull layout: failed list holds ids; only the legacy-
    timestamp job under the configured name re-enqueues (as a NEW job
    hash with ms timestamp + next INCR id); legacy id+hash removed."""
    fake = FakeRedis()
    legacy_id = _add_bull_job(
        fake, "q", {"event_type": "event_session", "n": 1},
        timestamp=1714000000)          # 10 digits: legacy signature
    modern_id = _add_bull_job(
        fake, "q", {"event_type": "event_session", "n": 2},
        timestamp=1714000000123)       # 13 digits: modern
    other_id = _add_bull_job(
        fake, "q", {"event_type": "event_session", "n": 3},
        name="other_job", timestamp=1714000000)
    # move all three to failed (simulating handler failures)
    for job_id in (legacy_id, modern_id, other_id):
        fake.lrem("bull:q:wait", 1, job_id)
        fake.rpush("bull:q:failed", job_id)

    src = _source(spark, fake, wire_format="bull")
    assert src.salvage_old_queue(now_iso="2024-05-01T00:00:00+00:00") == 1

    failed_left = [v.decode() for v in fake.lrange("bull:q:failed", 0, -1)]
    assert sorted(failed_left) == sorted([modern_id, other_id])
    assert fake.hgetall(f"bull:q:{legacy_id}") == {}  # job.remove()

    [new_id] = [v.decode() for v in fake.lrange("bull:q:wait", 0, -1)]
    assert new_id not in (legacy_id, modern_id, other_id)
    env = {k.decode(): v.decode()
           for k, v in fake.hgetall(f"bull:q:{new_id}").items()}
    assert env["name"] == "__default__"
    assert len(env["timestamp"]) >= 13  # ms: can't re-trigger salvage
    data = json.loads(env["data"])
    assert data["__is_from_old_queue"] is True
    assert data["__received_at"] == "2024-05-01T00:00:00+00:00"
    assert data["n"] == 1

    # and the re-enqueued job flows through a normal bull-mode poll
    df = src.poll()
    [row] = df.collect()
    assert json.loads(row["value"])["n"] == 1


def test_bull_mode_ingest_end_to_end(spark, tmp_path):
    """bull-mode poll -> IngestEngine -> table, then replay of the
    same ids after a crash-before-ack is absorbed by the batch-id
    commit log (same guarantees as payload mode)."""
    fake = FakeRedis()
    for i in range(4):
        _add_bull_job(fake, "q", {"event_type": "event_session", "n": i})
    engine, store = _engine(spark, tmp_path)
    src = _source(spark, fake, wire_format="bull", max_batch=10)

    df = src.poll()
    engine.process_raw_batch(df, batch_id="bull-e2e-1")
    src.ack()
    assert store.read("event_session").count() == 4

    # crash-before-ack replay of a committed batch: same ids, same
    # payloads, same content-hash batch id -> commit log absorbs it
    for i in range(2):
        _add_bull_job(fake, "q", {"event_type": "event_session", "n": 10 + i})
    src.poll()
    engine.process_raw_batch(
        spark.createDataFrame(
            [(p,) for p in src._inflight_payloads], "value string"
        ),
        batch_id="bull-e2e-2",
    )
    # ...crash before ack: a restarted consumer salvages and replays
    revived = _source(spark, fake, wire_format="bull", max_batch=10)
    assert revived.salvage() == 2
    df2 = revived.poll()
    engine.process_raw_batch(df2, batch_id="bull-e2e-2")  # replay
    revived.ack()
    assert store.read("event_session").count() == 6  # 4 + 2, not 4 + 4


def test_rejects_unknown_wire_format(spark):
    with pytest.raises(ValueError, match="wire_format"):
        _source(spark, FakeRedis(), wire_format="yaml")
