"""Redis Bull queue source adapter (reference parity: S1/S2).

The reference consumes JSON event jobs from a Bull queue
(src/main.ts:220-223, :520-543) and never loses an event: jobs are
only removed from Redis after they are handed to a bulker, failed
bulk inserts are re-enqueued (src/main.ts:463-514), and a graceful
shutdown re-injects everything still waiting (src/main.ts:678-735).
This adapter reproduces that at-least-once contract on the Redis
"reliable queue" list pattern:

- ``poll()`` atomically ``LMOVE``\\ s up to ``max_batch`` jobs from the
  wait list to a per-consumer *processing* list and returns them as a
  one-column DataFrame of raw JSON strings (column ``value``) — the
  exact input contract of ``IngestEngine.process_raw_batch``.
- ``ack()`` removes the polled jobs from the processing list via
  ``LREM`` — callers invoke it only AFTER the batch commits
  (``run_once`` wires this up). A crash anywhere between poll and
  commit leaves the jobs in the processing list.
- ``salvage()`` (call on startup) moves processing-list leftovers
  from a crashed run back to the head of the wait list, so the next
  poll redelivers them. Double delivery is tolerated downstream: the
  store's idempotent batch-id commit log absorbs replays of a
  committed batch, and the DLQ attempt columns bound retries of a
  poisoned one (streaming/ingest.py E1-E6).

S2 — old-queue salvage (src/main.ts:422-461): the reference watches
the queue's *failed* jobs for legacy events from an older producer —
recognizable by a job timestamp in SECONDS (string length <= 10,
where ms timestamps are >= 13, main.ts:428) under a configured job
name — stamps ``__received_at`` on first sight, re-enqueues the
payload tagged ``__is_from_old_queue: true`` (a reserved key the
normalizer drops, config.py:42, after lineage extraction), and
removes the legacy job. ``salvage_old_queue()`` is that loop over
the failed list.

Wire formats — ``wire_format`` selects the byte layout (both share
the exact same at-least-once poll/ack/salvage protocol):

- ``"payload"`` (default): the wait/processing lists hold the raw
  event JSON itself; the failed list holds ``{"name", "timestamp",
  "data"}`` envelopes (the fields main.ts:426-428 reads). Simplest
  possible layout for a greenfield producer.
- ``"bull"``: classic-Bull byte layout for the JOB-HASH / ID-LIST /
  INCR-COUNTER core (the ``bull`` npm package the reference
  instantiates, src/main.ts:220-223). Jobs live as Redis HASHES at
  ``bull:<queue>:<id>`` with fields ``name`` / ``timestamp`` (ms
  epoch) / ``data`` (JSON string); the wait / processing / failed
  keys hold job IDS; ``bull:<queue>:id`` is the INCR counter new
  jobs draw from. ``ack()`` deletes the job hash (the reference
  re-enqueues with ``removeOnComplete: true``, main.ts:446) and
  ``salvage_old_queue()`` reads the envelope fields from the hash
  instead of the list element.

  Parity is BYTE-LEVEL FOR THAT CORE ONLY — this adapter is not a
  drop-in consumer for a live Bull deployment. Known deviations from
  the full classic-Bull state machine:

  - in-progress ids: classic Bull keeps them in the single
    ``bull:<q>:active`` list; this adapter uses a per-consumer
    ``bull:<q>:processing:<consumer>`` list so a restarted consumer
    can salvage its OWN leftovers without racing siblings.
  - failed jobs: classic Bull stores failed ids in a Redis SET
    (``SADD``); this adapter keeps a LIST so ``LRANGE``-based S2
    salvage scans it in insertion order.
  - delayed jobs: classic Bull encodes ``timestamp * 0x1000 |
    attemptsMade`` into the zset score; this adapter's
    ``bull:<q>:delayed`` zset scores by plain due-time ms (same
    ordering, simpler score).

S1-delay — delayed redelivery (the reference's failure paths all
re-enqueue WITH A DELAY, i.e. Bull's ``delayed`` sorted set):

- batch-failure demotion: ``delay: 2000`` + ``attempts: 5`` with
  ``backoff {type: exponential, delay: 3000}`` (src/main.ts:486,
  :502-507) — modeled by ``requeue_failed_event()`` + ``retry_job()``.
- bulker-full: ``delay: 5000`` (src/main.ts:393-415) —
  ``requeue_bulker_full()``.
- emergency-client busy: ``delay: 1000 + (1..10)*1000`` ms
  (src/main.ts:301) — ``requeue_emergency_busy()`` (randomness
  injectable).

``add_job(..., delay_ms=N)`` parks the job in the delayed zset;
``poll()`` first promotes every job whose due time has passed (what
Bull's delayed-set timer does). The clock is injectable (``now_ms``)
so tests drive redelivery ordering deterministically. Exponential
backoff uses classic Bull's builtin strategy
``round((2^attemptsMade - 1) * delay)`` (bull lib/backoffs.js).

The ``redis`` client library is not available in this container, so
``client`` is injectable (tests use a fake implementing the list
commands LMOVE, LREM, LRANGE, LPUSH, RPUSH plus — for the bull wire
format — HGETALL, HSET, INCR, DELETE); the ``from_url`` path is
gated on the import.

Scale note: a single poller thread feeding Spark is the reference's
own topology (one worker, READ_MAX_CONCURRENCY handlers). For true
scale the queue would be fronted by Kafka and read with
``spark.readStream.format("kafka")`` — same downstream pipeline.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession

try:  # gated: not available in this container
    import redis  # type: ignore

    HAVE_REDIS = True
except ImportError:
    redis = None
    HAVE_REDIS = False

# Bull's list key layout for a queue named Q is "bull:Q:wait" etc.
WAIT_SUFFIX = "wait"
PROCESSING_SUFFIX = "processing"
FAILED_SUFFIX = "failed"
DELAYED_SUFFIX = "delayed"  # zset: token -> due-time ms

# The reference's three delay classes (see module docstring):
FAIL_DELAY_MS = 2_000  # src/main.ts:486
FAIL_ATTEMPTS = 5  # src/main.ts:507
FAIL_BACKOFF_BASE_MS = 3_000  # src/main.ts:502-506
BULKER_FULL_DELAY_MS = 5_000  # src/main.ts:393

# Reference: jobs from the old producer carry second-granularity
# timestamps; ms timestamps are >= 13 digits (src/main.ts:428).
_OLD_QUEUE_TS_MAX_DIGITS = 10


def _as_text(v) -> str:
    return v.decode("utf-8") if isinstance(v, (bytes, bytearray)) else str(v)


class RedisBullSource:
    """Micro-batch poller over a Bull queue with at-least-once hand-off.

    Lifecycle per micro-batch (what ``run_once`` does)::

        source.salvage()                       # once, on startup
        df = source.poll()                     # wait -> processing
        engine.process_raw_batch(df, batch_id) # commit
        source.ack()                           # processing -> gone

    A crash before ``ack()`` leaves the batch in the processing list;
    the next ``salvage()`` re-delivers it (at-least-once, replays
    absorbed downstream by the idempotent batch-id log / DLQ attempt
    columns).
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str | None = None,
        queue: str = "events",
        max_batch: int = 1000,
        client=None,
        consumer: str = "worker-1",
        wire_format: str = "payload",
        now_ms=None,
    ):
        if client is None:
            if not HAVE_REDIS:
                raise NotImplementedError(
                    "redis client library not available in this environment; "
                    "inject a client, or use streaming.stream.start_file_ingest"
                )
            client = redis.Redis.from_url(url)
        if wire_format not in ("payload", "bull"):
            raise ValueError(
                f"wire_format must be 'payload' or 'bull', got {wire_format!r}"
            )
        self.spark = spark
        self.client = client
        self.queue = queue
        self.max_batch = max_batch
        self.consumer = consumer
        self.wire_format = wire_format
        # injectable ms-epoch clock (tests drive delayed redelivery
        # with a fake clock; production uses wall time)
        if now_ms is None:
            import time

            now_ms = lambda: int(time.time() * 1000)  # noqa: E731
        self.now_ms = now_ms
        # list tokens polled but not yet acked (payload mode: the raw
        # JSON itself; bull mode: job ids). Mirror of the Redis
        # processing list for this consumer; authoritative copy is in
        # Redis — this is only the LREM shopping list for ack().
        self._inflight: list[str] = []
        # the event JSON for each in-flight token, in poll order (in
        # payload mode this aliases _inflight's content)
        self._inflight_payloads: list[str] = []

    # -- key layout -------------------------------------------------
    def _key(self, suffix: str) -> str:
        return f"bull:{self.queue}:{suffix}"

    @property
    def wait_key(self) -> str:
        return self._key(WAIT_SUFFIX)

    @property
    def processing_key(self) -> str:
        # per-consumer processing list: a restarted consumer salvages
        # its OWN leftovers without racing siblings
        return f"{self._key(PROCESSING_SUFFIX)}:{self.consumer}"

    @property
    def failed_key(self) -> str:
        return self._key(FAILED_SUFFIX)

    @property
    def delayed_key(self) -> str:
        return self._key(DELAYED_SUFFIX)

    # bull wire format: per-job hash + id counter (classic Bull layout)
    def _job_key(self, job_id: str) -> str:
        return f"bull:{self.queue}:{job_id}"

    @property
    def id_counter_key(self) -> str:
        return f"bull:{self.queue}:id"

    def _job_fields(self, job_id: str) -> dict[str, str]:
        """Decode a job hash (``name`` / ``timestamp`` / ``data``)."""
        raw = self.client.hgetall(self._job_key(job_id)) or {}
        return {_as_text(k): _as_text(v) for k, v in raw.items()}

    # -- at-least-once poll/ack --------------------------------------
    def salvage(self) -> int:
        """Re-deliver jobs a crashed run left in the processing list.

        Moves them back to the HEAD of the wait list (preserving their
        original relative order) so the very next ``poll()`` picks them
        up before newer traffic — the reference's restart behavior
        (un-acked Bull jobs return to wait). Returns the count.
        """
        n = 0
        # LMOVE processing(RIGHT) -> wait(LEFT) reverses twice: taking
        # from the tail of processing and pushing to the head of wait
        # restores original order at the front of the queue.
        while self.client.lmove(self.processing_key, self.wait_key, "RIGHT", "LEFT"):
            n += 1
        self._inflight.clear()
        self._inflight_payloads.clear()
        return n

    def poll(self) -> DataFrame:
        """Drain up to ``max_batch`` jobs into the processing list and
        return them as a DataFrame (column ``value``).

        Each job moves atomically (``LMOVE`` wait->processing), so a
        crash mid-poll strands jobs in exactly one of the two lists —
        never loses one, never duplicates one. In ``bull`` wire format
        the moved tokens are job ids and the payload is read from the
        job hash's ``data`` field (id stays tracked even if the hash
        is missing, so ``ack()`` still clears the stale id).
        """
        self.promote_due()
        tokens: list[str] = []
        payloads: list[str] = []
        for _ in range(self.max_batch):
            job = self.client.lmove(self.wait_key, self.processing_key, "LEFT", "RIGHT")
            if job is None:
                break
            token = _as_text(job)
            tokens.append(token)
            if self.wire_format == "bull":
                data = self._job_fields(token).get("data")
                if data is not None:
                    payloads.append(data)
            else:
                payloads.append(token)
        self._inflight.extend(tokens)
        self._inflight_payloads.extend(payloads)
        rows = [(p,) for p in payloads]
        return self.spark.createDataFrame(rows or [], "value string")

    def ack(self) -> int:
        """Acknowledge the polled batch: remove each in-flight token
        from the processing list (and, in bull wire format, delete the
        job hash — the reference's ``removeOnComplete: true``,
        src/main.ts:446). Call only after the batch committed.
        Returns the number of jobs acked."""
        n = 0
        for token in self._inflight:
            n += int(self.client.lrem(self.processing_key, 1, token))
            if self.wire_format == "bull":
                self.client.delete(self._job_key(token))
        self._inflight.clear()
        self._inflight_payloads.clear()
        return n

    # -- S1-delay: Bull's delayed sorted set --------------------------
    def promote_due(self) -> int:
        """Move every delayed job whose due time has passed to the
        TAIL of the wait list, in due-time order — what classic Bull's
        delayed-set timer does. ``poll()`` calls this first, so a due
        job is always redelivered on the next poll after its delay
        elapses. Returns the count promoted."""
        due = self.client.zrangebyscore(
            self.delayed_key, "-inf", self.now_ms()
        )
        for member in due:
            self.client.zrem(self.delayed_key, member)
            self.client.rpush(self.wait_key, _as_text(member))
        return len(due)

    def add_job(
        self,
        data: dict,
        *,
        delay_ms: int = 0,
        attempts: int = 1,
        backoff_base_ms: int | None = None,
        name: str = "__default__",
    ) -> str:
        """``eventsQueue.add(data, opts)``: enqueue an event,
        optionally delayed (Bull's ``delay`` opt) with a retry budget
        (``attempts``) and exponential-backoff base (``backoff.delay``,
        src/main.ts:502-507). In bull wire format the opts persist in
        the job hash (classic Bull stores ``opts`` JSON +
        ``attemptsMade`` there) so ``retry_job`` can honor them; in
        payload mode the raw JSON is the token — the delay is still
        honored via the delayed zset, but the retry budget is not
        persisted (the reference's manual requeue paths track attempts
        in the DATA instead, which the ``requeue_*`` helpers do).
        Returns the queue token (job id in bull mode)."""
        if self.wire_format == "bull":
            token = self._write_bull_job(
                data,
                name=name,
                attempts=attempts,
                backoff_base_ms=backoff_base_ms,
            )
        else:
            token = json.dumps(data)
        if delay_ms > 0:
            self.client.zadd(
                self.delayed_key, {token: self.now_ms() + delay_ms}
            )
        else:
            self.client.rpush(self.wait_key, token)
        return token

    def retry_job(self, token: str, delay_ms: int | None = None) -> int | None:
        """Bull's failed-processor transition for a POLLED job: clear
        it from the processing list, then either park it in the
        delayed zset for its next attempt or exhaust it to the failed
        key.

        In bull wire format the job hash's ``attemptsMade`` is
        incremented and compared to ``opts.attempts``; the backoff
        delay is classic Bull's builtin exponential strategy
        ``round((2^attemptsMade - 1) * backoff.delay)``
        (bull lib/backoffs.js) unless ``delay_ms`` overrides it. In
        payload mode there is no persisted budget, so ``delay_ms`` is
        required and the job always reschedules (callers bound retries
        via the data-level attempt counters, as the reference does).

        Returns the scheduled delay in ms, or ``None`` if the job was
        moved to the failed key (budget exhausted)."""
        self.client.lrem(self.processing_key, 1, token)
        if token in self._inflight:
            idx = self._inflight.index(token)
            self._inflight.pop(idx)
            if idx < len(self._inflight_payloads):
                self._inflight_payloads.pop(idx)
        if self.wire_format == "bull":
            fields = self._job_fields(token)
            made = int(fields.get("attemptsMade") or 0) + 1
            self.client.hset(
                self._job_key(token), mapping={"attemptsMade": str(made)}
            )
            try:
                opts = json.loads(fields.get("opts") or "{}")
            except ValueError:
                opts = {}
            budget = int(opts.get("attempts") or 1)
            if made >= budget:
                self.client.rpush(self.failed_key, token)
                return None
            if delay_ms is None:
                base = int(
                    (opts.get("backoff") or {}).get("delay")
                    or FAIL_BACKOFF_BASE_MS
                )
                delay_ms = round((2**made - 1) * base)
        elif delay_ms is None:
            raise ValueError(
                "payload wire format persists no retry budget; pass delay_ms"
            )
        self.client.zadd(
            self.delayed_key, {token: self.now_ms() + delay_ms}
        )
        return delay_ms

    # -- the reference's three delay classes --------------------------
    def requeue_failed_event(self, event: dict) -> str:
        """E1 batch-failure demotion (src/main.ts:486-507): re-enqueue
        a batch-failed event for unitary retry — ``__is_single_retry:
        true``, 2 s initial delay, 5 attempts, exponential backoff
        base 3 s."""
        return self.add_job(
            {**event, "__is_single_retry": True},
            delay_ms=FAIL_DELAY_MS,
            attempts=FAIL_ATTEMPTS,
            backoff_base_ms=FAIL_BACKOFF_BASE_MS,
        )

    def requeue_bulker_full(self, event: dict) -> str:
        """Bulker-full backpressure (src/main.ts:393-415): 5 s delay;
        the attempt counter rides the DATA (``__bulker_full_attempts``)
        — the reference deliberately leaves Bull ``attempts`` unset
        because retry happens by re-accepting the event."""
        n = int(event.get("__bulker_full_attempts") or 0) + 1
        return self.add_job(
            {**event, "__bulker_full_attempts": n},
            delay_ms=BULKER_FULL_DELAY_MS,
        )

    def requeue_emergency_busy(self, event: dict, rand01: float | None = None) -> str:
        """Emergency-client-busy (src/main.ts:300-320): re-enqueue
        with a random 2-11 s delay (``1000 + (1..10)*1000`` ms —
        randomness injectable for tests); the attempt counter rides
        the DATA (``__single_retry_attempts``)."""
        if rand01 is None:
            import random

            rand01 = random.random()
        delay_ms = 1000 + (int(rand01 * 10) + 1) * 1000
        n = int(event.get("__single_retry_attempts") or 0) + 1
        return self.add_job(
            {**event, "__single_retry_attempts": n}, delay_ms=delay_ms
        )

    def run_once(self, engine, batch_id: int | str | None = None):
        """One poll -> process -> ack cycle against an ``IngestEngine``.

        The ack happens ONLY if ``process_raw_batch`` returns (commit);
        on any exception the jobs stay in the processing list for
        ``salvage()`` to re-deliver — the at-least-once contract.

        Without a ``batch_id`` the batch is keyed by a content hash of
        its payloads: a crash AFTER commit but BEFORE ack redelivers
        the identical job set, reproduces the same id, and the store's
        commit log absorbs the replay — no counter to persist, no reuse
        hazard after restart (a fresh counter would collide with a
        committed id and LOSE the new batch). The flip side is
        deliberate: a producer re-sending a byte-identical batch
        deduplicates.
        """
        df = self.poll()
        if not self._inflight:
            return None
        if batch_id is None:
            digest = hashlib.sha256(
                "\x00".join(self._inflight_payloads).encode("utf-8")
            ).hexdigest()[:24]
            batch_id = f"redis-{digest}"
        report = engine.process_raw_batch(df, batch_id=batch_id)
        self.ack()
        return report

    def run_polling_worker(
        self,
        engine,
        shutdown,
        interval_s: float = 1.0,
        config=None,
    ) -> int:
        """Supervised polling loop: the Redis-source equivalent of the
        file-source worker (__main__.run_worker). On startup, salvage
        a crashed predecessor's processing list and (env-gated) the
        old queue; then ``run_once`` until ``shutdown`` is set,
        sleeping ``interval_s`` between empty polls (the reference's
        BULKER_REPEAT_INTERVAL). Batch ids are content hashes of the
        polled payloads (see ``run_once``), so a batch redelivered
        after a crash — by this worker or a restarted one — replays to
        a no-op. Returns the number of batches committed."""
        self.salvage()
        if config is not None:
            self.maybe_salvage_old_queue(config)
        batches = 0
        while not shutdown.is_set():
            if self.run_once(engine) is None:  # empty poll: idle tick
                shutdown.wait(interval_s)
                continue
            batches += 1
        return batches

    # -- S2: old-queue salvage ----------------------------------------
    def maybe_salvage_old_queue(self, config) -> int:
        """Env-gated S2 (reference: RE_ENQUEUE_OLD_BULL_EVENTS === "1",
        src/main.ts:425): runs the salvage loop only when the
        ``IngestConfig`` flag is set, with the configured job name."""
        if not getattr(config, "re_enqueue_old_bull_events", False):
            return 0
        return self.salvage_old_queue(
            jobname=config.re_enqueue_old_bull_events_jobname
        )

    def salvage_old_queue(
        self,
        jobname: str = "__default__",
        now_iso: str | None = None,
    ) -> int:
        """Re-enqueue legacy failed jobs (reference src/main.ts:422-461).

        Scans the failed list for ``{"name", "timestamp", "data"}``
        envelopes whose name matches ``jobname`` and whose timestamp is
        seconds-granularity (<= 10 digits — the reference's legacy-
        producer signature, main.ts:428). Each match is re-enqueued to
        the wait list as ``{**data, "__is_from_old_queue": true}`` with
        ``__received_at`` stamped on first sight (so lineage survives,
        E6), and the legacy job is removed. Non-matching failed jobs
        are left untouched. Returns the number re-enqueued.

        ``now_iso`` is the ``__received_at`` stamp for data that lacks
        one (injectable for deterministic tests; defaults to current
        UTC time in ISO-8601, the reference's ``dayjs().toDate()``).

        In ``bull`` wire format the failed list holds job IDS; the
        envelope fields come from the job hash (``data`` is a JSON
        string there, per classic Bull), the re-enqueue is ``add_job``
        (``eventsQueue.add``, main.ts:441-454): a NEW hash under the
        next ``INCR``'d id with an ms timestamp, so it can never
        re-trigger the legacy signature, pushed to the wait list; and
        the legacy job id + hash are removed (``job.remove()``,
        main.ts:458).
        """
        if now_iso is None:
            from datetime import datetime, timezone

            now_iso = datetime.now(timezone.utc).isoformat()
        requeued = 0
        for raw in list(self.client.lrange(self.failed_key, 0, -1)):
            text = _as_text(raw)
            envelope = self._old_queue_envelope(text)
            if envelope is None or envelope.get("name") != jobname:
                continue
            ts = envelope.get("timestamp")
            if ts is None or len(str(ts)) > _OLD_QUEUE_TS_MAX_DIGITS:
                continue  # ms-granularity: a current-producer failure, keep
            data = envelope.get("data")
            if not isinstance(data, dict):
                continue
            if not data.get("__received_at"):
                # first time through: flag its arrival date (main.ts:433-436)
                data["__received_at"] = now_iso
            self.add_job({**data, "__is_from_old_queue": True})
            self.client.lrem(self.failed_key, 1, text)
            if self.wire_format == "bull":
                self.client.delete(self._job_key(text))
            requeued += 1
        return requeued

    def _old_queue_envelope(self, text: str) -> dict | None:
        """A failed-list entry as its ``{"name", "timestamp", "data"}``
        envelope with ``data`` decoded, or None when it is not one. In
        ``bull`` format the entry is a job id whose hash holds the
        fields (``data`` a JSON string); otherwise it is the envelope's
        JSON itself."""
        try:
            if self.wire_format == "bull":
                envelope = self._job_fields(text)
                return {**envelope, "data": json.loads(envelope.get("data", ""))}
            envelope = json.loads(text)
        except ValueError:
            return None
        return envelope if isinstance(envelope, dict) else None

    def _write_bull_job(
        self,
        data: dict,
        *,
        name: str = "__default__",
        attempts: int = 1,
        backoff_base_ms: int | None = None,
    ) -> str:
        """Write ONLY the job hash in classic-Bull layout (the caller
        decides whether the id goes to the wait list or the delayed
        zset). Persists the retry budget the way classic Bull does —
        ``opts`` JSON (``attempts`` + optional exponential ``backoff``)
        plus an ``attemptsMade`` counter — so ``retry_job()`` can
        replay Bull's failed-processor transition (src/main.ts:502-507
        sets attempts=5, backoff {exponential, 3000})."""
        job_id = str(self.client.incr(self.id_counter_key))
        opts: dict = {"attempts": int(attempts)}
        if backoff_base_ms is not None:
            opts["backoff"] = {
                "type": "exponential",
                "delay": int(backoff_base_ms),
            }
        self.client.hset(
            self._job_key(job_id),
            mapping={
                "name": name,
                "timestamp": str(self.now_ms()),
                "data": json.dumps(data),
                "opts": json.dumps(opts),
                "attemptsMade": "0",
            },
        )
        return job_id
