"""Redis Bull queue source adapter (reference parity: S1/S2).

The reference consumes JSON event jobs from a Bull queue
(src/main.ts:220-223, :520-543) and never loses an event: jobs are
only removed from Redis after they are handed to a bulker, and a
graceful shutdown re-injects everything still waiting
(src/main.ts:678-735). This adapter reproduces that at-least-once
contract on the Redis "reliable queue" list pattern:

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
normalizer drops, streaming/normalize.py ``_RESERVED_KEYS``, after
lineage extraction), and removes the legacy job.
``salvage_old_queue()`` is that loop over the failed list.

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

Failures: where the reference re-enqueues a failed event with a delay,
the engine dead-letters it (E1-E3 -> the ``_dlq`` table, SURVEY.md),
so poll -> commit -> ack is this source's only delivery protocol.

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
import time

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

    def add_job(self, data: dict, *, name: str = "__default__") -> str:
        """``eventsQueue.add(data)``: enqueue an event at the tail of the
        wait list and return its queue token. In bull wire format the
        token is a new job id drawn from the ``INCR`` counter, whose
        hash holds classic Bull's fields; its single attempt leaves
        retries to the engine's DLQ."""
        token = json.dumps(data)
        if self.wire_format == "bull":
            job_id = str(self.client.incr(self.id_counter_key))
            self.client.hset(
                self._job_key(job_id),
                mapping={
                    "name": name,
                    "timestamp": str(int(time.time() * 1000)),
                    "data": token,
                    "opts": json.dumps({"attempts": 1}),
                    "attemptsMade": "0",
                },
            )
            token = job_id
        self.client.rpush(self.wait_key, token)
        return token

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
