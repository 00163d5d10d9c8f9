"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference keeps no per-key streaming state (its only state is the
in-memory bulker buffer, SURVEY §2.5); this is the Layer-B extension
point for operators Spark's built-ins can't express: per-key running
aggregates with arbitrary Python logic and explicit state eviction.

Shape: ``groupBy(key).applyInPandasWithState(fn)`` — state lives in
the state store (checkpointed, partitioned by key), each micro-batch
hands the function Arrow batches of that key's new rows plus its
state handle. This scales horizontally: state is sharded with the
shuffle partitioning, nothing is driver-side.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.pyworker import worker_setup

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _update_user_totals(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Running per-user event count + value sum, updated per micro-batch."""
    worker_setup()
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Attach the stateful operator to a streaming events DataFrame."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# -- timeout-evicting sessionizer -------------------------------------------
# The state-EVICTION shape the running-totals operator doesn't
# exercise: per-user sessions held in the state store and closed by an
# event-time timeout when the watermark passes last-activity + gap.
# Without eviction, per-key state grows with the key universe forever
# — at 100 TB of events this operator's memory is bounded by the
# number of sessions open inside the watermark, not by history.
SESSION_GAP_S = 1800  # 30 min, matching the session_window queries

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_s", T.LongType()),
        T.StructField("session_end_s", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_s", T.LongType()),
        T.StructField("last_s", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _update_user_sessions(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Gap-based sessionization with explicit state eviction.

    Two paths: (a) the timeout path — the watermark passed this user's
    last activity + gap, so the open session closes and its state is
    REMOVED; (b) the data path — new events extend or roll the open
    session, closing any session whose gap was exceeded within the
    batch, and the event-time timeout is re-armed at last + gap.
    """
    worker_setup()
    uid = key[0]

    def row(start: int, last: int, n: int) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [uid],
                "session_start_s": [start],
                "session_end_s": [last],
                "n_events": [n],
            }
        )

    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield row(start, last, n)
        return

    times: list[int] = []
    for pdf in batches:
        times.extend((pdf["ts"].astype("int64") // 1_000_000_000).tolist())
    times.sort()
    cur = state.get if state.exists else None
    for t in times:
        if cur is None:
            cur = (t, t, 0)
        start, last, n = cur
        if t - last > SESSION_GAP_S:
            yield row(start, last, n)
            cur = (t, t, 1)
        else:
            cur = (start, t, n + 1)
    if cur is not None:
        state.update(cur)
        state.setTimeoutTimestamp((cur[1] + SESSION_GAP_S) * 1000)


def sessionize_with_timeout(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Attach the timeout-evicting sessionizer to a streaming events
    DataFrame (the stream must carry an event-time ``ts`` column)."""
    return (
        events.withWatermark("ts", watermark)
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_sessions,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
