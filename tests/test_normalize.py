"""Layer-A normalization semantics, pinned to FIXTURES.md.

Fixture 1 exercises the type-inference matrix (reference
src/utils.ts:3-11); fixture 2 the flattening flag matrix (reference
clickhouse-batch-client.class.ts:209-264) and key normalization.
"""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import types as T

from redis_events_to_clickhouse_tables_spark.config import IngestConfig
from redis_events_to_clickhouse_tables_spark.functions.names import snake_case
from redis_events_to_clickhouse_tables_spark.plans.inference import parse_events
from redis_events_to_clickhouse_tables_spark.streaming.normalize import normalize_events

FIX1 = {
    "event_type": "event_session",
    "zozo": "yolo",
    "bibi": "bonjour",
    "mais": 23,
    "truc": "2025-03-04T05:06:07.000Z",
    "zaza": "2024-12-01",
    "yolo": "2034 12 01",
    "momo": "02/02/2045",
}
FIX2 = {
    "event_type": "event_session",
    "objectMoche": {"profond": 1, "dest": True},
    "manger": ["dupain"],
    "ba cest un": "test",
    "toto": True,
    "zozo": "yolo",
    "bibi": False,
    "mais": 23,
    "truc": "2025-03-04T05:06:07.000Z",
    "zaza": "2024-12-01",
    "yolo": "2034 12 01",
    "momo": "02/02/2045",
}


def _events(spark, payloads):
    raw = spark.createDataFrame([(json.dumps(p),) for p in payloads], "value string")
    return parse_events(spark, raw)


def _types(df):
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def test_snake_case_matches_lodash_semantics():
    assert snake_case("someTest") == "some_test"
    assert snake_case("ba cest un") == "ba_cest_un"
    assert snake_case("objectMoche") == "object_moche"
    assert snake_case("HTTPServer") == "http_server"
    assert snake_case("foo2bar") == "foo_2_bar"
    assert snake_case("__received_at") == "received_at"


def test_fixture1_type_inference_matrix(spark):
    out = normalize_events(_events(spark, [FIX1]))
    t = _types(out)
    assert t["zozo"] == "string"
    assert t["bibi"] == "string"
    assert t["mais"] == "bigint"
    assert t["truc"] == "timestamp"  # ISO string with T+Z
    assert t["zaza"] == "timestamp"  # matches regex, parseable
    assert t["yolo"] == "string"  # space breaks the date regex
    assert t["momo"] == "timestamp"  # US-style slash date
    assert "event_type" not in t  # P1: routing key dropped
    row = out.collect()[0]
    assert row["zaza"] == datetime.datetime(2024, 12, 1)
    assert row["momo"] == datetime.datetime(2045, 2, 2)
    assert row["truc"] == datetime.datetime(2025, 3, 4, 5, 6, 7)
    assert row["yolo"] == "2034 12 01"


def test_system_columns_and_default_transform(spark):
    out = normalize_events(_events(spark, [FIX1]))
    t = _types(out)
    assert t["received_at"] == "timestamp"
    assert t["sent_at"] == "timestamp"
    assert t["message_id"] == "string"
    assert t["timestamp"] == "timestamp"  # P8 default transform
    row = out.collect()[0]
    assert row["timestamp"] == row["received_at"]
    assert len(row["message_id"]) == 36  # uuid


def test_received_at_preserved_from_reenqueue(spark):
    # E6: __received_at survives re-delivery and overrides the stamp
    ev = dict(FIX1, __received_at="2020-01-02T03:04:05.000Z")
    row = normalize_events(_events(spark, [ev])).collect()[0]
    assert row["received_at"] == datetime.datetime(2020, 1, 2, 3, 4, 5)
    assert "received_at" in row.asDict()
    assert "__received_at" not in row.asDict()  # P1: reserved key dropped


@pytest.mark.parametrize(
    "split_records,split_arrays",
    [(False, False), (True, False), (False, True), (True, True)],
)
def test_fixture2_flattening_matrix(spark, split_records, split_arrays):
    cfg = IngestConfig(
        split_records_as_columns=split_records,
        split_array_items_as_columns=split_arrays,
    )
    out = normalize_events(_events(spark, [FIX2]), cfg)
    t = _types(out)
    row = out.collect()[0]

    assert row["ba_cest_un"] == "test"  # P2 space-key normalization
    assert t["toto"] == "boolean"

    if split_records:
        assert row["object_moche_profond"] == 1
        assert row["object_moche_dest"] is True
        assert "object_moche" not in t
    else:
        assert json.loads(row["object_moche"]) == {"profond": 1, "dest": True}

    if split_arrays:
        assert row["manger_0"] == "dupain"
        assert "manger" not in t
    else:
        assert json.loads(row["manger"]) == ["dupain"]


def test_array_of_records_flattening(spark):
    payload = {"event_type": "t", "k": [{"subKey": 2}, {"subKey": 3}]}
    both = IngestConfig(split_records_as_columns=True, split_array_items_as_columns=True)
    row = normalize_events(_events(spark, [payload]), both).collect()[0]
    assert row["k_0_sub_key"] == 2
    assert row["k_1_sub_key"] == 3

    arrays_only = IngestConfig(split_array_items_as_columns=True)
    row = normalize_events(_events(spark, [payload]), arrays_only).collect()[0]
    assert json.loads(row["k_0"]) == {"subKey": 2}


def test_type_conflict_merges_to_string_full_batch(spark):
    # FIXTURES.md type-conflict: bibi is "bonjour" in one row, false in
    # another. The reference's first-row rule is order-dependent; our
    # full-batch inference merges to string regardless of order.
    for order in ([FIX1, FIX2], [FIX2, FIX1]):
        out = normalize_events(_events(spark, order))
        assert _types(out)["bibi"] == "string"
        vals = {r["bibi"] for r in out.collect()}
        assert vals == {"bonjour", "false"}


def test_never_defined_column_dropped(spark):
    # F3: a column no row defines does not participate
    out = normalize_events(
        _events(spark, [{"event_type": "t", "a": 1, "b": None}, {"event_type": "t", "a": 2}])
    )
    assert "a" in out.columns
    assert "b" not in out.columns


def test_payload_cannot_shadow_system_columns(spark):
    row = normalize_events(
        _events(spark, [{"event_type": "t", "received_at": "boom", "a": 1}])
    ).collect()[0]
    assert isinstance(row["received_at"], datetime.datetime)


def test_custom_transform_hook(spark):
    from pyspark.sql import functions as F

    cfg = IngestConfig(transform=lambda df: df.withColumn("extra", F.lit("hi")))
    row = normalize_events(_events(spark, [FIX1]), cfg).collect()[0]
    assert row["extra"] == "hi"
    assert "timestamp" not in row.asDict()  # custom hook replaces default


def test_case_colliding_keys_last_wins(spark):
    """Keys differing only by case are distinct JSON fields but fold to
    one snake_case column: LAST value wins, like the JS object
    assignment the reference's row spread performs."""
    out = normalize_events(
        _events(spark, [{"event_type": "t", "J": 1, "j": 2}])
    )
    assert out.columns.count("j") == 1
    assert out.select("j").first()[0] == 2


def test_case_colliding_struct_falls_back_to_json(spark):
    """A record whose fields collide under case folding cannot split
    (ambiguous getField) — it JSON-stringifies instead, losslessly."""
    out = normalize_events(
        _events(spark, [{"event_type": "t", "rec": {"A": 1, "a": 2}}]),
        IngestConfig(split_records_as_columns=True),
    )
    assert "rec" in out.columns
    assert json.loads(out.select("rec").first()[0]) == {"A": 1, "a": 2}


def test_snakecase_colliding_keys_last_wins(spark):
    """'aB' and 'a_b' both normalize to a_b: one column, last value."""
    out = normalize_events(
        _events(spark, [{"event_type": "t", "aB": "first", "a_b": "second"}])
    )
    assert out.columns.count("a_b") == 1
    assert out.select("a_b").first()[0] == "second"


def test_config_from_env_matches_reference_surface():
    cfg = IngestConfig.from_env(
        {
            "REDIS_JOB_EVENT_TYPE_PROPERTY": "clickhouse_table",
            "SPLIT_RECORDS_AS_COLUMNS": "1",
            "SPLIT_ARRAY_ITEMS_AS_COLUMNS": "0",
            "CLICKHOUSE_ALTERED_COLUMN_NULLABLE": "0",
            "NON_CRITICAL_EVENT_TYPES": "pageview, heartbeat",
        }
    )
    assert cfg.event_type_property == "clickhouse_table"
    assert cfg.split_records_as_columns is True
    assert cfg.split_array_items_as_columns is False
    assert cfg.altered_column_nullable is False
    assert cfg.non_critical_event_types == ("pageview", "heartbeat")
    # empty env keeps defaults
    d = IngestConfig.from_env({})
    assert d == IngestConfig()


def test_deep_nesting_stringifies_to_flat_table(spark):
    """Output tables are strictly flat: after the one-level split, a
    depth-2 record or an array inside a record JSON-stringifies (the
    reference's tables have no nested columns)."""
    out = normalize_events(
        _events(
            spark,
            [
                {
                    "event_type": "t",
                    "a": {"deep": {"x": 1}, "arr": [1, 2], "plain": 5},
                }
            ],
        ),
        IngestConfig(split_records_as_columns=True),
    )
    types = _types(out)
    assert types["a_deep"] == "string"
    assert types["a_arr"] == "string"
    assert types["a_plain"] == "bigint"
    row = out.select("a_deep", "a_arr").first()
    assert json.loads(row["a_deep"]) == {"x": 1}
    assert json.loads(row["a_arr"]) == [1, 2]


def test_ragged_arrays_null_fill_positions(spark):
    """P5 regression (hypothesis-found): positional split over a batch
    where one row's array is EMPTY (not null) and another's is longer.
    Under ANSI mode arr[i] throws INVALID_ARRAY_INDEX for the short
    row; the split must instead null-fill the missing positions."""
    events = _events(
        spark,
        [
            {"event_type": "t", "r": [], "tags": ["a", "b"]},
            {"event_type": "t", "r": [{"x": 1.5}, {"x": 2.5}]},
        ],
    )
    rows = normalize_events(
        events,
        IngestConfig(
            split_array_items_as_columns=True, split_records_as_columns=True
        ),
    ).collect()
    assert len(rows) == 2
    by_tag0 = {r["tags_0"]: r for r in rows}
    # short/empty arrays null-fill every missing position
    assert by_tag0["a"]["r_0_x"] is None and by_tag0["a"]["r_1_x"] is None
    assert by_tag0[None]["r_0_x"] == 1.5 and by_tag0[None]["r_1_x"] == 2.5
    assert by_tag0[None]["tags_1"] is None


def test_expression_cache_reuse_and_correctness(spark):
    """Steady-state expression cache (VERDICT r9 item 5): two batches
    of the SAME shape share one cached (projection, received_at,
    refinement-agg) build; a different shape gets its own entry; and a
    cache-hit batch normalizes exactly like a cold one."""
    from redis_events_to_clickhouse_tables_spark.streaming import normalize as N

    N._EXPR_CACHE.clear()
    cfg = IngestConfig()
    b1 = _events(spark, [{"event_type": "t", "a": 1, "s": "x"}])
    b2 = _events(spark, [{"event_type": "t", "a": 2, "s": "y"}])
    r1 = {
        r["a"]: r for r in normalize_events(b1, cfg).collect()
    }
    n_entries = len(N._EXPR_CACHE)
    assert n_entries >= 1
    r2 = normalize_events(b2, cfg).collect()
    # identical shape: no new cache entries, identical output schema
    assert len(N._EXPR_CACHE) == n_entries
    assert r2[0]["a"] == 2 and r2[0]["s"] == "y"
    assert set(r2[0].asDict()) == set(r1[1].asDict())
    # per-batch uniqueness still stamps fresh (uuid not cached across
    # batches into a constant)
    assert r2[0]["message_id"] != r1[1]["message_id"]

    # a different shape or different cfg gets its own entries
    b3 = _events(spark, [{"event_type": "t", "a": 1, "s": "x", "extra": True}])
    normalize_events(b3, cfg).collect()
    assert len(N._EXPR_CACHE) > n_entries
    grew = len(N._EXPR_CACHE)
    normalize_events(
        b1, IngestConfig(split_records_as_columns=True)
    ).collect()
    assert len(N._EXPR_CACHE) > grew


@pytest.mark.parametrize("split", [False, True])
def test_tick_grouped_normalize_matches_normalize_events(spark, split):
    """The tick normalizes with ``normalize_batch``; every golden test
    above drives ``normalize_events``. On one batch of three types whose
    keys and array lengths differ, every type's rows come out of the
    grouped normalize as ``normalize_events`` makes them from that
    type's rows, apart from the stamped columns (``received_at`` and
    ``timestamp`` too, for a type that carries no ``__received_at``)."""
    from pyspark.sql import functions as F

    from redis_events_to_clickhouse_tables_spark.streaming.normalize import (
        normalize_batch,
    )

    cfg = IngestConfig(split_records_as_columns=split, split_array_items_as_columns=split)
    events = _events(
        spark,
        [
            FIX1,
            dict(FIX2, event_type="event_nested"),
            dict(
                FIX2,
                event_type="event_nested",
                manger=["dupain", "beurre", "confiture"],
                objectMoche={"profond": 2},
            ),
            {
                "event_type": "event_carried",
                "manger": ["a", "b"],
                "zozo": "x",
                "__received_at": "2020-01-02T03:04:05.000Z",
            },
        ],
    )
    batch = normalize_batch(events, cfg)
    try:
        assert sorted(batch.counts) == ["event_carried", "event_nested", "event_session"]
        for t in batch.counts:
            got = batch.finish(t)
            want = normalize_events(events.filter(F.col("event_type") == t), cfg)
            assert got.dtypes == want.dtypes, t
            stamped = {"sent_at", "message_id"}
            if t != "event_carried":
                stamped |= {"received_at", "timestamp"}
            keep = [c for c in got.columns if c not in stamped]
            assert sorted(map(str, got.select(keep).collect())) == sorted(
                map(str, want.select(keep).collect())
            ), t
    finally:
        batch.unpersist()
