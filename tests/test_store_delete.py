"""TableStore.delete_where: targeted deletion with partition-pruned
rewrite (untouched partitions copied byte-identically, not recomputed)."""

from __future__ import annotations

import hashlib
from pathlib import Path

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.streaming.store import TableStore


def _mk_store(spark, tmp_path, partition_by=None):
    st = TableStore(spark, tmp_path / "store")
    rows = [
        (i, f"u{i % 5}", ["view", "click", "purchase"][i % 3], float(i))
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user STRING, event_type STRING, value DOUBLE"
    )
    st.write(df, "events", batch_id=0, partition_by=partition_by,
             sort_by=("event_id",))
    return st


def _files(d: Path) -> dict[str, bytes]:
    return {
        str(p.relative_to(d)): hashlib.md5(p.read_bytes()).digest()
        for p in d.rglob("*.parquet")
    }


def test_delete_where_removes_only_matches(spark, tmp_path):
    st = _mk_store(spark, tmp_path)
    before = st.read("events")
    n_u1 = before.filter(F.col("user") == "u1").count()
    assert st.delete_where("events", F.col("user") == "u1") == n_u1
    after = st.read("events")
    assert after.filter(F.col("user") == "u1").count() == 0
    assert after.count() == 300 - n_u1
    # the other rows are untouched
    got = sorted(tuple(r) for r in after.collect())
    want = sorted(
        tuple(r) for r in before.filter(F.col("user") != "u1").collect()
    )
    assert got == want
    # nothing matches anymore: no-op, no version churn
    v = st.data_dir("events").name
    assert st.delete_where("events", F.col("user") == "u1") == 0
    assert st.data_dir("events").name == v


def test_delete_prunes_untouched_partitions(spark, tmp_path):
    st = _mk_store(spark, tmp_path, partition_by=("event_type",))
    old_dir = st.data_dir("events")
    old_files = _files(old_dir)
    # delete rows only in the 'view' partition
    n = st.delete_where(
        "events", (F.col("event_type") == "view") & (F.col("user") == "u0")
    )
    assert n > 0
    new_dir = st.data_dir("events")
    assert new_dir != old_dir
    new_files = _files(new_dir)
    # untouched partitions: byte-identical copies (never re-encoded)
    for rel, digest in old_files.items():
        if rel.startswith("event_type=click/") or rel.startswith(
            "event_type=purchase/"
        ):
            assert new_files.get(rel) == digest, rel
    # the affected partition was rewritten (different file set)
    assert not any(
        new_files.get(rel) == digest
        for rel, digest in old_files.items()
        if rel.startswith("event_type=view/")
    )
    # row-level correctness
    after = st.read("events")
    assert after.filter(
        (F.col("event_type") == "view") & (F.col("user") == "u0")
    ).count() == 0
    assert after.count() == 300 - n


def test_upsert_last_write_wins(spark, tmp_path):
    st = _mk_store(spark, tmp_path)
    upd = spark.createDataFrame(
        [(5, "u9", "view", 555.0), (1000, "unew", "click", 1.0)],
        "event_id long, user STRING, event_type STRING, value DOUBLE",
    )
    n = st.upsert(upd, "events", keys=("event_id",), batch_id=1)
    assert n == 1  # event_id 5 replaced; 1000 appended
    after = st.read("events")
    assert after.count() == 301
    row5 = after.filter(F.col("event_id") == 5).collect()
    assert len(row5) == 1 and row5[0]["user"] == "u9" and row5[0]["value"] == 555.0
    assert after.filter(F.col("event_id") == 1000).count() == 1
    # replayed merge (same batch id): no-op, no version churn
    v = st.data_dir("events").name
    assert st.upsert(upd, "events", keys=("event_id",), batch_id=1) is None
    assert st.data_dir("events").name == v
    assert st.read("events").count() == 301


def test_upsert_prunes_untouched_partitions(spark, tmp_path):
    st = _mk_store(spark, tmp_path, partition_by=("event_type",))
    old_files = _files(st.data_dir("events"))
    upd = spark.createDataFrame(
        [(0, "zz", "view", -1.0)],  # event 0 lives in the view partition
        "event_id long, user STRING, event_type STRING, value DOUBLE",
    )
    assert st.upsert(upd, "events", keys=("event_id",)) == 1
    new_files = _files(st.data_dir("events"))
    for rel, digest in old_files.items():
        if rel.startswith(("event_type=click/", "event_type=purchase/")):
            assert new_files.get(rel) == digest, rel
    after = st.read("events")
    assert after.count() == 300
    assert after.filter(F.col("event_id") == 0).collect()[0]["user"] == "zz"


def test_upsert_dedupes_incoming_deterministically(spark, tmp_path):
    st = _mk_store(spark, tmp_path)
    upd = spark.createDataFrame(
        [(7, "a", "view", 1.0), (7, "b", "view", 2.0)],
        "event_id long, user STRING, event_type STRING, value DOUBLE",
    )
    st.upsert(upd, "events", keys=("event_id",))
    rows = st.read("events").filter(F.col("event_id") == 7).collect()
    assert len(rows) == 1
    assert rows[0]["user"] == "b"  # greatest full row wins (total order)


def test_upsert_cross_partition_key_move(spark, tmp_path):
    """A key whose new row lands in a DIFFERENT partition must lose its
    old row too (review r5: the old partition was copied verbatim)."""
    st = _mk_store(spark, tmp_path, partition_by=("event_type",))
    # event 0 currently lives in event_type=view (0 % 3 == 0)
    upd = spark.createDataFrame(
        [(0, "mv", "purchase", 9.0)],
        "event_id long, user STRING, event_type STRING, value DOUBLE",
    )
    assert st.upsert(upd, "events", keys=("event_id",)) == 1
    after = st.read("events")
    rows = after.filter(F.col("event_id") == 0).collect()
    assert len(rows) == 1, rows  # the stale view-partition row is gone
    assert rows[0]["event_type"] == "purchase"
    assert after.count() == 300


def test_delete_keeps_null_condition_rows(spark, tmp_path):
    """Three-valued logic: rows where the condition is NULL do not
    match and MUST survive the rewrite (review r5)."""
    st = TableStore(spark, tmp_path / "store")
    df = spark.createDataFrame(
        [(1, "u1"), (2, None), (3, "u3")], "id long, user STRING"
    )
    st.write(df, "t", batch_id=0)
    assert st.delete_where("t", F.col("user") == "u1") == 1
    remaining = sorted(r["id"] for r in st.read("t").collect())
    assert remaining == [2, 3]  # the NULL-user row survived


def test_partition_pruning_with_hostile_partition_values(spark, tmp_path):
    """Partition values Spark Hive-escapes (':' '%' '=') and booleans
    must still prune correctly: affected dirs are derived from a probe
    write through the same writer, never from str(value)."""
    st = TableStore(spark, tmp_path / "store")
    rows = [
        (1, "a:b", 1.0), (2, "a:b", 2.0),
        (3, "x=y%z", 3.0), (4, "x=y%z", 4.0),
        (5, "plain", 5.0),
    ]
    df = spark.createDataFrame(rows, "id long, bucket STRING, v DOUBLE")
    st.write(df, "t", batch_id=0, partition_by=("bucket",), sort_by=("id",))
    # delete one row from the escaped 'a:b' partition
    assert st.delete_where("t", F.col("id") == 1) == 1
    after = {r["id"]: r["bucket"] for r in st.read("t").collect()}
    assert after == {2: "a:b", 3: "x=y%z", 4: "x=y%z", 5: "plain"}
    # upsert into the other escaped partition
    up = spark.createDataFrame([(3, "x=y%z", 33.0)], "id long, bucket STRING, v DOUBLE")
    assert st.upsert(up, "t", keys=("id",)) == 1
    vals = {r["id"]: r["v"] for r in st.read("t").collect()}
    assert vals == {2: 2.0, 3: 33.0, 4: 4.0, 5: 5.0}


def test_upsert_creating_batch_dedupes_and_is_idempotent(spark, tmp_path):
    """The first-ever merge batch must apply the within-batch key
    dedupe and record the merge commit tag (review r5)."""
    st = TableStore(spark, tmp_path / "store")
    up = spark.createDataFrame(
        [(7, "a"), (7, "b"), (8, "c")], "id long, user STRING"
    )
    assert st.upsert(up, "t", keys=("id",), batch_id=0) == 0
    rows = {r["id"]: r["user"] for r in st.read("t").collect()}
    assert rows == {7: "b", 8: "c"}  # greatest row won, one row per key
    # replay of the CREATING batch: recognized, no second merge
    v = st.data_dir("t").name
    assert st.upsert(up, "t", keys=("id",), batch_id=0) is None
    assert st.data_dir("t").name == v
    assert {r["id"]: r["user"] for r in st.read("t").collect()} == rows
