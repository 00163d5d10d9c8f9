"""TableStore layout features: idempotent commits, partitioning,
sort-on-write, compaction."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.config import IngestConfig
from redis_events_to_clickhouse_tables_spark.streaming.ingest import IngestEngine
from redis_events_to_clickhouse_tables_spark.streaming.store import TableStore


def _store(spark, tmp_path):
    return TableStore(spark, tmp_path / "warehouse")


def _df(spark, rows, schema="k long, day string"):
    return spark.createDataFrame(rows, schema)


def test_idempotent_batch_commit(spark, tmp_path):
    store = _store(spark, tmp_path)
    df = _df(spark, [(1, "d1"), (2, "d1")])
    store.write(df, "t", batch_id=7)
    store.write(df, "t", batch_id=7)  # replay: must be a no-op
    assert store.read("t").count() == 2
    store.write(df, "t", batch_id=8)  # a new batch appends
    assert store.read("t").count() == 4


def test_partitioned_layout_and_pruning(spark, tmp_path):
    store = _store(spark, tmp_path)
    df = _df(spark, [(1, "d1"), (2, "d2"), (3, "d2")])
    store.write(df, "t", partition_by=("day",))
    root = store.data_dir("t")
    assert (root / "day=d1").exists() and (root / "day=d2").exists()
    back = store.read("t")
    assert back.count() == 3
    # a partition-key predicate must prune to one directory
    plan = (
        back.filter(F.col("day") == "d2")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    assert back.filter(F.col("day") == "d2").count() == 2
    # the layout is fixed at creation: later writes keep partitioning
    store.write(_df(spark, [(4, "d3")]), "t")
    assert (root / "day=d3").exists()


def test_sort_within_files(spark, tmp_path):
    store = _store(spark, tmp_path)
    df = _df(spark, [(9, "x"), (1, "x"), (5, "x")]).coalesce(1)
    store.write(df, "t", sort_by=("k",))
    # one file, rows sorted by k inside it
    import pyarrow.parquet as pq

    files = list(store.data_dir("t").rglob("*.parquet"))
    vals = pq.read_table(str(files[0])).column("k").to_pylist()
    assert vals == sorted(vals)


def test_sort_within_partitioned_files(spark, tmp_path):
    """sort_by holds inside every file of a partitioned table too: the
    writer's own sort on the partition column must not replace it."""
    import pyarrow.parquet as pq

    store = _store(spark, tmp_path)
    rows = [(k, f"d{k % 2}") for k in range(20, 0, -1)]
    store.write(_df(spark, rows).coalesce(1), "t", partition_by=("day",), sort_by=("k",))
    files = list(store.data_dir("t").rglob("*.parquet"))
    assert len(files) == 2
    for f in files:
        vals = pq.ParquetFile(str(f)).read(columns=["k"]).column("k").to_pylist()
        assert vals == sorted(vals), f.parent.name


def test_compaction_merges_small_files(spark, tmp_path):
    store = _store(spark, tmp_path)
    for i in range(5):  # 5 micro-batches -> many small files
        store.write(_df(spark, [(i, "d")]), "t", batch_id=i)
    before = len(list(store.data_dir("t").rglob("*.parquet")))
    assert before >= 5
    n_before, n_after = store.compact("t")
    assert n_before == before and n_after < before
    assert store.read("t").count() == 5  # no rows lost


def test_compaction_preserves_partitions(spark, tmp_path):
    store = _store(spark, tmp_path)
    for i in range(3):
        store.write(
            _df(spark, [(i, "d1"), (i, "d2")]), "t", batch_id=i, partition_by=("day",)
        )
    store.compact("t")
    root = store.data_dir("t")
    assert (root / "day=d1").exists() and (root / "day=d2").exists()
    assert store.read("t").count() == 6


def test_engine_streaming_batches_idempotent(spark, tmp_path):
    # foreachBatch replay semantics end-to-end through the engine
    store = _store(spark, tmp_path)
    engine = IngestEngine(spark, store, IngestConfig())
    raw = spark.createDataFrame(
        [(json.dumps({"event_type": "e", "x": 1}),)], "value string"
    )
    engine.process_raw_batch(raw, batch_id=3)
    engine.process_raw_batch(raw, batch_id=3)  # crash-replay of batch 3
    assert store.read("e").count() == 1


class _Killed(BaseException):
    """A process death: no ``except Exception`` on the way catches it."""


def _killed(*args, **kw):
    raise _Killed


def test_append_killed_before_its_commit_stays_invisible(spark, tmp_path, monkeypatch):
    """An append whose process dies after its files land and before its
    manifest commit is no part of the table: reads skip its files, and
    the rerun of its batch id deletes them and lands the rows once."""
    import os

    import pytest

    def on_disk():
        return sorted(f.name for f in store.data_dir("t").glob("*.parquet"))

    store = _store(spark, tmp_path)
    store.write(_df(spark, [(0, "d")]), "t", batch_id=0)
    committed = on_disk()
    monkeypatch.setattr(os, "replace", _killed)
    with pytest.raises(_Killed):
        store.write(_df(spark, [(1, "d")]), "t", batch_id=1)
    monkeypatch.undo()
    assert set(on_disk()) > set(committed)  # the killed append's files
    assert [r["k"] for r in store.read("t").collect()] == [0]
    store.write(_df(spark, [(1, "d")]), "t", batch_id=1)
    assert sorted(r["k"] for r in store.read("t").collect()) == [0, 1]
    assert on_disk() == store._manifest("t")["files"]


def test_pruned_rewrite_leaves_a_killed_appends_files_behind(spark, tmp_path, monkeypatch):
    """A partition-pruned rewrite copies the partitions it does not
    touch as they are, but not the files of an append killed before its
    commit."""
    import os

    import pytest

    store = _store(spark, tmp_path)
    store.write(_df(spark, [(0, "d1"), (1, "d2")]), "t", partition_by=("day",))
    monkeypatch.setattr(os, "replace", _killed)
    with pytest.raises(_Killed):
        store.write(_df(spark, [(2, "d1")]), "t")
    monkeypatch.undo()
    assert store.delete_where("t", "day = 'd2'") == 1
    assert [r["k"] for r in store.read("t").collect()] == [0]


def test_compaction_leaves_no_old_dirs(spark, tmp_path):
    store = _store(spark, tmp_path)
    for k in range(3):
        store.write(_df(spark, [(k, "d1")]), "t")
    store.compact("t")
    assert store.read("t").count() == 3
    leftovers = [p.name for p in (store.root / "t").iterdir() if p.name.startswith(".old-")]
    assert leftovers == []


def test_widened_schema_persists_even_if_append_fails(spark, tmp_path, monkeypatch):
    # D4: a widening write that fails before its manifest commit leaves
    # the table readable in its pre-write state (no widened data files
    # under a narrower schema), and a retry of the batch lands
    store = _store(spark, tmp_path)
    store.write(_df(spark, [(1, "d1")], "a long, day string"), "t")
    import redis_events_to_clickhouse_tables_spark.streaming.store as store_mod

    original_align = store_mod._align
    calls = {"n": 0}

    def align_then_fail(df, target):
        calls["n"] += 1
        if calls["n"] == 2:  # 1st call: the batch; 2nd: the stored rows
            raise RuntimeError("append torpedoed")
        return original_align(df, target)

    monkeypatch.setattr(store_mod, "_align", align_then_fail)
    import pytest

    batch = _df(spark, [("two", "d2")], "a string, day string")
    with pytest.raises(RuntimeError, match="append torpedoed"):
        store.write(batch, "t")
    monkeypatch.setattr(store_mod, "_align", original_align)
    assert store.table_schema("t")["a"].dataType.simpleString() == "bigint"
    assert {r["a"] for r in store.read("t").collect()} == {1}
    store.write(batch, "t")
    assert store.table_schema("t")["a"].dataType.simpleString() == "string"
    assert {r["a"] for r in store.read("t").collect()} == {"1", "two"}


def test_widening_write_killed_at_any_metadata_write_stays_readable(
    spark, tmp_path, monkeypatch
):
    """Kill a widening write at its N-th metadata write in the table
    dir (each ``Path.write_text`` and ``os.replace``), for every N: a
    fresh store must read the table in its pre- or post-write state,
    and replaying the batch must land every row once under the widened
    schema."""
    import os
    from pathlib import Path

    real_write_text, real_replace = Path.write_text, os.replace
    pre, post = ("bigint", ["1", "2"]), ("string", ["1", "2", "three"])

    def state(store):
        df = store.read("t")
        rows = sorted(str(r["a"]) for r in df.collect())
        return df.schema["a"].dataType.simpleString(), rows

    crashes = 0
    for n in range(1, 10):
        root = tmp_path / f"w{n}"
        store = TableStore(spark, root)
        store.write(_df(spark, [(1, "d1"), (2, "d2")], "a long, day string"), "t", batch_id=0)
        table_dir = str(store.table_path("t")) + os.sep
        seen = {"n": 0}

        def kill_at_n(path):
            if str(path).startswith(table_dir):
                seen["n"] += 1
                if seen["n"] == n:
                    raise OSError(f"killed at metadata write {n}")

        def write_text(self, *args, **kwargs):
            kill_at_n(self)
            return real_write_text(self, *args, **kwargs)

        def replace(src, dst, *args, **kwargs):
            kill_at_n(dst)
            return real_replace(src, dst, *args, **kwargs)

        monkeypatch.setattr(Path, "write_text", write_text)
        monkeypatch.setattr(os, "replace", replace)
        batch = _df(spark, [("three", "d3")], "a string, day string")
        try:
            store.write(batch, "t", batch_id=1)
            killed = False
        except OSError:
            killed = True
        finally:
            monkeypatch.undo()
        fresh = TableStore(spark, root)
        assert state(fresh) in (pre, post), n
        fresh.write(batch, "t", batch_id=1)  # the batch's replay
        assert state(fresh) == post, n
        if not killed:
            break
        crashes += 1
    assert crashes >= 2, crashes  # at least the tmp write and the rename


def test_readers_survive_concurrent_compaction(spark, tmp_path):
    """Snapshot isolation: a DataFrame planned against version N must
    stay executable after compact() flips to N+1 (the previous version
    is retained as a grace window) — the monitor-query-vs-maintenance
    race that crashed with FileNotFoundException under the rename-aside
    layout."""
    store = _store(spark, tmp_path)
    for i in range(4):
        store.write(_df(spark, [(i, "d")]), "t", batch_id=i)
    snapshot = store.read("t")  # plans (and lists files) lazily
    snapshot.count()            # pin the file listing in this plan
    store.compact("t")
    assert snapshot.count() == 4      # old version still readable
    assert store.read("t").count() == 4  # new resolves to the compacted dir


def test_version_gc_keeps_exactly_two(spark, tmp_path):
    """The version chain never grows unboundedly: each flip retains the
    immediately previous version and garbage-collects older ones."""
    store = _store(spark, tmp_path)
    for i in range(3):
        store.write(_df(spark, [(i, "d")]), "t", batch_id=i)
    store.compact("t")
    store.write(_df(spark, [(9, "d")]), "t", batch_id=9)
    store.compact("t")
    p = store.table_path("t")
    versions = sorted(
        d.name for d in p.iterdir()
        if d.is_dir() and (d.name == "data" or d.name.startswith("data-v"))
    )
    assert len(versions) == 2, versions
    assert store.data_dir("t").name == versions[-1]
    assert store.read("t").count() == 4


def test_flip_sweeps_stale_pointer_temps(spark, tmp_path):
    """A commit that died between write_text and os.replace leaves an
    inert manifest temp; the next commit must sweep it (ADVICE r4)."""
    store = _store(spark, tmp_path)
    store.write(_df(spark, [(1, "d")]), "t")
    p = store.table_path("t")
    (p / ".table-deadbeef").write_text('{"current": "data-v999999"}')  # orphan
    store.compact("t")
    assert list(p.glob(".table-*")) == []
    assert store.read("t").count() == 1


def test_empty_shard_store_reads_cleanly(spark, tmp_path):
    """ShardStore before any batch: documents()/manifest() must return
    empty frames with the canonical schema, not throw Unable-to-infer
    (ADVICE r4)."""
    from redis_events_to_clickhouse_tables_spark.streaming.sharding import ShardStore

    store = ShardStore(spark, tmp_path / "shards")
    docs = store.documents()
    assert docs.count() == 0
    assert "doc_id" in docs.columns and "shard" in docs.columns
    assert store.manifest().count() == 0


def test_small_files_guard_coalesces_appends(spark, tmp_path):
    """A micro-batch below the ingest's target rows per file lands as
    ONE data file per table (the small-files / too-many-parts guard)."""
    import json as _json

    from pyspark.sql import functions as F

    from redis_events_to_clickhouse_tables_spark.config import IngestConfig
    from redis_events_to_clickhouse_tables_spark.streaming.ingest import (
        IngestEngine,
    )
    from redis_events_to_clickhouse_tables_spark.streaming.store import (
        TableStore,
    )

    raw = (
        spark.range(2000)
        .repartition(8)
        .select(
            F.to_json(
                F.struct(
                    F.lit("event_small").alias("event_type"),
                    F.col("id").alias("n"),
                )
            ).alias("value")
        )
    )
    store = TableStore(spark, tmp_path / "w1")
    IngestEngine(spark, store, IngestConfig()).process_raw_batch(raw, 1)
    files = [
        p
        for p in (tmp_path / "w1" / "event_small" / "data").rglob("*.parquet")
        if p.is_file()
    ]
    assert len(files) == 1, files
    assert store.read("event_small").count() == 2000


def test_concurrent_writers_of_one_table_keep_every_row(spark, tmp_path):
    """Writers of one table are serialized: appends racing on one data
    directory would share the committer's _temporary staging dir, and
    the commit log is read-modify-write. More writers than cores, a
    short switch interval, and every row and batch id must survive."""
    import sys
    import threading

    store = _store(spark, tmp_path)
    n = 6
    errors: list[Exception] = []

    def write(i: int) -> None:
        try:
            store.write(_df(spark, [(i, "d")]), "t", batch_id=i)
        except Exception as exc:  # noqa: BLE001 — asserted below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=write, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert sorted(r["k"] for r in store.read("t").collect()) == list(range(n))
    assert sorted(store._manifest("t")["committed_batches"]) == [str(i) for i in range(n)]


def test_compaction_racing_appends_keeps_every_row(spark, tmp_path):
    """compact() holds the table's writer lock: a rewrite racing appends
    must not publish a version that misses rows appended while it ran.
    More threads than cores and a short switch interval."""
    import sys
    import threading

    store = _store(spark, tmp_path)
    for i in range(3):
        store.write(_df(spark, [(i, "d")]), "t", batch_id=i)
    n = 13
    errors: list[Exception] = []

    def run(job) -> None:
        try:
            job()
        except Exception as exc:  # noqa: BLE001 — asserted below
            errors.append(exc)

    jobs = []
    for i in range(3, n):
        jobs.append(lambda i=i: store.write(_df(spark, [(i, "d")]), "t", batch_id=i))
        if i % 3 == 0:
            jobs.append(lambda: store.compact("t"))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=run, args=(job,)) for job in jobs]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert sorted(r["k"] for r in store.read("t").collect()) == list(range(n))
