"""Schema merge/widening rules (D3/D4) + the evolving TableStore."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from redis_events_to_clickhouse_tables_spark.plans.evolution import (
    merge_schemas,
    widen_type,
)
from redis_events_to_clickhouse_tables_spark.streaming.store import TableStore


def test_widen_type_lattice():
    s, l, d, b, ts = (
        T.StringType(),
        T.LongType(),
        T.DoubleType(),
        T.BooleanType(),
        T.TimestampType(),
    )
    assert widen_type(l, l) == l
    assert widen_type(l, d) == d  # int ⊔ float -> double
    assert widen_type(l, s) == s  # D4: numeric receiving strings -> string
    assert widen_type(b, s) == s
    assert widen_type(b, l) == s  # bool ⊔ numeric has no numeric meaning
    assert widen_type(ts, s) == s
    assert widen_type(ts, l) == s


def test_merge_schemas_add_and_widen():
    existing = T.StructType(
        [
            T.StructField("a", T.LongType(), True),
            T.StructField("b", T.StringType(), True),
        ]
    )
    incoming = T.StructType(
        [
            T.StructField("a", T.StringType(), True),  # widen
            T.StructField("c", T.DoubleType(), True),  # add
        ]
    )
    merged = merge_schemas(existing, incoming)
    assert [f.name for f in merged.fields] == ["a", "b", "c"]  # stable order
    assert merged["a"].dataType == T.StringType()
    assert merged["c"].dataType == T.DoubleType()


def _write(store, spark, table, rows, schema):
    store.write(spark.createDataFrame(rows, schema), table)


def test_store_create_append_addcolumn(spark, tmp_path):
    store = TableStore(spark, tmp_path / "warehouse")
    _write(store, spark, "t", [(1, "x")], "a long, b string")
    assert store.table_exists("t")  # S3
    _write(store, spark, "t", [(2, 3.5)], "a long, c double")  # D3: add c
    df = store.read("t")
    assert [f.name for f in df.schema.fields] == ["a", "b", "c"]
    rows = {r["a"]: r for r in df.collect()}
    assert rows[1]["b"] == "x" and rows[1]["c"] is None  # NULL-fill old rows
    assert rows[2]["b"] is None and rows[2]["c"] == 3.5


def test_store_widening_rewrites_existing_data(spark, tmp_path):
    store = TableStore(spark, tmp_path / "warehouse")
    _write(store, spark, "t", [(1, 42)], "a long, b long")
    _write(store, spark, "t", [(2, "str")], "a long, b string")  # D4 widen
    df = store.read("t")
    assert df.schema["b"].dataType == T.StringType()
    vals = {r["a"]: r["b"] for r in df.collect()}
    assert vals == {1: "42", 2: "str"}  # old data rewritten as text


def test_store_widening_keeps_partition_and_sort_layout(spark, tmp_path):
    """A widening rewrite publishes the new version in the table's
    recorded layout: the day= directories survive and every file is
    sorted by k, even when the rewrite packs several appended files
    into one task."""
    import pyarrow.parquet as pq

    store = TableStore(spark, tmp_path / "warehouse")
    # three batches, later ones holding smaller keys, each landing as
    # many small files per day= directory
    for b in range(3):
        lo = (2 - b) * 40
        rows = [(k, k, f"d{k % 2}") for k in range(lo, lo + 40)]
        store.write(
            spark.createDataFrame(rows, "k long, v long, day string"),
            "t",
            partition_by=("day",),
            sort_by=("k",),
        )
    before = store.data_dir("t")
    _write(store, spark, "t", [(500, "wide", "d0")], "k long, v string, day string")

    df = store.read("t")
    assert df.schema["v"].dataType == T.StringType()
    vals = {r["k"]: r["v"] for r in df.collect()}
    assert vals == {**{k: str(k) for k in range(120)}, 500: "wide"}

    root = store.data_dir("t")
    assert root != before  # the widening published a new version
    assert sorted(d.name for d in root.iterdir() if d.is_dir()) == ["day=d0", "day=d1"]
    files = list(root.rglob("*.parquet"))
    assert files
    for f in files:
        ks = pq.ParquetFile(str(f)).read(columns=["k"]).column("k").to_pylist()
        assert ks == sorted(ks), f.name


def test_store_rejects_bad_table_names(spark, tmp_path):
    store = TableStore(spark, tmp_path / "warehouse")
    for bad in ("", "_dlq", "a/b", ".."):
        with pytest.raises(ValueError):
            store.table_path(bad)


def test_store_schema_roundtrip(spark, tmp_path):
    store = TableStore(spark, tmp_path / "warehouse")
    _write(store, spark, "t", [(1,)], "a long")
    raw = json.loads((tmp_path / "warehouse" / "t" / "_table.json").read_text())
    assert T.StructType.fromJson(raw["schema"]) == store.table_schema("t")
