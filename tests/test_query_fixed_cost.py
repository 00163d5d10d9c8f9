"""Per-query fixed cost that does not depend on data size: a star table's
parquet schema is inferred once per file set (``sources/tables.py``),
and a warm session compiles no codegen class (``session.py``)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from redis_events_to_clickhouse_tables_spark.registry import load_all
from redis_events_to_clickhouse_tables_spark.sources.tables import table

from .conftest import SF_DIR

# the benchmark's query_mix (perfbench/pinned_counts.json)
QUERY_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q18_large_volume_orders",
    "events_sessionize",
    "dedup_exact_documents",
    "text_tf_idf",
    "sim_bruteforce_topk",
    "embedding_hubness_koccurrence",
    "ingest_normalize_events",
    "json_extract_props",
)


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the ids
    of the Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"fixed-cost-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.sc().clearJobGroup()  # noqa: SLF001
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_of_unchanged_table_launches_no_job(spark):
    first = table(spark, SF_DIR, "orders")
    schema, jobs = _jobs_of(spark, lambda: table(spark, SF_DIR, "orders").schema)
    assert jobs == []
    assert schema == first.schema
    # the memoized schema reads the same rows
    assert table(spark, SF_DIR, "orders").count() == first.count()


def test_rewritten_table_reads_its_new_column(spark, tmp_path):
    sf = str(tmp_path)
    region = spark.createDataFrame([(0, "AFRICA"), (1, "AMERICA")], "r_regionkey int, r_name string")
    region.write.parquet(f"{sf}/region.parquet")
    assert table(spark, sf, "region").columns == ["r_regionkey", "r_name"]
    assert table(spark, sf, "region").columns == ["r_regionkey", "r_name"]
    region.selectExpr("*", "length(r_name) AS r_len").write.mode("overwrite").parquet(
        f"{sf}/region.parquet"
    )
    got = table(spark, sf, "region")
    assert got.columns == ["r_regionkey", "r_name", "r_len"]
    assert sorted(tuple(r) for r in got.collect()) == [(0, "AFRICA", 6), (1, "AMERICA", 7)]


def test_nanos_events_follow_nanos_as_long_between_reads(spark, tmp_path):
    sf = str(tmp_path)
    ts = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": pa.array(ts, pa.timestamp("ns"))}),
        f"{sf}/events.parquet",
        version="2.6",
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(key) == "true"

    def ts_type():
        return table(spark, sf, "events").schema["ts"].dataType

    assert ts_type() == T.TimestampType()
    try:
        spark.conf.set(key, "false")
        # Spark's own answer for a nanos column without nanosAsLong
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            ts_type()
    finally:
        spark.conf.set(key, "true")
    assert ts_type() == T.TimestampType()
    micros = [r.ts for r in table(spark, sf, "events").orderBy("event_id").collect()]
    assert [m.microsecond for m in micros] == [123456, 0]


def test_warm_pass_over_query_mix_compiles_nothing(spark):
    registry = load_all()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()  # noqa: SLF001

    def one_pass():
        before = compiles.getCount()
        for name in QUERY_MIX:
            registry[name].build(spark, SF_DIR).count()
            spark.catalog.clearCache()
        return compiles.getCount() - before

    one_pass()
    assert one_pass() == 0
