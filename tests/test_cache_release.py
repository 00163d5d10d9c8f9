"""Cache ownership: a query that persists intermediate frames while it
is built releases them before it returns, so the only cache entry left
behind is the returned frame the caller owns."""

from __future__ import annotations

import pytest

from redis_events_to_clickhouse_tables_spark.registry import load_all

from .conftest import SF_DIR


@pytest.mark.parametrize(
    "name",
    [
        "graph_copurchase_jaccard_linkpred",
        "graph_copurchase_assortativity",
        "stats_cochran_q_event_types",
    ],
)
def test_query_leaves_no_cache_behind(spark, name):
    spark.catalog.clearCache()
    df = load_all()[name].build(spark, SF_DIR)
    df.count()
    df.unpersist()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
