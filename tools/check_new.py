"""Ad-hoc parity check for a subset of registered queries.

Usage: python tools/check_new.py name1 name2 ... [--sf DIR | --sf=DIR]
Runs the same compare the local gate uses, against sf0.01 by default.
Checks the current directory's checkout when it holds the package,
else the checkout this tool sits in, and prints the package path.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0,
    os.getcwd()
    if os.path.isdir("redis_events_to_clickhouse_tables_spark")
    else os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
)

import duckdb

import redis_events_to_clickhouse_tables_spark
from redis_events_to_clickhouse_tables_spark.registry import load_all
from redis_events_to_clickhouse_tables_spark.session import get_spark
from redis_events_to_clickhouse_tables_spark.sources.tables import TABLES
from tests.oracle_harness import run_compare


def main() -> int:
    args = []
    sf = "/root/testdata/sf0.01"
    argv = iter(sys.argv[1:])
    for a in argv:
        if a.startswith("--sf="):
            sf = a.split("=", 1)[1]
        elif a == "--sf":
            sf = next(argv)
        elif not a.startswith("--"):
            args.append(a)
    print(f"package: {os.path.dirname(redis_events_to_clickhouse_tables_spark.__file__)}")
    reg = load_all()
    spark = get_spark("check-new", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    bad = 0
    for name in args:
        spec = reg[name]
        if spec.oracle is None:
            n = spec.build(spark, sf).count()
            print(f"{name}: rows-only, {n} rows")
            continue
        res = run_compare(spark, con, spec, sf)
        print(f"{name}: {'OK' if res.ok else 'FAIL ' + str(res)}")
        bad += 0 if res.ok else 1
    return bad


if __name__ == "__main__":
    raise SystemExit(main())
