"""Parquet table access for the driver's synthetic star schema.

Plain ``spark.read.parquet`` — scans stay declarative so Catalyst
pushes filters and prunes columns into the parquet reader
(verify with ``df.explain('formatted')`` → ``PushedFilters`` /
``ReadSchema``). Do not ``.cache()`` here: at 100 TB the tables do
not fit in memory and caching would defeat pushdown.

Schema memo: inferring a parquet schema reads the footers in a Spark
job, on every read. ``table()`` infers a path's schema once and then
hands it to the reader (``spark.read.schema(s).parquet(path)``), the
way the reference learns a table's shape from ``DESCRIBE`` metadata
rather than from its rows. The memo holds one ``StructType`` per
path, never rows, so it is metadata and not the forbidden cache. An
entry is valid while the path's files (relative name, size,
``mtime_ns``) and the session's parquet-schema confs
(``_SCHEMA_CONFS``) are what they were when it was inferred; any
change re-infers and replaces it. A path that is not a local
absolute path is inferred on every read, as before.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Every conf that changes the schema Spark infers for a parquet path:
# the flags of Spark 4.1's ParquetToSparkSchemaConverter (the first
# eight), the variant reader it consults, which footers inference reads
# (mergeSchema, respectSummaryFiles, ignoreCorruptFiles) and the typing
# of partition directories.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# path -> ((conf values, file-set fingerprint), inferred schema)
_schemas: dict[str, tuple[tuple, T.StructType]] = {}


def _fingerprint(path: str) -> tuple | None:
    """Sorted ``(relative name, size, mtime_ns)`` of the files under a
    local absolute ``path`` (one entry, named ``""``, for a file), or
    None when the path is not one or does not exist."""
    if not os.path.isabs(path):
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns),)
        files = []
        for root, _, names in os.walk(path):
            for n in names:
                full = os.path.join(root, n)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    except OSError:  # missing, or a file vanished mid-walk: infer
        return None
    return tuple(sorted(files))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    file set and conf values (see the module docstring)."""
    fingerprint = _fingerprint(path)
    if fingerprint is None:
        return spark.read.parquet(path)
    stamp = (tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS), fingerprint)
    hit = _schemas.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _schemas[path] = (stamp, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # TIMESTAMP(NANOS) read as int64 via nanosAsLong (session.py);
            # floor-divide to microseconds — the same truncation DuckDB
            # applies when reading nanos into its us-precision TIMESTAMP.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # Micros parquet with isAdjustedToUTC=false arrives as
            # TIMESTAMP_NTZ, which the strict temporal builtins
            # (unix_micros, withWatermark) reject. Sessions run in UTC
            # (session.py), so the cast to the LTZ type is
            # value-identical to DuckDB's naive read — one normalized
            # timestamp type for the whole engine regardless of how
            # the file was written.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def fanout(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's core count.

    Use ahead of compute-dominated maps (md5 shingling, JSON decode,
    per-token hashing) whose downstream CPU cost per byte dwarfs one
    shuffle of the input — true at any scale, so the trade survives a
    100x scale-up. Needed because the test parquet files are single
    row-group, so Spark plans the scan as ONE task regardless of
    ``maxPartitionBytes``; on a real cluster the scan is already wide
    and this becomes a cheap rebalance against skewed file sizes.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
