"""SparkSession factory / tuner.

Scale posture: every config here is one we would also set on a
1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast demotion) — the single biggest lever for plans
  that survive a 100x scale-up.
- UTC session timezone — the reference parses every timestamp as UTC
  (reference: src/dayjs-utc.ts:6-15), and the DuckDB oracle compares
  naive-UTC parquet timestamps.
- shuffle.partitions is only a *default*; AQE coalesces it down for
  small stages and the driver can override for big ones.
- A codegen cache that holds every class the registry generates
  (``CODEGEN_CACHE_ENTRIES``), so a warm session does not recompile a
  class it has generated before. It is a static conf: only :func:`get_spark`
  can set it, and a session a caller hands us (the test driver's plain
  session) keeps Spark's 100 entries; :func:`tune` cannot change that.
- A floor under the driver heap (``HEAP_FLOOR_MB``), so the heap a
  query session runs in does not depend on when G1 chose to grow it.
  Like the driver memory it is a JVM launch option: it applies only
  when :func:`get_spark` starts the JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet predicate pushdown / pruning are on by default; pin them
    # so a misconfigured driver session can't silently disable them.
    "spark.sql.parquet.filterPushdown": "true",
    # the driver's events.parquet stores TIMESTAMP(NANOS), which Spark's
    # vectorized reader rejects; read as raw int64 nanos and convert in
    # sources/tables.py (floor-to-microsecond, matching DuckDB's read).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


# Spark's codegen cache (spark.sql.codegen.cache.maxEntries, default
# 100) is JVM-wide. One pass over the whole registry at sf0.001 compiles
# 4372 distinct classes (CodegenMetrics compile count on a first pass
# with an unbounded cache; a second pass then compiled only the 182-282
# classes whose source differs from build to build). The 11 queries of the
# benchmark's query_mix alone generate 119, so with 100 entries each
# warm pass recompiled most of them. The cache is 4 LRU segments, each
# evicting at a quarter of the size, hence the headroom.
CODEGEN_CACHE_ENTRIES = 8192

# The driver heap's floor (-Xms). Left to itself, G1 shrinks the heap to
# about 110 MB after start-up. A query session's live set (~90 MB of
# plans, broadcast relations and class metadata) then sits near G1's
# marking threshold (45% of the heap), so 1 MB task-result buffers and
# 4 MB broadcast blocks (humongous objects in 1 MB regions) start
# concurrent cycles, and bursts of pauses make G1 grow the heap in steps
# whose size and timing differ from run to run. Over 12 runs of the
# benchmark's 11-query mix (20 s, 1 GiB heap, 4 cores) the peak RSS
# ranged from 979 to 1205 MB. With this floor the heap stayed at 512 MB,
# young collections fell from 68-97 to 39-54 a run (GC logs of 4 and 7
# runs), and 16 runs read 1122-1149 MB.
HEAP_FLOOR_MB = 512
_UNIT_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _heap_floor(driver_memory: str) -> str:
    """``-Xms`` for a driver heap of ``driver_memory`` (a JVM size such as
    ``8g``; MB without a unit): the floor, or the whole heap if smaller."""
    size = driver_memory.strip().lower().removesuffix("b")
    mb = float(size[:-1]) * _UNIT_MB[size[-1]] if size[-1] in _UNIT_MB else float(size)
    return f"-Xms{min(HEAP_FLOOR_MB, int(mb))}m"


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime-settable engine configs to an existing session.

    Called at the top of every public query so the engine behaves the
    same whether the session was built by :func:`get_spark` or handed
    to us by the test driver.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable on this build: keep going
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def get_spark(
    app_name: str = "redis-events-to-clickhouse-tables-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    memory = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", memory)
        .config("spark.driver.defaultJavaOptions", _heap_floor(memory))
        .config("spark.ui.enabled", "false")
        # long-session hygiene: the ContextCleaner only unpersists
        # orphaned broadcast/cache blocks after a JVM GC notices the
        # references died; in a many-query session (the bench sweep,
        # a long-lived worker) full GCs are rare and cleanup lags,
        # degrading later queries. Force a periodic GC far below the
        # 30min default so reclamation keeps pace with query churn.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return tune(builder.getOrCreate(), shuffle_partitions)
