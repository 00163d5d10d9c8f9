"""The driver JVM that ``get_spark`` launches starts with a heap floor
(``session.HEAP_FLOOR_MB``), never above the driver memory."""

from __future__ import annotations

import pytest

from redis_events_to_clickhouse_tables_spark.session import HEAP_FLOOR_MB, _heap_floor


@pytest.mark.parametrize(
    "memory, floor",
    [
        ("8g", f"-Xms{HEAP_FLOOR_MB}m"),
        ("1g", f"-Xms{HEAP_FLOOR_MB}m"),
        ("2GB", f"-Xms{HEAP_FLOOR_MB}m"),
        ("256m", "-Xms256m"),
        ("300", "-Xms300m"),  # a size without a unit is MB
        ("262144k", "-Xms256m"),
    ],
)
def test_heap_floor_never_exceeds_the_driver_heap(memory, floor):
    assert _heap_floor(memory) == floor


def test_driver_jvm_starts_at_the_heap_floor(spark):
    mgmt = spark._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
    floor = _heap_floor(spark.sparkContext.getConf().get("spark.driver.memory"))
    assert floor in list(mgmt.getRuntimeMXBean().getInputArguments())
    floor_bytes = int(floor.removeprefix("-Xms").removesuffix("m")) * 2**20
    assert mgmt.getMemoryMXBean().getHeapMemoryUsage().getCommitted() >= floor_bytes
