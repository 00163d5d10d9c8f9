"""The Arrow cosine top-k kernel (``similarity._cosine_topk``) and the
Python-worker set-up it calls (``functions/pyworker.py``).

The kernel must give the rows and the bits the higher-order-function
plan gives (``_dot``/``_norm`` through a broadcast join and a window),
including its null, NaN, length-mismatch and zero-norm cases."""

from __future__ import annotations

import importlib
import os
import struct
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from redis_events_to_clickhouse_tables_spark.functions import pyworker
from redis_events_to_clickhouse_tables_spark.operators import similarity as sim
from redis_events_to_clickhouse_tables_spark.registry import load_all

from .conftest import SF_DIR

REGISTRY = load_all()
nan = float("nan")

_SCHEMA = "vec_id long, embedding array<float>"
# probes are vec_id < 4
_ROWS = [
    (0, [1.0, 2.0, 3.0, 4.0]),
    (1, [0.5, -1.0, 2.0, 0.0]),
    (2, [1.0, None, 1.0, 1.0]),  # a probe holding a null
    (3, [1.0, 2.0, 3.0]),  # a probe of another length
    (0, [1.0, 1.0, 1.0, 1.0]),  # a second vector under a probe's id
    (4, [1.0, 2.0, 3.0, 4.0]),  # 4, 5 and 14 tie: c_id decides
    (5, [1.0, 2.0, 3.0, 4.0]),
    (6, [2.0, 4.0, 6.0, 8.0]),
    (7, [-1.0, -2.0, -3.0, -4.0]),
    (8, [1.0, 2.0, None, 4.0]),  # a null element
    (9, [1.0, 2.0, 3.0]),  # length differs from most probes
    (10, [nan, 1.0, 1.0, 1.0]),  # NaN ranks first
    (11, None),  # a null vector
    (None, [1.0, 2.0, 3.0, 4.0]),  # a null vec_id matches nothing
    (12, [0.5, -1.0, 2.0, 0.0]),  # equals probe 1: cosine ties
    (13, [3.0, 1.0, 2.0, 5.0]),
    (14, [1.0, 2.0, 3.0, 4.0]),
    (15, [0.1, 0.7, -0.3, 0.2]),
]
_ZERO = [(16, [0.0, 0.0, 0.0, 0.0]), (17, [])]


def _hof_topk(e, probe, k):
    """The plan the kernel replaced: both norms before a broadcast join,
    the ``_dot`` fold per pair, a windowed rank."""
    q = e.filter(probe).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        sim._norm("embedding").alias("q_norm"),
    )
    c = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        sim._norm("embedding").alias("c_norm"),
    )
    cosine = (sim._dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))).alias(
        "cosine"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        c.join(F.broadcast(q), F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cosine)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def _bits(df):
    """Rows with each cosine as its IEEE bytes (NaN-safe, -0.0-exact)."""
    return sorted(
        (
            r["q_id"],
            r["rk"],
            r["c_id"],
            None if r["cosine"] is None else struct.pack("<d", r["cosine"]),
        )
        for r in df.collect()
    )


# (kernel cells, corpus partitions): the whole corpus in one kernel step,
# where ties and NaN meet the top-k cut; three Arrow batches; one corpus
# row per step (5 cells over 4 probes)
_SHAPES = [(sim._KERNEL_CELLS, 1), (sim._KERNEL_CELLS, 3), (5, 3)]


def _corpus(spark, rows, parts):
    return spark.createDataFrame(rows, _SCHEMA).repartition(parts)


@pytest.mark.parametrize("cells,parts", _SHAPES)
@pytest.mark.parametrize("k", [3, 30])
def test_kernel_matches_hof_rows_and_bits(spark, monkeypatch, cells, parts, k):
    monkeypatch.setattr(sim, "_KERNEL_CELLS", cells)
    e = _corpus(spark, _ROWS, parts)
    probe = F.col("vec_id") < 4
    want = _bits(_hof_topk(e, probe, k))
    assert want, "the crafted table must produce rows"
    assert _bits(sim._cosine_topk(e, probe, k)) == want


def _error_condition(fn):
    with pytest.raises(Exception) as info:
        fn()
    return info.value.getCondition()


@pytest.mark.parametrize("cells,parts", _SHAPES)
def test_kernel_zero_norm_follows_spark_division(spark, monkeypatch, cells, parts):
    """A zero norm makes the denominator 0: ANSI raises DIVIDE_BY_ZERO
    in both plans, also when the zero rows miss the top k; non-ANSI
    gives both the same null cosines."""
    monkeypatch.setattr(sim, "_KERNEL_CELLS", cells)
    e = _corpus(spark, _ROWS + _ZERO, parts)
    probe = F.col("vec_id") < 4
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    want = _error_condition(lambda: _hof_topk(e, probe, 3).collect())
    assert want == "DIVIDE_BY_ZERO"
    assert _error_condition(lambda: sim._cosine_topk(e, probe, 3).collect()) == want
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        for k in (3, 30):
            assert _bits(sim._cosine_topk(e, probe, k)) == _bits(_hof_topk(e, probe, k))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def _classes(df) -> str:
    return df._jdf.queryExecution().executedPlan().toJSON()  # noqa: SLF001


def test_bruteforce_family_scores_in_the_arrow_kernel(spark, monkeypatch):
    """Both queries score through MapInArrow; no interpreted
    ``aggregate(zip_with(...))`` fold is left in their plans. The
    hubness query checkpoints its top-k counts, so its gate reads the
    frame it checkpoints."""
    plans = [_classes(REGISTRY["sim_bruteforce_topk"].build(spark, SF_DIR))]
    checkpoint = sim.model_checkpoint

    def spy(df):
        plans.append(_classes(df))
        return checkpoint(df)

    monkeypatch.setattr(sim, "model_checkpoint", spy)
    REGISTRY["embedding_hubness_koccurrence"].build(spark, SF_DIR)
    assert len(plans) == 2
    for plan in plans:
        assert "MapInArrow" in plan
        assert "ArrayAggregate" not in plan


def _write_zip(path, source: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("kprobe/__init__.py", "")
        zf.writestr("kprobe/value.py", source)
    os.replace(tmp, path)


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="CPython >= 3.13 re-reads a zip directory lazily",
)
def test_worker_setup_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    for name in ("kprobe", "kprobe.value"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    # two importers of the archive: its root and the package prefix
    assert importlib.import_module("kprobe.value").VALUE == 1

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads = []
    read = zipimport._read_directory  # noqa: SLF001

    def spy(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    pyworker.worker_setup()
    pyworker.worker_setup()  # idempotent

    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # once per archive, not per importer
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, "VALUE = 22  # rewritten\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    monkeypatch.delitem(sys.modules, "kprobe.value")
    assert importlib.import_module("kprobe.value").VALUE == 22
