"""Per-query profiler for the optimization rounds (guide §1).

Usage: python tools/profile_queries.py name1 name2 ... [options]
  --sf=DIR        data dir (default /root/testdata/sf0.1)
  --plans=DIR     if set, write <name>_<suffix>.txt explain("formatted")
                  and <name>_<suffix>.logical.txt, the optimized logical
                  plan normalized so that an unchanged plan diffs
                  byte-for-byte between two builds (see logical_plan)
  --suffix=before explain file suffix (before/after)
  --reps=2        timing repetitions (min is reported)
  --noop          time via noop sink (materializes every column) instead
                  of the bench's count() action

Times build+action exactly like bench.py (count action, clearCache
between reps) so numbers are comparable to the BENCH records, and
optionally via the noop sink to see full-column materialization cost.

Each line also shows, per rep, the jobs of the build phase (eager
driver actions and schema inference while the query is built) and of
the action, and the codegen classes compiled (a warm rep should compile
none; a nonzero count there is a recompile: a codegen cache too small,
or a query whose generated source changes from build to build).

A second line per query splits each rep's CPU time (user + system, ms,
read from /proc for this process tree) by where it ran:
  driver_py   this Python process (query building, py4j calls)
  jvm_task    the JVM's executor task threads
  jvm_other   every other JVM thread (driver, planner, codegen, GC, py4j
              server, finished threads) except the JIT compilers
  py_workers  the Python workers under the JVM (mapInArrow/mapInPandas)
A Python worker that grows expensive per task shows in py_workers
without a profiler.

Profiles the current directory's checkout when it holds the package,
else the checkout this tool sits in; the first line names the package
path it imported.
"""

from __future__ import annotations

import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(
    0,
    os.getcwd()
    if os.path.isdir("redis_events_to_clickhouse_tables_spark")
    else os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
)

import redis_events_to_clickhouse_tables_spark
from redis_events_to_clickhouse_tables_spark.registry import load_all
from redis_events_to_clickhouse_tables_spark.session import get_spark

from bench import warm_up


def _stat(path: str) -> tuple[str, list[str]]:
    """The command name in a /proc stat file and the fields after it;
    empty if the process or thread has exited."""
    try:
        text = Path(path).read_text()
    except OSError:
        return "", []
    end = text.rindex(")")
    return text[text.index("(") + 1 : end], text[end + 2 :].split()


def cpu_split(jvm_pid: int) -> dict[str, float]:
    """CPU ms used so far by this process tree, by where it ran (see the
    module docstring)."""
    ticks = {"driver_py": 0, "jvm_task": 0, "jvm_other": 0, "py_workers": 0}
    _, me = _stat("/proc/self/stat")
    ticks["driver_py"] = int(me[11]) + int(me[12])  # utime stime
    parent, own = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            _, f = _stat(f"/proc/{name}/stat")
            if f:
                parent[int(name)] = int(f[1])
                own[int(name)] = sum(int(x) for x in f[11:15])  # + reaped children
    for pid, n in own.items():
        p = parent.get(pid, 0)
        while p > 1 and p != jvm_pid:
            p = parent.get(p, 0)
        if p == jvm_pid:
            ticks["py_workers"] += n
    _, jvm = _stat(f"/proc/{jvm_pid}/stat")
    other = int(jvm[11]) + int(jvm[12])
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        thread, f = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        if not f:
            continue
        n = int(f[11]) + int(f[12])
        if thread.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            other -= n
        elif thread.startswith("Executor task l"):
            ticks["jvm_task"] += n
            other -= n
    ticks["jvm_other"] = other
    hz = os.sysconf("SC_CLK_TCK")
    return {k: v * 1000 / hz for k, v in ticks.items()}


def logical_plan(df) -> str:
    """The optimized logical plan of ``df`` with its per-build counters
    normalized: expression ids (``#123`` -> ``#N``), ``plan_id=7`` ->
    ``plan_id=N``, and PySpark's numbered lambda variables (``x_2``,
    ``acc_31``; the counter is process-global) -> ``x_N``, ``acc_N``.
    A cached frame prints its executed physical plan, whose codegen
    stage ids (``*(3)``), query stage ids and object hashes
    (``UnsafeArrayData@2ce9e250``) follow execution order and memory;
    they become ``*(N)``, ``QueryStage N`` and ``@N``.

    Two builds can still differ where Spark orders by expression hash:
    the Expand groups of a multi-distinct aggregate are one case."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"\*\(\d+\)", "*(N)", plan)
    plan = re.sub(r"QueryStage \d+", "QueryStage N", plan)
    plan = re.sub(r"@[0-9a-f]+\b", "@N", plan)
    names = set(re.findall(r"lambda (\w+?_)\d+\b", plan))
    if names:
        alt = "|".join(re.escape(n) for n in sorted(names))
        plan = re.sub(rf"\b({alt})\d+\b", r"\1N", plan)
    return plan


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf = "/root/testdata/sf0.1"
    plans_dir = None
    suffix = "before"
    reps = 2
    use_noop = "--noop" in sys.argv
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf = a.split("=", 1)[1]
        elif a.startswith("--plans="):
            plans_dir = a.split("=", 1)[1]
        elif a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
        elif a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
    print(f"package: {os.path.dirname(redis_events_to_clickhouse_tables_spark.__file__)}")
    reg = load_all()
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")

    # bench's warm-up, so first-touch JIT doesn't pollute numbers
    warm_up(spark, reg, sf)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()  # noqa: SLF001
    jvm_pid = sc._gateway.proc.pid  # noqa: SLF001

    for name in names:
        spec = reg.get(name)
        if spec is None:
            print(f"{name}: NOT REGISTERED")
            continue
        attempts = []
        build_secs = []
        build_jobs = []
        action_jobs = []
        compiles = []
        cpu = []
        df = None
        for rep in range(reps):
            group = f"profile:{name}:{rep}"
            c0 = compiled.getCount()
            cpu0 = cpu_split(jvm_pid)
            sc.setJobGroup(f"{group}:build", group)
            t0 = time.perf_counter()
            df = spec.build(spark, sf)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{group}:action", group)
            if use_noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            t2 = time.perf_counter()
            build_secs.append(t1 - t0)
            attempts.append(t2 - t0)
            compiles.append(compiled.getCount() - c0)
            cpu1 = cpu_split(jvm_pid)
            cpu.append({k: round(cpu1[k] - cpu0[k]) for k in cpu0})
            build_jobs.append(len(tracker.getJobIdsForGroup(f"{group}:build")))
            action_jobs.append(len(tracker.getJobIdsForGroup(f"{group}:action")))
            spark.catalog.clearCache()
            sc._jsc.sc().clearJobGroup()  # noqa: SLF001
        best = min(range(len(attempts)), key=lambda i: attempts[i])
        print(
            f"{name}: {attempts[best]:.3f}s"
            f" (build {build_secs[best]:.3f}s,"
            f" action {attempts[best] - build_secs[best]:.3f}s;"
            f" all {[round(a, 3) for a in attempts]})"
            f" build_jobs={build_jobs} action_jobs={action_jobs}"
            f" compiles={compiles}"
        )
        print(f"  cpu_ms per rep: {cpu}")
        if plans_dir and df is not None:
            os.makedirs(plans_dir, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(plan)
            with open(
                os.path.join(plans_dir, f"{name}_{suffix}.logical.txt"), "w"
            ) as fh:
                fh.write(logical_plan(df))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
