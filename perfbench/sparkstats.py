"""Host fingerprint and Spark-side counters for the benchmark.

Everything here is read from outside the engine: `/proc` for the host and
the driver JVM, the SparkContext status tracker and status stores for
per-stage and per-operator metrics, and the query plans for exact
plan-shape counts.
"""

from __future__ import annotations

import os
import platform
import re


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_kib(*keys: str) -> int:
    total = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            name, _, rest = line.partition(":")
            if name in keys:
                total += int(rest.split()[0])
    return total


def ram_kib() -> int:
    return _meminfo_kib("MemTotal")


def dirty_writeback_kib() -> int:
    return _meminfo_kib("Dirty", "Writeback")


def driver_heap() -> str:
    """A sixteenth of host RAM, between 1 and 4 GiB; the benchmark's
    inputs are small."""
    gib = ram_kib() // (1024 * 1024)
    return f"{max(1, min(4, gib // 16))}g"


def fingerprint(heap: str, dirty_kib: int) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "ram_kib": ram_kib(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "driver_heap": heap,
        "dirty_writeback_kib_at_start": dirty_kib,
    }


def jvm_peak_rss_mb(spark) -> float:
    # the gateway process is spark-submit, which execs the driver JVM
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def shutdown_jvm() -> None:
    """Wait until the driver JVM has exited; it exits when the gateway's
    stdin closes.  Stop every session first."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- plan shape ---------------------------------------------------------

_REGEX_CALL = re.compile(r"\b(?:regexp_extract|RLIKE)\(")
_SHUFFLE = re.compile(r"(?:^|- )Exchange ", re.M)


def regex_calls(df) -> int:
    """`regexp_extract`/`rlike` calls left in the optimized plan."""
    return len(_REGEX_CALL.findall(df._jdf.queryExecution().optimizedPlan().toString()))


def shuffle_exchanges(df) -> int:
    """Shuffle Exchange nodes in the physical plan (broadcasts excluded).
    Planned on a fresh Dataset: once a frame has run, its adaptive plan
    prints the final and the initial plan, which would count twice."""
    plan = df.select("*")._jdf.queryExecution().executedPlan().toString()
    return len(_SHUFFLE.findall(plan))


# --- status stores ------------------------------------------------------


def job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_totals(spark, jobs: list[int]) -> dict[str, float]:
    """Summed task metrics over every stage of `jobs`."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    out = {"cpu_s": 0.0, "gc_s": 0.0, "spill_bytes": 0, "shuffle_write_bytes": 0}
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() not in stage_ids:
            continue
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
    return out


_DURATION_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _seconds(text: str) -> float:
    """Parse a Spark SQL timing metric as the UI formats it: '52 ms', or
    'total (min, med, max ...)\\n2.5 s (586 ms, ...)'."""
    value, unit = text.strip().splitlines()[-1].split()[:2]
    return float(value.replace(",", "")) * _DURATION_UNITS[unit]


# (node name prefix, metric name) → summed SQL operator metric
_SQL_METRICS = {
    "scan_s": (("Scan ",), ("scan time",)),
    "codegen_s": (("WholeStageCodegen",), ("duration",)),
    "commit_s": (("Execute InsertIntoHadoopFsRelationCommand",), ("task commit time", "job commit time")),
}


def sql_totals(spark, jobs: list[int]) -> dict[str, float]:
    """Per-operator SQL metrics summed over the SQL executions that ran
    any of `jobs`: scan time, whole-stage-codegen time, write commit time."""
    store = spark._jsparkSession.sharedState().statusStore()
    wanted = set(jobs)
    out = {k: 0.0 for k in _SQL_METRICS}
    execs = store.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        ex_jobs = ex.jobs().keySet().toString()
        if not wanted & {int(x) for x in re.findall(r"\d+", ex_jobs)}:
            continue
        values = store.executionMetrics(ex.executionId())
        nodes = store.planGraph(ex.executionId()).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            metrics = node.metrics()
            for key, (prefixes, names) in _SQL_METRICS.items():
                if not node.name().startswith(prefixes):
                    continue
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    v = values.get(metric.accumulatorId())
                    if metric.name() in names and v.isDefined():
                        out[key] += _seconds(v.get())
    return out
