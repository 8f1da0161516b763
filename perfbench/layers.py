"""Per-layer readers for a traced run.

Everything here reads Spark's own bookkeeping after the fact: job groups
from the status tracker, stage metrics from the core status store and SQL
node metrics from the SQL status store. Nothing is changed inside the
engine.
"""

from __future__ import annotations

import re

# SQL node metric name -> per-layer metric it feeds. Sizes are bytes,
# timings seconds.
SQL_METRICS = {
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.returned_bytes",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.worker_start_s",
    "time to initialize Python workers": "python.worker_start_s",
}

_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Parse a formatted SQL metric: ``'12.5 KiB'``, ``'863 ms'``, ``'1,024'``
    or the ``'total (min, med, max ...)\\n<total> (...)'`` form."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def drain(sc) -> None:
    """Block until the listener bus has delivered every event, so the status
    stores hold the jobs that have just finished."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def compile_counters(spark) -> dict[str, float]:
    """Whole-stage codegen compiles (Janino, one per generated-code cache
    miss) and the JVM's JIT compile time so far. Both run beside the tasks
    on the same CPUs, so a pass that recompiles its generated code competes
    with its own execution."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return {"exec.codegen_compiles": float(compiles.getCount()),
            "exec.jit_compile_s": jit.getTotalCompilationTime() / 1e3}


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


def sql_metrics_since(spark, after_id: int, wanted: dict[str, str] = SQL_METRICS) -> dict[str, float]:
    """Sum the SQL node metrics named in ``wanted`` (SQL metric name ->
    per-layer metric) over every SQL execution with an id above
    ``after_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = dict.fromkeys(wanted.values(), 0.0)
    execs = store.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.executionId() <= after_id:
            continue
        names = {}
        it = ex.metrics().iterator()
        while it.hasNext():
            m = it.next()
            if m.name() in wanted:
                names[m.accumulatorId()] = wanted[m.name()]
        if not names:
            continue
        it = store.executionMetrics(ex.executionId()).iterator()
        while it.hasNext():
            kv = it.next()
            key = names.get(kv._1())
            if key is not None:
                out[key] += parse_metric(kv._2())
    return out


def stage_metrics(sc, job_ids) -> dict[str, float]:
    """Sum the completed-stage metrics of ``job_ids`` (each stage once)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    no_status = gw.jvm.java.util.ArrayList()
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(
        ("exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
         "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
         "exec.input_bytes"), 0.0)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        for k in range(attempts.size()):
            sd = attempts.apply(k)
            if sd.status().toString() != "COMPLETE":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numCompleteTasks()
            out["exec.task_run_s"] += sd.executorRunTime() / 1e3
            out["exec.task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["exec.gc_s"] += sd.jvmGcTime() / 1e3
            out["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["exec.input_bytes"] += sd.inputBytes()
    return out
