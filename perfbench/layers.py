"""Read-outs from the engine's layers, taken after an operation ran.

Everything here reads state Spark already keeps: the driver JVM's
``/proc`` status, job/stage/task counts from the status store for a job
group, Catalyst phase times from the query execution's tracker, and the
SQLMetrics of the executed plan. None of it runs a Spark job.
"""

from __future__ import annotations

import os

from nyc_taxi_data_warehouse_spark.plans import audit

# SQLMetrics of the Python exec nodes (ArrowEvalPython, FlatMapGroupsInPandas, ...)
_PY_METRICS = {
    "pythonTotalTime": "python_total_ms",
    "pythonBootTime": "python_boot_ms",
    "pythonNumRowsReceived": "python_rows",
    "pythonDataSent": "python_bytes_sent",
}


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def job_stats(spark, group: str) -> dict:
    """Jobs, stages, tasks, failed tasks and summed job seconds of every
    job that ran under job group ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "job_s": 0.0}
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        out["jobs"] += 1
        out["stages"] += jd.stageIds().size()
        out["tasks"] += jd.numTasks()
        out["failed_tasks"] += jd.numFailedTasks()
        sub, end = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and end.isDefined():
            out["job_s"] += (end.get().getTime() - sub.get().getTime()) / 1000.0
    return out


def phase_seconds(df) -> dict:
    """Catalyst analysis/optimization/planning seconds of ``df``'s own
    query execution."""
    out = {"analysis_s": 0.0, "optimization_s": 0.0, "planning_s": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        key = f"{kv._1()}_s"
        if key in out:
            out[key] = kv._2().durationMs() / 1000.0
    return out


def _walk(jplan):
    """Every node of an executed plan, through AQE and query-stage
    wrappers; a reused exchange is not descended (its metrics alias the
    original's)."""
    stack = [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        yield cls, node
        if cls in ("ReusedExchangeExec", "InMemoryTableScanExec"):
            continue
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            it = node.children().iterator()
            while it.hasNext():
                stack.append(it.next())


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        v = kv._2().value()
        if v >= 0:
            out[kv._1()] = v
    return out


def plan_metrics(df) -> dict:
    """SQLMetrics of ``df``'s executed plan, after an action drained it:
    shuffles and spill (via ``plans.audit.executed_metrics``), file-scan
    files/bytes/rows and the Python-worker metrics."""
    m = audit.executed_metrics(df)
    out = {
        "shuffles": m["n_shuffles"],
        "shuffle_bytes": m["shuffle_bytes_written"],
        "spill_bytes": m["spill_bytes"],
        "scan_files": 0, "scan_bytes": 0, "scan_rows": 0,
        **{v: 0 for v in _PY_METRICS.values()},
    }
    for cls, node in _walk(df._jdf.queryExecution().executedPlan()):
        if cls == "FileSourceScanExec":
            ms = _metrics(node)
            out["scan_files"] += ms.get("numFiles", 0)
            out["scan_bytes"] += ms.get("filesSize", 0)
            out["scan_rows"] += ms.get("numOutputRows", 0)
        elif "Python" in cls or "Pandas" in cls or "Arrow" in cls:
            for k, v in _metrics(node).items():
                if k in _PY_METRICS:
                    out[_PY_METRICS[k]] += v
    return out


def dir_files(root: str) -> dict[str, int]:
    """relative path -> size of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out

