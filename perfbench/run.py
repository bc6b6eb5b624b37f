"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_sql --seed 1 --seconds 5 --trace 0

Run from the repository root: the engine package is imported from there.
Everything the run writes (generated inputs, the lakehouse table, Spark
and Python temp files) goes under ``.perfbench_work/<pid>/`` in the root and
is removed at exit; a traced run leaves its spans in ``.perfbench_spans/``. The report goes to standard output; its last line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "nyc_taxi_data_warehouse_spark"
WORKLOADS = ("olap_sql", "llm_curation", "lakehouse_dml")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
}
# name -> unit; every one is printed for every workload (0 where the
# workload does no work in that layer)
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_job_s": "s",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "plans.exec_s": "s",
    "plans.jobs": "count", "plans.stages": "count", "plans.tasks": "count",
    "plans.failed_tasks": "count",
    "plans.shuffles": "count", "plans.shuffle_bytes": "B", "plans.spill_bytes": "B",
    "plans.scan_files": "count", "plans.scan_bytes": "B", "plans.scan_rows": "count",
    "plans.python_total_ms": "ms", "plans.python_boot_ms": "ms",
    "plans.python_rows": "count", "plans.python_bytes_sent": "B",
    "warehouse.load.month_s": "s", "warehouse.load.rows": "count",
    "warehouse.sqlfront.delete_s": "s", "warehouse.sqlfront.update_s": "s",
    "warehouse.sqlfront.merge_s": "s", "warehouse.sqlfront.optimize_s": "s",
    "warehouse.sqlfront.select_s": "s", "warehouse.sqlfront.fastpath_frac": "ratio",
    "warehouse.snapshots.meta_s": "s", "warehouse.snapshots.data_s": "s",
    "warehouse.snapshots.files_added": "count", "warehouse.snapshots.files_removed": "count",
    "warehouse.snapshots.bytes_written": "B", "warehouse.snapshots.dv_files": "count",
    "warehouse.snapshots.strategy.partition_drop": "count",
    "warehouse.snapshots.strategy.rewrite": "count",
    "warehouse.snapshots.strategy.dv": "count",
    "warehouse.snapshots.rewrite_amp": "ratio",
    "warehouse.manifestlog.versions": "count", "warehouse.manifestlog.commit_bytes": "B",
    "warehouse.manifestlog.ckpts": "count", "warehouse.manifestlog.ckpt_bytes": "B",
    "trace.wall_s": "s",
}
# span name -> per-layer time metric (self time, per measured pass)
SPAN_METRICS = {
    "warehouse.load.month": "warehouse.load.month_s",
    "warehouse.sqlfront.delete": "warehouse.sqlfront.delete_s",
    "warehouse.sqlfront.update": "warehouse.sqlfront.update_s",
    "warehouse.sqlfront.merge": "warehouse.sqlfront.merge_s",
    "warehouse.sqlfront.optimize": "warehouse.sqlfront.optimize_s",
    "warehouse.sqlfront.select": "warehouse.sqlfront.select_s",
    "warehouse.snapshots.meta": "warehouse.snapshots.meta_s",
    "warehouse.snapshots.data": "warehouse.snapshots.data_s",
}
# layer counters that describe the whole run, not a sum over passes
PER_RUN = ("warehouse.sqlfront.fastpath_frac", "warehouse.snapshots.rewrite_amp",
           "warehouse.snapshots.strategy.", "warehouse.manifestlog.")


def _isolate(work: str, cpus: int) -> None:
    """Point every temp and scratch location of Python, the JVM and
    Spark into ``work`` and size the session: local[cpus]."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_MASTER": f"local[{cpus}]",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LAUNCHER_OPTS": java_opts,  # the JVM that assembles the spark-submit command
        "PYSPARK_SUBMIT_ARGS": (
            f'--conf "spark.driver.extraJavaOptions={java_opts}" '
            f"--conf spark.local.dir={tmp} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(run, session_s: float) -> dict:
    from perfbench.stats import median_of_medians

    setup_s = session_s + statistics.median(run.gen_s) + sum(run.setup.values())
    vals = {
        "setup_s": setup_s,
        "wall_s": statistics.median(run.pass_walls),
        "op_p50_s": median_of_medians(run.samples),
    }
    return {k: _metric(v, END_TO_END[k]) for k, v in vals.items()}


def per_layer(run, session_s: float) -> dict:
    from perfbench.spans import totals_by_name, within

    passes = len(run.pass_walls)
    vals = {k: 0.0 for k in PER_LAYER}
    for k, v in run.layer.items():
        vals[k] = v if k.startswith(PER_RUN) else v / passes
    totals = totals_by_name(within(run.tracer.spans, "pass"))
    for span, key in SPAN_METRICS.items():
        if span in totals:
            vals[key] = totals[span]["self_s"] / passes
    vals["session.start_s"] = session_s
    vals["session.warmup_s"] = run.setup.get("session.warmup", 0.0)
    vals["trace.wall_s"] = statistics.median(run.pass_walls)
    return {k: _metric(v, PER_LAYER[k]) for k, v in vals.items()}


def report(workload: str, run, metrics: dict, trace: bool) -> None:
    """Human-readable lines before the final JSON line."""
    from perfbench.stats import percentile, tail_percentile

    print(f"workload {workload}  seed {run.seed}  trace {int(trace)}")
    print(f"inputs {json.dumps(run.info, sort_keys=True, default=str)}")
    print(f"setup parts {json.dumps({k: round(v, 3) for k, v in run.setup.items()})}  "
          f"generate {[round(x, 3) for x in run.gen_s]}")
    print("op medians " + json.dumps(
        {k: round(statistics.median(v), 4) for k, v in sorted(run.samples.items())}))
    lat = [x for v in run.samples.values() for x in v]
    print(f"operations attempted {run.attempted}  failed {len(run.failures)}  "
          f"failed_frac {len(run.failures) / max(1, run.attempted):.4f}  "
          f"latency samples {len(lat)}  distinct operations {len(run.samples)}  "
          f"passes {len(run.pass_walls)}")
    print(f"pass walls {[round(x, 3) for x in run.pass_walls]}")
    q = tail_percentile(len(lat))
    if q is not None:
        print(f"op_p{q}_s {percentile(lat, q):.4f} s  (highest percentile <= 90 with "
              f">= 10 of {len(lat)} samples beyond it)")
    for k in ("jvm_peak_rss_mb", "load_rows_per_s", "write_amp", "space_amp"):
        if k in run.info:
            print(f"{k} {run.info[k]:.4f}")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    for f in run.failures:
        print(f"FAILED {f}")


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0,
                    help="least measured time; at least three passes (catalog) or one round (lakehouse) always run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE!r} not found in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    cpus = len(os.sched_getaffinity(0))
    _isolate(work, cpus)
    sys.path.insert(0, ROOT)

    from perfbench import lakehouse, layers, workloads
    from perfbench.spans import Tracer

    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        spark, session_s = workloads.start_session(work, tracer)
        run = workloads.Run(spark, tracer, work, args.seed, args.seconds)
        run.info.update(seed=args.seed, cpus=cpus)
        if args.workload == "lakehouse_dml":
            lakehouse.run_lakehouse(run)
        else:
            workloads.run_catalog(run, args.workload)
        run.info["jvm_peak_rss_mb"] = layers.vm_hwm_mb(layers.jvm_pid(spark))
        if not run.samples:
            for f in run.failures:
                print(f"FAILED {f}", file=sys.stderr)
            print("no operation completed", file=sys.stderr)
            return 1
        if args.trace:
            metrics = per_layer(run, session_s)
            os.makedirs(os.path.join(ROOT, ".perfbench_spans"), exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".perfbench_spans", f"{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = end_to_end(run, session_s)
        report(args.workload, run, metrics, bool(args.trace))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # last run out removes the parent
            os.rmdir(os.path.dirname(work))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
