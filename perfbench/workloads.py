"""The catalog workloads, and what every workload shares.

All three workloads run in a closed loop from one client.

The client is this process's single driver thread: it sends the next
operation only after the previous one returned, with no thread pools and
no concurrent queries. Every operation's output is checked against a
DuckDB oracle outside its timed region (catalog queries after the
measured passes, lakehouse statements right after each one returns).

With tracing on, each call into an engine layer is wrapped in a span and
the layer read-outs of ``layers`` are taken after the operation; the
untraced run does neither, and only it yields end-to-end numbers.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from . import datagen, layers, oracle
from .spans import Tracer

# Catalog panels. A fresh driver JVM needs JIT and codegen for every plan
# and reaches steady speed only after about three passes over a panel, so
# a run can warm and time a panel, not the whole catalog. Each panel covers
# its family's mechanisms:
OLAP_PANEL = (
    "q01_pricing_summary",       # scan + wide hash aggregate
    "q05_local_supplier_volume",  # six-table star join, broadcast dims
    "q10_top_orders_per_customer",  # window top-n
    "q33_explode_part_words",    # explode + three exchanges
    "q42_scalar_pandas_udf",     # scalar pandas UDF (ArrowEvalPython)
    "w01_sliding_event_rates",   # sliding time windows
    "a02_range_join_bursts",     # as-of / range join
)
LLM_PANEL = (
    "t08_repetition_stats",      # eager localCheckpoint inside the build
    "d07_dup_clusters",          # iterative label propagation
    "e05_ann_topk_probe",        # LSH-bucketed ANN probe
    "m02_media_decode_features",  # mapInPandas decode (Python boundary)
)
PANELS = {"olap_sql": OLAP_PANEL, "llm_curation": LLM_PANEL}
CATALOG_SF = 0.01
WARM_PASSES = 2
MIN_PASSES = 3
SETUP_REPEATS = 3


@dataclass
class Run:
    """One workload run: the inputs, the tracer and what was measured."""

    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    setup: dict = field(default_factory=dict)        # part -> seconds
    gen_s: list = field(default_factory=list)        # one per set-up repeat
    samples: dict = field(default_factory=lambda: defaultdict(list))
    pass_walls: list = field(default_factory=list)
    attempted: int = 0
    failures: list = field(default_factory=list)
    layer: dict = field(default_factory=lambda: defaultdict(float))
    info: dict = field(default_factory=dict)        # sizes, seed, counts

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def check(self, ok: bool, what: str) -> None:
        """A whole-run check counts as one more attempted operation."""
        self.attempted += 1
        if not ok:
            self.fail(what)

    def group(self, tag: str) -> str | None:
        """Tag the jobs that follow with a fresh job group (traced only)."""
        if not self.traced:
            return None
        g = f"{tag}-{self.tracer.op_id}"
        self.spark.sparkContext.setJobGroup(g, tag)
        return g


def start_session(work: str, tracer: Tracer):
    """The engine session (``session.get_spark``) — local[nproc]."""
    from nyc_taxi_data_warehouse_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(app_name="perfbench", warehouse_dir=os.path.join(work, "wh"))
        spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def timed_setup(run: Run, name: str, fn):
    t0 = time.perf_counter()
    with run.tracer.span(name):
        out = fn()
    run.setup[name] = run.setup.get(name, 0.0) + time.perf_counter() - t0
    return out


def generate_repeated(run: Run, gen) -> None:
    """Run input generation ``SETUP_REPEATS`` times; keep each time and
    check the seed reproduces the same rows every time."""
    digests = set()
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        with run.tracer.span("setup.generate"):
            digests.add(gen())
        run.gen_s.append(time.perf_counter() - t0)
    run.info["deterministic"] = len(digests) == 1
    run.check(len(digests) == 1, "input generation is not deterministic for this seed")


# --- catalog workloads ------------------------------------------------------


def _catalog_op(run: Run, name: str, data_dir: str):
    """Build and drain one catalog query; returns (latency, result, layer
    read-out to run after the operation, or None when untraced)."""
    from nyc_taxi_data_warehouse_spark.queries import QUERIES

    spark, tr = run.spark, run.tracer
    tr.new_op()
    with tr.span("op", query=name):
        g_build = run.group("build")
        t0 = time.perf_counter()
        with tr.span("queries.build"):
            df = QUERIES[name].spark(spark, data_dir)
        t1 = time.perf_counter()
        g_exec = run.group("exec")
        # toPandas drains df's own executed plan (Dataset.withAction on its
        # QueryExecution), so the SQLMetrics read below describe the timed work.
        with tr.span("plans.exec"):
            pdf = df.toPandas()
        t2 = time.perf_counter()
    readout = None
    if run.traced:
        def readout():
            _catalog_layers(run, df, g_build, g_exec, t1 - t0, t2 - t1)
    return t2 - t0, pdf, readout


def _catalog_layers(run: Run, df, g_build, g_exec, build_s, exec_s) -> None:
    L, spark = run.layer, run.spark
    b = layers.job_stats(spark, g_build)
    x = layers.job_stats(spark, g_exec)
    L["queries.build_s"] += max(0.0, build_s - b["job_s"])
    L["queries.build_jobs"] += b["jobs"]
    L["queries.build_job_s"] += b["job_s"]
    for k, v in layers.phase_seconds(df).items():
        L[f"plans.{k}"] += v
    L["plans.exec_s"] += exec_s
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        L[f"plans.{k}"] += x[k]
    for k, v in layers.plan_metrics(df).items():
        L[f"plans.{k}"] += v


def run_catalog(run: Run, workload: str) -> None:
    from nyc_taxi_data_warehouse_spark.queries import QUERIES

    names = list(PANELS[workload])
    data_dir = os.path.join(run.work, "data")

    def gen():
        run.info["rows"] = datagen.write_catalog_tables(data_dir, run.seed, CATALOG_SF)
        return tuple(
            datagen.table_digest(pq.read_table(os.path.join(data_dir, f"{t}.parquet")))
            for t in datagen.CATALOG_TABLES
        )

    generate_repeated(run, gen)
    run.info.update(sf=CATALOG_SF, queries=len(names), warm_passes=WARM_PASSES)

    errors: dict[str, str] = {}

    def warm():
        for _ in range(WARM_PASSES):
            for n in names:
                try:
                    QUERIES[n].spark(run.spark, data_dir).toPandas()
                except Exception as e:  # counted below, not fatal
                    errors.setdefault(n, f"{type(e).__name__}: {str(e)[:200]}")

    timed_setup(run, "session.warmup", warm)
    for n in names:  # one check per query: it ran in every warm-up pass
        run.check(n not in errors, f"{n} warm-up: {errors.get(n)}")

    rng = np.random.default_rng([run.seed, 7])
    results: dict[str, list] = defaultdict(list)
    t_start = time.perf_counter()
    while len(run.pass_walls) < MIN_PASSES or time.perf_counter() - t_start < run.seconds:
        order = [names[i] for i in rng.permutation(len(names))]
        wall = 0.0  # the queries' own time; traced read-outs are not in it
        with run.tracer.span("pass"):
            for n in order:
                run.attempted += 1
                t0 = time.perf_counter()
                try:
                    lat, pdf, readout = _catalog_op(run, n, data_dir)
                except Exception as e:  # an operation failure is counted, not fatal
                    wall += time.perf_counter() - t0
                    run.fail(f"{n}: {type(e).__name__}: {str(e)[:200]}")
                    continue
                wall += lat
                run.samples[n].append(lat)
                results[n].append(pdf)
                if readout:
                    readout()
        run.pass_walls.append(wall)

    con = oracle.connect(os.path.join(run.work, "tmp"))
    want = oracle.catalog_keys(con, data_dir, {n: QUERIES[n].oracle for n in names})
    for n, pdfs in results.items():
        for i, pdf in enumerate(pdfs):
            got = oracle.result_key(pdf)
            if got != want[n]:
                run.fail(f"{n} pass {i}: result {got[:2]} != oracle {want[n][:2]}")
