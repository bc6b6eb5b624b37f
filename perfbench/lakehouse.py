"""The ``lakehouse_dml`` workload: the reference's load pipeline plus the
snapshot warehouse, the only workload that writes.

Set-up generates seeded raw FHVHV months and loads the base months with
``load_month(backend="snapshot")``. Each measured round then interleaves
writes and reads through the public entry points: ``load_month`` (a new
month, then the same month again, which must be skipped), ``snapshot_sql``
DELETE on partition columns (partition drop), on a ``pickup_datetime``
range (clustered, so a file rewrite), on a scattered
``dispatching_base_num IN (...)`` (deletion vector), UPDATE, MERGE,
OPTIMIZE, a zone-pay SELECT joining the 265-row zone dimension, a
``count(*) WHERE`` the metadata fast path answers, and time-travel reads
through ``read_snapshot(version=...)``.

Every statement is replayed in DuckDB over the same raw files; the
affected-row counts, the SELECT results and the table state behind every
time-travel read must match. Only the engine call sits inside an
operation's timer; the replay and checks run after it. A round's time and
the base-load set-up time are sums of those timers, so no check is in them.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import datagen, layers, oracle
from .workloads import Run, generate_repeated

BASE_YEAR, ROUND_YEAR = 2023, 2024
BASE_MONTHS = 3
BASE_ROWS = 20_000
SMALL_ROWS = 10_000
MERGE_ROWS = 400
MIN_ROUNDS, MAX_ROUNDS = 1, 3
# Commits per run are far fewer than the engine's default checkpoint
# interval (16), so the manifest log checkpoints every 4 commits here:
# the checkpoint writer and the checkpoint-based fold run in every run.
CKPT_EVERY = "4"


def stage_merge(seed: int, r: int, raw_dir: str, out_path: str) -> None:
    """MERGE source for round ``r``: half updates of existing trips of a
    base month (same pickup key, new pay), half new trips."""
    rng = np.random.default_rng([seed, 11, r])
    month = (r - 1) % BASE_MONTHS + 1
    src = pq.read_table(os.path.join(raw_dir, f"base_{month:02d}.parquet"))
    t = src.take(pa.array(np.sort(rng.choice(src.num_rows, MERGE_ROWS, replace=False))))
    taken = set(src.column("pickup_datetime").cast(pa.int64()).to_pylist())
    keys = t.column("pickup_datetime").cast(pa.int64()).to_pylist()
    half = MERGE_ROWS // 2
    for i in range(half, MERGE_ROWS):  # a new trip: the next free microsecond
        k = keys[i] + 1
        while k in taken:
            k += 1
        taken.add(k)
        keys[i] = k
    cols = {c: t.column(c) for c in oracle.WAREHOUSE_COLS if c in t.column_names}
    cols["pickup_datetime"] = pa.array(keys, pa.timestamp("us"))
    cols["pu_location_id"] = t.column("PULocationID").cast(pa.int32())
    cols["do_location_id"] = t.column("DOLocationID").cast(pa.int32())
    cols["driver_pay"] = pa.array(np.round(rng.uniform(5, 80, MERGE_ROWS), 2))
    cols["year"] = pa.array([BASE_YEAR] * MERGE_ROWS, pa.int32())
    cols["month"] = pa.array([month] * MERGE_ROWS, pa.int32())
    pq.write_table(pa.table({c: cols[c] for c in (*oracle.WAREHOUSE_COLS, "year", "month")}),
                   out_path)


def write_amp(written: dict[str, int], raw_bytes: int) -> float:
    """Every byte ever written under the table root (data, DV and
    equality-delete sidecars, manifests, checkpoints) per raw byte
    loaded. Hadoop's ``.crc`` side files are not the table's bytes."""
    return sum(s for p, s in written.items() if not p.endswith(".crc")) / raw_bytes


def space_amp(files: dict[str, int], live_bytes: int) -> float:
    """Bytes under the table root now per byte of the same live rows
    written once as plain parquet."""
    return sum(s for p, s in files.items() if not p.endswith(".crc")) / live_bytes


class Lake:
    """The snapshot table, its DuckDB replay and the byte accounting."""

    def __init__(self, run: Run, path: str, raw_dir: str):
        self.run, self.path, self.raw_dir = run, path, raw_dir
        self.replay = oracle.Replay(oracle.connect(os.path.join(run.work, "tmp")))
        self.states: dict[int, tuple] = {}   # version -> replay checksum
        self.raw_rows = 0
        self.raw_bytes = 0
        self.load_s = 0.0
        self.written: dict[str, int] = {}    # every file ever seen under the root
        self.measuring = False
        self.after: list = []
        self.n_files = 0                     # live files at the last commit seen
        self.op_s = 0.0                      # time inside every op's timer so far

    def op(self, name: str, call, check) -> None:
        """One operation: ``call()`` is timed, ``check(result)`` is not.
        Layer read-outs ``call`` queues in ``self.after`` (traced runs)
        run last, outside the timer and the failure accounting."""
        run = self.run
        run.attempted += 1
        run.tracer.new_op()
        self.after = []
        t0 = time.perf_counter()
        try:
            with run.tracer.span("op", what=name):
                res = call()
        except Exception as e:  # an operation failure is counted, not fatal
            self.op_s += time.perf_counter() - t0
            run.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return
        dt = time.perf_counter() - t0
        self.op_s += dt
        if self.measuring:
            run.samples[name].append(dt)
        try:
            check(res, dt)
        except Exception as e:  # a check that cannot run is a failed check
            run.fail(f"{name} check: {type(e).__name__}: {str(e)[:300]}")
        for readout in self.after:
            readout()

    def expect(self, what: str, got, want) -> None:
        if got != want:
            self.run.fail(f"{what}: engine {got} != oracle {want}")

    def head(self) -> tuple[int, str, int]:
        """(version, op, live file count) of the head."""
        from nyc_taxi_data_warehouse_spark.warehouse.snapshots import snapshot_versions

        v = snapshot_versions(self.run.spark, self.path)[-1]
        return v["version"], v["op"], v["n_files"]

    def register(self) -> None:
        from nyc_taxi_data_warehouse_spark.warehouse.snapshots import snapshot_register

        snapshot_register(self.run.spark, self.path, "trips")

    def committed(self, version: int, affected: int | None = None) -> None:
        """Record the replay state of ``version`` and the files written."""
        self.states[version] = self.replay.checksum()
        now = layers.dir_files(self.path)
        added = {p: s for p, s in now.items() if p not in self.written}
        self.written.update(added)
        if not (self.measuring and self.run.traced):
            return
        L = self.run.layer
        data = [p for p in added if p.endswith(".parquet") and not p.startswith("_versions")]
        L["warehouse.snapshots.files_added"] += len(data)
        L["warehouse.snapshots.bytes_written"] += sum(added.values())
        _, op, n_files = self.head()
        if "dv" not in op and "eq" not in op:  # sidecar commits remove no file
            L["warehouse.snapshots.files_removed"] += max(0, self.n_files + len(data) - n_files)
        self.n_files = n_files
        if op in ("delete_rows", "update_rows") and affected:
            rows, data_bytes = self.replay.checksum()[0] + affected, self.data_bytes(now)
            L["_rewrite_bytes"] += sum(added[p] for p in data)
            L["_changed_bytes"] += affected * data_bytes / max(1, rows)

    def data_bytes(self, files: dict[str, int]) -> int:
        return sum(s for p, s in files.items()
                   if p.endswith(".parquet") and not p.startswith("_versions"))

    # operations -----------------------------------------------------------
    def load(self, fname: str, year: int, month: int, name: str = "load") -> None:
        from nyc_taxi_data_warehouse_spark.warehouse.load import load_month

        raw = os.path.join(self.raw_dir, fname)

        def call():
            g = self.run.group("load")
            with self.run.tracer.span("warehouse.load.month"):
                res = load_month(self.run.spark, raw, year, month,
                                 backend="snapshot", snapshot_path=self.path)
            if g:
                self.after.append(lambda: self._jobs(g))
            return res

        def check(res, dt):
            self.expect(f"load {year}-{month:02d} rows", res.rows,
                        self.replay.load(raw, year, month))
            if res.skipped:
                return
            self.load_s += dt
            self.raw_rows += res.rows
            self.raw_bytes += os.path.getsize(raw)
            if self.measuring and self.run.traced:
                self.run.layer["warehouse.load.rows"] += res.rows
            self.register()
            self.committed(self.head()[0])

        self.op(name, call, check)

    def dml(self, name: str, verb: str, sql: str, duck, mode: str = "auto") -> None:
        from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import snapshot_sql

        def call():
            g = self.run.group(verb)
            with self.run.tracer.span(f"warehouse.sqlfront.{verb}"):
                row = snapshot_sql(self.run.spark, sql, mode=mode).collect()[0]
            if g:
                self.after.append(lambda: self._jobs(g))
            return row

        def check(row, dt):
            version, n = row[0], row[1]
            self.expect(f"{name} rows", n, duck())
            self.committed(version, n)

        self.op(name, call, check)

    def optimize(self) -> None:
        from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import snapshot_sql

        def call():
            g = self.run.group("optimize")
            with self.run.tracer.span("warehouse.sqlfront.optimize"):
                version = snapshot_sql(self.run.spark, "OPTIMIZE trips").collect()[0][0]
            if g:
                self.after.append(lambda: self._jobs(g))
            return version

        self.op("optimize", call, lambda v, dt: self.committed(v))

    def select(self, name: str, sql: str) -> None:
        from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import snapshot_sql

        def call():
            g = self.run.group("select")
            with self.run.tracer.span("warehouse.sqlfront.select"):
                df = snapshot_sql(self.run.spark, sql)
                rows = df.collect()
            pdf = pd.DataFrame([tuple(r) for r in rows], columns=df.columns)
            if g:
                self.after.append(lambda: self._select_layers(g, df))
            return pdf

        self.op(name, call, lambda pdf, dt: self.expect(
            name, oracle.result_key(pdf), oracle.result_key(self.replay.query(sql))))

    def time_travel(self, version: int) -> None:
        from nyc_taxi_data_warehouse_spark.warehouse.snapshots import read_snapshot

        def call():
            tr = self.run.tracer
            with tr.span("warehouse.snapshots.meta"):
                df = read_snapshot(self.run.spark, self.path, version=version)
            df.createOrReplaceTempView("trips_tt")
            g = self.run.group("time_travel")
            with tr.span("warehouse.snapshots.data"):
                q = self.run.spark.sql(oracle.checksum_sql("trips_tt", True))
                row = q.collect()[0]
            if g:
                self.after.append(lambda: (self._jobs(g), self._scan(q)))
            return tuple(int(x or 0) for x in row)

        self.op("time_travel", call, lambda got, dt: self.expect(
            f"time travel v{version}", got, self.states[version]))

    def _select_layers(self, group: str, df) -> None:
        """A SELECT the front door answered from metadata returns a
        DataFrame over the computed rows: its plan scans no data file.
        (Even that answer is RDD-backed, so its collect runs one job;
        "no Spark job" would never hold.)"""
        self._jobs(group)
        self.run.layer["_selects"] += 1
        self.run.layer["_fastpath_selects"] += self._scan(df) == 0

    def _scan(self, df) -> int:
        m = layers.plan_metrics(df)
        for k in ("scan_files", "scan_bytes", "scan_rows"):
            self.run.layer[f"plans.{k}"] += m[k]
        return m["scan_files"]

    def _jobs(self, group: str) -> int:
        x = layers.job_stats(self.run.spark, group)
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            self.run.layer[f"plans.{k}"] += x[k]
        return x["jobs"]


def _inputs(run: Run, raw_dir: str, rounds: int) -> None:
    os.makedirs(raw_dir, exist_ok=True)

    def gen():
        months = [(f"base_{m:02d}.parquet", BASE_YEAR, m, BASE_ROWS)
                  for m in range(1, BASE_MONTHS + 1)]
        months += [(f"small_{m:02d}.parquet", ROUND_YEAR, m, SMALL_ROWS)
                   for m in range(1, rounds + 1)]
        digests = []
        for fname, y, m, rows in months:
            t = datagen.raw_month(run.seed, y, m, rows)
            pq.write_table(t, os.path.join(raw_dir, fname))
            digests.append(datagen.table_digest(t))
        for r in range(1, rounds + 1):
            stage_merge(run.seed, r, raw_dir, os.path.join(raw_dir, f"merge_{r}.parquet"))
        return tuple(digests)

    generate_repeated(run, gen)


def _round(lake: Lake, r: int, rng) -> None:
    """One measured round; ``r`` picks its months and keys."""
    bm = (r - 1) % BASE_MONTHS + 1           # base month the round edits
    other = bm % BASE_MONTHS + 1             # base month the round only reads
    day = int(rng.integers(1, 27))
    lo = f"{BASE_YEAR}-{bm:02d}-{day:02d} 06:00:00"
    hi = f"{BASE_YEAR}-{bm:02d}-{day:02d} 18:00:00"
    bases = [datagen.BASES[i] for i in rng.choice(len(datagen.BASES), 3, replace=False)]
    merge_src = os.path.join(lake.raw_dir, f"merge_{r}.parquet")
    zone_pay = (
        "SELECT z.borough, count(*) AS n_trips, "
        "CAST(sum(CAST(t.driver_pay AS DECIMAL(18,2))) AS DOUBLE) AS pay, "
        "CAST(sum(CAST(t.tips AS DECIMAL(18,2))) AS DOUBLE) AS tips "
        "FROM trips t JOIN zones z ON t.pu_location_id = z.zone_id "
        "WHERE t.year = {y} AND t.month = {m} GROUP BY z.borough"
    )
    ex = lake.replay.execute
    v_start = lake.head()[0]

    lake.load(f"small_{r:02d}.parquet", ROUND_YEAR, r)
    lake.load(f"small_{r:02d}.parquet", ROUND_YEAR, r, name="load_skip")
    drop = f"DELETE FROM trips WHERE year = {ROUND_YEAR} AND month = {r}"
    lake.dml("delete_partition", "delete", drop, lambda: ex(drop))
    count = f"SELECT count(*) AS n FROM trips WHERE year = {BASE_YEAR} AND month = {other}"
    lake.select("select_count", count)
    rng_sql = (f"DELETE FROM trips WHERE pickup_datetime >= '{lo}' "
               f"AND pickup_datetime < '{hi}'")
    lake.dml("delete_range", "delete", rng_sql, lambda: ex(
        f"DELETE FROM trips WHERE pickup_datetime >= TIMESTAMP '{lo}' "
        f"AND pickup_datetime < TIMESTAMP '{hi}'"))
    lake.select("select_zone_pay", zone_pay.format(y=BASE_YEAR, m=bm))
    # the run's table is below dv_threshold_mb, so auto would rewrite: ask for DVs
    scat = f"DELETE FROM trips WHERE dispatching_base_num IN ('{bases[0]}', '{bases[1]}')"
    lake.dml("delete_scattered", "delete", scat, lambda: ex(scat), mode="dv")
    upd = (f"UPDATE trips SET tips = tips + 1.0 WHERE dispatching_base_num = '{bases[2]}' "
           f"AND year = {BASE_YEAR}")
    lake.dml("update", "update", upd, lambda: ex(upd), mode="dv")
    merge = (f"MERGE INTO trips AS t USING (SELECT * FROM parquet.`{merge_src}`) AS s "
             "ON t.pickup_datetime = s.pickup_datetime "
             "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    lake.dml("merge", "merge", merge, lambda: lake.replay.merge(merge_src, "pickup_datetime"))
    lake.time_travel(v_start)
    lake.optimize()
    lake.time_travel(lake.head()[0])


def run_lakehouse(run: Run) -> None:
    from nyc_taxi_data_warehouse_spark.warehouse.queries import taxi_zone_dim
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        read_snapshot,
        snapshot_history,
    )

    os.environ["SPARK_GRAFT_MANIFEST_CKPT_EVERY"] = CKPT_EVERY
    spark = run.spark
    raw_dir = os.path.join(run.work, "raw")
    path = os.path.join(run.work, "lake", "trips")
    _inputs(run, raw_dir, MAX_ROUNDS)
    run.info.update(base_rows=BASE_ROWS, base_months=BASE_MONTHS, small_rows=SMALL_ROWS,
                    merge_rows=MERGE_ROWS, ckpt_every=int(CKPT_EVERY))
    taxi_zone_dim(spark).createOrReplaceTempView("zones")
    lake = Lake(run, path, raw_dir)

    # set-up time is the loads' own time; their replay and checks are not in it
    s0 = lake.op_s
    with run.tracer.span("setup.base_load"):
        for m in range(1, BASE_MONTHS + 1):
            lake.load(f"base_{m:02d}.parquet", BASE_YEAR, m, name="base_load")
    run.setup["setup.base_load"] = lake.op_s - s0
    lake.register()
    v0, _, lake.n_files = lake.head()

    rng = np.random.default_rng([run.seed, 5])
    lake.measuring = True
    t_start = time.perf_counter()
    while len(run.pass_walls) < MIN_ROUNDS or time.perf_counter() - t_start < run.seconds:
        if len(run.pass_walls) == MAX_ROUNDS:
            break
        s0 = lake.op_s
        with run.tracer.span("pass"):
            _round(lake, len(run.pass_walls) + 1, rng)
        run.pass_walls.append(lake.op_s - s0)  # the statements' time, not the checks'
    lake.measuring = False

    hist = snapshot_history(spark, path).select(
        "version", "op", "n_files", "n_dv_files").collect()
    ops = [h["op"] for h in hist]
    files = layers.dir_files(path)
    live_dir = os.path.join(run.work, "live_copy")
    read_snapshot(spark, path).write.parquet(live_dir)
    live = lake.data_bytes(layers.dir_files(live_dir))
    run.info.update(
        rounds=len(run.pass_walls),
        versions=len(hist),
        history_ops={o: ops.count(o) for o in sorted(set(ops))},
        ckpts=sum(1 for p in files if p.endswith(".ckpt.parquet")),
        load_rows_per_s=lake.raw_rows / lake.load_s,
        write_amp=write_amp(lake.written, lake.raw_bytes),
        space_amp=space_amp(files, live),
    )
    for label, want in (("partition drop", "drop_partitions"), ("rewrite", "delete_rows"),
                        ("deletion vector", "delete_rows_dv")):
        run.check(want in ops, f"snapshot_history shows no {label} commit")
    run.check(run.info["ckpts"] >= 3,
              f"manifest log wrote {run.info['ckpts']} checkpoints, fewer than 3")
    if run.traced:
        _layers(run, files, hist, v0)


def _layers(run: Run, files: dict, hist: list, v0: int) -> None:
    """Per-run layer counts. Strategies and sidecars count the commits of
    the measured rounds (versions after ``v0``); the manifest-log counts
    describe the whole log at the end of the run."""
    L = run.layer
    ops = [h["op"] for h in hist if h["version"] > v0]
    dv = [h["n_dv_files"] for h in hist if h["version"] >= v0]
    L["warehouse.snapshots.dv_files"] = sum(max(0, b - a) for a, b in zip(dv, dv[1:]))
    sel, fast = L.pop("_selects", 0), L.pop("_fastpath_selects", 0)
    L["warehouse.sqlfront.fastpath_frac"] = fast / sel if sel else 0.0
    rewritten, changed = L.pop("_rewrite_bytes", 0), L.pop("_changed_bytes", 0)
    L["warehouse.snapshots.rewrite_amp"] = rewritten / changed if changed else 0.0
    L["warehouse.snapshots.strategy.partition_drop"] = ops.count("drop_partitions")
    L["warehouse.snapshots.strategy.rewrite"] = ops.count("delete_rows") + ops.count("update_rows")
    L["warehouse.snapshots.strategy.dv"] = ops.count("delete_rows_dv") + ops.count("update_rows_dv")
    man = {p: s for p, s in files.items() if p.startswith("_versions") and not p.endswith(".crc")}
    ckpt = {p: s for p, s in man.items() if p.endswith(".ckpt.parquet")}
    L["warehouse.manifestlog.versions"] = len(hist)
    L["warehouse.manifestlog.commit_bytes"] = sum(man.values()) - sum(ckpt.values())
    L["warehouse.manifestlog.ckpts"] = len(ckpt)
    L["warehouse.manifestlog.ckpt_bytes"] = sum(ckpt.values())
