"""Tests for the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

import os
import statistics

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench import datagen, lakehouse, oracle
from perfbench.spans import Span, Tracer, self_times, totals_by_name, within
from perfbench.stats import hd_median, median_of_medians, percentile, tail_percentile


# --- percentile rule -----------------------------------------------------------

@pytest.mark.parametrize("n, want", [
    (10, None),   # no percentile leaves 10 samples beyond it
    (11, 9),
    (20, 50),
    (40, 75),
    (100, 90),    # p90 needs 100 samples
    (99, 89),
    (1000, 90),   # never above the requested percentile
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    q = tail_percentile(n)
    assert q == want
    if q is not None:
        assert n - n * q / 100 >= 10


def test_percentile_interpolates_like_numpy_linear():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 90) == pytest.approx(3.7)


def test_median_of_medians_ignores_one_slow_pass():
    samples = {"a": [1.0, 1.1, 9.0], "b": [2.0, 2.2, 2.1], "c": [3.0, 30.0, 3.1]}
    assert median_of_medians(samples) == pytest.approx(hd_median([1.1, 2.1, 3.1]))
    assert median_of_medians(samples) == pytest.approx(2.1, abs=0.01)


def test_hd_median_is_a_median():
    assert hd_median([5.0]) == pytest.approx(5.0)
    assert hd_median([2.0] * 7) == pytest.approx(2.0)
    assert hd_median([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(3.0, abs=1e-6)
    xs = [0.1, 0.9, 1.0, 1.1, 1.2, 2.4, 3.0, 3.0, 3.1, 4.4, 6.7]
    assert 1.2 < hd_median(xs) < 2.4     # between the order statistics around the gap
    # moving the middle value across the gap moves the estimate less than the median
    ys = sorted(xs[:5] + [1.3] + xs[6:])
    assert abs(hd_median(xs) - hd_median(ys)) < abs(statistics.median(xs) - statistics.median(ys))


# --- spans -----------------------------------------------------------------------

def test_self_time_subtracts_children_and_counts_overlap_once():
    spans = [
        Span(0, "op", 1, None, 0.0, 10.0),
        Span(1, "build", 1, 0, 1.0, 4.0),
        Span(2, "exec", 1, 0, 3.0, 6.0),     # overlaps build by 1 s
        Span(3, "job", 1, 2, 3.5, 5.5),      # grandchild: not subtracted from op
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(3.0 - 2.0)
    assert st[3] == pytest.approx(2.0)


def test_tracer_nests_spans_and_shares_the_op_id():
    ticks = iter(range(100))
    tr = Tracer(True, clock=lambda: float(next(ticks)))
    op = tr.new_op()
    with tr.span("op"):
        with tr.span("queries.build"):
            pass
        with tr.span("plans.exec"):
            pass
    outer, build, exe = tr.spans
    assert build.parent == outer.sid and exe.parent == outer.sid
    assert {s.op for s in tr.spans} == {op}
    tot = totals_by_name(tr.spans)
    assert tot["op"]["total_s"] == 5.0 and tot["op"]["self_s"] == 3.0


def test_within_keeps_only_descendants_of_the_named_spans():
    spans = [
        Span(0, "setup", 0, None, 0.0, 1.0),
        Span(1, "warehouse.load.month", 0, 0, 0.1, 0.9),
        Span(2, "pass", 1, None, 1.0, 5.0),
        Span(3, "op", 1, 2, 1.0, 2.0),
        Span(4, "warehouse.load.month", 1, 3, 1.1, 1.9),
    ]
    assert [s.sid for s in within(spans, "pass")] == [2, 3, 4]


def test_untraced_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op"):
        pass
    assert tr.spans == []


# --- byte accounting --------------------------------------------------------------

def test_write_amp_counts_every_file_ever_written_but_not_crc():
    written = {"data/a.parquet": 600, "data/.a.parquet.crc": 8,
               "_versions/00000001.json": 100, "data/dv.parquet": 300}
    assert lakehouse.write_amp(written, 500) == pytest.approx(1000 / 500)


def test_space_amp_is_bytes_on_disk_over_live_rows_once():
    files = {"data/a.parquet": 600, "data/b.parquet": 400, "data/.b.parquet.crc": 12,
             "_versions/00000002.ckpt.parquet": 200}
    assert lakehouse.space_amp(files, 800) == pytest.approx(1200 / 800)


# --- generators and the DuckDB replay ------------------------------------------

def test_generators_are_deterministic_per_seed():
    a, b = datagen.raw_month(3, 2023, 2, 500), datagen.raw_month(3, 2023, 2, 500)
    assert datagen.table_digest(a) == datagen.table_digest(b)
    assert datagen.table_digest(a) != datagen.table_digest(datagen.raw_month(4, 2023, 2, 500))
    t1 = datagen.catalog_tables(5, 0.001)["documents"]
    t2 = datagen.catalog_tables(5, 0.001)["documents"]
    assert datagen.table_digest(t1) == datagen.table_digest(t2)


def test_raw_month_has_the_reference_raw_schema_and_unique_pickups():
    t = datagen.raw_month(1, 2023, 3, 1000)
    for c in ("PULocationID", "DOLocationID", "trip_miles", "trip_time", "driver_pay"):
        assert c in t.column_names
    assert str(t.schema.field("PULocationID").type) == "int64"
    pickups = t.column("pickup_datetime")
    assert len(pc.unique(pickups)) == t.num_rows
    assert pickups.to_pylist() == sorted(pickups.to_pylist())


def test_replay_follows_load_delete_update_merge(tmp_path):
    raw = tmp_path / "base_01.parquet"
    t = datagen.raw_month(7, lakehouse.BASE_YEAR, 1, 2000)
    pq.write_table(t, raw)
    rp = oracle.Replay(oracle.connect(str(tmp_path)))
    assert rp.load(str(raw), lakehouse.BASE_YEAR, 1) == 2000
    assert rp.load(str(raw), lakehouse.BASE_YEAR, 1) == 0      # already loaded: skipped
    base = t.column("dispatching_base_num")[0].as_py()
    want = pc.sum(pc.equal(t.column("dispatching_base_num"), base)).as_py()
    assert rp.execute(f"DELETE FROM trips WHERE dispatching_base_num = '{base}'") == want
    n = rp.checksum()[0]
    assert n == 2000 - want
    pay_before = rp.checksum()[2]
    upd = rp.execute("UPDATE trips SET tips = tips + 1.0 WHERE pu_location_id <= 10")
    assert rp.checksum()[2] == pay_before + 100 * upd

    src = tmp_path / "merge_1.parquet"
    lakehouse.stage_merge(7, 1, str(tmp_path), str(src))
    staged = pq.read_table(src)
    keys = set(staged.column("pickup_datetime").to_pylist())
    live = {r[0] for r in rp.con.execute("SELECT pickup_datetime FROM trips").fetchall()}
    matched = len(keys & live)
    assert rp.merge(str(src), "pickup_datetime") == lakehouse.MERGE_ROWS
    assert rp.checksum()[0] == n - matched + lakehouse.MERGE_ROWS
    assert 0 < matched <= lakehouse.MERGE_ROWS // 2   # half the keys are new trips


def test_checksum_sql_is_the_same_query_for_both_engines():
    spark_sql, duck_sql = oracle.checksum_sql("t", True), oracle.checksum_sql("t", False)
    assert spark_sql.replace(oracle.SPARK_PICKUP_US, "X") == duck_sql.replace(
        oracle.DUCK_PICKUP_US, "X")


def test_value_hash_is_order_insensitive():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
    assert oracle.result_key(a) == oracle.result_key(b)
    assert oracle.value_hash(a) != oracle.value_hash(a.assign(x=[1, 3]))


def test_run_refuses_without_the_engine_package(tmp_path):
    """From a directory holding only the benchmark, run.py exits non-zero
    without printing a result."""
    import shutil
    import subprocess
    import sys

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(here, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap_sql", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
