"""Spark jobs the warehouse no longer launches for what the driver holds.

- ``session.local_frame``: driver-built rows become a ``LocalRelation``
  (no job to collect; broadcasting one still runs a job) with exactly
  the values, types and errors of ``spark.createDataFrame(list,
  schema)``.
- ``snapshots._read_files``: the schema of an immutable commit or
  sidecar path set is inferred once per process, so re-planning a read
  runs no inference job.
- Source guards keeping those the only two ways the warehouse builds
  such frames.
- One pass per warehouse write: DML counts and tombstone targets are
  observed by the write job itself, the touched partitions of a
  partition replace come from the files written, and a commit dir's
  schema is recorded by its writer, so the first read runs no
  inference job.
"""

from __future__ import annotations

import ast
import datetime
import decimal
import os
import pathlib
import time

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from nyc_taxi_data_warehouse_spark.session import local_frame
from nyc_taxi_data_warehouse_spark.warehouse import backfill, load_month, snapshots
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    Range,
    _manifest_at,
    _read_files,
    read_snapshot,
    snapshot_delete,
    snapshot_register,
    snapshot_update,
    snapshot_versions,
    snapshot_write,
)
from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import snapshot_sql

from .test_warehouse_load import _make_raw_month

WAREHOUSE = (
    pathlib.Path(__file__).resolve().parent.parent
    / "nyc_taxi_data_warehouse_spark"
    / "warehouse"
)

ALL_TYPES = (
    "s string, i int, b bigint, t tinyint, sm smallint, f float, "
    "d double, bo boolean, d10 decimal(10,2), d38 decimal(38,2), "
    "dt date, ts timestamp, tn timestamp_ntz, bin binary, "
    "arr array<string>, m map<string,bigint>"
)
ALL_ROWS = [
    (
        "x", 1, 2**40, -3, 4, 1.5, 2.25, True,
        decimal.Decimal("12345678.91"),
        decimal.Decimal("123456789012345678901234567890123456.78"),
        datetime.date(2024, 3, 10),
        datetime.datetime(2024, 3, 10, 2, 30, 5, 123456),
        datetime.datetime(2024, 11, 3, 1, 30, 0, 7),
        bytearray(b"\x00\xff"),
        ["p", None],
        {"k": 5, "n": None},
    ),
    (None,) * 16,
]
NOT_NULL = StructType(
    [StructField("k", LongType(), False), StructField("v", StringType())]
)


def _same_as_create(spark, rows, schema):
    ours = local_frame(spark, rows, schema)
    theirs = spark.createDataFrame(rows, schema)
    assert ours.schema == theirs.schema
    assert ours.collect() == theirs.collect()


@pytest.mark.parametrize(
    "rows, schema",
    [
        (ALL_ROWS, ALL_TYPES),
        ([], ALL_TYPES),
        ([(1, "a"), (2, None)], NOT_NULL),
        ([], NOT_NULL),
    ],
    ids=["all_types", "all_types_empty", "not_null", "not_null_empty"],
)
def test_local_frame_matches_create_dataframe(spark, rows, schema):
    _same_as_create(spark, rows, schema)


def test_local_frame_naive_timestamp_is_process_local(spark, monkeypatch):
    """A naive TIMESTAMP means process-local time on both paths; feeding
    naive datetimes to Arrow as-is would read them as UTC (5 h off
    here)."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        _same_as_create(spark, ALL_ROWS, ALL_TYPES)
    finally:
        monkeypatch.undo()
        time.tzset()


def test_local_frame_is_a_local_relation(spark):
    df = local_frame(spark, ALL_ROWS, ALL_TYPES)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_local_frame_without_arrow_conf(spark):
    """Sessions the engine does not own may leave Arrow off."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        _same_as_create(spark, ALL_ROWS, ALL_TYPES)
    finally:
        spark.conf.set(key, prior)


def test_local_frame_collect_runs_no_job_but_broadcast_does(spark):
    """Collecting a ``LocalRelation`` is answered on the driver; a
    broadcast of one still collects its child through a job."""
    from pyspark.sql import functions as F

    rows = [(i,) for i in range(12)]
    frame = local_frame(spark, rows, "id long")
    assert _jobs(spark, frame.collect) == 0
    n = _jobs(
        spark,
        lambda: spark.range(10).join(F.broadcast(frame), "id").collect(),
    )
    assert n == 2  # the broadcast's collect, then the join


def test_local_frame_rejects_what_create_dataframe_rejects(spark):
    for rows, schema in (([("x",)], "a int"), ([(None, "a")], NOT_NULL)):
        with pytest.raises((TypeError, ValueError)) as theirs:
            spark.createDataFrame(rows, schema)
        with pytest.raises((TypeError, ValueError)) as ours:
            local_frame(spark, rows, schema)
        assert type(ours.value) is type(theirs.value)


# ------------------------------------------------------------ job counts


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted from its job group once the
    listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"local-frames-{time.perf_counter_ns()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def monthly(spark, tmp_path):
    """A table loaded one commit per month, like ``load_month`` does,
    read once so every commit's file set has been seen."""
    path = str(tmp_path / "monthly")
    for month in (1, 2, 3):
        snapshot_write(
            spark.createDataFrame(
                [(i, 2024, month, f"v{i}") for i in range(5)],
                "id int, year int, month int, v string",
            ),
            path,
            mode="append",
            partition_cols=["year", "month"],
        )
    snapshot_register(spark, path, "local_frames_monthly")
    read_snapshot(spark, path).collect()
    return path


def test_partition_drop_delete_runs_no_job(spark, monthly):
    out = []
    n = _jobs(
        spark,
        lambda: out.extend(
            snapshot_sql(
                spark,
                "DELETE FROM local_frames_monthly "
                "WHERE year = 2024 AND month = 1",
            ).collect()
        ),
    )
    assert out[0]["num_affected_rows"] == 5
    assert n == 0


def test_metadata_count_runs_no_job(spark, monthly):
    out = []
    n = _jobs(
        spark,
        lambda: out.extend(
            snapshot_sql(
                spark,
                "SELECT count(*) FROM local_frames_monthly "
                "WHERE year = 2024 AND month = 2",
            ).collect()
        ),
    )
    assert out[0][0] == 5
    assert n == 0


def test_repeat_read_plans_without_a_job(spark, monthly):
    v = snapshot_versions(spark, monthly)[-1]["version"]
    read_snapshot(spark, monthly, version=v)
    assert _jobs(spark, lambda: read_snapshot(spark, monthly, version=v)) == 0


def test_memoized_read_matches_inferred_read(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "memo")
    snapshot_write(
        spark.createDataFrame(
            [(i, f"p{i % 2}", i % 3, i * 1.5) for i in range(12)],
            "id int, p string, q int, x double",
        ),
        path,
        partition_cols=["p", "q"],
    )
    files = _manifest_at(path)[1]["files"]
    base = f"{path}/{files[0].rsplit('/', 3)[0]}"
    paths = [f"{path}/{f}" for f in files]
    monkeypatch.setattr(snapshots, "_SCHEMA_MEMO", {})
    monkeypatch.setattr(snapshots, "_DIR_SCHEMAS", {})
    inferred = _read_files(spark, paths, base)
    assert _jobs(spark, lambda: _read_files(spark, paths, base)) == 0
    cached = _read_files(spark, paths, base)
    assert cached.schema == inferred.schema
    assert sorted(cached.collect()) == sorted(inferred.collect())


def test_written_schema_matches_inferred_schema(spark, tmp_path, monkeypatch):
    """The schema a writer records for its commit dir is the one
    inference reads back, with and without the dir as ``basePath``."""
    path = str(tmp_path / "written")
    ddl = (
        ALL_TYPES
        + ", st struct<a: int, `b c`: string>, p string, q int"
    )
    snapshot_write(
        local_frame(
            spark,
            [(*ALL_ROWS[0], (1, "x"), "a", 1), (*ALL_ROWS[1], None, None, 2)],
            ddl,
        ),
        path,
        partition_cols=["p", "q"],
    )
    files = _manifest_at(path)[1]["files"]
    base = f"{path}/{files[0].split('/p=')[0]}"
    paths = [f"{path}/{f}" for f in files]
    written = [_read_files(spark, paths, b).schema for b in (base, None)]
    monkeypatch.setattr(snapshots, "_DIR_SCHEMAS", {})
    monkeypatch.setattr(snapshots, "_SCHEMA_MEMO", {})
    assert written == [_read_files(spark, paths, b).schema for b in (base, None)]


# ------------------------------------------------- one pass per write


@pytest.fixture()
def flat(spark, tmp_path):
    """An unpartitioned three-commit table with no file stats, so every
    statement reads every file; ``k`` runs 0..29."""
    path = str(tmp_path / "flat")
    for c in range(3):
        snapshot_write(
            spark.createDataFrame(
                [(c * 10 + i, f"v{i}") for i in range(10)], "k int, v string"
            ),
            path,
            mode="append",
        )
    return path


def test_rewrite_delete_counts_only_live_matching_rows(spark, flat):
    assert snapshot_delete(spark, flat, {"k": Range(0, 14)}, mode="dv")[1] == 15
    want = read_snapshot(spark, flat).where("k BETWEEN 10 AND 24").count()
    _, n = snapshot_delete(spark, flat, {"k": Range(10, 24)}, mode="rewrite")
    assert n == want == 10
    assert sorted(r.k for r in read_snapshot(spark, flat).collect()) == list(
        range(25, 30)
    )


def test_rewrite_update_counts_matched_rows_exactly(spark, flat):
    snapshot_delete(spark, flat, {"k": Range(0, 14)}, mode="dv")
    want = read_snapshot(spark, flat).where("k BETWEEN 10 AND 24").count()
    _, n = snapshot_update(
        spark, flat, {"k": Range(10, 24)}, {"v": "u"}, mode="rewrite"
    )
    assert n == want == 10
    got = read_snapshot(spark, flat).where("v = 'u'").count()
    assert got == 10


@pytest.mark.parametrize("verb", ["delete", "update"])
def test_zero_match_dv_statement_writes_nothing(spark, flat, verb):
    head = snapshot_versions(spark, flat)[-1]["version"]
    dirs = sorted(os.listdir(f"{flat}/data"))
    where = {"k": [999]}
    out = (
        snapshot_delete(spark, flat, where, mode="dv")
        if verb == "delete"
        else snapshot_update(spark, flat, where, {"v": "u"}, mode="dv")
    )
    assert out == (head, 0)
    assert snapshot_versions(spark, flat)[-1]["version"] == head
    assert sorted(os.listdir(f"{flat}/data")) == dirs


def test_tombstone_sidecars_hold_at_most_the_cap(spark, flat, monkeypatch):
    monkeypatch.setattr(snapshots, "_DV_ROWS_PER_SIDECAR", 7)
    man = _manifest_at(flat)[1]
    matched = snapshots._scan_live(
        spark, flat, man, man["files"], row_ids=True
    ).where("k % 2 = 0")
    want = {tuple(r) for r in matched.select("_dv_file", "_dv_pos").collect()}
    n, sidecars, targets = snapshots._write_tombstones(matched, flat)
    assert n == len(want) == 15
    assert targets == sorted({f for f, _ in want})
    parts = [spark.read.parquet(f"{flat}/{s}").collect() for s in sidecars]
    assert max(len(p) for p in parts) <= 7
    assert {tuple(r) for p in parts for r in p} == want
    assert sum(len(p) for p in parts) == n


def test_rewrite_delete_is_one_job(spark, monthly):
    n = _jobs(
        spark,
        lambda: snapshot_delete(spark, monthly, {"id": [1, 2]}, mode="rewrite"),
    )
    assert n == 1


def test_dv_delete_jobs(spark, monthly):
    """The tombstone write's exchange and write, plus the broadcast of
    the relpath lookup the row identities are decoded with."""
    n = _jobs(
        spark,
        lambda: snapshot_delete(spark, monthly, {"id": [1, 2]}, mode="dv"),
    )
    assert n == 3


def test_load_month_is_raw_inference_plus_write(spark, tmp_path):
    raw = str(tmp_path / "raw.parquet")
    _make_raw_month(spark, raw, 2025, 1, n=50)
    res = []
    n = _jobs(
        spark,
        lambda: res.append(
            load_month(
                spark, raw, 2025, 1, backend="snapshot",
                snapshot_path=str(tmp_path / "fact"),
            )
        ),
    )
    assert res[0].rows == 50
    assert n == 2


def test_backfill_of_loaded_months_runs_no_job(spark, tmp_path):
    """The loaded set and the manifest are both driver-held lists, so
    filtering one by the other launches nothing."""
    raw = str(tmp_path / "raw.parquet")
    _make_raw_month(spark, raw, 2025, 1, n=10)
    fact = str(tmp_path / "fact")
    load_month(spark, raw, 2025, 1, snapshot_path=fact)
    res = []
    n = _jobs(
        spark,
        lambda: res.append(
            backfill(spark, [(raw, 2025, 1)], snapshot_path=fact)
        ),
    )
    assert res == [[]]
    assert n == 0


def test_first_read_after_a_write_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "fresh")
    snapshot_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, p string"),
        path,
        partition_cols=["p"],
    )
    assert _jobs(spark, lambda: read_snapshot(spark, path)) == 0


# ---------------------------------------------------------- source guards


def test_warehouse_builds_driver_frames_only_with_local_frame():
    hits = [
        f"{p.name}:{i}"
        for p in sorted(WAREHOUSE.glob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert hits == []


def _receiver_calls(node) -> list[str]:
    """Attribute names along a call chain's receiver, outermost last."""
    names = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            node = node.func
    return names[::-1]


def test_snapshots_infers_file_schemas_only_in_read_files():
    """Every parquet read in ``snapshots.py`` outside ``_read_files``
    passes its schema, so none can launch an inference job."""
    tree = ast.parse((WAREHOUSE / "snapshots.py").read_text())
    schemaless = []
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef) or fn.name == "_read_files":
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
            ):
                chain = _receiver_calls(node.func)
                if "read" in chain and "schema" not in chain:
                    schemaless.append(f"{fn.name}:{node.lineno}")
    assert schemaless == []


def test_write_paths_run_no_bookkeeping_action():
    """The write job is the only pass these statements make over their
    rows: no count, checkpoint or collect beside it."""
    tree = ast.parse((WAREHOUSE / "snapshots.py").read_text())
    guarded = {
        "_rewrite_matching_files",
        "_delete_rows_dv_where",
        "_write_tombstones",
        "snapshot_resolve_eq",
        "snapshot_replace_partitions",
    }
    found = set()
    hits = []
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef) or fn.name not in guarded:
            continue
        found.add(fn.name)
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and (
                    node.func.attr == "localCheckpoint"
                    or (
                        node.func.attr in ("count", "collect")
                        and not node.args
                        and not node.keywords
                    )
                )
            ):
                hits.append(f"{fn.name}:{node.lineno}")
    assert found == guarded
    assert hits == []


def test_only_commit_carries_stats():
    """Per-file stats are manifest state that ``_commit`` alone carries
    and computes: no other function in ``warehouse/`` or ``streaming/``
    builds a ``"stats"``/``"stats_cols"`` entry or calls
    ``collect_file_stats`` (``manifestlog`` — the manifest codec —
    reads and writes the state it is handed), and the knobs the carry
    rule replaced stay gone."""
    import inspect

    allowed = {"_commit", "collect_file_stats"}
    keys = {"stats", "stats_cols"}
    files = sorted(WAREHOUSE.glob("*.py")) + sorted(
        (WAREHOUSE.parent / "streaming").glob("*.py")
    )
    hits = []
    for path in files:
        if path.name == "manifestlog.py":
            continue
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef) or fn.name in allowed:
                continue
            for node in ast.walk(fn):
                keyed = (
                    isinstance(node, ast.Dict)
                    and any(
                        isinstance(k, ast.Constant) and k.value in keys
                        for k in node.keys
                    )
                ) or (
                    isinstance(node, ast.Subscript)
                    and isinstance(node.ctx, ast.Store)
                    and isinstance(node.slice, ast.Constant)
                    and node.slice.value in keys
                )
                func = getattr(node, "func", None)
                called = isinstance(node, ast.Call) and (
                    getattr(func, "id", None) == "collect_file_stats"
                    or getattr(func, "attr", None) == "collect_file_stats"
                )
                if keyed or called:
                    hits.append(f"{path.name}:{fn.name}:{node.lineno}")
    assert hits == []
    params = inspect.signature(snapshots._commit).parameters
    assert not {"known_seq", "carried_only"} & set(params)
    assert not hasattr(snapshots, "snapshot_write_with_stats")
    assert not hasattr(snapshots, "_drop_by_reference")
