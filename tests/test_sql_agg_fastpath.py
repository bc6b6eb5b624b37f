"""Metadata-planned aggregates through the SQL front door — round
11's worklist #3 tail: ``SELECT MIN/MAX/SUM/COUNT(col) [, ...] FROM t
[WHERE <plannable preds>]`` routes to ``snapshot_agg`` instead
of a full-view ``spark.sql`` scan, so the retention-audit query
(``SELECT MIN(ts), MAX(ts), SUM(bytes), COUNT(*) WHERE ts <
cutoff``) answers from manifest stats opening only boundary files.

Parity is the whole contract — routing must never be observable:
- values, column NAMES (Spark's auto-alias: ``min(FARE)`` as
  written, ``count(1)`` for both * and 1 — probed on Spark 4.1),
  result TYPES (sum: int→bigint, double→double, decimal(p,s)→
  decimal(p+10,s)) and NULLABILITY (count non-null, rest nullable)
  all equal a ``spark.sql`` passthrough of the same statement;
- a stale registered view answers at its pinned version;
- unplannable shapes (AVG, DISTINCT, expressions, GROUP BY, agg
  mixed with a bare column, SUM over a string) fall through.

Routing is asserted two ways: the ``_sql_passthrough`` spy (empty ⇒
fast path served it) and the monkeypatched-reader pin (proven files
never open even when the statement arrives as SQL text).
"""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest

from nyc_taxi_data_warehouse_spark.warehouse import sqlfront
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    snapshot_delete,
    snapshot_register,
    snapshot_write,
)
from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import snapshot_sql

BASE = datetime.datetime(2024, 1, 1)


def _mk(spark, path, n_files=3, rows_per=4):
    for fi in range(n_files):
        rows = []
        for j in range(rows_per):
            i = rows_per * fi + j
            rows.append(
                (
                    i,
                    BASE + datetime.timedelta(days=i),
                    float(i) * 1.5,
                    Decimal(i) + Decimal("0.25"),
                    None if i % 3 == 0 else f"g{i % 4}",
                )
            )
        df = spark.createDataFrame(
            rows,
            "id int, ts timestamp, fare double, amt decimal(7,2),"
            " grp string",
        ).coalesce(1)
        snapshot_write(
            df,
            path, mode="append", stats_cols=["ts", "id", "fare", "amt", "grp"],
        )


@pytest.fixture()
def spy(monkeypatch):
    calls: list[str] = []
    orig = sqlfront._sql_passthrough

    def rec(spark, stmt):
        calls.append(stmt)
        return orig(spark, stmt)

    monkeypatch.setattr(sqlfront, "_sql_passthrough", rec)
    return calls


def _assert_parity(spark, q):
    fast = snapshot_sql(spark, q)
    ref = spark.sql(q)
    fs = [(f.name, f.dataType, f.nullable) for f in fast.schema.fields]
    rs = [(f.name, f.dataType, f.nullable) for f in ref.schema.fields]
    assert fs == rs, q
    assert fast.collect() == ref.collect(), q


def test_agg_lists_route_and_match(spark, tmp_path, spy):
    t = str(tmp_path / "ag")
    _mk(spark, t)
    snapshot_register(spark, t, "ag")
    queries = [
        "SELECT MIN(id), MAX(fare), SUM(amt), COUNT(grp), COUNT(*)"
        " FROM ag",
        "SELECT MIN(ts) AS lo, MAX(ts) AS hi, SUM(id) FROM ag"
        " WHERE ts < '2024-01-06'",
        "SELECT SUM(fare), COUNT(1) FROM ag WHERE id BETWEEN 3 AND 8",
        "SELECT Min(ID), sum(FARE) FROM ag",  # case-insensitive + as-written names
        "SELECT COUNT(grp) FROM ag WHERE grp IS NULL",
        "SELECT COUNT(id) FROM ag",
        "SELECT MAX(id) FROM ag WHERE id > 1000",  # empty match: NULL
        "SELECT SUM(amt) FROM ag WHERE id IN (1, 2, 99)",
        "SELECT MIN(grp) AS g, COUNT(*) AS n FROM ag"
        " WHERE id < 3 OR id >= 10",
        "SELECT COUNT(*) FROM ag",
        "SELECT COUNT(*) AS n FROM ag WHERE id < 5",
    ]
    for q in queries:
        _assert_parity(spark, q)
    assert spy == []


def test_agg_limit_applies(spark, tmp_path, spy):
    t = str(tmp_path / "ag_lim")
    _mk(spark, t, n_files=1)
    snapshot_register(spark, t, "ag_lim")
    assert snapshot_sql(
        spark, "SELECT MIN(id), SUM(id) FROM ag_lim LIMIT 5"
    ).count() == 1
    assert snapshot_sql(
        spark, "SELECT MAX(id) FROM ag_lim LIMIT 0"
    ).count() == 0
    assert spy == []


def test_agg_stale_view_parity(spark, tmp_path, spy):
    """Head moves without a re-register: SQL aggregates answer at the
    view's pinned version, exactly like passthrough — and a quoted
    path answers at head."""
    t = str(tmp_path / "ag_stale")
    _mk(spark, t)
    snapshot_register(spark, t, "ag_stale")
    snapshot_delete(spark, t, {"id": [0, 1, 2, 3]})
    q = "SELECT MIN(id), SUM(id) FROM ag_stale"
    _assert_parity(spark, q)  # stale view: min 0, sum 66
    assert snapshot_sql(spark, q).collect()[0][0] == 0
    r = snapshot_sql(spark, f"SELECT MIN(id), SUM(id) FROM '{t}'")
    assert tuple(r.collect()[0]) == (4, 60)
    assert spy == []


def test_agg_explicit_time_travel(spark, tmp_path, spy):
    t = str(tmp_path / "ag_tt")
    _mk(spark, t)  # 3 appends → versions 1..3
    snapshot_register(spark, t, "ag_tt")
    got = snapshot_sql(
        spark, "SELECT MAX(id), COUNT(id) FROM ag_tt VERSION AS OF 2"
    ).collect()[0]
    assert tuple(got) == (7, 8)
    assert spy == []


def test_agg_proven_files_never_open_via_sql(spark, tmp_path, monkeypatch):
    """The never-opens pin, driven through SQL text: a range whose
    boundary lands in one file opens exactly that file; a fully
    proven predicate opens none."""
    import nyc_taxi_data_warehouse_spark.warehouse.snapshots as S

    t = str(tmp_path / "ag_pin")
    _mk(spark, t)  # files: id [0..3], [4..7], [8..11]
    snapshot_register(spark, t, "ag_pin")
    calls: list = []
    orig = S._read_file_list

    def rec(spark_, path_, files_, *a, **k):
        calls.append(sorted(files_))
        return orig(spark_, path_, files_, *a, **k)

    monkeypatch.setattr(S, "_read_file_list", rec)
    # boundary in file 2: file 1 proven (sum from recorded stats)
    r = snapshot_sql(
        spark,
        "SELECT SUM(id), COUNT(*) FROM ag_pin WHERE id < 6",
    ).collect()[0]
    assert tuple(r) == (15, 6)
    assert len(calls) == 1 and len(calls[0]) == 1
    # fully proven across all files: zero opens
    calls.clear()
    r = snapshot_sql(
        spark, "SELECT SUM(id), MIN(ts), MAX(id) FROM ag_pin"
    ).collect()[0]
    assert tuple(r) == (66, BASE, 11)
    assert calls == []
    # fully excluded: zero opens, NULL/0 semantics
    calls.clear()
    r = snapshot_sql(
        spark,
        "SELECT SUM(id), COUNT(id) FROM ag_pin WHERE id > 100",
    ).collect()[0]
    assert tuple(r) == (None, 0)
    assert calls == []


def test_agg_unplannable_shapes_fall_through(spark, tmp_path, spy):
    t = str(tmp_path / "ag_fall")
    _mk(spark, t, n_files=1)
    snapshot_register(spark, t, "ag_fall")
    shapes = [
        "SELECT AVG(id) FROM ag_fall",
        "SELECT COUNT(DISTINCT grp) FROM ag_fall",
        "SELECT SUM(id + 1) FROM ag_fall",
        "SELECT MIN(id), grp FROM ag_fall GROUP BY grp",
        "SELECT MIN(id) mn FROM ag_fall",  # implicit alias
        "SELECT grp, MIN(id) FROM ag_fall GROUP BY grp",
    ]
    for q in shapes:
        snapshot_sql(spark, q).collect()
    assert spy == shapes
    # SUM over a string is unplannable — spark.sql serves it with its
    # own coercion rules (string→double under ANSI), not the planner
    q = "SELECT SUM(grp) FROM ag_fall WHERE id < 0"
    assert (
        snapshot_sql(spark, q).collect() == spark.sql(q).collect()
    )
    assert spy[-1] == q


def test_agg_unknown_column_passthrough_reports(spark, tmp_path, spy):
    t = str(tmp_path / "ag_err")
    _mk(spark, t, n_files=1)
    snapshot_register(spark, t, "ag_err")
    q = "SELECT MIN(nope) FROM ag_err"
    with pytest.raises(Exception) as ei:
        snapshot_sql(spark, q).collect()
    assert "nope" in str(ei.value)
    assert spy == [q]  # spark.sql reported it, not the planner


def test_lone_count_star_keeps_rowcount_path(spark, tmp_path, monkeypatch):
    """``SELECT COUNT(*)`` alone answers from the recorded row counts
    minus the live tombstones — no data file opens, even after a DV
    delete on the counted file."""
    import nyc_taxi_data_warehouse_spark.warehouse.snapshots as S

    t = str(tmp_path / "ag_cnt")
    _mk(spark, t, n_files=1)
    snapshot_register(spark, t, "ag_cnt")
    snapshot_delete(spark, t, {"id": [2]}, mode="dv")
    called: list = []
    orig = S._read_file_list

    def rec(*a, **k):
        called.append(a)
        return orig(*a, **k)

    monkeypatch.setattr(S, "_read_file_list", rec)
    assert (
        snapshot_sql(spark, "SELECT COUNT(*) AS n FROM ag_cnt")
        .collect()[0]["n"]
        == 4
    )
    assert snapshot_sql(
        spark, f"SELECT COUNT(*) AS n FROM '{t}'"
    ).collect()[0]["n"] == 3
    assert called == []


# ------------------------------------------ round-11 review findings


def test_agg_provably_empty_where_returns_null_row(spark, tmp_path, spy):
    """REVIEW r11: a WHERE that parses to the provably-matches-nothing
    form (an emptied IN list, e.g. ``flag NOT IN (TRUE, FALSE)``)
    must return the one-row NULL/0 aggregate frame — not crash in the
    planner — with passthrough parity."""
    t = str(tmp_path / "ag_empty")
    snapshot_write(
        spark.createDataFrame(
            [(1, True), (2, False)], "id int, flag boolean"
        ),
        t, stats_cols=["id"],
    )
    snapshot_register(spark, t, "ag_empty")
    q = (
        "SELECT MIN(id), SUM(id), COUNT(id), COUNT(*) FROM ag_empty "
        "WHERE flag NOT IN (TRUE, FALSE)"
    )
    _assert_parity(spark, q)
    r = snapshot_sql(spark, q).collect()[0]
    assert tuple(r) == (None, None, 0, 0)
    assert spy == []


def test_agg_fastpath_loads_manifest_once(spark, tmp_path, monkeypatch):
    """REVIEW r11: the SQL agg fast path resolves types and answers
    from ONE manifest load — the spec resolver hands its manifest to
    the planner instead of re-listing and re-loading."""
    import nyc_taxi_data_warehouse_spark.warehouse.snapshots as S

    t = str(tmp_path / "ag_once")
    _mk(spark, t, n_files=1)
    snapshot_register(spark, t, "ag_once")
    loads = []
    orig = S.load_manifest

    def rec(path_, version_):
        loads.append((path_, version_))
        return orig(path_, version_)

    monkeypatch.setattr(S, "load_manifest", rec)
    r = snapshot_sql(
        spark, "SELECT SUM(id), MIN(ts) FROM ag_once"
    ).collect()[0]
    assert r[0] == 6
    assert len(loads) == 1


# --------------------------------------- GROUP BY partition columns


def _mk_part(spark, path):
    """3 single-file ``day`` partitions: id [0..3], [4..7], [8..11]."""
    for fi in range(3):
        rows = [
            (
                4 * fi + j,
                datetime.date(2024, 1, 1 + fi),
                float(4 * fi + j) * 2.0,
            )
            for j in range(4)
        ]
        snapshot_write(
            spark.createDataFrame(
                rows, "id int, day date, x double"
            ).coalesce(1),
            path,
            mode="append" if fi else "overwrite",
            partition_cols=["day"],
            stats_cols=["id", "x"],
        )


def _assert_parity_sorted(spark, q):
    fast = snapshot_sql(spark, q)
    ref = spark.sql(q)
    fs = [(f.name, f.dataType, f.nullable) for f in fast.schema.fields]
    rs = [(f.name, f.dataType, f.nullable) for f in ref.schema.fields]
    assert fs == rs, q
    assert sorted(map(tuple, fast.collect()), key=str) == sorted(
        map(tuple, ref.collect()), key=str
    ), q


def test_group_by_routes_and_matches(spark, tmp_path, spy):
    t = str(tmp_path / "gb")
    _mk_part(spark, t)
    snapshot_register(spark, t, "gb")
    queries = [
        "SELECT day, COUNT(*) FROM gb GROUP BY day",
        "SELECT day, SUM(x) AS sx, MIN(id) FROM gb GROUP BY day",
        "SELECT Day, MAX(id) FROM gb GROUP BY dAy",  # case-insensitive
        "SELECT COUNT(*) FROM gb GROUP BY day",  # group col unselected
        "SELECT day, COUNT(id) FROM gb WHERE id <= 6 GROUP BY day",
        "SELECT day, COUNT(*) FROM gb WHERE id > 100 GROUP BY day",
    ]
    for q in queries:
        _assert_parity_sorted(spark, q)
    assert spy == []


def test_group_by_never_opens_proven_files(spark, tmp_path, monkeypatch):
    import nyc_taxi_data_warehouse_spark.warehouse.snapshots as S

    t = str(tmp_path / "gb_pin")
    _mk_part(spark, t)
    snapshot_register(spark, t, "gb_pin")
    calls: list = []
    orig = S._read_file_list

    def rec(spark_, path_, files_, *a, **k):
        calls.append(sorted(files_))
        return orig(spark_, path_, files_, *a, **k)

    monkeypatch.setattr(S, "_read_file_list", rec)
    r = sorted(
        map(
            tuple,
            snapshot_sql(
                spark,
                "SELECT day, COUNT(*), SUM(id) FROM gb_pin GROUP BY day",
            ).collect(),
        ),
        key=str,
    )
    assert [x[1:] for x in r] == [(4, 6), (4, 22), (4, 38)]
    assert calls == []  # the whole partition profile came from metadata
    # a boundary predicate opens only the boundary file
    r = snapshot_sql(
        spark,
        "SELECT day, SUM(id) FROM gb_pin WHERE id < 6 GROUP BY day",
    ).collect()
    assert sorted(x[1] for x in r) == [6, 9]
    assert len(calls) == 1 and len(calls[0]) == 1


def test_group_by_unplannable_falls_through(spark, tmp_path, spy):
    t = str(tmp_path / "gb_fall")
    _mk_part(spark, t)
    snapshot_register(spark, t, "gb_fall")
    shapes = [
        # non-partition group col: passthrough computes it by scanning
        "SELECT x, COUNT(*) FROM gb_fall GROUP BY x",
        "SELECT day, COUNT(*) FROM gb_fall GROUP BY day "
        "HAVING COUNT(*) > 1",
        "SELECT day, COUNT(*) FROM gb_fall GROUP BY day ORDER BY day",
        "SELECT day, AVG(id) FROM gb_fall GROUP BY day",
        "SELECT day, COUNT(*) FROM gb_fall GROUP BY 1",
    ]
    for q in shapes:
        snapshot_sql(spark, q).collect()
    assert spy == shapes
    # GROUP BY with no aggregate in the select list: passthrough
    q = "SELECT day FROM gb_fall GROUP BY day"
    _assert_parity_sorted(spark, q)
    assert spy[-1] == q


def test_group_by_stale_view_and_time_travel(spark, tmp_path, spy):
    t = str(tmp_path / "gb_stale")
    _mk_part(spark, t)
    snapshot_register(spark, t, "gb_stale")
    snapshot_delete(spark, t, {"id": [0, 1, 2, 3]})
    q = "SELECT day, COUNT(*) FROM gb_stale GROUP BY day"
    _assert_parity_sorted(spark, q)  # stale view still shows 3 groups
    assert len(snapshot_sql(spark, q).collect()) == 3
    r = snapshot_sql(
        spark, f"SELECT day, COUNT(*) FROM '{t}' GROUP BY day"
    ).collect()
    assert len(r) == 2  # head: day 1 fully deleted
    r = snapshot_sql(
        spark,
        "SELECT day, COUNT(*) FROM gb_stale VERSION AS OF 2 "
        "GROUP BY day",
    ).collect()
    assert len(r) == 2  # versions 1..3 are the appends
    assert spy == []
