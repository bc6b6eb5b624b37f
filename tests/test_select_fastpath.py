"""Metadata-planned SELECTs through the SQL front door — round 11's
read-side routing: ``SELECT COUNT(*) / * / col-list FROM t [WHERE
<plannable preds>]`` dispatches to ``snapshot_agg`` /
``read_snapshot(where=)`` instead of a full-view ``spark.sql`` scan, so
the analyst typing SQL gets the engine's best read plan (VERDICT r10
gap #1).

Parity is the whole contract — routing must never be observable in
results:
- same rows/columns/values as a passthrough scan of the registered
  view, INCLUDING when the view is stale (head moved without a
  re-register: the fast path answers at the view's
  ``resolved_version``, not the head);
- explicit time travel (VERSION/TIMESTAMP AS OF) wins over the pin;
- partition-scoped registrations and anything un-plannable (GROUP BY,
  expressions, unknown shapes) fall through to spark.sql untouched;
- a session temp view the registry does not own is NEVER hijacked by
  a durable-catalog name probe;
- quoted table paths gain direct SQL reads (passthrough can't serve
  them at all).

Routing itself is asserted by spying on ``_sql_passthrough`` — a
parity test that silently fell through would otherwise be vacuous.
"""

from __future__ import annotations

import datetime

import pytest

from nyc_taxi_data_warehouse_spark.warehouse import sqlfront
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    snapshot_delete,
    snapshot_register,
    snapshot_write,
)
from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import snapshot_sql


def _mk(spark, path, n_files=3, rows_per=4):
    base = datetime.datetime(2024, 1, 1)
    for i in range(n_files):
        rows = [
            (
                rows_per * i + j,
                base + datetime.timedelta(days=rows_per * i + j),
                float(rows_per * i + j),
            )
            for j in range(rows_per)
        ]
        df = spark.createDataFrame(
            rows, "id int, ts timestamp, fare double"
        ).coalesce(1)
        snapshot_write(df, path, mode="append", stats_cols=["ts", "id"])


@pytest.fixture()
def spy(monkeypatch):
    """Record every statement that reaches spark.sql passthrough."""
    calls: list[str] = []
    orig = sqlfront._sql_passthrough

    def rec(spark, stmt):
        calls.append(stmt)
        return orig(spark, stmt)

    monkeypatch.setattr(sqlfront, "_sql_passthrough", rec)
    return calls


def test_count_and_read_route_and_match(spark, tmp_path, spy):
    t = str(tmp_path / "fp")
    _mk(spark, t)
    snapshot_register(spark, t, "fp")
    for q in [
        "SELECT COUNT(*) FROM fp",
        "SELECT COUNT(*) FROM fp WHERE ts < '2024-01-06'",
        "SELECT COUNT(1) FROM fp WHERE id IN (1, 2, 99)",
        "SELECT COUNT(*) FROM fp WHERE id < 2 OR id NOT BETWEEN 3 AND 10",
    ]:
        a = snapshot_sql(spark, q).collect()
        b = spark.sql(q).collect()
        assert a == b, q
        # the routed form names the column exactly like spark.sql
        assert snapshot_sql(spark, q).columns == spark.sql(q).columns
    got = snapshot_sql(spark, "SELECT * FROM fp WHERE id >= 10")
    exp = spark.sql("SELECT * FROM fp WHERE id >= 10")
    assert got.columns == exp.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, exp.collect())
    )
    assert spy == []  # every statement above took the fast path


def test_projection_alias_and_limit(spark, tmp_path, spy):
    t = str(tmp_path / "fp_proj")
    _mk(spark, t)
    snapshot_register(spark, t, "fp_proj")
    r = snapshot_sql(
        spark, "SELECT COUNT(*) AS n FROM fp_proj WHERE id <= 5"
    )
    assert r.columns == ["n"] and r.collect()[0]["n"] == 6
    r = snapshot_sql(
        spark, "SELECT id, fare FROM fp_proj WHERE id > 7 LIMIT 2"
    )
    assert r.columns == ["id", "fare"] and r.count() == 2
    r = snapshot_sql(spark, "SELECT * FROM fp_proj LIMIT 3")
    assert r.count() == 3
    assert spy == []


def test_stale_view_parity(spark, tmp_path, spy):
    """Head moves WITHOUT a re-register: the fast path must answer at
    the view's registration-time version — exactly what passthrough
    sees — while a quoted-path query answers at head."""
    t = str(tmp_path / "fp_stale")
    _mk(spark, t)
    snapshot_register(spark, t, "fp_stale")
    snapshot_delete(spark, t, {"id": [0, 1, 2, 3]})  # head moves
    q = "SELECT COUNT(*) FROM fp_stale"
    assert snapshot_sql(spark, q).collect()[0][0] == 12
    assert spark.sql(q).collect()[0][0] == 12  # the stale view agrees
    assert (
        snapshot_sql(spark, f"SELECT COUNT(*) FROM '{t}'").collect()[0][0]
        == 8
    )
    qq = "SELECT COUNT(*) FROM fp_stale WHERE id < 6"
    assert (
        snapshot_sql(spark, qq).collect()[0][0]
        == spark.sql(qq).collect()[0][0]
        == 6
    )
    assert spy == []


def test_explicit_time_travel_wins(spark, tmp_path, spy):
    t = str(tmp_path / "fp_tt")
    _mk(spark, t)  # 3 appends → versions 1..3
    snapshot_register(spark, t, "fp_tt")
    snapshot_delete(spark, t, {"id": [5]})
    snapshot_register(spark, t, "fp_tt")  # follow head (11 rows)
    assert (
        snapshot_sql(
            spark, "SELECT COUNT(*) FROM fp_tt VERSION AS OF 2"
        ).collect()[0][0]
        == 8
    )
    got = snapshot_sql(
        spark, "SELECT * FROM fp_tt VERSION AS OF 1 WHERE id >= 2"
    )
    assert sorted(r.id for r in got.collect()) == [2, 3]
    # pinned registration answers at ITS version through the fast path
    snapshot_register(spark, t, "fp_tt_v2", version=2)
    assert (
        snapshot_sql(spark, "SELECT COUNT(*) FROM fp_tt_v2").collect()[
            0
        ][0]
        == 8
    )
    assert spy == []


def test_partition_scope_falls_through(spark, tmp_path, spy):
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_write,
    )

    t = str(tmp_path / "fp_scope")
    df = spark.createDataFrame(
        [(i, i % 2) for i in range(10)], "id int, p int"
    )
    snapshot_write(df, t, partition_cols=["p"])
    snapshot_register(spark, t, "fp_scope", partitions={"p": 1})
    q = "SELECT COUNT(*) FROM fp_scope"
    assert snapshot_sql(spark, q).collect()[0][0] == 5
    assert spy == [q]  # passthrough served the scoped view


def test_unowned_view_never_hijacked(spark, tmp_path, spy):
    """A user temp view whose name also exists in the durable catalog
    must keep winning for SELECTs (pre-round-11 precedence: the
    catalog was only consulted after spark.sql analysis failed)."""
    import os

    from nyc_taxi_data_warehouse_spark.warehouse.namecatalog import (
        catalog_add,
    )

    t = str(tmp_path / "fp_cat")
    root = str(tmp_path / "cat_root")
    _mk(spark, t, n_files=1)
    catalog_add(spark, "fp_user", t, root=root, register=False)
    os.environ["SPARK_GRAFT_CATALOG_ROOT"] = root
    try:
        spark.range(3).createOrReplaceTempView("fp_user")
        q = "SELECT COUNT(*) FROM fp_user"
        assert snapshot_sql(spark, q).collect()[0][0] == 3
        assert spy == [q]
    finally:
        os.environ.pop("SPARK_GRAFT_CATALOG_ROOT", None)
        spark.catalog.dropTempView("fp_user")


def test_unplannable_shapes_fall_through(spark, tmp_path, spy):
    t = str(tmp_path / "fp_fall")
    _mk(spark, t, n_files=1)
    snapshot_register(spark, t, "fp_fall")
    shapes = [
        "SELECT id, COUNT(*) c FROM fp_fall GROUP BY id",
        "SELECT upper(cast(id AS string)) u FROM fp_fall",
        "SELECT * FROM fp_fall WHERE fare LIKE '1%'",
        "SELECT * FROM fp_fall ORDER BY id",
        "SELECT COUNT(*) FROM fp_fall WHERE id = 1 HAVING COUNT(*) > 0",
        "SELECT COUNT(id) FROM fp_fall WHERE fare LIKE '1%'",
    ]
    for q in shapes:
        snapshot_sql(spark, q).collect()
    assert spy == shapes


def test_path_reads_no_registration(spark, tmp_path, spy):
    """Quoted paths read directly — SQL passthrough cannot serve these
    at all, so this is new surface, answered at head."""
    t = str(tmp_path / "fp_path")
    _mk(spark, t)
    assert (
        snapshot_sql(spark, f"SELECT COUNT(*) FROM '{t}'").collect()[0][
            0
        ]
        == 12
    )
    got = snapshot_sql(
        spark, f"SELECT id FROM '{t}' WHERE ts >= '2024-01-11'"
    )
    assert sorted(r.id for r in got.collect()) == [10, 11]
    assert spy == []


def test_no_match_predicate_empty_result(spark, tmp_path, spy):
    t = str(tmp_path / "fp_empty")
    _mk(spark, t, n_files=1)
    snapshot_register(spark, t, "fp_empty")
    assert (
        snapshot_sql(
            spark, "SELECT COUNT(*) FROM fp_empty WHERE id = NULL"
        ).collect()[0][0]
        == 0
    )
    df = snapshot_sql(
        spark, "SELECT * FROM fp_empty WHERE id = NULL"
    )
    assert df.count() == 0
    assert df.columns == read_snapshot(spark, t).columns
    assert spy == []


# ---------------------------------- round-11 review-pass regressions


def test_dotted_identifiers_pass_through(spark, tmp_path, spy):
    """The word lexer folds 'fp_dot.fare' into ONE token; df.select /
    F.col would resolve it as a struct path and fail where spark.sql
    resolves the view qualifier fine — such statements must keep
    passing through."""
    t = str(tmp_path / "fp_dot")
    _mk(spark, t, n_files=1)
    snapshot_register(spark, t, "fp_dot")
    shapes = [
        "SELECT fp_dot.fare FROM fp_dot",
        "SELECT COUNT(*) FROM fp_dot WHERE fp_dot.id = 2",
        "SELECT * FROM fp_dot WHERE fp_dot.id < 3",
    ]
    for q in shapes:
        assert sorted(map(tuple, snapshot_sql(spark, q).collect())) == \
            sorted(map(tuple, spark.sql(q).collect())), q
    assert spy == shapes


def test_planner_value_refusal_falls_through(spark, tmp_path, spy):
    """A predicate the planner's value types refuse (bool range
    bounds) must fall back to spark.sql for SELECTs — and refuse as a
    front-door error (not a raw ValueError) for DML."""
    from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import (
        SqlFrontError,
    )

    t = str(tmp_path / "fp_bool")
    snapshot_write(
        spark.createDataFrame(
            [(1, True), (2, False), (3, None)], "id int, flag boolean"
        ),
        t, stats_cols=["id"],
    )
    snapshot_register(spark, t, "fp_bool")
    q = "SELECT COUNT(*) FROM fp_bool WHERE flag BETWEEN FALSE AND TRUE"
    assert (
        snapshot_sql(spark, q).collect()[0][0]
        == spark.sql(q).collect()[0][0]
        == 2
    )
    assert spy == [q]
    import pytest as _pytest

    with _pytest.raises(SqlFrontError, match="Range lo"):
        snapshot_sql(
            spark,
            "DELETE FROM fp_bool WHERE flag BETWEEN FALSE AND TRUE",
        )


def test_replaced_or_dropped_view_wins_for_reads(spark, tmp_path, spy):
    """createOrReplaceTempView over a registered name: reads must
    serve the LIVE view (passthrough precedence), and a dropped view
    must error exactly as spark.sql would — never silently answer
    from the stale registry binding."""
    import pytest as _pytest

    t = str(tmp_path / "fp_hij")
    _mk(spark, t, n_files=1)
    snapshot_register(spark, t, "fp_hij")
    assert (
        snapshot_sql(spark, "SELECT COUNT(*) FROM fp_hij").collect()[0][0]
        == 4
    )
    assert spy == []
    spark.range(3).createOrReplaceTempView("fp_hij")
    q = "SELECT COUNT(*) FROM fp_hij"
    assert snapshot_sql(spark, q).collect()[0][0] == 3
    assert spy == [q]
    spark.catalog.dropTempView("fp_hij")
    with _pytest.raises(Exception):
        snapshot_sql(spark, "SELECT COUNT(*) FROM fp_hij").collect()
    # re-registering restores the fast path
    spy.clear()
    snapshot_register(spark, t, "fp_hij")
    assert (
        snapshot_sql(spark, "SELECT COUNT(*) FROM fp_hij").collect()[0][0]
        == 4
    )
    assert spy == []


def test_dv_and_dml_visibility_after_front_door(spark, tmp_path, spy):
    """Front-door DML refreshes the view; the fast path must agree
    with passthrough after BOTH a dv-mode and rewrite-mode delete."""
    t = str(tmp_path / "fp_dv")
    _mk(spark, t)
    snapshot_register(spark, t, "fp_dv")
    snapshot_sql(spark, "DELETE FROM fp_dv WHERE id IN (1, 6)")
    spy.clear()
    q = "SELECT COUNT(*) FROM fp_dv WHERE id < 8"
    assert (
        snapshot_sql(spark, q).collect()[0][0]
        == spark.sql(q).collect()[0][0]
        == 6
    )
    got = snapshot_sql(spark, "SELECT * FROM fp_dv WHERE id <= 6")
    assert sorted(r.id for r in got.collect()) == [0, 2, 3, 4, 5]
    assert spy == []
