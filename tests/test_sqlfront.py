"""SQL statement front door (``warehouse/sqlfront.py``).

The parity bar: the reference warehouse's entire user surface is typed
SQL (reference README.md:77 — analysts submit SQL statements), so every
engine DML/DDL/maintenance function must be reachable through a SQL
string with results IDENTICAL to the Python API, and anything outside
the engine-executable grammar must fail LOUDLY (never silently scan
and rewrite). SELECTs must keep passing through to spark.sql, and a
SELECT after a front-door mutation must see the committed state.
"""

from __future__ import annotations

import json

import pytest

from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    snapshot_history,
    snapshot_properties,
    snapshot_register,
    snapshot_set_properties,
    snapshot_versions,
    snapshot_write,
)
from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import (
    SqlFrontError,
    snapshot_sql,
)


def _bag(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _mk(spark, tmp_path, name, partitioned=False):
    t = str(tmp_path / name)
    rows = [
        (1, 0, "a"), (2, 0, "b"), (3, 1, "c"), (4, 1, "d"), (5, 2, "e"),
    ]
    df = spark.createDataFrame(rows, "id int, month int, v string")
    if partitioned:
        snapshot_write(
            df, t, partition_cols=["month"], stats_cols=["id"],
        )
    else:
        snapshot_write(df, t)
    snapshot_register(spark, t, name)
    return t


def test_delete_where_sql(spark, tmp_path):
    t = _mk(spark, tmp_path, "sqlf_del")
    out = snapshot_sql(
        spark, "DELETE FROM sqlf_del WHERE id IN (2, 4) AND month = 0"
    ).collect()[0]
    assert out["num_affected_rows"] == 1  # only id=2 is in month 0
    assert _bag(read_snapshot(spark, t), "id") == [(1,), (3,), (4,), (5,)]
    # the registered view follows the new head
    assert _bag(spark.sql("SELECT id FROM sqlf_del"), "id") == [
        (1,), (3,), (4,), (5,)
    ]


def test_delete_same_column_conjunction_intersects(spark, tmp_path):
    _mk(spark, tmp_path, "sqlf_del2")
    out = snapshot_sql(
        spark, "DELETE FROM sqlf_del2 WHERE id IN (1,2,3) AND id IN (3,4)"
    ).collect()[0]
    assert out["num_affected_rows"] == 1
    assert _bag(spark.table("sqlf_del2"), "id") == [
        (1,), (2,), (4,), (5,)
    ]


def test_delete_partition_column_is_metadata_only(spark, tmp_path):
    t = _mk(spark, tmp_path, "sqlf_delp", partitioned=True)
    out = snapshot_sql(
        spark, "DELETE FROM sqlf_delp WHERE month = 1"
    ).collect()[0]
    assert out["num_affected_rows"] == 2
    hist = {
        r["version"]: r["op"]
        for r in snapshot_history(spark, t).collect()
    }
    assert hist[max(hist)] == "drop_partitions"  # the metadata-only path
    assert _bag(read_snapshot(spark, t), "id") == [(1,), (2,), (5,)]


def test_update_sql_matches_python_api(spark, tmp_path):
    t = _mk(spark, tmp_path, "sqlf_upd")
    out = snapshot_sql(
        spark,
        "UPDATE sqlf_upd SET v = 'REDACTED' WHERE id IN (1, 5)",
    ).collect()[0]
    assert out["num_affected_rows"] == 2
    assert _bag(read_snapshot(spark, t), "id", "v") == [
        (1, "REDACTED"), (2, "b"), (3, "c"), (4, "d"), (5, "REDACTED"),
    ]


def test_update_mode_dv_writes_tombstones(spark, tmp_path):
    t = _mk(spark, tmp_path, "sqlf_upddv")
    snapshot_sql(
        spark, "UPDATE sqlf_upddv SET v = 'X' WHERE id = 3", mode="dv"
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    man = load_manifest(t, list_versions(t)[-1])
    assert man.get("dv_files")  # the DV strategy was honored
    assert _bag(read_snapshot(spark, t), "id", "v") == [
        (1, "a"), (2, "b"), (3, "X"), (4, "d"), (5, "e"),
    ]


def test_merge_upsert_sql(spark, tmp_path):
    t = _mk(spark, tmp_path, "sqlf_mrg")
    spark.createDataFrame(
        [(2, 0, "B2"), (9, 3, "new")], "id int, month int, v string"
    ).createOrReplaceTempView("sqlf_mrg_src")
    out = snapshot_sql(
        spark,
        "MERGE INTO sqlf_mrg AS t USING sqlf_mrg_src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    ).collect()[0]
    assert out["num_affected_rows"] == 2
    assert _bag(read_snapshot(spark, t), "id", "v") == [
        (1, "a"), (2, "B2"), (3, "c"), (4, "d"), (5, "e"), (9, "new"),
    ]


def test_merge_subquery_source_and_delete(spark, tmp_path):
    t = _mk(spark, tmp_path, "sqlf_mrgd")
    out = snapshot_sql(
        spark,
        "MERGE INTO sqlf_mrgd t "
        "USING (SELECT 1 AS id UNION ALL SELECT 4 AS id) s ON t.id = s.id "
        "WHEN MATCHED THEN DELETE",
    ).collect()[0]
    assert out["num_affected_rows"] == 2  # n_keys (zero-read delete)
    assert _bag(read_snapshot(spark, t), "id") == [(2,), (3,), (5,)]


def test_alter_family_sql(spark, tmp_path):
    t = _mk(spark, tmp_path, "sqlf_alt")
    snapshot_sql(
        spark,
        "ALTER TABLE sqlf_alt ADD COLUMN score double DEFAULT 1.5",
    )
    assert _bag(read_snapshot(spark, t), "id", "score")[0] == (1, 1.5)
    # a parenthesized type still parses (raw-slice type capture)
    snapshot_sql(
        spark, "ALTER TABLE sqlf_alt ADD COLUMN tag decimal(10,2)"
    )
    assert dict(read_snapshot(spark, t).dtypes)["tag"] == "decimal(10,2)"
    snapshot_sql(spark, "ALTER TABLE sqlf_alt RENAME COLUMN v TO label")
    assert "label" in read_snapshot(spark, t).columns
    snapshot_sql(spark, "ALTER TABLE sqlf_alt ALTER COLUMN id TYPE bigint")
    assert dict(read_snapshot(spark, t).dtypes)["id"] == "bigint"
    snapshot_sql(spark, "ALTER TABLE sqlf_alt DROP COLUMN score")
    assert "score" not in read_snapshot(spark, t).columns
    # the registered view tracked every metadata-only commit
    assert set(spark.table("sqlf_alt").columns) == {
        "id", "month", "label", "tag"
    }


def test_properties_and_constraints_sql(spark, tmp_path):
    t = _mk(spark, tmp_path, "sqlf_props")
    snapshot_sql(
        spark,
        "ALTER TABLE sqlf_props SET TBLPROPERTIES "
        "('retention.keep_last' = '4', 'owner' = 'etl')",
    )
    assert snapshot_properties(spark, t)["owner"] == "etl"
    props = {
        r["key"]: r["value"]
        for r in snapshot_sql(
            spark, "SHOW TBLPROPERTIES sqlf_props"
        ).collect()
    }
    assert props["retention.keep_last"] == "4"
    snapshot_sql(
        spark, "ALTER TABLE sqlf_props UNSET TBLPROPERTIES ('owner')"
    )
    assert "owner" not in snapshot_properties(spark, t)

    snapshot_sql(
        spark,
        "ALTER TABLE sqlf_props ADD CONSTRAINT pos_id CHECK (id > 0)",
    )
    with pytest.raises(ValueError, match="pos_id"):
        snapshot_write(
            spark.createDataFrame(
                [(-1, 9, "bad")], "id int, month int, v string"
            ),
            t,
            mode="append",
        )
    snapshot_sql(spark, "ALTER TABLE sqlf_props DROP CONSTRAINT pos_id")
    snapshot_write(
        spark.createDataFrame(
            [(-1, 9, "ok")], "id int, month int, v string"
        ),
        t,
        mode="append",
    )


def test_describe_history_restore_optimize_vacuum(spark, tmp_path):
    t = _mk(spark, tmp_path, "sqlf_hist")
    v0 = snapshot_versions(spark, t)[-1]["version"]
    snapshot_sql(spark, "DELETE FROM sqlf_hist WHERE id = 1")
    hist = snapshot_sql(spark, "DESCRIBE HISTORY sqlf_hist")
    ops = [r["op"] for r in hist.collect()]
    assert "overwrite" in ops and len(ops) >= 2

    snapshot_sql(
        spark, f"RESTORE TABLE sqlf_hist TO VERSION AS OF {v0}"
    )
    assert _bag(read_snapshot(spark, t), "id") == [
        (1,), (2,), (3,), (4,), (5,)
    ]
    # view refreshed to the restored head
    assert spark.table("sqlf_hist").count() == 5

    v = snapshot_sql(spark, "OPTIMIZE sqlf_hist").collect()[0]["version"]
    assert v == snapshot_versions(spark, t)[-1]["version"]
    assert read_snapshot(spark, t).count() == 5

    # property-driven maintenance via bare VACUUM
    snapshot_set_properties(spark, t, {"retention.keep_last": "2"})
    rep = json.loads(
        snapshot_sql(spark, "VACUUM sqlf_hist").collect()[0]["report"]
    )
    assert "vacuum" in rep
    assert len(snapshot_versions(spark, t)) <= 3  # 2 + the props commit

    # RETAIN form: age floor far in the past drops nothing beyond
    # keep_last, and returns the counts row
    out = snapshot_sql(
        spark, "VACUUM sqlf_hist RETAIN 10000 HOURS"
    ).collect()[0]
    assert out["versions_dropped"] == 0


def test_path_reference_without_registration(spark, tmp_path):
    t = str(tmp_path / "unregistered")
    snapshot_write(
        spark.createDataFrame([(1,), (2,)], "id int"), t
    )
    out = snapshot_sql(
        spark, f"DELETE FROM '{t}' WHERE id = 2"
    ).collect()[0]
    assert out["num_affected_rows"] == 1
    assert _bag(read_snapshot(spark, t), "id") == [(1,)]


def test_select_passthrough_and_pinned_refusal(spark, tmp_path):
    t = _mk(spark, tmp_path, "sqlf_sel")
    # plain SELECT passes through to spark.sql
    n = snapshot_sql(
        spark, "SELECT count(*) AS n FROM sqlf_sel"
    ).collect()[0]["n"]
    assert n == 5
    # a pinned (time-travel) registration refuses to be a DML target
    v0 = snapshot_versions(spark, t)[0]["version"]
    snapshot_register(spark, t, "sqlf_sel_v0", version=v0)
    with pytest.raises(SqlFrontError, match="pinned"):
        snapshot_sql(spark, "DELETE FROM sqlf_sel_v0 WHERE id = 1")
    # ...and a pinned SELECT still works through passthrough
    assert snapshot_sql(
        spark, "SELECT count(*) AS n FROM sqlf_sel_v0"
    ).collect()[0]["n"] == 5


def test_loud_errors_on_unsupported_sql(spark, tmp_path):
    _mk(spark, tmp_path, "sqlf_err")
    for stmt, why in [
        ("DELETE FROM sqlf_err", "without WHERE"),
        # ranges (>, <, BETWEEN) are SUPPORTED as of round 10, and
        # OR / != / NOT IN / IS [NOT] NULL as of round 11 — LIKE
        # stays outside the stats-plannable grammar
        ("DELETE FROM sqlf_err WHERE id IS BLUE", "expected NULL"),
        ("DELETE FROM sqlf_err WHERE v LIKE 'x%'", "unsupported predicate"),
        ("DELETE FROM sqlf_err WHERE id < NULL", "NULL"),
        ("DELETE FROM nosuch_table WHERE id = 1", "not a registered"),
        ("UPDATE sqlf_err SET v = 'x'", "without WHERE"),
        (
            "MERGE INTO sqlf_err t USING sqlf_err s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = 'x'",
            "SET [*]",
        ),
        ("ALTER TABLE sqlf_err FROB COLUMN id", "unsupported ALTER"),
        ("VACUUM sqlf_err RETAIN 'soon' HOURS", "number of hours"),
    ]:
        with pytest.raises(SqlFrontError, match=why):
            snapshot_sql(spark, stmt)


def test_cli_sql_statement_dispatch(spark, tmp_path, capsys):
    from nyc_taxi_data_warehouse_spark.__main__ import main

    t = str(tmp_path / "cli_t")
    snapshot_write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id int, v string"
        ),
        t,
    )
    main(
        [
            "sql",
            "DELETE FROM cli_t WHERE id IN (2, 3)",
            "--snapshot", f"cli_t={t}",
        ],
        spark=spark,
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["num_affected_rows"] == 2
    assert _bag(read_snapshot(spark, t), "id") == [(1,)]
    # unsupported statements exit loudly, not silently
    with pytest.raises(SystemExit, match="snapshot front door"):
        main(
            [
                "sql", "DELETE FROM cli_t WHERE id LIKE 'x'",
                "--snapshot", f"cli_t={t}",
            ],
            spark=spark,
        )


def test_owned_verbs_pass_through_unresolvable_targets(spark, tmp_path):
    """Round-9 review finding: DELETE/DESCRIBE HISTORY/etc. on a target
    that is NOT a registered snapshot table (nor a path) must reach
    spark.sql instead of being hijacked — and when spark.sql also
    fails, the error carries BOTH facts."""
    # DESCRIBE HISTORY on an unregistered name: passes through and
    # fails with SPARK's error, not the front door's
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        snapshot_sql(spark, "DESCRIBE HISTORY definitely_not_registered")
    # DELETE on an unregistered name: spark.sql can't run it either ->
    # combined error names the registry remedy AND the spark failure
    with pytest.raises(SqlFrontError, match="spark.sql also failed"):
        snapshot_sql(
            spark, "DELETE FROM definitely_not_registered WHERE id = 1"
        )


def test_add_constraint_rejects_trailing_tokens(spark, tmp_path):
    """Round-9 review finding: ADD CONSTRAINT must slice the CHECK
    expression by balanced parens and refuse trailing input like every
    other statement form."""
    t = _mk(spark, tmp_path, "sqlf_ctrail")
    with pytest.raises(SqlFrontError, match="trailing"):
        snapshot_sql(
            spark,
            "ALTER TABLE sqlf_ctrail ADD CONSTRAINT c1 "
            "CHECK (id > 0) garbage here",
        )
    # nested parens inside the expression still slice correctly
    snapshot_sql(
        spark,
        "ALTER TABLE sqlf_ctrail ADD CONSTRAINT c2 "
        "CHECK ((id > 0) AND (month >= 0))",
    )
    assert snapshot_properties(spark, t)["constraint.c2"] == (
        "(id > 0) AND (month >= 0)"
    )


def test_insert_into_values_and_select(spark, tmp_path):
    t = _mk(spark, tmp_path, "sqlf_ins")
    out = snapshot_sql(
        spark,
        "INSERT INTO sqlf_ins VALUES (10, 3, 'x'), (11, 3, NULL)",
    ).collect()[0]
    assert out["num_affected_rows"] == 2
    assert _bag(read_snapshot(spark, t), "id", "v")[-2:] == [
        (10, "x"), (11, None)
    ]
    # explicit column list: unlisted columns NULL-fill
    snapshot_sql(
        spark, "INSERT INTO sqlf_ins (id, month) VALUES (12, 4)"
    )
    assert (12, None) in _bag(read_snapshot(spark, t), "id", "v")
    # SELECT source, by-position alignment
    out = snapshot_sql(
        spark,
        "INSERT INTO sqlf_ins SELECT id + 100, month, v FROM sqlf_ins "
        "WHERE id IN (1, 2)",
    ).collect()[0]
    assert out["num_affected_rows"] == 2
    assert (101, "a") in _bag(read_snapshot(spark, t), "id", "v")
    # refusals: arity mismatch, unknown column
    with pytest.raises(SqlFrontError, match="target column"):
        snapshot_sql(spark, "INSERT INTO sqlf_ins VALUES (1, 2)")
    with pytest.raises(SqlFrontError, match="not in table schema"):
        snapshot_sql(
            spark, "INSERT INTO sqlf_ins (nope) VALUES (1)"
        )
    # INSERT OVERWRITE replaces the table
    out = snapshot_sql(
        spark, "INSERT OVERWRITE sqlf_ins VALUES (99, 9, 'only')"
    ).collect()[0]
    assert out["num_affected_rows"] == 1
    assert _bag(read_snapshot(spark, t), "id", "v") == [(99, "only")]
    # the registered view follows
    assert spark.table("sqlf_ins").count() == 1


def test_select_time_travel_version_as_of(spark, tmp_path):
    t = _mk(spark, tmp_path, "sqlf_tt")
    v0 = snapshot_versions(spark, t)[0]["version"]
    snapshot_sql(spark, "DELETE FROM sqlf_tt WHERE id IN (1, 2, 3)")
    # current state
    assert snapshot_sql(
        spark, "SELECT count(*) AS n FROM sqlf_tt"
    ).collect()[0]["n"] == 2
    # Delta form
    assert snapshot_sql(
        spark,
        f"SELECT count(*) AS n FROM sqlf_tt VERSION AS OF {v0}",
    ).collect()[0]["n"] == 5
    # Iceberg form (FOR VERSION AS OF), mixed with current-state join
    got = snapshot_sql(
        spark,
        f"SELECT count(*) AS n FROM sqlf_tt FOR VERSION AS OF {v0} a "
        "JOIN sqlf_tt b ON a.id = b.id",
    ).collect()[0]["n"]
    assert got == 2  # old rows surviving into the current state
    with pytest.raises(SqlFrontError, match="integer"):
        snapshot_sql(
            spark, "SELECT * FROM sqlf_tt VERSION AS OF 'nope'"
        )


def test_create_table_as_select(spark, tmp_path):
    t2 = str(tmp_path / "ctas_dst")
    _mk(spark, tmp_path, "sqlf_ctas_src")
    out = snapshot_sql(
        spark,
        f"CREATE TABLE ctas_tbl LOCATION '{t2}' PARTITIONED BY (month) "
        "AS SELECT id, month, upper(v) AS v FROM sqlf_ctas_src "
        "WHERE id IN (1, 2, 5)",
    ).collect()[0]
    assert out["num_affected_rows"] == 3
    assert _bag(read_snapshot(spark, t2), "id", "v") == [
        (1, "A"), (2, "B"), (5, "E")
    ]
    # the name registered: immediately usable by later statements
    assert snapshot_sql(
        spark, "SELECT count(*) AS n FROM ctas_tbl"
    ).collect()[0]["n"] == 3
    snapshot_sql(spark, "DELETE FROM ctas_tbl WHERE month = 0")
    assert read_snapshot(spark, t2).count() == 1
    # refusals: existing table, missing partition col
    with pytest.raises(SqlFrontError, match="already exists"):
        snapshot_sql(
            spark,
            f"CREATE TABLE x LOCATION '{t2}' AS SELECT 1 AS a",
        )
    t3 = str(tmp_path / "ctas_dst3")
    with pytest.raises(SqlFrontError, match="not in the SELECT"):
        snapshot_sql(
            spark,
            f"CREATE TABLE y LOCATION '{t3}' PARTITIONED BY (nope) "
            "AS SELECT 1 AS a",
        )
    # catalog CREATE TABLE (no LOCATION/AS) passes through to spark.sql
    spark.sql("DROP TABLE IF EXISTS sqlf_ctas_cat")
    snapshot_sql(
        spark, "CREATE TABLE sqlf_ctas_cat (a int) USING parquet"
    )
    assert spark.catalog.tableExists("sqlf_ctas_cat")
    spark.sql("DROP TABLE sqlf_ctas_cat")


def test_insert_fills_declared_defaults_and_refuses_dups(spark, tmp_path):
    """Round-9 second review pass: an omitted defaulted column fills
    the DEFAULT (write-side counterpart of the read-boundary initial
    default — physically writing NULL would defeat the absence-marked
    fill); duplicate target columns refuse; a nonexistent path target
    refuses loudly instead of IndexError."""
    t = _mk(spark, tmp_path, "sqlf_insd")
    snapshot_sql(
        spark, "ALTER TABLE sqlf_insd ADD COLUMN score int DEFAULT 7"
    )
    snapshot_sql(
        spark, "INSERT INTO sqlf_insd (id, month, v) VALUES (20, 1, 'z')"
    )
    got = {
        r["id"]: r["score"]
        for r in read_snapshot(spark, t).select("id", "score").collect()
    }
    assert got[20] == 7       # omitted column -> declared default
    assert got[1] == 7        # pre-add rows read the initial default
    snapshot_sql(
        spark,
        "INSERT INTO sqlf_insd (id, month, v, score) "
        "VALUES (21, 1, 'w', NULL)",
    )
    got = {
        r["id"]: r["score"]
        for r in read_snapshot(spark, t).select("id", "score").collect()
    }
    assert got[21] is None    # explicit NULL stays NULL
    with pytest.raises(SqlFrontError, match="duplicate INSERT column"):
        snapshot_sql(
            spark, "INSERT INTO sqlf_insd (id, id) VALUES (1, 2)"
        )
    with pytest.raises(SqlFrontError, match="no snapshot table at"):
        snapshot_sql(
            spark,
            f"INSERT INTO '{tmp_path}/nope' VALUES (1, 2, 'x')",
        )


def test_insert_invalid_literal_refuses_even_with_ansi_off(spark, tmp_path):
    _mk(spark, tmp_path, "sqlf_insansi")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(SqlFrontError, match="do not cast"):
            snapshot_sql(
                spark,
                "INSERT INTO sqlf_insansi VALUES ('garbage', 3, 'x')",
            )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    # nothing was written
    assert spark.table("sqlf_insansi").count() == 5


def test_time_travel_aliases_are_injective(spark, tmp_path):
    """Two TIMESTAMP AS OF literals that sanitize identically must
    resolve to DIFFERENT pinned views (round-9 second review pass)."""
    import time as _time

    from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import (
        _rewrite_time_travel,
    )

    t = _mk(spark, tmp_path, "sqlf_ttinj")
    ts1 = _time.time()
    _time.sleep(1.2)
    snapshot_sql(spark, "DELETE FROM sqlf_ttinj WHERE id = 1")
    ts2 = _time.time()
    # epoch-second literals differing only in the fractional part can
    # sanitize identically after truncation — the hash keeps them apart
    q = (
        f"SELECT (SELECT count(*) FROM sqlf_ttinj TIMESTAMP AS OF {ts1}) "
        f"AS a, (SELECT count(*) FROM sqlf_ttinj TIMESTAMP AS OF {ts2}) "
        "AS b"
    )
    rewritten = _rewrite_time_travel(spark, q)
    r = spark.sql(rewritten).collect()[0]
    assert (r["a"], r["b"]) == (5, 4)
    # distinct aliases were minted
    import re as _re

    aliases = set(_re.findall(r"sqlf_ttinj__ts_\w+", rewritten))
    assert len(aliases) == 2, rewritten


def test_ctas_name_collision_and_catalog_passthrough(spark, tmp_path):
    _mk(spark, tmp_path, "sqlf_ctascol")
    t2 = str(tmp_path / "other")
    with pytest.raises(SqlFrontError, match="already registered"):
        snapshot_sql(
            spark,
            f"CREATE TABLE sqlf_ctascol LOCATION '{t2}' AS SELECT 1 AS a",
        )
    # dotted (catalog-qualified) names pass through to spark.sql even
    # with LOCATION — never half-create a snapshot table
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        snapshot_sql(
            spark,
            f"CREATE TABLE nosuchdb.t LOCATION '{t2}/x' AS SELECT 1 AS a",
        )
    # Spark itself may mkdir the location before failing resolution;
    # what matters is OUR engine wrote no snapshot table there
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
    )

    assert list_versions(f"{t2}/x") == []


def test_time_travel_composes_inside_insert_source(spark, tmp_path):
    t = _mk(spark, tmp_path, "sqlf_ttins")
    v0 = snapshot_versions(spark, t)[0]["version"]
    snapshot_sql(spark, "DELETE FROM sqlf_ttins WHERE id IN (1, 2)")
    out = snapshot_sql(
        spark,
        "INSERT INTO sqlf_ttins SELECT id + 50, month, v "
        f"FROM sqlf_ttins VERSION AS OF {v0} WHERE id IN (1, 2)",
    ).collect()[0]
    assert out["num_affected_rows"] == 2
    ids = {r["id"] for r in read_snapshot(spark, t).select("id").collect()}
    assert {51, 52} <= ids and not ({1, 2} & ids)


# ------------------------------------------ round 10: expression SET


def test_update_expression_set_redaction(spark, tmp_path):
    """SQL spelling of the Python API's expression-valued SET: the RHS
    resolves against the table schema and sees the PRE-update row
    image (one select, not a withColumn chain)."""
    t = str(tmp_path / "sqlf_expr")
    snapshot_write(
        spark.createDataFrame(
            [(1, "alice@x.com", "alice"), (2, "bob@x.com", "bob")],
            "id int, email string, name string",
        ),
        t, stats_cols=["id"],
    )
    snapshot_register(spark, t, "sqlf_expr")
    out = snapshot_sql(
        spark,
        "UPDATE sqlf_expr SET email = sha2(email, 256) WHERE id = 1",
    ).collect()[0]
    assert out["num_affected_rows"] == 1
    got = {r.id: r.email for r in read_snapshot(spark, t).collect()}
    assert len(got[1]) == 64 and got[2] == "bob@x.com"
    # parity with the Python API on the other row
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_update,
    )
    from pyspark.sql import functions as F

    snapshot_update(
        spark, t, {"id": [2]}, {"email": F.sha2(F.col("email"), 256)},
    )
    got2 = {r.id: r.email for r in read_snapshot(spark, t).collect()}
    import hashlib

    assert got2[2] == hashlib.sha256(b"bob@x.com").hexdigest()
    assert got2[1] == hashlib.sha256(b"alice@x.com").hexdigest()


def test_update_expression_pre_image_swap(spark, tmp_path):
    t = str(tmp_path / "sqlf_swap")
    snapshot_write(
        spark.createDataFrame([(1, "A", "B")], "id int, a string, b string"),
        t, stats_cols=["id"],
    )
    snapshot_register(spark, t, "sqlf_swap")
    snapshot_sql(spark, "UPDATE sqlf_swap SET a = b, b = a WHERE id = 1")
    r = read_snapshot(spark, t).collect()[0]
    assert (r.a, r.b) == ("B", "A")


def test_update_expression_refuses_unresolvable(spark, tmp_path):
    t = str(tmp_path / "sqlf_bad_expr")
    snapshot_write(
        spark.createDataFrame([(1, "x")], "id int, v string"),
        t, stats_cols=["id"],
    )
    snapshot_register(spark, t, "sqlf_bad_expr")
    with pytest.raises(SqlFrontError, match="does not resolve"):
        snapshot_sql(
            spark,
            "UPDATE sqlf_bad_expr SET v = concat(nosuch, '!') WHERE id = 1",
        )
    # nothing committed by the refusal
    assert _bag(read_snapshot(spark, t), "id", "v") == [(1, "x")]


def test_update_function_commas_and_mixed_literals(spark, tmp_path):
    t = str(tmp_path / "sqlf_mix")
    snapshot_write(
        spark.createDataFrame([(1, "x", 0)], "id int, v string, n int"),
        t, stats_cols=["id"],
    )
    snapshot_register(spark, t, "sqlf_mix")
    snapshot_sql(
        spark,
        "UPDATE sqlf_mix SET v = concat(v, '!'), n = 7 WHERE id = 1",
    )
    assert _bag(read_snapshot(spark, t), "v", "n") == [("x!", 7)]


# ---------------------------------------- round 10: MERGE column maps


def _merge_fixture(spark, tmp_path, name):
    t = str(tmp_path / name)
    snapshot_write(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id int, v string, n int"
        ),
        t, stats_cols=["id"],
    )
    snapshot_register(spark, t, name)
    spark.createDataFrame(
        [(2, "B2"), (3, "C3")], "id int, val string"
    ).createOrReplaceTempView(f"{name}_src")
    return t


def test_merge_explicit_column_mapping(spark, tmp_path):
    """The shape real CDC tools emit: UPDATE SET t.c = s.c mapped onto
    the same zero-read eq-upsert as SET * — source projected/renamed,
    no target read."""
    t = _merge_fixture(spark, tmp_path, "sqlf_map")
    out = snapshot_sql(
        spark,
        "MERGE INTO sqlf_map t USING "
        "(SELECT id, val, 0 AS cnt FROM sqlf_map_src) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET t.v = s.val, t.n = s.cnt "
        "WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, s.val, s.cnt)",
    ).collect()[0]
    assert out["num_affected_rows"] == 2
    assert _bag(read_snapshot(spark, t), "id", "v", "n") == [
        (1, "a", 10), (2, "B2", 0), (3, "C3", 0),
    ]
    # history: the commit is the eq-upsert, not a rewrite
    hist = {
        r["version"]: r["op"]
        for r in snapshot_history(spark, t).collect()
    }
    assert hist[max(hist)] == "upsert_eq"


def test_merge_mapping_literal_fill(spark, tmp_path):
    t = _merge_fixture(spark, tmp_path, "sqlf_maplit")
    snapshot_sql(
        spark,
        "MERGE INTO sqlf_maplit t USING sqlf_maplit_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET t.v = s.val, t.n = 99 "
        "WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, s.val, 99)",
    )
    assert _bag(read_snapshot(spark, t), "id", "v", "n") == [
        (1, "a", 10), (2, "B2", 99), (3, "C3", 99),
    ]


def test_merge_mapping_refusals(spark, tmp_path):
    _merge_fixture(spark, tmp_path, "sqlf_mapref")
    cases = [
        # partial coverage would need the target's current values
        (
            "MERGE INTO sqlf_mapref t USING sqlf_mapref_src s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET t.v = s.val "
            "WHEN NOT MATCHED THEN INSERT (id, v, n) "
            "VALUES (s.id, s.val, 0)",
            "every target column",
        ),
        # divergent branches cannot share one upserted image
        (
            "MERGE INTO sqlf_mapref t USING "
            "(SELECT id, val, 0 AS cnt FROM sqlf_mapref_src) s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET t.v = s.val, t.n = 1 "
            "WHEN NOT MATCHED THEN INSERT (id, v, n) "
            "VALUES (s.id, s.val, 2)",
            "disagree",
        ),
        # conditional clauses need a target read
        (
            "MERGE INTO sqlf_mapref t USING sqlf_mapref_src s "
            "ON t.id = s.id WHEN MATCHED AND t.n > 5 THEN DELETE",
            "target read",
        ),
        # key reassignment
        (
            "MERGE INTO sqlf_mapref t USING "
            "(SELECT id, val, 0 AS cnt FROM sqlf_mapref_src) s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET t.id = s.cnt, t.v = s.val, "
            "t.n = s.cnt "
            "WHEN NOT MATCHED THEN INSERT * ",
            "key column",
        ),
    ]
    for stmt, why in cases:
        with pytest.raises(SqlFrontError, match=why):
            snapshot_sql(spark, stmt)


# ------------------------------------------ round 10: branches / WAP


def test_branch_wap_lifecycle_sql(spark, tmp_path):
    """The whole write-audit-publish loop drivable from SQL: create
    an isolated branch, mutate it by quoting the ref as the table
    path (main readers see nothing), audit through a registered view,
    publish = one metadata fast-forward, drop the branch."""
    t = _mk(spark, tmp_path, "sqlf_wap")
    ref = snapshot_sql(
        spark, "ALTER TABLE sqlf_wap CREATE BRANCH audit1"
    ).collect()[0].branch_ref
    assert ref == f"{t}#audit1"
    snapshot_sql(spark, f"DELETE FROM '{ref}' WHERE id IN (1, 2)")
    # isolation: main untouched, branch mutated
    assert _bag(read_snapshot(spark, t), "id") == [
        (1,), (2,), (3,), (4,), (5,),
    ]
    assert _bag(read_snapshot(spark, ref), "id") == [(3,), (4,), (5,)]
    # audit through a registered view of the ref
    snapshot_register(spark, ref, "sqlf_wap_audit")
    assert spark.sql(
        "SELECT count(*) c FROM sqlf_wap_audit"
    ).collect()[0].c == 3
    # publish: one metadata commit fast-forwards main
    snapshot_sql(spark, "ALTER TABLE sqlf_wap PUBLISH BRANCH audit1")
    assert _bag(read_snapshot(spark, t), "id") == [(3,), (4,), (5,)]
    # the registered main view followed the publish
    assert _bag(spark.table("sqlf_wap"), "id") == [(3,), (4,), (5,)]
    got = [
        r.branch
        for r in snapshot_sql(spark, "SHOW BRANCHES sqlf_wap").collect()
    ]
    assert got == ["audit1"]
    snapshot_sql(spark, "ALTER TABLE sqlf_wap DROP BRANCH audit1")
    assert snapshot_sql(spark, "SHOW BRANCHES sqlf_wap").count() == 0


def test_tags_sql(spark, tmp_path):
    t = _mk(spark, tmp_path, "sqlf_tags")
    r = snapshot_sql(
        spark, "ALTER TABLE sqlf_tags CREATE TAG rel1"
    ).collect()[0]
    assert r.tag == "rel1"
    snapshot_sql(spark, "DELETE FROM sqlf_tags WHERE id = 1")
    tags = {
        x.tag: x.version
        for x in snapshot_sql(spark, "SHOW TAGS sqlf_tags").collect()
    }
    assert tags == {"rel1": r.version}
    # the tagged state stays stable across later DML
    from nyc_taxi_data_warehouse_spark.warehouse.branching import read_tag

    assert read_tag(spark, t, "rel1").count() == 5
    with pytest.raises(ValueError, match="immutable"):
        snapshot_sql(spark, "ALTER TABLE sqlf_tags CREATE TAG rel1")
    snapshot_sql(spark, "ALTER TABLE sqlf_tags DROP TAG rel1")
    assert snapshot_sql(spark, "SHOW TAGS sqlf_tags").count() == 0


def test_branch_as_of_version_and_publish_conflict(spark, tmp_path):
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        SnapshotConflict,
    )

    t = _mk(spark, tmp_path, "sqlf_bav")
    v1 = snapshot_versions(spark, t)[-1]["version"]
    snapshot_sql(spark, "DELETE FROM sqlf_bav WHERE id = 5")
    snapshot_sql(
        spark,
        f"ALTER TABLE sqlf_bav CREATE BRANCH old AS OF VERSION {v1}",
    )
    assert read_snapshot(spark, f"{t}#old").count() == 5
    with pytest.raises(SqlFrontError, match="integer"):
        snapshot_sql(
            spark,
            "ALTER TABLE sqlf_bav CREATE BRANCH b2 AS OF VERSION 'x'",
        )
    # main advances past the fork: publish refuses (not fast-forward)
    snapshot_sql(spark, "DELETE FROM sqlf_bav WHERE id = 4")
    with pytest.raises(SnapshotConflict, match="fast-forward"):
        snapshot_sql(spark, "ALTER TABLE sqlf_bav PUBLISH BRANCH old")
    # the documented escape hatch
    snapshot_sql(spark, "ALTER TABLE sqlf_bav PUBLISH BRANCH old FORCE")
    assert read_snapshot(spark, t).count() == 5


def test_time_travel_alias_never_clobbers_user_view(spark, tmp_path):
    """A user view named exactly like a minted time-travel alias
    (t__v1) keeps its data; the rewriter moves its ephemeral view to
    a suffixed name and time travel stays correct."""
    t = _mk(spark, tmp_path, "sqlf_tt")
    snapshot_sql(spark, "DELETE FROM sqlf_tt WHERE id = 5")  # head: 4 rows
    snapshot_register(spark, t, "sqlf_tt__v1")  # the USER's own view
    rows = snapshot_sql(
        spark, "SELECT count(*) AS c FROM sqlf_tt VERSION AS OF 1"
    ).collect()
    assert rows[0].c == 5  # time travel correct through the suffixed alias
    assert spark.table("sqlf_tt__v1").count() == 4  # user view untouched


def test_time_travel_alias_never_clobbers_plain_temp_view(spark, tmp_path):
    """A plain createOrReplaceTempView (never registry-tracked) naming
    the minted alias — or its first suffix — keeps its data; the
    rewriter keeps suffixing until a free name."""
    t = _mk(spark, tmp_path, "sqlf_tt2")
    snapshot_sql(spark, "DELETE FROM sqlf_tt2 WHERE id = 5")
    spark.createDataFrame([(42,)], "x int").createOrReplaceTempView(
        "sqlf_tt2__v1"
    )
    spark.createDataFrame([(43,)], "x int").createOrReplaceTempView(
        "sqlf_tt2__v1__eph"
    )
    rows = snapshot_sql(
        spark, "SELECT count(*) AS c FROM sqlf_tt2 VERSION AS OF 1"
    ).collect()
    assert rows[0].c == 5  # time travel correct two suffix levels deep
    assert [r.x for r in spark.table("sqlf_tt2__v1").collect()] == [42]
    assert [
        r.x for r in spark.table("sqlf_tt2__v1__eph").collect()
    ] == [43]
    spark.catalog.dropTempView("sqlf_tt2__v1")
    spark.catalog.dropTempView("sqlf_tt2__v1__eph")


def test_ephemeral_reuse_refreshes_recency(spark, tmp_path, monkeypatch):
    """Reusing the OLDEST ephemeral alias must refresh its position:
    with the cap at 2, reuse-v1-then-mint-v3 must evict v2, not the
    just-reused v1."""
    import nyc_taxi_data_warehouse_spark.warehouse.sqlfront as SF

    # a clean ephemeral slate so the cap math is exact
    for k in [
        k for k, r in SF._SQL_REGISTRY.items() if r.get("ephemeral")
    ]:
        rec = SF._SQL_REGISTRY.pop(k)
        try:
            spark.catalog.dropTempView(rec["name"])
        except Exception:
            pass
    monkeypatch.setattr(SF, "_EPHEMERAL_CAP", 2)
    _mk(spark, tmp_path, "sqlf_cap")
    snapshot_sql(spark, "DELETE FROM sqlf_cap WHERE id = 5")  # v2
    snapshot_sql(spark, "DELETE FROM sqlf_cap WHERE id = 4")  # v3
    # count(DISTINCT id): the round-11 SELECT fast path answers plain
    # COUNT time travel from metadata WITHOUT minting an ephemeral
    # view — this test is about the passthrough rewriter's cache, so
    # it needs a shape the planner can never serve from stats
    q = "SELECT count(DISTINCT id) AS c FROM sqlf_cap VERSION AS OF {}"
    assert snapshot_sql(spark, q.format(1)).collect()[0].c == 5
    assert snapshot_sql(spark, q.format(2)).collect()[0].c == 4
    assert snapshot_sql(spark, q.format(1)).collect()[0].c == 5  # reuse
    assert snapshot_sql(spark, q.format(3)).collect()[0].c == 3  # mint
    # the reused v1 survived the eviction; v2 (stale) was the victim
    assert spark.table("sqlf_cap__v1").count() == 5
    assert "sqlf_cap__v2" not in [
        r["name"] for r in SF._SQL_REGISTRY.values()
    ]
