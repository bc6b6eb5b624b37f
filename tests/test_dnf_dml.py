"""Disjunctive (OR) predicates through the stats-planned DML engine
and the SQL front door — round 11's grammar extension: the WHERE
surface is the full boolean algebra over the plannable leaves
(= / IN / ranges plus !=, <>, NOT IN, NOT BETWEEN, NOT (...), OR),
lowered at parse time to DNF — a list of conjunction dicts the
planner executes as a UNION of per-branch victim sets in ONE commit.

What must hold (and is pinned here):
- row results ≡ the equivalent full-scan predicate under BOTH delete
  strategies, and for updates / reads / counts;
- the victim set is the union of per-branch victims: a file no branch
  intersects carries by IDENTITY (relpath pin);
- per-branch whole-file proofs still fire under OR (union of proofs);
- a file admitted by SEVERAL branches is counted/rewritten ONCE;
- negation desugars exactly: ``x != v`` ≡ ``x < v OR x > v`` under
  Spark semantics INCLUDING NaN (Spark orders NaN above every double,
  probed — NaN > v is TRUE, matching NaN != v), and NULL rows match
  neither a predicate nor its negation;
- refusals stay loud: NULL members in !=/NOT IN, mixed/incomparable
  literal types, DNF branch blowups past the cap.
"""

from __future__ import annotations

import datetime

import pytest

from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    Range,
    read_snapshot,
    snapshot_agg,
    snapshot_delete,
    snapshot_register,
    snapshot_update,
    snapshot_write,
)
from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
    list_versions,
    load_manifest,
)
from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import (
    SqlFrontError,
    snapshot_sql,
)


def _mk_ts_table(spark, path, n_files=3, rows_per=4):
    """Time-clustered files: file i holds id/ts/fare for rows
    [4i .. 4i+3] — same layout as test_range_dml."""
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


def _head_man(spark, path):
    return load_manifest(path, list_versions(path)[-1])


# ------------------------------------------------- Python-API DNF


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_dnf_delete_both_strategies(spark, tmp_path, mode):
    t = str(tmp_path / f"dnf_{mode}")
    _mk_ts_table(spark, t)
    # id <= 1 (file0 boundary) OR id >= 10 (file2 boundary): file1
    # [4..7] is admitted by NO branch and must carry by identity
    pre = set(_head_man(spark, t)["files"])
    v, n = snapshot_delete(
        spark, t, [{"id": Range(hi=1)}, {"id": Range(lo=10)}], mode=mode,
    )
    assert n == 4
    man = _head_man(spark, t)
    assert len(pre & set(man["files"])) >= 1  # middle file untouched
    got = sorted(r.id for r in read_snapshot(spark, t).collect())
    assert got == [2, 3, 4, 5, 6, 7, 8, 9]


def test_dnf_whole_file_proofs_union(spark, tmp_path):
    """Each branch's whole-file proof fires independently: file0 is
    wholly inside branch 1, file2 wholly inside branch 2 — both drop
    by reference; file1 carries by identity. ZERO data bytes move."""
    t = str(tmp_path / "dnf_proof")
    _mk_ts_table(spark, t)
    pre = set(_head_man(spark, t)["files"])
    v, n = snapshot_delete(
        spark, t, [{"id": Range(hi=3)}, {"id": Range(lo=8)}], mode="rewrite",
    )
    assert n == 8
    man = _head_man(spark, t)
    assert man.get("files_dropped_by_stats") == 2
    # the surviving file IS the original middle file — no rewrite
    assert set(man["files"]) <= pre
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == [
        4, 5, 6, 7,
    ]


def test_dnf_overlapping_branches_count_once(spark, tmp_path):
    """A row (and a fully-matching file) admitted by BOTH branches is
    deleted/counted exactly once — union, not sum."""
    t = str(tmp_path / "dnf_overlap")
    _mk_ts_table(spark, t)
    dnf = [{"id": Range(hi=6)}, {"id": Range(lo=2, hi=9)}]
    assert snapshot_agg(
        spark, t, [("count", "*")], where=dnf
    )[0][0] == 10  # ids 0..9
    got = sorted(
        r.id for r in read_snapshot(spark, t, where=dnf).collect()
    )
    assert got == list(range(10))
    v, n = snapshot_delete(spark, t, dnf, mode="rewrite")
    assert n == 10
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == [
        10, 11,
    ]


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_dnf_update_both_strategies(spark, tmp_path, mode):
    t = str(tmp_path / f"dnf_upd_{mode}")
    _mk_ts_table(spark, t)
    v, n = snapshot_update(
        spark, t, [{"id": [0, 5]}, {"fare": Range(lo=10.0)}], {"fare": -1.0},
        mode=mode,
    )
    assert n == 4  # 0, 5, 10, 11
    got = {r.id: r.fare for r in read_snapshot(spark, t).collect()}
    for i in range(12):
        assert got[i] == (-1.0 if i in (0, 5, 10, 11) else float(i))


def test_dnf_null_rows_match_no_branch(spark, tmp_path):
    t = str(tmp_path / "dnf_nulls")
    df = spark.createDataFrame(
        [(1, None, 1.0), (2, datetime.datetime(2024, 1, 5), None),
         (3, None, None)],
        "id int, ts timestamp, fare double",
    )
    snapshot_write(df, t, stats_cols=["ts", "id"])
    # both branches touch a NULL-bearing column: NULLs survive
    v, n = snapshot_delete(
        spark, t, [{"ts": Range(hi="2030-01-01")}, {"fare": Range(lo=-100.0)}],
        mode="rewrite",
    )
    # id=2 matches branch 1 (ts non-null), id=1 matches branch 2
    # (fare non-null); id=3 is NULL in both columns and matches NO
    # branch — a disjunction never resurrects SQL NULL semantics
    assert n == 2
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == [
        3,
    ]


def test_dnf_sanitize_shapes(spark, tmp_path):
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        _sanitize_predicates,
    )

    # empty branches drop; single survivor collapses to a plain dict
    assert _sanitize_predicates([{"a": [None]}, {"b": 1}]) == {"b": [1]}
    assert _sanitize_predicates([{"a": [None]}, {"b": [None]}]) == []
    with pytest.raises(ValueError, match="at least one branch"):
        _sanitize_predicates([])
    with pytest.raises(ValueError, match="dicts"):
        _sanitize_predicates([("a", 1)])
    # a no-match DNF is a no-op delete, not an error
    t = str(tmp_path / "dnf_noop")
    _mk_ts_table(spark, t, n_files=1)
    head = list_versions(t)[-1]
    v, n = snapshot_delete(spark, t, [{"id": [None]}], mode="rewrite")
    assert (v, n) == (head, 0)


# ------------------------------------------------- SQL grammar


@pytest.fixture()
def sql_t(spark, tmp_path):
    t = str(tmp_path / "sqldnf")
    _mk_ts_table(spark, t)
    snapshot_register(spark, t, "sqldnf")
    return t


def _ids(spark, t):
    return sorted(r.id for r in read_snapshot(spark, t).collect())


def test_sql_or_delete(spark, sql_t):
    r = snapshot_sql(
        spark, "DELETE FROM sqldnf WHERE id < 2 OR id BETWEEN 5 AND 6"
    ).collect()[0]
    assert r.num_affected_rows == 4
    assert _ids(spark, sql_t) == [2, 3, 4, 7, 8, 9, 10, 11]


def test_sql_ne_and_notin(spark, sql_t):
    # != keeps NULL semantics and hits everything but the named key
    r = snapshot_sql(
        spark, "DELETE FROM sqldnf WHERE id != 0 AND id <> 11"
    ).collect()[0]
    assert r.num_affected_rows == 10
    assert _ids(spark, sql_t) == [0, 11]
    r = snapshot_sql(
        spark, "DELETE FROM sqldnf WHERE id NOT IN (11)"
    ).collect()[0]
    assert r.num_affected_rows == 1
    assert _ids(spark, sql_t) == [11]


def test_sql_notin_multivalue_gaps(spark, sql_t):
    # NOT IN (v1 < v2 < v3) = the 4 open intervals around the values
    r = snapshot_sql(
        spark, "DELETE FROM sqldnf WHERE id NOT IN (1, 5, 9)"
    ).collect()[0]
    assert r.num_affected_rows == 9
    assert _ids(spark, sql_t) == [1, 5, 9]


def test_sql_not_between_and_not_group(spark, sql_t):
    r = snapshot_sql(
        spark, "DELETE FROM sqldnf WHERE id NOT BETWEEN 2 AND 9"
    ).collect()[0]
    assert r.num_affected_rows == 4
    # De Morgan over a group
    r = snapshot_sql(
        spark, "DELETE FROM sqldnf WHERE NOT (id < 4 OR id > 7)"
    ).collect()[0]
    assert r.num_affected_rows == 4  # 4..7
    assert _ids(spark, sql_t) == [2, 3, 8, 9]


def test_sql_precedence_and_parens(spark, sql_t):
    # AND binds tighter: a OR b AND c = a OR (b AND c)
    r = snapshot_sql(
        spark,
        "DELETE FROM sqldnf WHERE id = 0 OR id >= 10 AND fare > 10.5",
    ).collect()[0]
    assert r.num_affected_rows == 2  # 0 and 11
    r = snapshot_sql(
        spark,
        "UPDATE sqldnf SET fare = 0.0 "
        "WHERE (id = 1 OR id = 2) AND fare > 1.5",
    ).collect()[0]
    assert r.num_affected_rows == 1  # only id=2
    got = {r.id: r.fare for r in read_snapshot(spark, sql_t).collect()}
    assert got[2] == 0.0 and got[1] == 1.0


def test_sql_double_negation_and_duplicate_branches(spark, sql_t):
    r = snapshot_sql(
        spark, "DELETE FROM sqldnf WHERE NOT NOT id = 3"
    ).collect()[0]
    assert r.num_affected_rows == 1
    # duplicate branches fold to one; result is still exact
    r = snapshot_sql(
        spark, "DELETE FROM sqldnf WHERE id = 4 OR id = 4 OR id = 4"
    ).collect()[0]
    assert r.num_affected_rows == 1
    assert 3 not in _ids(spark, sql_t) and 4 not in _ids(spark, sql_t)


def test_sql_contradictory_branch_drops(spark, sql_t):
    # (id < 2 AND id > 9) is provably empty — only the live branch runs
    r = snapshot_sql(
        spark,
        "DELETE FROM sqldnf WHERE (id < 2 AND id > 9) OR id = 7",
    ).collect()[0]
    assert r.num_affected_rows == 1
    assert 7 not in _ids(spark, sql_t)


def test_sql_bool_ne_complements(spark, tmp_path):
    t = str(tmp_path / "booldnf")
    df = spark.createDataFrame(
        [(1, True), (2, False), (3, None)], "id int, flag boolean"
    )
    snapshot_write(df, t, stats_cols=["id"])
    snapshot_register(spark, t, "booldnf")
    r = snapshot_sql(
        spark, "DELETE FROM booldnf WHERE flag != TRUE"
    ).collect()[0]
    assert r.num_affected_rows == 1  # only id=2; NULL survives
    assert sorted(x.id for x in read_snapshot(spark, t).collect()) == [
        1, 3,
    ]
    # NOT IN (TRUE, FALSE) provably matches nothing: no-op, no commit
    head = list_versions(t)[-1]
    r = snapshot_sql(
        spark, "DELETE FROM booldnf WHERE flag NOT IN (TRUE, FALSE)"
    ).collect()[0]
    assert (r.version, r.num_affected_rows) == (head, 0)
    assert list_versions(t)[-1] == head


def test_sql_ne_nan_parity(spark, tmp_path):
    """The != → range-union desugar must match Spark's own != on NaN:
    Spark orders NaN greater than every double (NaN > v is TRUE), so
    NaN rows are deleted by ``fare != 5.0`` under both spellings."""
    t = str(tmp_path / "nandnf")
    df = spark.createDataFrame(
        [(1, float("nan")), (2, 5.0), (3, 1.0), (4, None)],
        "id int, fare double",
    )
    snapshot_write(df, t, stats_cols=["id"])
    snapshot_register(spark, t, "nandnf")
    r = snapshot_sql(
        spark, "DELETE FROM nandnf WHERE fare != 5.0"
    ).collect()[0]
    assert r.num_affected_rows == 2  # NaN and 1.0; NULL survives
    assert sorted(x.id for x in read_snapshot(spark, t).collect()) == [
        2, 4,
    ]


def test_sql_dnf_refusals(spark, sql_t):
    for bad, why in [
        ("id != NULL", "NULL"),
        ("id NOT IN (1, NULL)", "NULL"),
        ("fare NOT IN (1.0, TRUE)", "boolean"),
        ("id NOT IN ('a', 2)", "do not compare"),
        (
            "id NOT IN (%s)" % ", ".join(str(i) for i in range(70)),
            "branches",
        ),
        ("NOT id LIKE 'x%'", "unsupported predicate"),
    ]:
        with pytest.raises(SqlFrontError, match=why):
            snapshot_sql(spark, f"DELETE FROM sqldnf WHERE {bad}")
    # nothing mutated by the refusals
    assert len(_ids(spark, sql_t)) == 12


def test_cli_where_decoder(spark, tmp_path, capsys):
    """One decoder for every --where: ranges, null tests, and OR
    arrays work identically in count / delete / update."""
    import json

    from nyc_taxi_data_warehouse_spark.__main__ import main

    t = str(tmp_path / "clidnf")
    _mk_ts_table(spark, t)
    # OR array through count: id <= 1 OR id >= 10
    main(
        [
            "snapshot-count", "--table-path", t,
            "--where",
            '[{"id": {"hi": 1}}, {"id": {"lo": 10}}]',
        ],
        spark=spark,
    )
    assert json.loads(capsys.readouterr().out.strip()) == {"rows": 4}
    # null test through count (no nulls in this table)
    main(
        [
            "snapshot-count", "--table-path", t,
            "--where", '{"fare": {"is_null": true}}',
        ],
        spark=spark,
    )
    assert json.loads(capsys.readouterr().out.strip()) == {"rows": 0}
    # range through DELETE --where (previously count-where only)
    main(
        [
            "snapshot-delete", "--table-path", t,
            "--where", '[{"id": {"hi": 0}}, {"id": [11]}]',
        ],
        spark=spark,
    )
    out = json.loads(capsys.readouterr().out.strip())
    assert out["rows_deleted"] == 2
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == list(
        range(1, 11)
    )
    # update with a null-test + range conjunction
    main(
        [
            "snapshot-update", "--table-path", t,
            "--where",
            '{"fare": {"is_null": false}, "id": {"lo": 9}}',
            "--set", '{"fare": 0.0}',
        ],
        spark=spark,
    )
    out = json.loads(capsys.readouterr().out.strip())
    assert out["rows_updated"] == 2
    # refusals exit cleanly
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="range spec"):
        main(
            [
                "snapshot-count", "--table-path", t,
                "--where", '{"id": {"high": 3}}',
            ],
            spark=spark,
        )
    with _pytest.raises(SystemExit, match="at least one branch"):
        main(
            ["snapshot-count", "--table-path", t, "--where", "[]"],
            spark=spark,
        )


def test_sql_or_read_and_count_parity(spark, sql_t):
    q = "WHERE id < 2 OR fare NOT BETWEEN 0.5 AND 10.5"
    a = snapshot_sql(spark, f"SELECT COUNT(*) FROM sqldnf {q}")
    b = spark.sql(f"SELECT COUNT(*) FROM sqldnf {q}")
    assert a.collect()[0][0] == b.collect()[0][0] == 3
    got = snapshot_sql(spark, f"SELECT * FROM sqldnf {q}")
    exp = spark.sql(f"SELECT * FROM sqldnf {q}")
    assert sorted(r.id for r in got.collect()) == sorted(
        r.id for r in exp.collect()
    )
