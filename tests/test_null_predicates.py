"""``IS NULL`` / ``IS NOT NULL`` as plannable predicate leaves —
round 11: the completeness/GDPR sweep (``DELETE FROM t WHERE email IS
NULL``) plans from the null counts the stats already record
(``{col: [min, max, nulls]}``) plus the manifest's per-file row
counts.

What must hold (and is pinned here):
- victims are pruned exactly: a file with a recorded ``nulls == 0``
  never rewrites under IS NULL; an all-null file never rewrites under
  IS NOT NULL;
- whole-file proofs fire: all-null files drop by REFERENCE under an
  IS NULL delete; zero-null files under IS NOT NULL;
- files without usable stats (legacy two-element entries, un-statted
  columns) stay victims and prove nothing — conservative, never a
  false negative;
- rows/counts/updates match the full-scan predicate under both
  strategies, and the SQL spellings (incl. NOT (col IS NULL), OR
  combinations, the SELECT fast path) agree with spark.sql;
- initial-default columns: files written before ADD COLUMN read the
  default (non-null), so IS NULL matches nothing there — exactness
  comes from the residual, conservativeness from the planner.
"""

from __future__ import annotations

import pytest

from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    IS_NOT_NULL,
    IS_NULL,
    _plan,
    read_snapshot,
    snapshot_add_column,
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


def _mk(spark, path):
    """file0: zero nulls; file1: mixed; file2: all-null email."""
    for rows in (
        [(i, f"e{i}") for i in range(4)],
        [(4, None), (5, "e5"), (6, None), (7, "e7")],
        [(8, None), (9, None)],
    ):
        df = spark.createDataFrame(
            rows, "id int, email string"
        ).coalesce(1)
        snapshot_write(df, path, mode="append", stats_cols=["id", "email"])


def _head_man(spark, path):
    return load_manifest(path, list_versions(path)[-1])


def test_planner_sets(spark, tmp_path):
    t = str(tmp_path / "np_sets")
    _mk(spark, t)
    man = _head_man(spark, t)
    admitted, proven = _plan(man, {"email": IS_NULL})
    assert len(admitted) == 2  # zero-null file0 excluded
    assert len(proven) == 1
    admitted, proven = _plan(man, {"email": IS_NOT_NULL})
    assert len(admitted) == 2  # all-null file2 excluded
    assert len(proven) == 1


def test_counts_and_reads(spark, tmp_path):
    t = str(tmp_path / "np_counts")
    _mk(spark, t)
    assert snapshot_agg(
        spark, t, [("count", "*")], where={"email": IS_NULL}
    )[0][0] == 4
    assert snapshot_agg(
        spark, t, [("count", "*")], where={"email": IS_NOT_NULL}
    )[0][0] == 6
    got = sorted(
        r.id
        for r in read_snapshot(spark, t, where={"email": IS_NULL}).collect()
    )
    assert got == [4, 6, 8, 9]
    # conjunction with a range
    assert (
        snapshot_agg(
            spark, t, [("count", "*")],
            where=[{"email": IS_NULL}, {"id": [0]}],
        )[0][0]
        == 5
    )


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_delete_both_strategies(spark, tmp_path, mode):
    t = str(tmp_path / f"np_del_{mode}")
    _mk(spark, t)
    pre = set(_head_man(spark, t)["files"])
    v, n = snapshot_delete(spark, t, {"email": IS_NULL}, mode=mode)
    assert n == 4
    man = _head_man(spark, t)
    # the zero-null file carried by identity under both strategies
    assert len(pre & set(man["files"])) >= 1
    if mode == "rewrite":
        # the all-null file dropped by reference, never read
        assert man.get("files_dropped_by_stats") == 1
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == [
        0, 1, 2, 3, 5, 7,
    ]


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_update_not_null(spark, tmp_path, mode):
    t = str(tmp_path / f"np_upd_{mode}")
    _mk(spark, t)
    v, n = snapshot_update(
        spark, t, {"email": IS_NOT_NULL}, {"email": "redacted"}, mode=mode,
    )
    assert n == 6
    got = {r.id: r.email for r in read_snapshot(spark, t).collect()}
    for i in range(10):
        assert got[i] == (None if i in (4, 6, 8, 9) else "redacted")


def test_legacy_and_missing_stats_are_conservative():
    """Pure-function pin: two-element (legacy) entries, absent
    entries, and absent row counts keep files as victims and prove
    NOTHING."""
    man = {
        "files": ["a", "b", "c", "d"],
        "stats": {
            "a": {"x": [1, 9, 0]},      # zero nulls, full info
            "b": {"x": [1, 9]},          # legacy: no null count
            "c": {"x": [None, None, 3]},  # all-null (3 rows)
            # d: no entry at all
        },
        "rows": {"a": 5, "b": 4, "c": 3},
        "schema": {
            "type": "struct",
            "fields": [
                {"name": "x", "type": "integer",
                 "nullable": True, "metadata": {}},
            ],
        },
    }
    assert _plan(man, {"x": IS_NULL}) == (["b", "c", "d"], ["c"])
    assert _plan(man, {"x": IS_NOT_NULL}) == (["a", "b", "d"], ["a"])
    # no recorded rows → IS NULL can't prove a whole file, and
    # IS NOT NULL can't exclude one
    man["rows"] = {}
    assert _plan(man, {"x": IS_NULL}) == (["b", "c", "d"], [])
    assert _plan(man, {"x": IS_NOT_NULL}) == (["a", "b", "c", "d"], ["a"])


def test_empty_file_matches_no_null_test():
    """A 0-row file fits both the "no row matches" and the "every row
    matches" rule of a null test; "no row" wins, so another DNF branch
    that only admits the file cannot be combined with the null test
    into a whole-file proof."""
    man = {
        "files": ["e"],
        "stats": {"e": {"x": [None, None, 0], "y": [1, 9, 0]}},
        "rows": {"e": 0},
        "schema": {"type": "struct", "fields": [
            {"name": c, "type": "integer", "nullable": True, "metadata": {}}
            for c in ("x", "y")
        ]},
    }
    for test in (IS_NULL, IS_NOT_NULL):
        assert _plan(man, {"x": test}) == ([], [])
        assert _plan(man, [{"x": test}, {"y": [5]}]) == (["e"], [])


def test_partition_column_null_test_is_exact(spark, tmp_path):
    """Partition columns have no in-file stats — the planner keeps
    every file a victim and the residual answers exactly (nulls land
    in the default partition directory)."""
    t = str(tmp_path / "np_part")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id int, p string"
    )
    snapshot_write(df, t, partition_cols=["p"])
    assert snapshot_agg(
        spark, t, [("count", "*")], where={"p": IS_NULL}
    )[0][0] == 2
    v, n = snapshot_delete(spark, t, {"p": IS_NULL})
    assert n == 2
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == [
        1, 3,
    ]


def test_initial_default_column(spark, tmp_path):
    """Rows written BEFORE an ADD COLUMN ... DEFAULT read the default
    (non-null): IS NULL matches nothing among them; without a default
    they read NULL and all match."""
    t = str(tmp_path / "np_default")
    snapshot_write(
        spark.createDataFrame([(1,), (2,)], "id int"), t, stats_cols=["id"],
    )
    snapshot_add_column(spark, t, "tier", "string", default="basic")
    snapshot_add_column(spark, t, "note", "string")
    assert snapshot_agg(
        spark, t, [("count", "*")], where={"tier": IS_NULL}
    )[0][0] == 0
    assert snapshot_agg(
        spark, t, [("count", "*")], where={"note": IS_NULL}
    )[0][0] == 2
    v, n = snapshot_delete(spark, t, {"tier": IS_NULL})
    assert n == 0
    assert read_snapshot(spark, t).count() == 2


def test_sql_null_grammar(spark, tmp_path):
    t = str(tmp_path / "np_sql")
    _mk(spark, t)
    snapshot_register(spark, t, "np_sql")
    q = "SELECT COUNT(*) FROM np_sql WHERE email IS NULL"
    assert (
        snapshot_sql(spark, q).collect()[0][0]
        == spark.sql(q).collect()[0][0]
        == 4
    )
    # NOT (IS NULL) flips to IS NOT NULL; OR unions exactly
    r = snapshot_sql(
        spark,
        "DELETE FROM np_sql WHERE NOT (email IS NOT NULL) OR id = 0",
    ).collect()[0]
    assert r.num_affected_rows == 5
    assert sorted(
        x.id for x in read_snapshot(spark, t).collect()
    ) == [1, 2, 3, 5, 7]
    # contradiction branch drops; statement is a clean no-op
    r = snapshot_sql(
        spark,
        "DELETE FROM np_sql WHERE email IS NULL AND email IS NOT NULL",
    ).collect()[0]
    assert r.num_affected_rows == 0
    with pytest.raises(SqlFrontError, match="expected NULL"):
        snapshot_sql(spark, "DELETE FROM np_sql WHERE email IS BLUE")
