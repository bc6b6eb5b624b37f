"""Range predicates through the stats-planned DML engine and the SQL
front door — the retention/TTL/GDPR sweep (``DELETE FROM t WHERE ts <
'2024-01-01'``), the single most common DML a 100 TB table sees.

What must hold (and is pinned here):
- row results ≡ the equivalent full-scan predicate under BOTH
  strategies (copy-on-write rewrite and deletion vectors);
- only stats-intersecting files rewrite — boundary files move,
  non-intersecting files carry by the SAME relpath (identity pin);
- whole-file proofs fire on clustered tables: a file whose recorded
  [min, max] sits wholly inside the predicate (zero nulls) drops by
  REFERENCE — no read, no rewrite, no tombstones;
- partition-column ranges prune and prove from directory values,
  typed by the column's declared type ('10' > '9' numerically);
- NULL semantics are SQL's (a range never matches NULL);
- timestamp bounds compare correctly across the mixed string forms
  users and isoformat produce (space vs 'T' separator, fraction
  padding) — the false-exclusion traps.
"""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest

from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    Range,
    read_snapshot,
    snapshot_delete,
    snapshot_register,
    snapshot_update,
    snapshot_versions,
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
    """Time-clustered files: file i holds ts = 2024-01-01 + [4i..4i+3]
    days — the layout a retention delete meets after ingest-by-day."""
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
        snapshot_write(
            df, path, mode="append", stats_cols=["ts", "id"],
        )


def _head_man(spark, path):
    return load_manifest(path, list_versions(path)[-1])


# ------------------------------------------------------ core semantics


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_ttl_delete_both_strategies(spark, tmp_path, mode):
    t = str(tmp_path / f"ttl_{mode}")
    _mk_ts_table(spark, t)
    pre = set(_head_man(spark, t)["files"])

    # ts < 2024-01-06: days 0..4 go — file0 [0..3] wholly inside
    # (drop by reference), file1 [4..7] boundary, file2 untouched
    v, n = snapshot_delete(
        spark, t, {"ts": Range(hi="2024-01-06", hi_inc=False)}, mode=mode,
    )
    assert n == 5
    man = _head_man(spark, t)
    # the whole-file proof fired exactly once
    assert man.get("files_dropped_by_stats") == 1
    # the non-intersecting file carried by IDENTITY (zero bytes moved)
    assert len(pre & set(man["files"])) == (1 if mode == "rewrite" else 2)
    got = sorted(r.id for r in read_snapshot(spark, t).collect())
    assert got == [5, 6, 7, 8, 9, 10, 11]


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_between_update_both_strategies(spark, tmp_path, mode):
    t = str(tmp_path / f"upd_{mode}")
    _mk_ts_table(spark, t)
    v, n = snapshot_update(
        spark, t, {"id": Range(lo=6, hi=9)}, {"fare": 0.0}, mode=mode,
    )
    assert n == 4
    got = {r.id: r.fare for r in read_snapshot(spark, t).collect()}
    for i in range(12):
        assert got[i] == (0.0 if 6 <= i <= 9 else float(i))


def test_victims_are_only_intersecting_files(spark, tmp_path):
    """The bytes pin: a bounded two-sided range that touches only the
    MIDDLE file leaves files 0 and 2 carried by identity."""
    t = str(tmp_path / "mid")
    _mk_ts_table(spark, t)
    pre = set(_head_man(spark, t)["files"])
    v, n = snapshot_delete(spark, t, {"id": Range(lo=5, hi=6)}, mode="rewrite")
    assert n == 2
    man = _head_man(spark, t)
    carried = pre & set(man["files"])
    assert len(carried) == 2  # files [0..3] and [8..11] never rewritten
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == [
        0, 1, 2, 3, 4, 7, 8, 9, 10, 11,
    ]


def test_null_rows_survive_any_range(spark, tmp_path):
    t = str(tmp_path / "nulls")
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 2), 1.0),
         (2, None, 2.0),
         (3, datetime.datetime(2024, 1, 4), 3.0)],
        "id int, ts timestamp, fare double",
    )
    snapshot_write(df, t, stats_cols=["ts", "id"])
    v, n = snapshot_delete(
        spark, t, {"ts": Range(hi="2030-01-01")}, mode="rewrite",
    )
    assert n == 2
    got = [(r.id, r.ts) for r in read_snapshot(spark, t).collect()]
    assert got == [(2, None)]


def test_all_null_file_carries(spark, tmp_path):
    """A file whose stats record only-null endpoints is excluded from
    the victim set entirely — never read, never rewritten."""
    t = str(tmp_path / "allnull")
    snapshot_write(
        spark.createDataFrame(
            [(1, 5), (2, 9)], "id int, k int"
        ).coalesce(1),
        t, stats_cols=["k"],
    )
    snapshot_write(
        spark.createDataFrame([(3, None)], "id int, k int"),
        t, mode="append", stats_cols=["k"],
    )
    pre = set(_head_man(spark, t)["files"])
    v, n = snapshot_delete(spark, t, {"k": Range(lo=0)}, mode="rewrite")
    assert n == 2
    man = _head_man(spark, t)
    # the all-null file is the ONLY survivor and it carried by identity
    assert set(man["files"]) <= pre
    assert [r.id for r in read_snapshot(spark, t).collect()] == [3]


def test_empty_range_is_noop(spark, tmp_path):
    t = str(tmp_path / "empty")
    _mk_ts_table(spark, t, n_files=1)
    head = snapshot_versions(spark, t)[-1]["version"]
    assert snapshot_delete(spark, t, {"id": Range(lo=9, hi=3)}) == (
        head, 0,
    )
    assert snapshot_delete(spark, t, {"id": Range(lo=5, hi=5, hi_inc=False)}) == (head, 0)
    # lo == hi with both ends inclusive is a real one-point range
    v, n = snapshot_delete(spark, t, {"id": Range(lo=2, hi=2)})
    assert n == 1


def test_range_validation():
    with pytest.raises(ValueError, match="at least one endpoint"):
        Range()
    with pytest.raises(ValueError, match="must be int/float"):
        Range(lo=True)
    with pytest.raises(ValueError, match="NaN"):
        Range(hi=float("nan"))
    with pytest.raises(ValueError, match="must be int/float"):
        Range(lo=[1, 2])


def test_auto_mode_dispatches(spark, tmp_path):
    """mode='auto' costs the range victims through _plan and
    picks a strategy — tiny table lands on rewrite; either way the
    rows are exact."""
    t = str(tmp_path / "auto")
    _mk_ts_table(spark, t)
    v, n = snapshot_delete(spark, t, {"id": Range(lo=10)})
    assert n == 2
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == list(
        range(10)
    )


# ------------------------------------------- type-aware stat compares


def test_timestamp_space_form_bound_no_false_exclusion(spark, tmp_path):
    """Stats store isoformat ('2024-01-01T12:00:00'); SQL users write
    space-form ('2024-01-01 12:00:00'). Lexicographically space < 'T',
    so an uncanonicalized compare would falsely exclude same-day
    files. Both forms must select the same victims and rows."""
    t = str(tmp_path / "tscanon")
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 5)),
         (2, datetime.datetime(2024, 1, 1, 12)),
         (3, datetime.datetime(2024, 1, 1, 23))],
        "id int, ts timestamp",
    ).coalesce(1)
    snapshot_write(df, t, stats_cols=["ts"])
    v, n = snapshot_delete(
        spark, t,
        {"ts": Range(hi="2024-01-01 12:00:00")},  # space form, inclusive
        mode="rewrite",
    )
    assert n == 2  # 05:00 and 12:00 — the 12:00 boundary row included
    assert [r.id for r in read_snapshot(spark, t).collect()] == [3]


def test_timestamp_fraction_padding_boundary(spark, tmp_path):
    """isoformat pads microseconds to 6 digits ('.100000'); a user
    bound of '.1' must compare equal at the boundary, not sort before
    it ('.1' < '.100000' lexicographically)."""
    t = str(tmp_path / "tsfrac")
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 0, 0, 0, 100000)),
         (2, datetime.datetime(2024, 1, 1, 0, 0, 0, 200000))],
        "id int, ts timestamp",
    ).coalesce(1)
    snapshot_write(df, t, stats_cols=["ts"])
    # lo = the .1s boundary, inclusive: file min == bound must stay a
    # victim and BOTH rows must go
    v, n = snapshot_delete(
        spark, t, {"ts": Range(lo="2024-01-01 00:00:00.1")}, mode="rewrite",
    )
    assert n == 2
    assert read_snapshot(spark, t).count() == 0


def test_date_column_string_bound_truncates_like_spark(spark, tmp_path):
    """Spark casts a string literal to DATE by truncating the time
    part; the planner must reproduce that, not compare the raw
    string."""
    t = str(tmp_path / "datecast")
    base = datetime.date(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, base + datetime.timedelta(days=i)) for i in range(4)],
        "id int, day date",
    ).coalesce(1)
    snapshot_write(df, t, stats_cols=["day"])
    # '2024-01-02 23:59:59' casts to date 2024-01-02; >= keeps 01-02+
    v, n = snapshot_delete(
        spark, t, {"day": Range(lo="2024-01-02 23:59:59")}, mode="rewrite",
    )
    assert n == 3  # days 1, 2, 3 (indices) — 01-02, 01-03, 01-04
    assert [r.id for r in read_snapshot(spark, t).collect()] == [0]


def test_decimal_bounds_stay_exact(spark, tmp_path):
    """Decimal stats are stored float-widened; the planner widens
    query bounds the opposite way, so rows stay exact and proofs
    never over-fire."""
    t = str(tmp_path / "dec")
    df = spark.createDataFrame(
        [(i, Decimal(f"{i}.25")) for i in range(8)],
        "id int, amt decimal(10,2)",
    )
    snapshot_write(df.repartition(2, "id"), t, stats_cols=["amt"])
    v, n = snapshot_delete(
        spark, t, {"amt": Range(hi=Decimal("3.25"))}, mode="rewrite",
    )
    assert n == 4  # 0.25, 1.25, 2.25, 3.25 (inclusive boundary)
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == [
        4, 5, 6, 7,
    ]


def test_string_column_range(spark, tmp_path):
    t = str(tmp_path / "strcol")
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(["apple", "banana", "cherry", "date"])],
        "id int, w string",
    ).coalesce(1)
    snapshot_write(df, t, stats_cols=["w"])
    v, n = snapshot_delete(
        spark, t, {"w": Range(lo="b", hi="d", hi_inc=False)}, mode="rewrite",
    )
    assert n == 2  # banana, cherry
    assert sorted(r.w for r in read_snapshot(spark, t).collect()) == [
        "apple", "date",
    ]


def test_incomparable_bound_is_conservative_not_wrong(spark, tmp_path):
    """A string bound on an int column: the planner refuses to prune
    (every file a victim) and Spark's row-level coercion decides —
    rows exact either way."""
    t = str(tmp_path / "coerce")
    snapshot_write(
        spark.createDataFrame(
            [(i,) for i in range(6)], "id int"
        ).coalesce(1),
        t, stats_cols=["id"],
    )
    v, n = snapshot_delete(spark, t, {"id": Range(hi="3")}, mode="rewrite")
    assert n == 4  # Spark casts '3' to int: 0..3 match
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == [4, 5]


# ------------------------------------------------ partition-dir ranges


def test_int_partition_range_typed_compare(spark, tmp_path):
    """month <= 9 on an int-partitioned table must NOT sweep
    month=10..12 (the lexicographic '10' < '9' trap) and must drop
    the matching directories by reference (dir proof, zero rewrites)."""
    t = str(tmp_path / "intpart")
    rows = [(2 * m + i, m, f"m{m}") for m in range(1, 13) for i in (0, 1)]
    snapshot_write(
        spark.createDataFrame(rows, "id int, month int, s string"),
        t, partition_cols=["month"], stats_cols=["id"],
    )
    snapshot_write(
        spark.createDataFrame([(99, None, "nm")], "id int, month int, s string"),
        t, mode="append", partition_cols=["month"], stats_cols=["id"],
    )
    pre = set(_head_man(spark, t)["files"])
    v, n = snapshot_delete(spark, t, {"month": Range(hi=9)}, mode="rewrite")
    assert n == 18  # months 1..9, two rows each
    man = _head_man(spark, t)
    # every victim directory was PROVEN by its value: zero rewrites
    assert man.get("files_dropped_by_stats") == 9
    assert set(man["files"]) <= pre  # survivors carried by identity
    months = {r.month for r in read_snapshot(spark, t).collect()}
    assert months == {10, 11, 12, None}  # null partition survives


def test_date_partition_ttl(spark, tmp_path):
    t = str(tmp_path / "datepart")
    base = datetime.date(2024, 1, 1)
    rows = [(i, base + datetime.timedelta(days=i)) for i in range(6)]
    snapshot_write(
        spark.createDataFrame(rows, "id int, day date"),
        t, partition_cols=["day"], stats_cols=["id"],
    )
    v, n = snapshot_delete(
        spark, t, {"day": Range(hi="2024-01-03", hi_inc=False)},
        mode="rewrite",
    )
    assert n == 2
    assert _head_man(spark, t).get("files_dropped_by_stats") == 2
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == [
        2, 3, 4, 5,
    ]


def test_partition_range_after_layout_evolution(spark, tmp_path):
    """Files written before a layout evolution don't encode the
    partition column in directories — they must STAY victim candidates
    (row-exact results) and never be dir-proof dropped."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_set_layout,
    )

    t = str(tmp_path / "evolved")
    snapshot_write(
        spark.createDataFrame(
            [(1, 1), (2, 9)], "id int, month int"
        ).coalesce(1),
        t, stats_cols=["id"],
    )
    snapshot_set_layout(spark, t, ["month"])
    snapshot_write(
        spark.createDataFrame([(3, 1), (4, 9)], "id int, month int"),
        t, mode="append", partition_cols=["month"], stats_cols=["id"],
    )
    v, n = snapshot_delete(spark, t, {"month": Range(hi=5)}, mode="rewrite")
    assert n == 2  # ids 1 (old-layout data row) and 3 (dir-encoded)
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == [2, 4]


# --------------------------------------------------- SQL front door


@pytest.fixture()
def sql_table(spark, tmp_path):
    t = str(tmp_path / "trips")
    _mk_ts_table(spark, t)
    snapshot_register(spark, t, "trips")
    yield t
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        _SQL_REGISTRY,
    )

    _SQL_REGISTRY.pop("trips", None)


def test_sql_ttl_delete(spark, sql_table):
    r = snapshot_sql(
        spark, "DELETE FROM trips WHERE ts < '2024-01-06'"
    ).collect()[0]
    assert r.num_affected_rows == 5
    got = sorted(x.id for x in spark.sql("SELECT id FROM trips").collect())
    assert got == [5, 6, 7, 8, 9, 10, 11]
    # the whole-file drop fired through SQL too
    assert (
        _head_man(spark, sql_table).get("files_dropped_by_stats") == 1
    )


def test_sql_between_update(spark, sql_table):
    r = snapshot_sql(
        spark, "UPDATE trips SET fare = 0.0 WHERE id BETWEEN 6 AND 9"
    ).collect()[0]
    assert r.num_affected_rows == 4
    got = {x.id: x.fare for x in spark.sql("SELECT id, fare FROM trips").collect()}
    assert all(got[i] == 0.0 for i in (6, 7, 8, 9))
    assert got[5] == 5.0 and got[10] == 10.0


def test_sql_merged_bounds_and_in_intersection(spark, sql_table):
    r = snapshot_sql(
        spark,
        "DELETE FROM trips WHERE ts >= '2024-01-08' AND ts < '2024-01-10'",
    ).collect()[0]
    assert r.num_affected_rows == 2  # days 7, 8 (ids 7, 8)
    r = snapshot_sql(
        spark, "DELETE FROM trips WHERE id IN (0, 1, 11) AND id > 0"
    ).collect()[0]
    assert r.num_affected_rows == 2  # 1 and 11
    # two lower bounds tighten to the stricter one (>= 10)
    r = snapshot_sql(
        spark, "DELETE FROM trips WHERE id > 2 AND id >= 10"
    ).collect()[0]
    assert r.num_affected_rows == 1  # only 10 remains in [10, ∞)
    got = sorted(x.id for x in spark.sql("SELECT id FROM trips").collect())
    assert got == [0, 2, 3, 4, 5, 6, 9]


def test_sql_range_refusals(spark, sql_table):
    # <> and OR are SUPPORTED as of round 11 (DNF planner) — the
    # refusals left are NULL bounds/members and incomparable literals
    for bad in (
        "DELETE FROM trips WHERE id < NULL",
        "DELETE FROM trips WHERE id < 'x' AND id IN (1, 2)",
        "DELETE FROM trips WHERE id != NULL",
        "DELETE FROM trips WHERE id BETWEEN 1 AND NULL",
        "DELETE FROM trips WHERE id NOT IN (3, NULL)",
    ):
        with pytest.raises(SqlFrontError):
            snapshot_sql(spark, bad)
    # nothing mutated by the refusals
    assert spark.sql("SELECT count(*) c FROM trips").collect()[0].c == 12


# ----------------------------------- round-10 review-pass regressions


def test_malformed_date_bound_never_drops_files(spark, tmp_path):
    """Spark rejects '2024-01-153' as a date (probed; only a T/space
    separator may follow the day segment): ANSI sessions THROW at the
    cast, permissive ones match nothing. A naive [:10] slice would
    read it as 2024-01-15 and let the METADATA-ONLY whole-file proof
    DROP files whose rows don't match — silent loss with no cast ever
    evaluated. The planner must refuse to prune on such a bound, so
    the row-level predicate keeps Spark's own semantics (here: the
    ANSI error, with NOTHING committed)."""
    t = str(tmp_path / "badcast")
    base = datetime.date(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, base + datetime.timedelta(days=i)) for i in range(4)],
        "id int, day date",
    ).coalesce(1)
    snapshot_write(df, t, stats_cols=["day"])
    head = snapshot_versions(spark, t)[-1]["version"]
    for bad in ("2024-01-153", "2024-01-02x"):
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            snapshot_delete(
                spark, t, {"day": Range(hi=bad, hi_inc=False)}, mode="rewrite",
            )
        # nothing committed, nothing dropped
        assert snapshot_versions(spark, t)[-1]["version"] == head
        assert read_snapshot(spark, t).count() == 4
    # the legitimate truncating forms still prune/match exactly
    v, n = snapshot_delete(
        spark, t, {"day": Range(hi="2024-01-02 23:59:59")}, mode="rewrite",
    )
    assert n == 2


def test_mixed_timestamp_literal_forms_refuse_merge(spark, sql_table):
    """' ' and 'T' separator forms order differently as strings than
    as timestamps; merging two bounds (or filtering an IN list) on
    that ambiguity could keep the LOOSER bound — must refuse, not
    guess."""
    for bad in (
        "DELETE FROM trips WHERE ts > '2024-01-01 12:00:00' "
        "AND ts > '2024-01-01T05:00:00'",
        # raw string order puts ' 13:00' BELOW 'T12:00' (space < 'T'),
        # chronology puts it above — filtering the IN value either way
        # would be wrong for one column type
        "DELETE FROM trips WHERE ts IN ('2024-01-01 13:00:00') "
        "AND ts <= '2024-01-01T12:00:00'",
    ):
        with pytest.raises(SqlFrontError, match="ambiguous"):
            snapshot_sql(spark, bad)
    # consistent forms merge fine
    r = snapshot_sql(
        spark,
        "DELETE FROM trips WHERE ts > '2024-01-01 12:00:00' "
        "AND ts > '2024-01-05 00:00:00'",
    ).collect()[0]
    assert r.num_affected_rows == 7  # strictly after Jan 5 midnight
    assert spark.sql("SELECT count(*) c FROM trips").collect()[0].c == 5


def test_string_column_ts_shaped_range_not_falsely_empty(spark, tmp_path):
    """On a STRING column Spark compares raw bytes: lo='...( )12:00'
    < hi='...T05:00' (space < 'T'), so the range is NON-empty even
    though chronologically lo > hi. A type-blind canonical emptiness
    check would silently no-op the delete."""
    t = str(tmp_path / "strts")
    df = spark.createDataFrame(
        [(1, "2024-01-01 13:00:00"), (2, "2024-01-01 01:00:00"),
         (3, "zzz")],
        "id int, s string",
    ).coalesce(1)
    snapshot_write(df, t, stats_cols=["s"])
    rng = Range(lo="2024-01-01 12:00:00", hi="2024-01-01T05:00:00")
    assert not rng.is_empty()
    v, n = snapshot_delete(spark, t, {"s": rng}, mode="rewrite")
    assert n == 1  # only ' 13:00:00' sits between the RAW bounds
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == [2, 3]
    # genuinely empty stays a no-op in both orders
    assert Range(lo=9, hi=3).is_empty()
    assert Range(
        lo="2024-01-01T12:00:00", hi="2024-01-01T05:00:00"
    ).is_empty()


# ------------------------------------ metadata-only predicate COUNT


def test_count_where_scans_only_boundary_files(spark, tmp_path, monkeypatch):
    """COUNT(*) under a range opens ONLY the boundary file: excluded
    files contribute 0 from stats, proven files contribute recorded
    footer counts — the read-side twin of the DML victim planner."""
    import nyc_taxi_data_warehouse_spark.warehouse.snapshots as S

    t = str(tmp_path / "cntw")
    _mk_ts_table(spark, t)  # files [0..3], [4..7], [8..11]
    calls: list = []
    orig = S._read_file_list

    def spy(spark_, path_, files_, *a, **k):
        calls.append(sorted(files_))
        return orig(spark_, path_, files_, *a, **k)

    monkeypatch.setattr(S, "_read_file_list", spy)
    # boundary lands in file1: file0 proven, file2 excluded
    n = S.snapshot_agg(
        spark, t,
        [("count", "*")],
        where={"ts": Range(hi="2024-01-06", hi_inc=False)},
    )[0][0]
    assert n == 5
    assert len(calls) == 1 and len(calls[0]) == 1
    # fully excluded: zero files opened
    calls.clear()
    assert S.snapshot_agg(
        spark, t, [("count", "*")], where={"ts": Range(lo="2030-01-01")}
    )[0][0] == 0
    assert calls == []
    # fully proven: zero files opened
    calls.clear()
    assert S.snapshot_agg(
        spark, t, [("count", "*")], where={"id": Range(lo=0, hi=11)}
    )[0][0] == 12
    assert calls == []
    # IN predicates plan through the same machinery
    calls.clear()
    assert S.snapshot_agg(
        spark, t, [("count", "*")], where={"id": [5, 6, 99]}
    )[0][0] == 2
    assert len(calls) == 1 and len(calls[0]) == 1
    # empty range short-circuits
    calls.clear()
    assert S.snapshot_agg(
        spark, t, [("count", "*")], where={"id": Range(lo=9, hi=3)}
    )[0][0] == 0
    assert calls == []


def test_count_where_partition_dirs_prove_without_scanning(
    spark, tmp_path, monkeypatch
):
    import nyc_taxi_data_warehouse_spark.warehouse.snapshots as S

    t = str(tmp_path / "cntp")
    rows = [(2 * m + i, m) for m in range(1, 13) for i in (0, 1)]
    snapshot_write(
        spark.createDataFrame(rows, "id int, month int"),
        t, partition_cols=["month"], stats_cols=["id"],
    )
    calls: list = []
    orig = S._read_file_list

    def spy(spark_, path_, files_, *a, **k):
        calls.append(sorted(files_))
        return orig(spark_, path_, files_, *a, **k)

    monkeypatch.setattr(S, "_read_file_list", spy)
    # typed dir compare: month <= 9 must not sweep 10..12, and the
    # directory IS the proof — zero files opened
    assert S.snapshot_agg(
        spark, t, [("count", "*")], where={"month": Range(hi=9)}
    )[0][0] == 18
    assert calls == []


def test_count_where_exact_under_dv_and_eq_deletes(spark, tmp_path):
    from nyc_taxi_data_warehouse_spark.warehouse.eqdeletes import (
        snapshot_delete_keys,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import snapshot_agg

    t = str(tmp_path / "cntdv")
    _mk_ts_table(spark, t)
    # DV-tombstone a row inside the PROVEN file: recorded count minus
    # tombstones stays exact without opening the file
    snapshot_delete(spark, t, {"id": [1]}, mode="dv")
    assert snapshot_agg(
        spark, t, [("count", "*")], where={"id": Range(lo=0, hi=3)}
    )[0][0] == 3
    # an outstanding equality delete makes the affected file
    # unprovable from metadata — it scans, and the count stays exact
    snapshot_delete_keys(
        spark, t, spark.createDataFrame([(9,)], "id int")
    )
    assert snapshot_agg(
        spark, t, [("count", "*")], where={"id": Range(lo=8, hi=11)}
    )[0][0] == 3
    assert snapshot_agg(
        spark, t, [("count", "*")], where={"id": Range(lo=0, hi=3)}
    )[0][0] == 3


def test_count_where_cli(spark, tmp_path, capsys):
    import json

    from nyc_taxi_data_warehouse_spark.__main__ import main

    t = str(tmp_path / "cntcli")
    _mk_ts_table(spark, t)
    main(
        [
            "snapshot-count", "--table-path", t,
            "--where", '{"ts": {"hi": "2024-01-06", "hi_inc": false}}',
        ],
        spark=spark,
    )
    assert json.loads(capsys.readouterr().out.strip()) == {"rows": 5}
    main(
        ["snapshot-count", "--table-path", t, "--where", '{"id": [5, 6]}'],
        spark=spark,
    )
    assert json.loads(capsys.readouterr().out.strip()) == {"rows": 2}


def test_count_where_cli_bad_range_key_exits_cleanly(spark, tmp_path):
    from nyc_taxi_data_warehouse_spark.__main__ import main

    t = str(tmp_path / "cntbad")
    _mk_ts_table(spark, t, n_files=1)
    with pytest.raises(SystemExit, match="range spec"):
        main(
            [
                "snapshot-count", "--table-path", t,
                "--where", '{"ts": {"high": "2024-01-01"}}',
            ],
            spark=spark,
        )


# --------------------------------------- manifest-pruned WHERE reads


def test_read_where_opens_only_admitting_files(spark, tmp_path, monkeypatch):
    """read_snapshot(where=): the scan twin — excluded files never open,
    results exactly equal the full-scan filter."""
    import nyc_taxi_data_warehouse_spark.warehouse.snapshots as S

    t = str(tmp_path / "rdw")
    _mk_ts_table(spark, t)
    calls: list = []
    orig = S._read_file_list

    def spy(spark_, path_, files_, *a, **k):
        calls.append(sorted(files_))
        return orig(spark_, path_, files_, *a, **k)

    monkeypatch.setattr(S, "_read_file_list", spy)
    df = S.read_snapshot(
        spark, t, where={"ts": Range(hi="2024-01-06", hi_inc=False)},
    )
    got = sorted(r.id for r in df.collect())
    assert got == [0, 1, 2, 3, 4]
    # two intersecting files opened, the third excluded from metadata
    assert len(calls) == 1 and len(calls[0]) == 2
    # conjunction with IN; empty range short-circuits without a read
    calls.clear()
    df = S.read_snapshot(
        spark, t, where={"id": [2, 3, 9], "ts": Range(lo="2024-01-03")},
    )
    # id 2's ts is exactly Jan 3 midnight — the inclusive lo keeps it
    assert sorted(r.id for r in df.collect()) == [2, 3, 9]
    calls.clear()
    assert S.read_snapshot(spark, t, where={"id": Range(lo=9, hi=3)}).count() == 0
    assert calls == []


@pytest.mark.slowproof
def test_read_where_applies_dv_and_defaults(spark, tmp_path):
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_add_column,
    )

    t = str(tmp_path / "rdw2")
    _mk_ts_table(spark, t)
    snapshot_delete(spark, t, {"id": [2]}, mode="dv")
    snapshot_add_column(spark, t, "src", "string", default="bulk")
    df = read_snapshot(spark, t, where={"id": Range(lo=0, hi=3)})
    got = sorted((r.id, r.src) for r in df.collect())
    # tombstoned row invisible; initial default fills pre-add rows
    assert got == [(0, "bulk"), (1, "bulk"), (3, "bulk")]
