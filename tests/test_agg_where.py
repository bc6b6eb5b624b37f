"""``snapshot_agg`` — metadata-planned MIN/MAX/SUM/COUNT, flat and
grouped, under plannable predicates.

Contract pinned here:
- values ≡ a full-scan oracle (read everything, apply the row-level
  predicate, aggregate) for every supported type — int, long, double,
  decimal, date, timestamp, string — under ranges, IN lists, null
  tests, DNF disjunctions, and no predicate at all;
- files whose stats prove the whole answer are NEVER OPENED (the
  monkeypatched-reader pin, like ``test_count_where_scans_only_
  boundary_files``);
- exactness rules route to the scan instead of answering wrong:
  Decimal MIN/MAX (stats endpoints are outward-widened floats), files
  under DV tombstones or equality deletes, legacy stats without
  recorded sums, partition columns (no data-file stats);
- SQL NULL semantics: MIN/MAX/SUM over zero matching non-null rows
  return None, COUNT returns 0;
- type stability: the same answer has the same Spark type whether it
  came from metadata or from the scan (no ISO strings for dates, no
  widened floats for Decimals).
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.warehouse import snapshots as snap
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    IS_NOT_NULL,
    IS_NULL,
    Range,
    _match_expr,
    read_snapshot,
    snapshot_agg,
    snapshot_delete,
    snapshot_write,
)

SCHEMA = (
    "id int, ts timestamp, d date, dec decimal(10,2), x double, s string"
)
COLS = ["id", "ts", "d", "dec", "x", "s"]
BASE = datetime.datetime(2024, 1, 1)


def _mk(spark, path, n_files=3, rows_per=6, nulls=True):
    for fi in range(n_files):
        rows = []
        for j in range(rows_per):
            i = fi * rows_per + j
            null_here = nulls and (i % 5 == 4)
            rows.append(
                (
                    i,
                    None if null_here else BASE + datetime.timedelta(
                        hours=i, microseconds=i * 137
                    ),
                    None if null_here else (
                        BASE + datetime.timedelta(days=i)
                    ).date(),
                    None if null_here else Decimal(i * 7) / 100,
                    None if null_here else i * 0.25,
                    None if null_here else f"s{i:03d}",
                )
            )
        df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
        snapshot_write(df, path, mode="append", stats_cols=COLS)


ALL_AGGS = [
    ("count", "*"), ("count", "x"), ("min", "id"), ("max", "id"),
    ("sum", "id"), ("min", "x"), ("max", "x"), ("sum", "x"),
    ("min", "dec"), ("max", "dec"), ("sum", "dec"),
    ("min", "ts"), ("max", "ts"), ("min", "d"), ("max", "d"),
    ("min", "s"), ("max", "s"),
]


def _oracle(spark, path, preds):
    df = read_snapshot(spark, path)
    if preds is not None:
        sp = snap._sanitize_predicates(preds)
        df = df.where(_match_expr(sp)) if sp else df.limit(0)
    exprs = []
    for k, (f, c) in enumerate(ALL_AGGS):
        col = F.lit(1) if c == "*" else F.col(c)
        exprs.append(getattr(F, f)(col).alias(f"_a{k}"))
    r = df.agg(*exprs).first()
    return [r[f"_a{k}"] for k in range(len(ALL_AGGS))]


def _assert_same(got, want, preds):
    assert len(got) == len(want)
    for g, w, a in zip(got, want, ALL_AGGS):
        if isinstance(g, float) and isinstance(w, float):
            assert math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-12), (
                a, g, w, preds
            )
        else:
            assert g == w, (a, g, w, preds)


PREDS = [
    None,
    {"id": Range(lo=4, hi=12)},
    {"id": Range(lo=4, hi=12, lo_inc=False, hi_inc=False)},
    {"ts": Range(hi="2024-01-01 09:00:00")},
    {"d": Range(lo=datetime.date(2024, 1, 5))},
    {"dec": Range(lo=Decimal("0.10"), hi=Decimal("0.70"))},
    {"x": [1.0, 2.5, 3.0, None]},
    {"s": IS_NULL},
    {"s": IS_NOT_NULL, "id": Range(lo=2)},
    [{"id": Range(hi=3)}, {"x": Range(lo=3.0)}],  # DNF
    {"id": Range(lo=100)},  # matches nothing
    {"id": Range(lo=10, hi=2)},  # provably empty
]


@pytest.mark.parametrize("pi", range(len(PREDS)))
@pytest.mark.slowproof
def test_agg_matches_full_scan(spark, tmp_path, pi):
    t = str(tmp_path / f"agw_{pi}")
    _mk(spark, t)
    preds = PREDS[pi]
    got = snapshot_agg(spark, t, ALL_AGGS, where=preds)[0]
    _assert_same(got, _oracle(spark, t, preds), preds)


def test_proven_files_never_open(spark, tmp_path, monkeypatch):
    """A range wholly covering clean statted files answers MIN/MAX/
    SUM/COUNT from metadata alone — no file opens at all; a boundary
    range opens ONLY the boundary file."""
    t = str(tmp_path / "agw_pin")
    _mk(spark, t, nulls=False)  # clean: every file has exact stats

    opened: list[list[str]] = []
    real = snap._read_file_list

    def spy(spark_, path_, files_, *a, **kw):
        opened.append(sorted(files_))
        return real(spark_, path_, files_, *a, **kw)

    monkeypatch.setattr(snap, "_read_file_list", spy)

    aggs = [("min", "id"), ("max", "id"), ("sum", "id"), ("count", "*"),
            ("count", "id")]
    # file boundaries at id: [0..5], [6..11], [12..17]
    got = snapshot_agg(spark, t, aggs, where={"id": Range(lo=0, hi=11)})[0]
    assert got == (0, 11, 66, 12, 12)
    assert opened == [], "whole-file-proven aggregate opened files"

    # boundary at id=8: file1 scans, file0 stays metadata
    got = snapshot_agg(spark, t, aggs, where={"id": Range(lo=0, hi=8)})[0]
    assert got == (0, 8, 36, 9, 9)
    assert len(opened) == 1 and len(opened[0]) == 1, opened

    # no predicate on a clean table: pure metadata
    opened.clear()
    got = snapshot_agg(spark, t, aggs)[0]
    assert got == (0, 17, 153, 18, 18)
    assert opened == []


def test_decimal_minmax_scans_but_sum_does_not(spark, tmp_path, monkeypatch):
    """Decimal stats endpoints are outward-widened floats — answering
    MIN/MAX from them would return a value not in the data, so those
    scan; Decimal SUM answers from the exactly-recorded per-file sums."""
    t = str(tmp_path / "agw_dec")
    _mk(spark, t, nulls=False)

    opened: list[list[str]] = []
    real = snap._read_file_list

    def spy(spark_, path_, files_, *a, **kw):
        opened.append(sorted(files_))
        return real(spark_, path_, files_, *a, **kw)

    monkeypatch.setattr(snap, "_read_file_list", spy)

    (s,) = snapshot_agg(spark, t, [("sum", "dec")])[0]
    assert s == sum(Decimal(i * 7) / 100 for i in range(18))
    assert opened == []

    lo, hi = snapshot_agg(spark, t, [("min", "dec"), ("max", "dec")])[0]
    assert (lo, hi) == (Decimal("0.00"), Decimal("1.19"))
    assert len(opened) == 1  # exact values need the scan


def test_minmax_types_stable_across_dv_delete(spark, tmp_path):
    """MIN/MAX of a date and a decimal(7,2) column come back as
    ``datetime.date`` / ``Decimal`` equal to a scan's answer both while
    every file answers from stats and after a DV delete forces the
    tombstoned file to scan — never an ISO string from the stats image
    or the outward-widened float recorded for Decimal endpoints."""
    t = str(tmp_path / "agw_types")
    for fi in range(3):
        rows = [
            (i, datetime.date(2024, 1, 1 + i), Decimal(i) + Decimal("0.37"))
            for i in range(3 * fi, 3 * fi + 3)
        ]
        snapshot_write(
            spark.createDataFrame(
                rows, "id int, d date, amt decimal(7,2)"
            ).coalesce(1),
            t, mode="append", stats_cols=["id", "d", "amt"],
        )
    aggs = [("min", "d"), ("max", "d"), ("min", "amt"), ("max", "amt")]

    def check():
        [got] = snapshot_agg(spark, t, aggs)
        want = tuple(
            read_snapshot(spark, t).agg(
                *[getattr(F, f)(c) for f, c in aggs]
            ).first()
        )
        assert got == want
        assert [type(v) for v in got] == [
            datetime.date, datetime.date, Decimal, Decimal
        ]

    check()
    snapshot_delete(spark, t, {"id": [4]}, mode="dv")  # middle row
    check()


@pytest.mark.slowproof
def test_dv_and_eq_deletes_route_to_scan(spark, tmp_path):
    """Outstanding DV tombstones / equality deletes make metadata
    unprovable for the touched files — results stay exact (≡ oracle)
    because those files scan."""
    t = str(tmp_path / "agw_dv")
    _mk(spark, t, nulls=False)
    snapshot_delete(spark, t, {"id": [7]}, mode="dv")
    preds = {"id": Range(lo=0, hi=14)}
    got = snapshot_agg(spark, t, ALL_AGGS, where=preds)[0]
    _assert_same(got, _oracle(spark, t, preds), preds)
    # equality delete on top
    from nyc_taxi_data_warehouse_spark.warehouse.eqdeletes import (
        snapshot_delete_keys,
    )

    snapshot_delete_keys(spark, t, spark.createDataFrame([(13,)], "id int"))
    got = snapshot_agg(spark, t, ALL_AGGS, where=preds)[0]
    _assert_same(got, _oracle(spark, t, preds), preds)


def test_legacy_stats_without_sums_stay_exact(spark, tmp_path):
    """Manifests written before per-file sums existed (3-element stats
    entries) still answer correctly — SUM just scans."""
    t = str(tmp_path / "agw_leg")
    real = snap.collect_file_stats

    def strip_sums(*a, **kw):
        out = real(*a, **kw)
        return {
            f: {c: e[:3] for c, e in cols.items()}
            for f, cols in out.items()
        }

    import unittest.mock as mock

    with mock.patch.object(snap, "collect_file_stats", strip_sums):
        _mk(spark, t, nulls=False)
    preds = {"id": Range(lo=0, hi=11)}
    got = snapshot_agg(
        spark, t, [("sum", "id"), ("min", "id"), ("count", "*")], where=preds
    )[0]
    assert got == (66, 0, 12)


def test_empty_and_allnull_semantics(spark, tmp_path):
    t = str(tmp_path / "agw_null")
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, None)], "id int, x double"
    )
    snapshot_write(df, t, stats_cols=["id", "x"])
    got = snapshot_agg(
        spark, t,
        [("min", "x"), ("max", "x"), ("sum", "x"), ("count", "x"),
         ("count", "*")],
    )[0]
    assert got == (None, None, None, 0, 3)
    # predicate matching nothing
    got = snapshot_agg(
        spark, t,
        [("min", "id"), ("sum", "id"), ("count", "*")],
        where={"id": [99]},
    )[0]
    assert got == (None, None, 0)


def test_refusals(spark, tmp_path):
    t = str(tmp_path / "agw_ref")
    _mk(spark, t, n_files=1)
    with pytest.raises(ValueError, match="func"):
        snapshot_agg(spark, t, [("avg", "x")])
    with pytest.raises(ValueError, match="numeric"):
        snapshot_agg(spark, t, [("sum", "s")])
    with pytest.raises(ValueError, match="unknown column"):
        snapshot_agg(spark, t, [("min", "nope")])
    with pytest.raises(ValueError, match="count"):
        snapshot_agg(spark, t, [("min", "*")])


def test_partition_column_aggs_stay_exact(spark, tmp_path):
    """Aggregates over partition columns stay exact whether they
    answer from directory values (full-match files) or the residual
    scan (boundary files, as here — the id range splits every
    partition file)."""
    t = str(tmp_path / "agw_part")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "id int, bucket int, x double",
    )
    snapshot_write(
        df, t, partition_cols=["bucket"], stats_cols=["id", "x"],
    )
    got = snapshot_agg(
        spark, t,
        [("min", "bucket"), ("max", "bucket"), ("sum", "x")],
        where={"id": Range(lo=10)},
    )[0]
    assert got[0] == 0 and got[1] == 2
    assert got[2] == sum(float(i) for i in range(10, 30))


def test_agg_where_cli(spark, tmp_path, capsys):
    """`snapshot-agg` CLI: JSON keyed func(col), Decimal/datetime
    encoded as strings, --where sharing the count-where decoder."""
    import json

    from nyc_taxi_data_warehouse_spark.__main__ import main

    t = str(tmp_path / "agwcli")
    _mk(spark, t)
    main(
        [
            "snapshot-agg", "--table-path", t,
            "--aggs", "min:id,max:id,sum:x,count:*",
            "--where", '{"id": {"hi": 9}}',
        ],
        spark=spark,
    )
    out = json.loads(capsys.readouterr().out.strip())
    assert out["min(id)"] == 0 and out["max(id)"] == 9
    assert out["count(1)" if "count(1)" in out else "count(*)"] == 10
    main(
        ["snapshot-agg", "--table-path", t, "--aggs", "min:ts,sum:dec"],
        spark=spark,
    )
    out = json.loads(capsys.readouterr().out.strip())
    assert isinstance(out["min(ts)"], str) and out["min(ts)"].startswith(
        "2024-01-01"
    )
    assert isinstance(out["sum(dec)"], str)
    with pytest.raises(SystemExit, match="func:col"):
        main(
            ["snapshot-agg", "--table-path", t, "--aggs", "min"],
            spark=spark,
        )
    with pytest.raises(SystemExit, match="agg func"):
        main(
            ["snapshot-agg", "--table-path", t, "--aggs", "avg:id"],
            spark=spark,
        )


# ------------------------------------------ round-11 review findings


def test_wide_decimal_sum_combines_at_full_precision(spark, tmp_path):
    """REVIEW r11: the Decimal combine must not run under the ambient
    context (prec=28) — a 29-digit total would silently round,
    violating the never-approximate contract."""
    t = str(tmp_path / "agw_wide")
    big = 10 ** 28
    snapshot_write(
        spark.createDataFrame(
            [(1, Decimal(big // 2)), (2, Decimal(big // 2))],
            "id int, v decimal(30,0)",
        ).coalesce(1),
        t, stats_cols=["id", "v"],
    )
    snapshot_write(
        spark.createDataFrame([(3, Decimal(7))], "id int, v decimal(30,0)"),
        t, mode="append", stats_cols=["id", "v"],
    )
    got = snapshot_agg(spark, t, [("sum", "v")])[0]
    assert got[0] == Decimal(big + 7)  # the +7 must survive


def test_lossy_stat_image_types_route_to_scan(spark, tmp_path):
    """REVIEW r11: MIN/MAX over a type whose stats image is str(v)
    (binary here) must scan — the lexicographic string order of
    ``str(bytearray(...))`` is not the value order, and the combined
    result must come back Spark-typed, not as a repr string."""
    t = str(tmp_path / "agw_bin")
    snapshot_write(
        spark.createDataFrame(
            [(1, bytearray(b"\x02")), (2, bytearray(b"\x05"))],
            "id int, b binary",
        ).coalesce(1),
        t, stats_cols=["id", "b"],
    )
    snapshot_write(
        spark.createDataFrame(
            [(3, bytearray(b"\x10"))], "id int, b binary"
        ),
        t, mode="append", stats_cols=["id", "b"],
    )
    mn, mx = snapshot_agg(spark, t, [("min", "b"), ("max", "b")])[0]
    assert bytes(mn) == b"\x02" and bytes(mx) == b"\x10"
    assert not isinstance(mx, str)


def test_null_recorded_sum_without_allnull_proof_scans(
    spark, tmp_path, monkeypatch
):
    """REVIEW r11: a recorded-NULL per-file sum only proves 'no
    non-null rows' when the null count equals the row count; any
    other NULL (overflow under a non-ANSI writer, non-summable
    oddity) must route the file to the scan and stay exact."""
    t = str(tmp_path / "agw_nullsum")
    monkeypatch.setattr(snap, "_stat_sum_norm", lambda v: None)
    snapshot_write(
        spark.createDataFrame(
            [(1, 10), (2, 20)], "id int, v int"
        ).coalesce(1),
        t, stats_cols=["id", "v"],
    )
    monkeypatch.undo()
    calls = []
    orig = snap._read_file_list

    def rec(spark_, path_, files_, *a, **k):
        calls.append(list(files_))
        return orig(spark_, path_, files_, *a, **k)

    monkeypatch.setattr(snap, "_read_file_list", rec)
    got = snapshot_agg(spark, t, [("sum", "v")])[0]
    assert got[0] == 30  # exact, via the scan
    assert len(calls) == 1  # the NULL-sum file was NOT trusted


# ------------------------------------- grouped (GROUP BY partition)


def _mk_part(spark, path, with_nulls=True):
    """3 single-file partitions of ``day`` (id ranges [0..3], [4..7],
    [8..11]) crossed with a nullable ``seg`` string partition."""
    for fi in range(3):
        rows = []
        for j in range(4):
            i = 4 * fi + j
            rows.append(
                (
                    i,
                    datetime.date(2024, 1, 1 + fi),
                    None if (with_nulls and i % 5 == 0) else f"s{i % 2}",
                    float(i) * 2.0,
                )
            )
        snapshot_write(
            spark.createDataFrame(
                rows, "id int, day date, seg string, x double"
            ).coalesce(1),
            path,
            mode="append" if fi else "overwrite",
            partition_cols=["day", "seg"],
            stats_cols=["id", "x"],
        )


@pytest.mark.slowproof
def test_group_agg_matches_groupby_scan(spark, tmp_path):
    """Grouped values ≡ a full-scan groupBy oracle — typed date keys,
    NULL partitions, predicates, DNF, multi-column groups."""
    t = str(tmp_path / "gagg")
    _mk_part(spark, t)
    base = read_snapshot(spark, t)

    def oracle(df, by, *exprs):
        return sorted(
            map(tuple, df.groupBy(*by).agg(*exprs).collect()), key=str
        )

    got = sorted(
        snapshot_agg(
            spark, t,
            [("count", "*"), ("sum", "x"), ("min", "id"), ("max", "id")],
            by=["day"],
        ),
        key=str,
    )
    exp = oracle(
        base, ["day"],
        F.count("*"), F.sum("x"), F.min("id"), F.max("id"),
    )
    assert got == exp
    got = sorted(
        snapshot_agg(
            spark, t,
            [("count", "seg"), ("sum", "id")],
            by=["day", "seg"],
            where={"id": Range(lo=2, hi=9)},
        ),
        key=str,
    )
    exp = oracle(
        base.where("id between 2 and 9"), ["day", "seg"],
        F.count("seg"), F.sum("id"),
    )
    assert got == exp
    # DNF disjunction
    got = sorted(
        snapshot_agg(
            spark, t,
            [("count", "*")],
            by=["seg"],
            where=[{"id": [0, 1]}, {"id": Range(lo=10)}],
        ),
        key=str,
    )
    exp = oracle(
        base.where("id in (0, 1) or id >= 10"), ["seg"], F.count("*")
    )
    assert got == exp


def test_group_agg_proven_files_never_open(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "gagg_pin")
    _mk_part(spark, t, with_nulls=False)  # one file per (day, seg)
    calls: list = []
    orig = snap._read_file_list

    def rec(spark_, path_, files_, *a, **k):
        calls.append(sorted(files_))
        return orig(spark_, path_, files_, *a, **k)

    monkeypatch.setattr(snap, "_read_file_list", rec)
    got = sorted(
        snapshot_agg(spark, t, [("count", "*"), ("sum", "id")], by=["day"]),
        key=str,
    )
    assert [r[1:] for r in got] == [(4, 6), (4, 22), (4, 38)]
    assert calls == []  # fully proven: the manifest answered alone
    # a boundary predicate opens only the files it cannot prove
    got = snapshot_agg(
        spark, t, [("sum", "id")], by=["day"], where={"id": Range(hi=5)}
    )
    assert sorted(r[1] for r in got) == [6, 9]
    assert len(calls) == 1
    # ONLY the boundary partition's file opened (REVIEW r11: the
    # earlier `or "day=" in f` disjunct made this vacuous)
    assert calls[0] and all("2024-01-02" in f for f in calls[0])


@pytest.mark.slowproof
def test_group_agg_group_suppression_and_empty(spark, tmp_path):
    """SQL group existence: provably-empty predicates emit zero
    groups; a partition whose rows are all DV-tombstoned disappears
    exactly as a passthrough GROUP BY drops it."""
    t = str(tmp_path / "gagg_empty")
    _mk_part(spark, t)
    assert snapshot_agg(
        spark, t, [("count", "*")], by=["day"], where={"id": Range(lo=100)}
    ) == []
    snapshot_delete(spark, t, {"id": [0, 1, 2, 3]}, mode="dv")
    got = sorted(
        snapshot_agg(spark, t, [("count", "*")], by=["day"]),
        key=str,
    )
    exp = sorted(
        map(
            tuple,
            read_snapshot(spark, t).groupBy("day").count().collect(),
        ),
        key=str,
    )
    assert got == exp
    assert len(got) == 2  # day 1 has zero live rows: no group


def test_group_agg_refusals(spark, tmp_path):
    t = str(tmp_path / "gagg_ref")
    _mk_part(spark, t)
    with pytest.raises(ValueError, match="not a partition column"):
        snapshot_agg(spark, t, [("count", "*")], by=["id"])
    with pytest.raises(ValueError, match="unknown column"):
        snapshot_agg(spark, t, [("count", "*")], by=["nope"])
    with pytest.raises(ValueError, match="at least one partition"):
        snapshot_agg(spark, t, [("count", "*")], by=[])


def test_group_agg_cli(spark, tmp_path, capsys):
    import json

    from nyc_taxi_data_warehouse_spark.__main__ import main

    t = str(tmp_path / "gagg_cli")
    _mk_part(spark, t, with_nulls=False)
    main(
        [
            "snapshot-agg", "--table-path", t,
            "--aggs", "count:*,sum:id", "--by", "day",
        ],
        spark=spark,
    )
    lines = [
        json.loads(l)
        for l in capsys.readouterr().out.strip().splitlines()
    ]
    assert [l["day"] for l in lines] == [
        "2024-01-01", "2024-01-02", "2024-01-03"
    ]
    assert [(l["count(*)"], l["sum(id)"]) for l in lines] == [
        (4, 6), (4, 22), (4, 38)
    ]


def test_group_agg_timestamp_partition_trailing_zero_micros(
    spark, tmp_path
):
    """REVIEW r11 (self-caught): Spark trims trailing fractional-
    second zeros in partition DIRECTORY strings ('ts=...00.123' for a
    .123000 value) while Python str() does not — matching meta groups
    to scan groups on strings would split one group into two rows.
    Typed keys compare by value, so the group stays whole."""
    t = str(tmp_path / "gagg_ts")
    ts1 = datetime.datetime(2024, 1, 1, 0, 0, 0, 123000)
    ts2 = datetime.datetime(2024, 1, 2)
    snapshot_write(
        spark.createDataFrame(
            [(1, ts1), (2, ts1), (3, ts2)], "id int, ts timestamp"
        ),
        t, partition_cols=["ts"], stats_cols=["id"],
    )
    # force a split: one more file in the ts1 partition, then a DV
    # tombstone so that file must SCAN while the first stays metadata
    snapshot_write(
        spark.createDataFrame([(10, ts1)], "id int, ts timestamp"),
        t, mode="append", partition_cols=["ts"], stats_cols=["id"],
    )
    snapshot_delete(spark, t, {"id": [10]}, mode="dv")
    got = sorted(
        snapshot_agg(spark, t, [("count", "*"), ("sum", "id")], by=["ts"]),
        key=str,
    )
    assert got == [(ts1, 2, 3), (ts2, 1, 3)]


def test_partition_key_aggs_answer_from_directories(
    spark, tmp_path, monkeypatch
):
    """The freshness query: MIN/MAX/COUNT/SUM over a PARTITION column
    answer from directory values with ZERO file opens — the directory
    is the exact value of every row. The null partition contributes
    no value (and no COUNT), exactly like SQL."""
    t = str(tmp_path / "agw_dirs")
    rows = [
        (i, None if i >= 24 else datetime.date(2024, 1, 1 + i // 8),
         i % 3)
        for i in range(30)
    ]
    snapshot_write(
        spark.createDataFrame(rows, "id int, day date, bucket int"),
        t, partition_cols=["day", "bucket"], stats_cols=["id"],
    )
    calls = []
    orig = snap._read_file_list

    def rec(spark_, path_, files_, *a, **k):
        calls.append(list(files_))
        return orig(spark_, path_, files_, *a, **k)

    monkeypatch.setattr(snap, "_read_file_list", rec)
    got = snapshot_agg(
        spark, t,
        [
            ("min", "day"), ("max", "day"), ("count", "day"),
            ("min", "bucket"), ("max", "bucket"), ("sum", "bucket"),
            ("count", "*"),
        ],
    )[0]
    assert got == (
        datetime.date(2024, 1, 1), datetime.date(2024, 1, 3),
        24, 0, 2, sum(i % 3 for i in range(30)), 30,
    )
    assert calls == []  # zero-I/O freshness
    # under a predicate, only boundary files open — fully-admitted
    # partition files still answer from their directories
    got = snapshot_agg(
        spark, t,
        [("max", "day"), ("sum", "bucket")],
        where={"id": Range(hi=11)},
    )[0]
    assert got[0] == datetime.date(2024, 1, 2)
    assert got[1] == sum(i % 3 for i in range(12))


def test_float_partition_key_aggs_scan(spark, tmp_path, monkeypatch):
    """Float/double partition keys can't be decoded from directory
    strings faithfully in every rendering — they scan, and stay
    exact."""
    t = str(tmp_path / "agw_fdir")
    snapshot_write(
        spark.createDataFrame(
            [(1, 0.5), (2, 0.5), (3, 1.5)], "id int, w double"
        ),
        t, partition_cols=["w"], stats_cols=["id"],
    )
    calls = []
    orig = snap._read_file_list

    def rec(spark_, path_, files_, *a, **k):
        calls.append(list(files_))
        return orig(spark_, path_, files_, *a, **k)

    monkeypatch.setattr(snap, "_read_file_list", rec)
    got = snapshot_agg(
        spark, t, [("min", "w"), ("max", "w"), ("sum", "w")]
    )[0]
    assert got == (0.5, 1.5, 2.5)
    assert len(calls) == 1  # the scan served it


def test_tzful_timestamp_partition_key_scans_for_correctness(
    spark, tmp_path, monkeypatch
):
    """REVIEW r11: tz-ful TimestampType partition keys must NOT be
    answered or group-matched from directory strings — Spark writes
    directories in the SESSION timezone while collect() converts
    through the driver's OS timezone, so under a non-default session
    tz the same instant decodes and collects to different naive
    datetimes (split groups, shifted MIN/MAX). With the session tz
    pinned away from the OS tz, results must still equal the scan
    oracle — which they can only do if the planner scans."""
    t = str(tmp_path / "agw_tz")
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ts1 = datetime.datetime(2024, 1, 1, 12, 0, 0)
        ts2 = datetime.datetime(2024, 6, 1, 12, 0, 0)  # DST differs
        snapshot_write(
            spark.createDataFrame(
                [(1, ts1), (2, ts1), (3, ts2)], "id int, ts timestamp"
            ),
            t, partition_cols=["ts"], stats_cols=["id"],
        )
        # force a meta/scan split inside the ts1 group
        snapshot_write(
            spark.createDataFrame([(9, ts1)], "id int, ts timestamp"),
            t, mode="append", partition_cols=["ts"], stats_cols=["id"],
        )
        snapshot_delete(spark, t, {"id": [9]}, mode="dv")
        base = read_snapshot(spark, t)
        exp_minmax = base.agg(
            F.min("ts"), F.max("ts")
        ).first()
        got = snapshot_agg(
            spark, t, [("min", "ts"), ("max", "ts"), ("count", "ts")]
        )[0]
        assert (got[0], got[1]) == tuple(exp_minmax)
        assert got[2] == 3
        grouped = sorted(
            snapshot_agg(spark, t, [("count", "*")], by=["ts"]),
            key=str,
        )
        exp = sorted(
            map(tuple, base.groupBy("ts").count().collect()), key=str
        )
        assert grouped == exp
        assert len(grouped) == 2  # one row per instant, never split
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_count_over_float_partition_key_is_metadata_only(
    spark, tmp_path, monkeypatch
):
    """REVIEW r11: COUNT over a float/double partition key needs only
    null-vs-non-null, which the Hive null marker decides without any
    value decode — zero file opens, while MIN/MAX still scan."""
    t = str(tmp_path / "agw_fcnt")
    snapshot_write(
        spark.createDataFrame(
            [(1, 0.5), (2, 0.5), (3, None)], "id int, w double"
        ),
        t, partition_cols=["w"], stats_cols=["id"],
    )
    calls = []
    orig = snap._read_file_list

    def rec(spark_, path_, files_, *a, **k):
        calls.append(list(files_))
        return orig(spark_, path_, files_, *a, **k)

    monkeypatch.setattr(snap, "_read_file_list", rec)
    got = snapshot_agg(spark, t, [("count", "w"), ("count", "*")])[0]
    assert got == (2, 3)
    assert calls == []
