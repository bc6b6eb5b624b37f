"""Generative fuzz for the stats-planned predicate machinery — the
range/IN/null/DNF planner vs an unpruned full-scan oracle.

The planner's contract is calibration: victims/proofs/carries decided
from per-file stats, directory values, and typed bound normalization
must reproduce EXACTLY what Spark's own row-level predicate
(``_match_expr``) computes over an unpruned scan — no false negative
(a pruned file hiding a match) and no false whole-file drop (a
by-reference drop keeping a survivor). The per-type refusal matrix
(``_range_bounds_for_col``) and the raw-vs-canonical timestamp string
agreement rules are exactly the code a generative fuzz keeps honest:
this file drives them with randomized typed bounds (dates with and
without separators, fractional-second timestamps, Decimals at float
rounding edges, reversed/empty/half-open ranges, NULL-heavy files),
random IN lists, null tests, and one-level DNF disjunctions, asserting

- ``snapshot_agg`` COUNT(*) ≡ full-scan ``where(match).count()``;
- ``read_snapshot(where=)`` ≡ full-scan ``where(match)`` row sets;
- ``snapshot_delete`` (both strategies) leaves exactly the
  full-scan survivor set;
- ``snapshot_update`` touches exactly the full-scan match set.

The oracle deliberately bypasses every planner component: it reads the
snapshot with NO predicate (all files open) and applies the row-level
expression — so a planner bug cannot cancel out of both sides.
Seeds are fixed (parametrized) for deterministic replay.
"""

from __future__ import annotations

import datetime
import random
from decimal import Decimal

import pytest

from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    IS_NOT_NULL,
    IS_NULL,
    Range,
    _match_expr,
    _sanitize_predicates,
    read_snapshot,
    snapshot_agg,
    snapshot_delete,
    snapshot_update,
    snapshot_write,
)

BASE_TS = datetime.datetime(2024, 1, 1)
SCHEMA = (
    "id int, ts timestamp, d date, dec decimal(10,2), x double, s string"
)
STATS_COLS = ["id", "ts", "d", "dec", "x", "s"]


def _gen_rows(rng: random.Random, n: int, start_id: int):
    """NULL-heavy typed rows; values cluster so per-file stats ranges
    genuinely overlap and separate across files."""
    rows = []
    for j in range(n):
        i = start_id + j

        def nul(p=0.25):
            return rng.random() < p

        ts = None if nul() else BASE_TS + datetime.timedelta(
            hours=i * 7 + rng.randrange(6),
            microseconds=rng.choice([0, 1, 499999, 500000, 999999]),
        )
        d = None if nul() else (
            BASE_TS + datetime.timedelta(days=i + rng.randrange(3))
        ).date()
        # Decimals at float-rounding edges: many 0.01-grid values have
        # no exact float image (the widened-bounds path must never
        # exclude them)
        dec = None if nul() else Decimal(rng.randrange(-10**6, 10**6)) / 100
        x = None if nul() else rng.choice(
            [i * 0.1, float(i), i + 0.5, -i * 1e-3]
        )
        s = None if nul() else rng.choice(
            ["alpha", "Beta", "2024-01-05", "zz", f"k{i:03d}", ""]
        )
        rows.append((i, ts, d, dec, x, s))
    return rows


def _mk_table(spark, rng: random.Random, path: str, n_files=4, rows_per=12):
    for f in range(n_files):
        df = spark.createDataFrame(
            _gen_rows(rng, rows_per, f * rows_per), SCHEMA
        ).coalesce(1)
        snapshot_write(df, path, mode="append", stats_cols=STATS_COLS)


def _ts_bound(rng: random.Random):
    """A timestamp-ish bound in one of the forms users actually type:
    a datetime object, ISO with 'T', ISO with a space, with/without
    fractional seconds, or a bare date string."""
    t = BASE_TS + datetime.timedelta(
        hours=rng.randrange(0, 4 * 12 * 7 + 12),
        microseconds=rng.choice([0, 1, 250000, 999999]),
    )
    form = rng.randrange(5)
    if form == 0:
        return t
    if form == 1:
        return t.isoformat()  # 'T' separator, frac iff nonzero
    if form == 2:
        return t.isoformat(sep=" ")
    if form == 3:
        return t.strftime("%Y-%m-%d %H:%M:%S")  # truncated seconds
    return t.strftime("%Y-%m-%d")  # bare date against a timestamp


def _d_bound(rng: random.Random):
    d = (BASE_TS + datetime.timedelta(days=rng.randrange(0, 60))).date()
    return rng.choice([d, d.isoformat()])


def _dec_bound(rng: random.Random):
    # grid values around float-rounding edges, both Decimal and float
    q = Decimal(rng.randrange(-10**6, 10**6)) / 100
    return rng.choice([q, float(q)])


def _rand_range(rng: random.Random, col: str):
    mk = {
        "id": lambda: rng.randrange(-5, 55),
        "ts": lambda: _ts_bound(rng),
        "d": lambda: _d_bound(rng),
        "dec": lambda: _dec_bound(rng),
        "x": lambda: rng.choice(
            [rng.uniform(-1, 6), float(rng.randrange(50))]
        ),
        "s": lambda: rng.choice(["a", "Beta", "k015", "zz", "2024-01-05"]),
    }[col]
    shape = rng.randrange(4)
    lo = hi = None
    if shape in (0, 2):
        lo = mk()
    if shape in (1, 2):
        hi = mk()
    if shape == 3:  # deliberately often reversed/empty
        a, b = mk(), mk()
        lo, hi = b, a
    if lo is None and hi is None:
        lo = mk()
    return Range(
        lo=lo, hi=hi, lo_inc=rng.random() < 0.7, hi_inc=rng.random() < 0.7
    )


def _rand_branch(rng: random.Random) -> dict:
    """One conjunctive branch: 1-2 predicate entries over random
    columns — Range, IN list, or a null test."""
    cols = rng.sample(["id", "ts", "d", "dec", "x", "s"], rng.randrange(1, 3))
    branch = {}
    for c in cols:
        kind = rng.random()
        if kind < 0.55:
            branch[c] = _rand_range(rng, c)
        elif kind < 0.8:
            pool = {
                "id": [rng.randrange(0, 50) for _ in range(3)],
                "ts": [
                    BASE_TS + datetime.timedelta(hours=7 * k)
                    for k in rng.sample(range(48), 2)
                ],
                "d": [
                    (BASE_TS + datetime.timedelta(days=k)).date()
                    for k in rng.sample(range(50), 2)
                ],
                "dec": [Decimal(rng.randrange(-10**6, 10**6)) / 100],
                "x": [float(rng.randrange(50)), rng.uniform(0, 5)],
                "s": rng.sample(["alpha", "Beta", "zz", "k007", ""], 2),
            }[c]
            branch[c] = pool + ([None] if rng.random() < 0.3 else [])
        else:
            branch[c] = rng.choice([IS_NULL, IS_NOT_NULL])
    return branch


def _rand_preds(rng: random.Random):
    if rng.random() < 0.35:  # one-level DNF (OR of branches)
        return [_rand_branch(rng) for _ in range(rng.randrange(2, 4))]
    return _rand_branch(rng)


def _rowset(df):
    return sorted(
        tuple(str(v) for v in r) for r in df.collect()
    )


@pytest.mark.parametrize("seed", [11, 23, 37, 59])
@pytest.mark.slowproof
def test_count_and_read_match_full_scan(spark, tmp_path, seed):
    rng = random.Random(seed)
    t = str(tmp_path / f"fz_{seed}")
    _mk_table(spark, rng, t)
    full = read_snapshot(spark, t)
    for trial in range(8):
        preds = _rand_preds(rng)
        sp = _sanitize_predicates(preds)
        if not sp:
            assert snapshot_agg(
                spark, t, [("count", "*")], where=preds
            )[0][0] == 0
            assert read_snapshot(spark, t, where=preds).count() == 0
            continue
        oracle = full.where(_match_expr(sp))
        n = oracle.count()
        assert snapshot_agg(
            spark, t, [("count", "*")], where=preds
        )[0][0] == n, (
            f"seed={seed} trial={trial} preds={preds!r}"
        )
        got = read_snapshot(spark, t, where=preds)
        assert _rowset(got) == _rowset(oracle), (
            f"seed={seed} trial={trial} preds={preds!r}"
        )


@pytest.mark.parametrize("seed,mode", [(101, "dv"), (131, "rewrite")])
@pytest.mark.slowproof
def test_delete_update_match_full_scan(spark, tmp_path, seed, mode):
    rng = random.Random(seed)
    for trial in range(3):
        t = str(tmp_path / f"fzd_{seed}_{trial}")
        _mk_table(spark, rng, t, n_files=3, rows_per=10)
        preds = _rand_preds(rng)
        sp = _sanitize_predicates(preds)
        pre = read_snapshot(spark, t)
        if sp:
            survivors = _rowset(pre.where(~_match_expr(sp)))
            expect_gone = pre.where(_match_expr(sp)).count()
        else:
            survivors = _rowset(pre)
            expect_gone = 0
        _, n = snapshot_delete(spark, t, preds, mode=mode)
        assert n == expect_gone, f"seed={seed} t={trial} preds={preds!r}"
        assert _rowset(read_snapshot(spark, t)) == survivors, (
            f"seed={seed} t={trial} preds={preds!r}"
        )
        # update on the post-delete image: matched rows (now disjoint
        # from the deleted set) get x = -1.0; everything else identical
        preds2 = _rand_preds(rng)
        sp2 = _sanitize_predicates(preds2)
        post = read_snapshot(spark, t)
        if sp2:
            from pyspark.sql import functions as F

            expect = _rowset(
                post.withColumn(
                    "x",
                    F.when(_match_expr(sp2), F.lit(-1.0)).otherwise(
                        F.col("x")
                    ),
                )
            )
            n_match = post.where(_match_expr(sp2)).count()
        else:
            expect = _rowset(post)
            n_match = 0
        _, m = snapshot_update(spark, t, preds2, {"x": -1.0})
        assert m == n_match, f"seed={seed} t={trial} preds2={preds2!r}"
        assert _rowset(read_snapshot(spark, t)) == expect, (
            f"seed={seed} t={trial} preds2={preds2!r}"
        )


def test_refusals_stay_loud(spark):
    """The typed refusal matrix must refuse at construction — a bool or
    NaN bound plans a predicate whose comparisons are all-false and
    would silently no-op a delete the user meant."""
    with pytest.raises(ValueError, match="bool"):
        Range(lo=True)
    with pytest.raises(ValueError, match="NaN"):
        Range(hi=float("nan"))
    with pytest.raises(ValueError, match="endpoint"):
        Range()
