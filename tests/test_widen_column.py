"""Metadata-only ALTER COLUMN TYPE — lossless widenings only.

The read path already pins every scan to the MANIFEST's types (the
widened-history cast path), so publishing the same files under a wider
schema is a pure metadata commit: old files' narrow values read back
widened, new writers store the wide type natively, recorded stats stay
valid verbatim, and time travel below the alter reads the narrow type.
"""

from __future__ import annotations

import json

import pytest

from nyc_taxi_data_warehouse_spark.warehouse.eqdeletes import (
    snapshot_append_upsert,
)
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    Range,
    snapshot_add_constraint,
    snapshot_changes,
    snapshot_agg,
    snapshot_delete,
    snapshot_rename_column,
    snapshot_widen_column,
    snapshot_write,
)
from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
    list_versions,
    load_manifest,
)


def _bag(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_widen_roundtrip_travel_append_and_big_values(spark, tmp_path):
    t = str(tmp_path / "t")
    v1 = snapshot_write(
        spark.createDataFrame([(1, 10), (2, 20)], "id int, amt int"), t
    )
    v2 = snapshot_widen_column(spark, t, "amt", "bigint")
    # zero data movement
    assert load_manifest(t, v2)["files"] == load_manifest(
        t, v1
    )["files"]
    # head reads LONG; travel reads INT
    assert dict(read_snapshot(spark, t).dtypes)["amt"] == "bigint"
    assert dict(read_snapshot(spark, t, version=v1).dtypes)["amt"] == "int"
    # appends store the wide type natively, incl. values > 2^31
    big = 5_000_000_000
    snapshot_write(
        spark.createDataFrame([(3, big)], "id int, amt long"),
        t,
        mode="append",
    )
    assert _bag(read_snapshot(spark, t), "id", "amt") == [
        (1, 10), (2, 20), (3, big)
    ]


def test_widen_refusals(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 10, 1.5)], "id int, amt long, x float"),
        t,
    )
    with pytest.raises(ValueError, match="does not exist"):
        snapshot_widen_column(spark, t, "nope", "bigint")
    with pytest.raises(ValueError, match="already has type"):
        snapshot_widen_column(spark, t, "amt", "bigint")
    for bad in ("int", "string", "double"):
        with pytest.raises(ValueError, match="lossless"):
            snapshot_widen_column(spark, t, "amt", bad)
    # float→double is a widening; double→float is not
    snapshot_widen_column(spark, t, "x", "double")
    with pytest.raises(ValueError, match="lossless"):
        snapshot_widen_column(spark, t, "x", "float")


def test_widen_keeps_stats_pruning_and_dml(spark, tmp_path):
    t = str(tmp_path / "t")
    rows = [(i, i % 4, i * 10) for i in range(40)]
    df = spark.createDataFrame(
        rows, "id int, bucket int, amt int"
    ).repartition(4, "bucket")
    snapshot_write(df, t, stats_cols=["amt"])
    snapshot_widen_column(spark, t, "amt", "bigint")
    # recorded narrow stats keep planning the widened column
    full = read_snapshot(spark, t)
    pruned = read_snapshot(spark, t, where={"amt": Range(0, 30)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert _bag(pruned, "id") == [(i,) for i in range(4)]
    assert snapshot_agg(
        spark, t, [("min", "amt"), ("max", "amt")]
    )[0] == (0, 390)
    assert snapshot_agg(spark, t, [("count", "amt")])[0][0] == 40
    # DML through the widened column, incl. a value only LONG can hold
    snapshot_write(
        spark.createDataFrame([(99, 0, 5_000_000_000)],
                              "id int, bucket int, amt long"),
        t,
        mode="append",
    )
    v, n = snapshot_delete(spark, t, {"amt": [5_000_000_000]})
    assert n == 1
    assert _bag(read_snapshot(spark, t).where("id = 99"), "id") == []


def test_widen_composes_with_rename_eq_and_feed(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, "a", 10)], "k int, name string, amt int"),
        t,
    )
    # rename then widen the SAME column: colmap maps the logical name,
    # the physical slot and its frozen narrow files stay untouched
    snapshot_rename_column(spark, t, "amt", "amount")
    snapshot_widen_column(spark, t, "amount", "bigint")
    man = load_manifest(t, list_versions(t)[-1])
    assert man["colmap"] == {"amount": "amt"}
    assert dict(read_snapshot(spark, t).dtypes)["amount"] == "bigint"

    # widen the eq KEY column, then upsert: the narrow sidecars of
    # older entries keep matching through the upcast join
    snapshot_widen_column(spark, t, "k", "bigint")
    up = spark.createDataFrame(
        [(1, "A", 5_000_000_000), (2, "b", 20)],
        "k long, name string, amount long",
    )
    v, n = snapshot_append_upsert(spark, t, up, keys=["k"])
    assert n == 2
    assert _bag(read_snapshot(spark, t), "k", "name", "amount") == [
        (1, "A", 5_000_000_000), (2, "b", 20)
    ]

    # the change feed presents the widened type end to end
    ch = snapshot_changes(spark, t, from_version=0)
    assert dict(ch.dtypes)["amount"] == "bigint"
    assert (
        ch.where("_change_type = 'insert' and k = 2").count() == 1
    )


def test_widen_partition_column_and_constraint_probe(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 5)], "id int, m int"),
        t,
        partition_cols=["m"],
    )
    # partition values are directory strings cast at read — widening
    # the partition column is legal and the typed value follows
    snapshot_widen_column(spark, t, "m", "bigint")
    got = read_snapshot(spark, t, partitions={"m": 5})
    assert dict(got.dtypes)["m"] == "bigint"
    assert _bag(got, "id", "m") == [(1, 5)]
    # constraints must re-analyze; a passing one doesn't block
    snapshot_add_constraint(spark, t, "pos", "id > 0")
    snapshot_widen_column(spark, t, "id", "bigint")
    assert _bag(read_snapshot(spark, t), "id") == [(1,)]


def test_cli_widen(spark, tmp_path, capsys):
    from nyc_taxi_data_warehouse_spark.__main__ import main

    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 10)], "id int, amt int"), t
    )
    main(
        ["snapshot-alter", "--table-path", t, "--widen", "amt:bigint"],
        spark=spark,
    )
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(out) == {"version": 2, "widened": "amt", "to": "bigint"}
    assert dict(read_snapshot(spark, t).dtypes)["amt"] == "bigint"


def test_alter_commits_are_o1_metadata(spark, tmp_path):
    """The ALTER family (rename/widen) must write O(1) commit docs on a
    many-file, fully-statted table: schema and colmap are per-commit
    scalars, carried files/stats/rows encode as EMPTY deltas — an alter
    on a million-file table costs the same bytes as on a ten-file one."""
    import os

    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import VDIR

    t = str(tmp_path / "t")
    df = spark.range(2000).selectExpr(
        "cast(id as int) id", "cast(id % 50 as int) grp",
        "cast(id * 3 as int) amt",
    ).repartition(50)
    snapshot_write(df, t, stats_cols=["id", "grp", "amt"])
    v_r = snapshot_rename_column(spark, t, "amt", "amount")
    v_w = snapshot_widen_column(spark, t, "amount", "bigint")
    for v in (v_r, v_w):
        doc_path = f"{t}/{VDIR}/{v:08d}.json"
        size = os.path.getsize(doc_path)
        assert size < 4096, (v, size)
        doc = json.loads(open(doc_path).read())
        # pure carry: no file or stats churn in the delta
        assert not doc.get("files_add") and not doc.get("files_del")
        assert not doc.get("stats_put") and not doc.get("stats_del")
