"""Metadata-only RENAME COLUMN via frozen physical names.

The invariant under test (see ``snapshots._colmap``): everything below
the manifest boundary — file columns, per-file stats keys, partition
directories, equality-delete sidecars — lives in a PHYSICAL namespace
frozen at add time; a rename changes only the logical schema plus a
logical→physical map, so it moves zero data bytes, needs no per-file
name resolution, and can never silently null-fill a renamed column
(the naive-rename hazard the round-7 survey documented).
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from nyc_taxi_data_warehouse_spark.warehouse.branching import (
    branch_ref,
    create_branch,
    publish_branch,
)
from nyc_taxi_data_warehouse_spark.warehouse.eqdeletes import (
    snapshot_append_upsert,
    snapshot_delete_keys,
)
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    Range,
    snapshot_add_column,
    snapshot_add_constraint,
    snapshot_changes,
    snapshot_compact,
    snapshot_agg,
    snapshot_delete,
    snapshot_drop_column,
    snapshot_files,
    snapshot_rename_column,
    snapshot_restore,
    snapshot_update,
    snapshot_write,
)
from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
    list_versions,
    load_manifest,
)


def _bag(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _man(spark, path):
    return load_manifest(path, list_versions(path)[-1])


def test_rename_roundtrip_travel_append_and_frozen_physical(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id int, name string, amt int"
    )
    v1 = snapshot_write(df, t)
    v2 = snapshot_rename_column(spark, t, "amt", "amount")

    # the rename moved no data and no files
    assert load_manifest(t, v2)["files"] == load_manifest(
        t, v1
    )["files"]
    assert _man(spark, t)["colmap"] == {"amount": "amt"}

    # head reads the new name with the old values; travel reads the old
    assert _bag(read_snapshot(spark, t), "id", "amount") == [
        (1, 10), (2, 20)
    ]
    assert read_snapshot(spark, t, version=v1).columns == [
        "id", "name", "amt"
    ]

    # appends write the FROZEN physical name into new files
    df2 = spark.createDataFrame(
        [(3, "c", 30)], "id int, name string, amount int"
    )
    v3 = snapshot_write(df2, t, mode="append")
    new_files = sorted(
        set(load_manifest(t, v3)["files"])
        - set(load_manifest(t, v2)["files"])
    )
    assert len(new_files) >= 1
    for f in new_files:
        assert "amt" in pq.read_schema(f"{t}/{f}").names
        assert "amount" not in pq.read_schema(f"{t}/{f}").names
    assert _bag(read_snapshot(spark, t), "id", "amount") == [
        (1, 10), (2, 20), (3, 30)
    ]

    # rename back to the physical name erases the mapping entirely
    snapshot_rename_column(spark, t, "amount", "amt")
    assert "colmap" not in _man(spark, t)
    assert _bag(read_snapshot(spark, t), "id", "amt") == [
        (1, 10), (2, 20), (3, 30)
    ]


def test_rename_chain_and_swap(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 10, 100)], "id int, a int, b int"), t
    )
    # chain: a→x→y keeps ONE mapping to the frozen physical
    snapshot_rename_column(spark, t, "a", "x")
    snapshot_rename_column(spark, t, "x", "y")
    assert _man(spark, t)["colmap"] == {"y": "a"}
    assert _bag(read_snapshot(spark, t), "id", "y", "b") == [(1, 10, 100)]

    # the classic swap: y→tmp, b→y, tmp→b
    snapshot_rename_column(spark, t, "y", "tmp")
    snapshot_rename_column(spark, t, "b", "y")
    snapshot_rename_column(spark, t, "tmp", "b")
    # logical y now holds b's values, logical b holds a's
    assert _bag(read_snapshot(spark, t), "id", "y", "b") == [(1, 100, 10)]
    assert _man(spark, t)["colmap"] == {"y": "b", "b": "a"}


def test_rename_refusals(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 5, "x")], "id int, m int, v string"),
        t,
        partition_cols=["m"],
    )
    with pytest.raises(ValueError, match="does not exist"):
        snapshot_rename_column(spark, t, "nope", "z")
    with pytest.raises(ValueError, match="already exists"):
        snapshot_rename_column(spark, t, "id", "v")
    with pytest.raises(ValueError, match="reserved"):
        snapshot_rename_column(spark, t, "id", "_dv_file")
    with pytest.raises(ValueError, match="partition column"):
        snapshot_rename_column(spark, t, "m", "month")
    snapshot_add_constraint(spark, t, "pos_id", "id > 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        snapshot_rename_column(spark, t, "id", "ident")
    # a constraint on an unrelated column does not block
    v = snapshot_rename_column(spark, t, "v", "val")
    assert v == list_versions(t)[-1]

    # add_column may not reuse a renamed column's physical slot
    with pytest.raises(ValueError, match="on-disk"):
        snapshot_add_column(spark, t, "v", "string")


def test_stats_pruning_and_dml_through_rename(spark, tmp_path):
    t = str(tmp_path / "t")
    rows = [(i, i % 4, i * 10) for i in range(40)]
    df = spark.createDataFrame(rows, "id int, bucket int, amt int").repartition(
        4, "bucket"
    )
    snapshot_write(df, t, stats_cols=["bucket", "amt"])
    snapshot_rename_column(spark, t, "amt", "amount")
    snapshot_rename_column(spark, t, "bucket", "shard")
    man = _man(spark, t)
    # stats stay keyed by the PHYSICAL names — no rewrite happened
    assert man["stats_cols"] == ["bucket", "amt"]

    # pruned range read by the NEW logical name actually prunes
    full = read_snapshot(spark, t)
    pruned = read_snapshot(spark, t, where={"shard": Range(2, 2)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert _bag(pruned, "id", "shard") == sorted(
        (i, i % 4) for i in range(40) if i % 4 == 2
    )

    # metadata aggregates by the new names
    assert snapshot_agg(
        spark, t, [("min", "amount"), ("max", "amount")]
    )[0] == (0, 390)
    assert snapshot_agg(spark, t, [("count", "amount")])[0][0] == 40

    # copy-on-write delete by the new name (stats-planned victims)
    v, n = snapshot_delete(spark, t, {"shard": [3]}, mode="rewrite")
    assert n == 10
    assert snapshot_agg(spark, t, [("count", "*")])[0][0] == 30
    assert _bag(
        read_snapshot(spark, t).where("shard = 3"), "id"
    ) == []

    # merge-on-read update by the new name
    v, n = snapshot_update(spark, t, {"shard": [2]}, {"amount": 0}, mode="dv")
    assert n == 10
    got = read_snapshot(spark, t).where("shard = 2")
    assert all(r["amount"] == 0 for r in got.collect())
    assert snapshot_agg(spark, t, [("count", "*")])[0][0] == 30


def test_change_feed_presents_target_names_across_rename(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 10)], "id int, amt int"), t
    )
    snapshot_write(
        spark.createDataFrame([(2, 20)], "id int, amt int"),
        t,
        mode="append",
    )
    snapshot_rename_column(spark, t, "amt", "amount")
    snapshot_write(
        spark.createDataFrame([(3, 30)], "id int, amount int"),
        t,
        mode="append",
    )
    # feed spanning the rename: pre-rename files stream VALUES (not
    # nulls) under the head's logical name — the whole point of frozen
    # physical names
    ch = snapshot_changes(spark, t, from_version=0)
    assert sorted(
        (r["id"], r["amount"], r["_change_type"]) for r in ch.collect()
    ) == [(1, 10, "insert"), (2, 20, "insert"), (3, 30, "insert")]
    # the rename commit itself emits nothing
    assert (
        ch.where("_commit_version = 3").count() == 0
    )

    # a DV delete by the new name feeds deletes with values
    snapshot_delete(spark, t, {"id": [1]}, mode="dv")
    ch2 = snapshot_changes(spark, t, from_version=4)
    assert sorted(
        (r["id"], r["amount"], r["_change_type"]) for r in ch2.collect()
    ) == [(1, 10, "delete")]


def test_eq_upserts_and_key_guard_through_rename(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k int, name string, amt int"
        ),
        t,
    )
    snapshot_rename_column(spark, t, "k", "key")
    # upsert keyed on the RENAMED column: zero-table-read, masks old row
    up = spark.createDataFrame(
        [(2, "B", 99), (3, "c", 30)], "key int, name string, amt int"
    )
    v, n = snapshot_append_upsert(spark, t, up, keys=["key"])
    assert n == 2
    assert _bag(read_snapshot(spark, t), "key", "name", "amt") == [
        (1, "a", 10), (2, "B", 99), (3, "c", 30)
    ]
    # the entry records the PHYSICAL key name
    assert _man(spark, t)["eqs"][0]["keys"] == ["k"]

    # key delete by logical name
    v, n = snapshot_delete_keys(
        spark, t, spark.createDataFrame([(1,)], "key int")
    )
    assert _bag(read_snapshot(spark, t), "key") == [(2,), (3,)]

    # dropping the renamed key column refuses while entries reference it
    with pytest.raises(ValueError, match="equality delete"):
        snapshot_drop_column(spark, t, "key")


def test_streaming_feed_reads_values_across_rename(spark, tmp_path):
    from nyc_taxi_data_warehouse_spark.streaming.snapshot_source import (
        read_snapshot_stream,
    )

    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    snapshot_write(
        spark.createDataFrame([(1, 10), (2, 20)], "id int, amt int"), t
    )
    snapshot_rename_column(spark, t, "amt", "amount")
    snapshot_write(
        spark.createDataFrame([(3, 30)], "id int, amount int"),
        t,
        mode="append",
    )
    (
        read_snapshot_stream(spark, t)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out)
    assert sorted(got.columns) == ["amount", "id"]
    # pre-rename files stream their VALUES under the new logical name
    assert _bag(got, "id", "amount") == [(1, 10), (2, 20), (3, 30)]


def test_branch_restore_and_compact_carry_the_map(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 10)], "id int, amt int"), t
    )
    v_pre = snapshot_rename_column(spark, t, "amt", "amount") - 1

    # fork carries the map; a branch-side rename publishes like any
    # other metadata change
    create_branch(spark, t, "dev")
    ref = branch_ref(t, "dev")
    assert read_snapshot(spark, ref).columns == ["id", "amount"]
    snapshot_rename_column(spark, ref, "amount", "value")
    snapshot_write(
        spark.createDataFrame([(2, 20)], "id int, value int"),
        ref,
        mode="append",
    )
    publish_branch(spark, t, "dev")
    assert _bag(read_snapshot(spark, t), "id", "value") == [
        (1, 10), (2, 20)
    ]
    assert _man(spark, t)["colmap"] == {"value": "amt"}

    # restore below every rename resurrects the original logical name
    snapshot_restore(spark, t, v_pre)
    assert read_snapshot(spark, t).columns == ["id", "amt"]
    assert "colmap" not in _man(spark, t)

    # compact preserves the map: rewritten files keep physical names
    snapshot_rename_column(spark, t, "amt", "total")
    snapshot_write(
        spark.createDataFrame([(3, 30)], "id int, total int"),
        t,
        mode="append",
    )
    v = snapshot_compact(spark, t, target_mb=1)
    man = load_manifest(t, v)
    assert man["colmap"] == {"total": "amt"}
    for f in man["files"]:
        assert "amt" in pq.read_schema(f"{t}/{f}").names
    assert _bag(read_snapshot(spark, t), "id", "total") == [
        (1, 10), (3, 30)
    ]


def test_snapshot_files_presents_logical_stats_keys(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 10)], "id int, amt int"),
        t, stats_cols=["amt"],
    )
    snapshot_rename_column(spark, t, "amt", "amount")
    row = snapshot_files(spark, t).collect()[0]
    stats = json.loads(row["stats"])
    assert "amount" in stats and "amt" not in stats


def test_cli_rename(spark, tmp_path, capsys):
    from nyc_taxi_data_warehouse_spark.__main__ import main

    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 10)], "id int, amt int"), t
    )
    main(
        ["snapshot-alter", "--table-path", t, "--rename", "amt:amount"],
        spark=spark,
    )
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(out) == {"version": 2, "renamed": "amt", "to": "amount"}
    assert read_snapshot(spark, t).columns == ["id", "amount"]


def test_commit_pairs_schema_with_captured_colmap_under_rename_race(
    spark, tmp_path, monkeypatch
):
    """The review-found race class: a writer that captured (schema,
    colmap) before a concurrent rename must COMMIT that captured pair —
    letting _commit inherit the retry-time head's map under the stale
    schema would prune the mapping and null the renamed column
    table-wide."""
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame(
            [(0, 0, "seed")], "id long, month int, vv string"
        ),
        t,
        partition_cols=["month"],
    )
    # freeze a physical identity: vv currently maps to itself; rename
    # to give it a map entry, then race another rename mid-call
    snapshot_rename_column(spark, t, "vv", "val")

    from nyc_taxi_data_warehouse_spark.warehouse import snapshots as S

    def rename_then_extra():
        snapshot_rename_column(spark, t, "val", "w")
        return {}

    # replace_partitions: `extra` (callable) runs AFTER the commit
    # files are written and BEFORE the commit loop — a deterministic
    # mid-call rename. The first commit attempt conflicts on the
    # version number; the retry must recommit the CAPTURED pair.
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_replace_partitions,
    )

    snapshot_replace_partitions(
        spark.createDataFrame(
            [(1, 0, "repl")], "id long, month int, val string"
        ),
        t,
        partition_cols=["month"],
        extra=rename_then_extra,
        retries=1,
    )
    # the captured pair won (newest-writer-wins): logical name 'val',
    # map intact, VALUES not nulls
    got = read_snapshot(spark, t)
    assert got.columns == ["id", "month", "val"]
    assert _bag(got, "id", "val") == [(1, "repl")]
    assert _man(spark, t)["colmap"] == {"val": "vv"}

    # same race through the equality-delete upsert (zero-read path):
    # inject the rename at the retry loop's first epoch check
    from nyc_taxi_data_warehouse_spark.warehouse import eqdeletes as E

    real = E._epoch_already_applied
    fired = {"n": 0}

    def racing(path_, versions_, extra_, checked_):
        if fired["n"] == 0:
            fired["n"] += 1
            snapshot_rename_column(spark, t, "val", "z")
        return real(path_, versions_, extra_, checked_)

    monkeypatch.setattr(E, "_epoch_already_applied", racing)
    v, n = snapshot_append_upsert(
        spark, t,
        spark.createDataFrame(
            [(1, 0, "UP")], "id long, month int, val string"
        ),
        keys=["id"],
        retries=2,
    )
    assert n == 1
    got = read_snapshot(spark, t)
    assert got.columns == ["id", "month", "val"]
    assert _bag(got, "id", "val") == [(1, "UP")]
    assert _man(spark, t)["colmap"] == {"val": "vv"}


def test_append_refuses_duplicate_physical_slot(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 10)], "id int, v int"), t
    )
    snapshot_rename_column(spark, t, "v", "vv")
    # schema evolution adding a column NAMED after vv's physical slot
    # must refuse with the real cause, not parquet's duplicate-column
    # error after a partial job
    bad = spark.createDataFrame([(2, 20, 99)], "id int, vv int, v int")
    with pytest.raises(ValueError, match="physical"):
        snapshot_write(bad, t, mode="append")


def test_compact_refuses_relayout_onto_renamed_column(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 10)], "id int, grp int"), t
    )
    snapshot_rename_column(spark, t, "grp", "tenant")
    with pytest.raises(ValueError, match="renamed column"):
        snapshot_compact(spark, t, partition_cols=["tenant"])


def test_stream_identity_guard_catches_overwrite_reset(spark, tmp_path):
    """A full overwrite resets column identities. A LONG-RUNNING
    reader instance (whose (schema, colmap) capture predates the
    overwrite) must FAIL LOUDLY at plan time under onNonAppend=skip
    instead of null-filling every post-overwrite row of the renamed
    column. (A restarted stream re-captures schema + map together and
    proceeds cleanly — that path stays green below.)"""
    from nyc_taxi_data_warehouse_spark.streaming.snapshot_source import (
        SnapshotFeedStreamReader,
        read_snapshot_stream,
    )

    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 10)], "id int, amt int"), t
    )
    v_rename = snapshot_rename_column(spark, t, "amt", "amount")

    # the long-running reader: captured while colmap = {amount: amt}
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(_man(spark, t)["schema"])
    reader = SnapshotFeedStreamReader(
        schema, {"path": t, "onnonappend": "skip"}
    )
    assert reader._cmap == {"amount": "amt"}

    # fresh identity under the SAME logical name: physical is now
    # 'amount', but the reader captured amount→amt
    v_ow = snapshot_write(
        spark.createDataFrame([(2, 20)], "id int, amount int"), t
    )
    with pytest.raises(ValueError, match="identity changed mid-stream"):
        reader.partitions(
            {"version": v_rename}, {"version": v_ow}
        )

    # a RESTARTED stream re-captures the pair and drains cleanly:
    # the overwrite itself streams zero rows (skip mode ignores
    # rewrite commits wholesale), and the pre-reset file's column
    # belongs to a dead identity and null-fills (the same
    # field-identity contract the batch feed documents)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (
        read_snapshot_stream(spark, t, on_non_append="skip")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert _bag(spark.read.parquet(out), "id", "amount") == [(1, None)]
