"""Partition evolution (``snapshot_set_layout``) — Iceberg-style
metadata-only layout changes.

The contract under test: evolving the layout moves ZERO data bytes and
applies to FUTURE commits only; while layouts are mixed (old files not
yet compacted) every surface stays EXACT — partition-scoped reads and
counts split dir-encoded files from unmigrated ones and row-filter the
latter; metadata-only directory proofs (drop_partitions, scoped feeds,
replace_partitions) refuse loudly or fall back automatically; DML
victim planning keeps its no-false-negatives contract; and a full
compact migrates everything back to a single layout, restoring every
fast path.
"""

from __future__ import annotations

import pytest

from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    Range,
    snapshot_add_column,
    snapshot_agg,
    snapshot_changes,
    snapshot_compact,
    snapshot_delete,
    snapshot_drop_partitions,
    snapshot_history,
    snapshot_rename_column,
    snapshot_replace_partitions,
    snapshot_set_layout,
    snapshot_update,
    snapshot_write,
)
from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
    list_versions,
    load_manifest,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, month int, v string")


def _bag(df):
    return sorted((r.id, r.month, r.v) for r in df.select("id", "month", "v").collect())


ROWS_A = [(1, 0, "a"), (2, 0, "b"), (3, 1, "c"), (4, 1, "d")]
ROWS_B = [(5, 0, "e"), (6, 2, "f")]
ROWS_C = [(7, 0, "g")]


def _mixed(spark, tmp_path, name="t"):
    """layout [month] -> unpartitioned -> [month]: three file
    generations, the middle one storing month as DATA."""
    t = str(tmp_path / name)
    snapshot_write(
        _df(spark, ROWS_A), t, partition_cols=["month"], stats_cols=["id"],
    )
    snapshot_set_layout(spark, t, None)
    snapshot_write(_df(spark, ROWS_B), t, mode="append")
    snapshot_set_layout(spark, t, ["month"])
    snapshot_write(
        _df(spark, ROWS_C), t, mode="append", partition_cols=["month"]
    )
    return t


def test_set_layout_is_metadata_only_and_versioned(spark, tmp_path):
    t = str(tmp_path / "meta")
    snapshot_write(_df(spark, ROWS_A), t, partition_cols=["month"])
    man0 = load_manifest(t, list_versions(t)[-1])
    v = snapshot_set_layout(spark, t, None)
    man1 = load_manifest(t, v)
    assert man1["files"] == man0["files"]  # zero data movement
    assert man1.get("partition_cols") is None
    assert man1["op"] == "set_layout"
    # time travel below the evolution sees the old layout
    assert load_manifest(t, man0["version"]).get(
        "partition_cols"
    ) == ["month"]
    # history annotates the transition
    hist = {r["version"]: r["extras"] for r in snapshot_history(spark, t).collect()}
    assert '"layout_to": null' in hist[v]

    # refusals
    with pytest.raises(ValueError, match="already"):
        snapshot_set_layout(spark, t, None)
    with pytest.raises(ValueError, match="not in table schema"):
        snapshot_set_layout(spark, t, ["nope"])
    with pytest.raises(ValueError, match="duplicate"):
        snapshot_set_layout(spark, t, ["month", "month"])
    snapshot_add_column(spark, t, "lang", "string", default="en")
    with pytest.raises(ValueError, match="INITIAL default"):
        snapshot_set_layout(spark, t, ["lang"])
    snapshot_rename_column(spark, t, "v", "val")
    with pytest.raises(ValueError, match="rename history"):
        snapshot_set_layout(spark, t, ["val"])


def test_mixed_reads_and_scoped_reads_exact(spark, tmp_path):
    t = _mixed(spark, tmp_path)
    allrows = sorted(ROWS_A + ROWS_B + ROWS_C)
    assert _bag(read_snapshot(spark, t)) == allrows
    # scoped read includes the layout-B file's matching rows via the
    # row-level residual (id=5 stores month as data)
    got = _bag(read_snapshot(spark, t, partitions={"month": 0}))
    assert got == [r for r in allrows if r[1] == 0]
    assert _bag(read_snapshot(spark, t, partitions={"month": [1, 2]})) == [
        r for r in allrows if r[1] in (1, 2)
    ]
    # counts: scoped is exact across the mix, unscoped metadata-only
    assert snapshot_agg(spark, t, [("count", "*")])[0][0] == len(allrows)
    assert snapshot_agg(
        spark, t, [("count", "*")], partitions={"month": 0}
    )[0][0] == 4
    assert snapshot_agg(
        spark, t, [("count", "*")], partitions={"month": 2}
    )[0][0] == 1
    # stats+partition composed pruned read stays exact
    pr = read_snapshot(
        spark, t, partitions={"month": 0}, where={"id": Range(4, 9)},
    )
    assert _bag(pr) == [(5, 0, "e"), (7, 0, "g")]


def test_directory_proof_surfaces_refuse_or_fall_back(spark, tmp_path):
    t = _mixed(spark, tmp_path)
    # metadata-only drop refuses: the layout-B file may hold month=0
    with pytest.raises(ValueError, match="does not encode"):
        snapshot_drop_partitions(spark, t, {"month": 0})
    # scoped feed refuses the same way
    with pytest.raises(ValueError, match="does not encode"):
        snapshot_changes(
            spark, t, from_version=0, partitions={"month": 0}
        ).collect()
    # replace_partitions keeps its fail-fast on unclassifiable files
    with pytest.raises(ValueError, match="not laid |not laid out"):
        snapshot_replace_partitions(
            _df(spark, [(9, 0, "z")]), t, partition_cols=["month"]
        )
    # the DELETE front door steps aside to the data path — and is exact
    v, n = snapshot_delete(spark, t, {"month": [0]})
    assert n == 4  # includes the layout-B row id=5
    man = load_manifest(t, v)
    assert man["op"] != "drop_partitions"
    assert _bag(read_snapshot(spark, t)) == sorted(
        r for r in ROWS_A + ROWS_B + ROWS_C if r[1] != 0
    )


def test_update_where_on_partition_col_across_mix(spark, tmp_path):
    t = _mixed(spark, tmp_path)
    # month=2 lives ONLY in the layout-B (unencoded) file — the victim
    # planner must keep it as a candidate (no false negatives)
    v, n = snapshot_update(spark, t, {"month": [2]}, {"v": "UPD"})
    assert n == 1
    assert (6, 2, "UPD") in _bag(read_snapshot(spark, t))


def test_compact_migrates_and_restores_fast_paths(spark, tmp_path):
    t = _mixed(spark, tmp_path)
    allrows = sorted(ROWS_A + ROWS_B + ROWS_C)
    snapshot_compact(spark, t)
    assert _bag(read_snapshot(spark, t)) == allrows  # row-neutral
    # every live file now encodes month -> directory proofs work again
    v, n = snapshot_drop_partitions(spark, t, {"month": 2})
    assert n == 1
    assert _bag(read_snapshot(spark, t)) == [
        r for r in allrows if r[1] != 2
    ]
    # and the feed bridges the whole history (set_layout commits emit
    # nothing; the drop emits its deletes)
    ch = snapshot_changes(spark, t, from_version=0)
    ops = {r["_change_type"] for r in ch.collect()}
    assert ops <= {"insert", "delete"}


def test_feed_bridges_across_layout_changes(spark, tmp_path):
    t = _mixed(spark, tmp_path)
    base = []
    ch = snapshot_changes(spark, t, from_version=0).collect()
    bag = list(base)
    for r in sorted(ch, key=lambda r: r["_commit_version"]):
        tup = (r["id"], r["month"], r["v"])
        if r["_change_type"] == "delete":
            bag.remove(tup)
        else:
            bag.append(tup)
    assert sorted(bag) == sorted(ROWS_A + ROWS_B + ROWS_C)


def test_streaming_source_reads_mixed_layouts(spark, tmp_path):
    from nyc_taxi_data_warehouse_spark.streaming.snapshot_source import (
        read_snapshot_stream,
    )

    t = _mixed(spark, tmp_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        read_snapshot_stream(spark, t)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.id, r.month, r.v)
        for r in spark.read.parquet(out).select("id", "month", "v").collect()
    )
    assert got == sorted(ROWS_A + ROWS_B + ROWS_C)

    # a partition-scoped stream over the mix must fail LOUDLY, not
    # silently drop the layout-B file's rows
    with pytest.raises(Exception, match="does not encode"):
        q2 = (
            read_snapshot_stream(spark, t, partitions={"month": 0})
            .writeStream.format("memory")
            .queryName("evo_scoped")
            .option(
                "checkpointLocation", str(tmp_path / "ckpt2")
            )
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        if q2.exception() is not None:
            raise q2.exception()


def test_sql_and_cli_surfaces(spark, tmp_path, capsys):
    import json

    from nyc_taxi_data_warehouse_spark.__main__ import main
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_register,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import (
        snapshot_sql,
    )

    t = str(tmp_path / "sqlevo")
    snapshot_write(_df(spark, ROWS_A), t, partition_cols=["month"])
    snapshot_register(spark, t, "sqlevo")
    snapshot_sql(spark, "ALTER TABLE sqlevo SET PARTITIONING ()")
    man = load_manifest(t, list_versions(t)[-1])
    assert man.get("partition_cols") is None
    snapshot_sql(spark, "ALTER TABLE sqlevo ADD PARTITION FIELD month")
    man = load_manifest(t, list_versions(t)[-1])
    assert man.get("partition_cols") == ["month"]
    snapshot_sql(spark, "ALTER TABLE sqlevo DROP PARTITION FIELD month")
    man = load_manifest(t, list_versions(t)[-1])
    assert man.get("partition_cols") is None

    main(
        [
            "snapshot-alter", "--table-path", t,
            "--set-layout", "month",
        ],
        spark=spark,
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["layout"] == ["month"]
    man = load_manifest(t, list_versions(t)[-1])
    assert man.get("partition_cols") == ["month"]


def test_feed_batched_readd_of_unmigrated_file(spark, tmp_path):
    """Round-9 review finding (CONFIRMED repro): a restore can re-add a
    file that predates a layout evolution while the commit's layout
    equals the target's — the batched fast path's flat read would
    null-fill the partition column from the relpath lookup instead of
    reading it from the file's data pages. The gate must route such
    commits to the per-commit path and the feed must carry real
    values."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_restore,
    )

    t = str(tmp_path / "readd")
    v_a = snapshot_write(
        _df(spark, [(1, 0, "a"), (2, 1, "b")]),
        t, partition_cols=["month"], stats_cols=["id"],
    )
    snapshot_set_layout(spark, t, None)
    snapshot_write(
        _df(spark, [(10, 5, "B1"), (11, 5, "B2")]), t, mode="append"
    )
    v_mix = snapshot_set_layout(spark, t, ["month"])
    # restore BACKWARD past the unmigrated file, then FORWARD again:
    # the forward restore is a PURE re-add (removed == [], same layout
    # as the target, no dv/eq/defaults) — exactly the shape the
    # batched fast path accepts
    v_back = snapshot_restore(spark, t, v_a)
    man_back = load_manifest(t, v_back)
    man_mix = load_manifest(t, v_mix)
    assert set(man_back["files"]) < set(man_mix["files"])
    snapshot_restore(spark, t, v_mix)
    ch = snapshot_changes(spark, t, from_version=v_back).collect()
    ins = sorted(
        (r["id"], r["month"]) for r in ch if r["_change_type"] == "insert"
    )
    assert ins == [(10, 5), (11, 5)], ins  # month from DATA, never null


def test_residual_empty_value_list_matches_nothing(spark, tmp_path):
    """Round-9 review finding: an empty value list must make the
    residual FALSE for unmigrated files, not a dropped (tautological)
    constraint."""
    t = _mixed(spark, tmp_path, "emptyvals")
    assert read_snapshot(spark, t, partitions={"month": []}).count() == 0
    assert snapshot_agg(
        spark, t, [("count", "*")], partitions={"month": []}
    )[0][0] == 0


def test_scoped_minmax_count_nonnull_exact_across_mix(spark, tmp_path):
    """Round-9 review finding: the whole metadata-aggregate family —
    not just COUNT(*) — must stay exact on scoped queries over mixed
    layouts (unmigrated files scan with the residual; their global
    stats must never answer a scoped aggregate)."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import snapshot_agg

    t = _mixed(spark, tmp_path, "aggmix")
    # month=0 rows: ids 1,2 (layout A), 5 (layout B, stored as data),
    # 7 (layout C) — the B file also holds id 6 (month=2), whose
    # global min/max must NOT leak into the scoped answer
    lo, hi = snapshot_agg(
        spark, t, [("min", "id"), ("max", "id")], partitions={"month": 0}
    )[0]
    assert (float(lo), float(hi)) == (1.0, 7.0)
    lo, hi = snapshot_agg(
        spark, t, [("min", "id"), ("max", "id")], partitions={"month": 2}
    )[0]
    assert (float(lo), float(hi)) == (6.0, 6.0)
    assert snapshot_agg(
        spark, t, [("count", "v")], partitions={"month": 0}
    )[0][0] == 4
    assert snapshot_agg(
        spark, t, [("count", "v")], partitions={"month": 2}
    )[0][0] == 1


def test_cli_set_layout_refuses_stray_default(spark, tmp_path):
    from nyc_taxi_data_warehouse_spark.__main__ import main

    t = str(tmp_path / "strayd")
    snapshot_write(_df(spark, ROWS_A), t, partition_cols=["month"])
    with pytest.raises(SystemExit, match="only applies with --add"):
        main(
            [
                "snapshot-alter", "--table-path", t,
                "--set-layout", "none", "--default", "5",
            ],
            spark=spark,
        )


def test_snapshot_partitions_metadata_table(spark, tmp_path, capsys):
    """SHOW PARTITIONS surface: per-partition files/rows/bytes from
    metadata, with unmigrated (layout-evolved) files visibly grouped
    under encodes_layout=false instead of silently misbinned."""
    from nyc_taxi_data_warehouse_spark.__main__ import main
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_partitions,
        snapshot_register,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import (
        snapshot_sql,
    )

    t = _mixed(spark, tmp_path, "parts")
    rows = {
        (r["month"], r["encodes_layout"]): (r["n_files"], r["rows"])
        for r in snapshot_partitions(spark, t).collect()
    }
    # encoded groups: month 0 holds A's two rows + C's one; month 1 A's
    # two; the layout-B file (ROWS_B, 2 rows) is the unencoded group
    assert rows[("0", True)][1] == 3
    assert rows[("1", True)][1] == 2
    assert rows[(None, False)][1] == 2
    # totals agree with the exact count
    assert sum(v[1] for v in rows.values()) == snapshot_agg(
        spark, t, [("count", "*")]
    )[0][0]
    # after compact everything encodes
    snapshot_compact(spark, t)
    rows = {
        r["month"]: r
        for r in snapshot_partitions(spark, t).collect()
    }
    assert all(r["encodes_layout"] for r in rows.values())
    assert rows["2"]["rows"] == 1

    # SQL + CLI surfaces
    snapshot_register(spark, t, "parts_sql")
    got = snapshot_sql(spark, "SHOW PARTITIONS parts_sql").collect()
    assert {r["month"] for r in got} == {"0", "1", "2"}
    import json as _json

    main(["snapshot-partitions", "--table-path", t], spark=spark)
    out = [
        _json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert {o["month"] for o in out} == {"0", "1", "2"}


def test_snapshot_partitions_review_hardening(spark, tmp_path):
    """Round-9 third review pass: (1) a partition column named like a
    metric column refuses instead of silently summing directory
    strings; (2) an invalid version raises the contract
    FileNotFoundError; (3) SHOW PARTITIONS on a PINNED view answers for
    the pinned version instead of refusing with a mutation message."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_partitions,
        snapshot_register,
        snapshot_versions,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.sqlfront import (
        snapshot_sql,
    )

    t = str(tmp_path / "clash")
    spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20)], "id long, rows int"
    ).createOrReplaceTempView("clash_src")
    snapshot_write(
        spark.table("clash_src"), t, partition_cols=["rows"]
    )
    with pytest.raises(ValueError, match="collide"):
        snapshot_partitions(spark, t)
    with pytest.raises(FileNotFoundError, match="not present"):
        snapshot_partitions(spark, t, version=999)

    t2 = str(tmp_path / "pinned")
    snapshot_write(_df(spark, ROWS_A), t2, partition_cols=["month"])
    v0 = snapshot_versions(spark, t2)[-1]["version"]
    snapshot_write(
        _df(spark, [(9, 2, "z")]), t2, mode="append",
        partition_cols=["month"],
    )
    snapshot_register(spark, t2, "pinned_parts", version=v0)
    got = {
        r["month"]: r["rows"]
        for r in snapshot_sql(
            spark, "SHOW PARTITIONS pinned_parts"
        ).collect()
    }
    assert got == {"0": 2, "1": 2}  # the PINNED version: no month=2
    # DESCRIBE HISTORY / SHOW TBLPROPERTIES accept pinned views too
    assert snapshot_sql(
        spark, "DESCRIBE HISTORY pinned_parts"
    ).count() >= 2
    snapshot_sql(spark, "SHOW TBLPROPERTIES pinned_parts").collect()
