"""Branches, tags, write-audit-publish (warehouse/branching.py):
isolation, fast-forward publish + conflict, per-branch DML, reclaim,
tag immutability, vacuum interaction with branches and tags."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.warehouse.branching import (
    AuditFailed,
    branch_ref,
    create_branch,
    create_tag,
    delete_tag,
    drop_branch,
    list_branches,
    list_tags,
    publish_branch,
    read_tag,
    resolve_tag,
    write_audit_publish,
)
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    SnapshotConflict,
    read_snapshot,
    snapshot_changes,
    snapshot_compact,
    snapshot_delete,
    snapshot_restore,
    snapshot_update,
    snapshot_versions,
    snapshot_write,
    vacuum_snapshots,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, month int, v string")


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "br_table")


def _rows(spark, path):
    return sorted(
        (r.id, r.month, r.v) for r in read_snapshot(spark, path).collect()
    )


def test_branch_isolation_both_directions(spark, table):
    snapshot_write(_df(spark, [(i, i % 3, f"d{i}") for i in range(9)]), table)
    ref = create_branch(spark, table, "dev")
    assert ref == branch_ref(table, "dev")
    # branch sees the fork point
    assert _rows(spark, ref) == _rows(spark, table)
    # branch write invisible on main
    snapshot_write(_df(spark, [(100, 0, "b")]), ref, mode="append")
    assert (100, 0, "b") not in _rows(spark, table)
    assert (100, 0, "b") in _rows(spark, ref)
    # main write invisible on branch
    snapshot_write(_df(spark, [(200, 0, "m")]), table, mode="append")
    assert (200, 0, "m") not in _rows(spark, ref)
    assert list_branches(spark, table) == ["dev"]


def test_branch_dml_compact_restore_and_feed(spark, table):
    """The whole snapshot surface works against a ref: DML triad,
    compaction, restore, change feed — each on the branch's own chain."""
    snapshot_write(
        _df(spark, [(i, i % 2, f"d{i}") for i in range(10)]), table
    )
    ref = create_branch(spark, table, "fix")
    snapshot_delete(spark, ref, {"id": [3]}, mode="rewrite")
    snapshot_update(spark, ref, {"id": [4]}, {"v": "redacted"}, mode="rewrite")
    snapshot_compact(spark, ref, target_mb=64)
    assert (4, 0, "redacted") in _rows(spark, ref)
    assert all(r[0] != 3 for r in _rows(spark, ref))
    # restore the branch to its fork state
    snapshot_restore(spark, ref, 1)
    assert _rows(spark, ref) == _rows(spark, table)
    ops = [x["op"] for x in snapshot_versions(spark, ref)]
    assert ops == ["branch", "delete_rows", "update_rows", "compact", "restore"]
    # the branch change feed replays its own history only
    ch = snapshot_changes(spark, ref, from_version=1)
    assert set(ch.select("_change_type").distinct().toPandas()["_change_type"]) \
        == {"insert", "delete"}
    # main history untouched
    assert [x["op"] for x in snapshot_versions(spark, table)] == ["overwrite"]


def test_publish_fast_forward_and_stats_carry(spark, table):
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        Range,
        snapshot_write,
    )

    snapshot_write(
        _df(spark, [(i, i % 3, f"d{i}") for i in range(30)]),
        table, stats_cols=["id"],
    )
    create_branch(spark, table, "wap")
    ref = branch_ref(table, "wap")
    snapshot_delete(spark, ref, {"id": [7]}, mode="rewrite")
    v = publish_branch(spark, table, "wap")
    assert v == 2
    assert all(r[0] != 7 for r in _rows(spark, table))
    man_ops = [x["op"] for x in snapshot_versions(spark, table)]
    assert man_ops == ["overwrite", "publish"]
    # stats survived the publish: pruned read still plans by manifest
    got = read_snapshot(spark, table, where={"id": Range(10, 12)})
    assert sorted(r.id for r in got.collect()) == [10, 11, 12]


def test_publish_refuses_diverged_main_then_force(spark, table):
    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    create_branch(spark, table, "slow")
    ref = branch_ref(table, "slow")
    snapshot_write(_df(spark, [(2, 2, "b")]), ref, mode="append")
    # main advances past the fork point
    snapshot_write(_df(spark, [(3, 3, "c")]), table, mode="append")
    with pytest.raises(SnapshotConflict, match="not a fast-forward"):
        publish_branch(spark, table, "slow")
    assert (3, 3, "c") in _rows(spark, table)  # untouched
    # force = documented last-writer-wins: main's concurrent append is
    # dropped because the branch head is a full-state manifest
    publish_branch(spark, table, "slow", force=True)
    assert _rows(spark, table) == [(1, 1, "a"), (2, 2, "b")]


def test_branch_create_name_guards(spark, table):
    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    create_branch(spark, table, "dev")
    with pytest.raises(ValueError, match="already exists"):
        create_branch(spark, table, "dev")
    with pytest.raises(ValueError, match="invalid branch/tag name"):
        create_branch(spark, table, "../escape")
    with pytest.raises(ValueError, match="invalid branch/tag name"):
        create_branch(spark, table, "")
    with pytest.raises(FileNotFoundError):
        create_branch(spark, table, "old", at_version=99)
    with pytest.raises(ValueError, match="already a branch ref"):
        create_branch(spark, branch_ref(table, "dev"), "nested")


def test_drop_branch_reclaim_spares_shared_files(spark, table):
    """reclaim=True deletes only files no main version or other branch
    references: fork-point files and published files survive."""
    snapshot_write(_df(spark, [(1, 1, "a"), (2, 2, "b")]), table)
    ref = create_branch(spark, table, "tmp")
    snapshot_write(_df(spark, [(9, 9, "z")]), ref, mode="append")
    deleted = drop_branch(spark, table, "tmp", reclaim=True)
    assert deleted >= 1  # the branch-minted file went away
    assert _rows(spark, table) == [(1, 1, "a"), (2, 2, "b")]  # intact
    assert list_branches(spark, table) == []
    with pytest.raises(FileNotFoundError):
        drop_branch(spark, table, "tmp")


def test_vacuum_keeps_branch_files_and_tagged_versions(spark, table):
    snapshot_write(_df(spark, [(1, 1, "a")]), table)  # v1
    create_tag(spark, table, "v1-tag")
    ref = create_branch(spark, table, "keepme")
    # overwrite main twice so v1's files are referenced ONLY by the
    # tag's manifest and the branch chain
    snapshot_write(_df(spark, [(2, 2, "b")]), table)  # v2
    snapshot_write(_df(spark, [(3, 3, "c")]), table)  # v3
    res = vacuum_snapshots(spark, table, keep_last=1)
    # v1 is tagged: never dropped. v2 dropped normally.
    assert res["versions_dropped"] == 1
    assert read_tag(spark, table, "v1-tag").collect()[0].id == 1
    assert _rows(spark, ref) == [(1, 1, "a")]  # branch survives vacuum
    # after the tag and branch retire, v1 becomes vacuumable
    delete_tag(spark, table, "v1-tag")
    drop_branch(spark, table, "keepme", reclaim=True)
    res = vacuum_snapshots(spark, table, keep_last=1)
    assert res["versions_dropped"] == 1 and res["files_deleted"] >= 1
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, version=1)


def test_vacuum_refuses_branch_ref(spark, table):
    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    create_branch(spark, table, "dev")
    with pytest.raises(ValueError, match="vacuum the table root"):
        vacuum_snapshots(spark, branch_ref(table, "dev"))


def test_tags_immutable_and_stable(spark, table):
    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    v = create_tag(spark, table, "rel")
    assert v == 1 and list_tags(spark, table) == {"rel": 1}
    with pytest.raises(ValueError, match="immutable"):
        create_tag(spark, table, "rel")
    # later DML does not move the tag
    snapshot_delete(spark, table, {"id": [1]}, mode="rewrite")
    assert read_tag(spark, table, "rel").count() == 1
    assert resolve_tag(spark, table, "rel") == 1
    delete_tag(spark, table, "rel")
    with pytest.raises(FileNotFoundError):
        resolve_tag(spark, table, "rel")
    with pytest.raises(FileNotFoundError):
        create_tag(spark, table, "late", version=99)


def test_write_audit_publish_end_to_end(spark, table):
    snapshot_write(
        _df(spark, [(i, i % 3, f"d{i}") for i in range(12)]), table
    )

    v = write_audit_publish(
        spark,
        table,
        "dedup-run",
        write=lambda ref: snapshot_delete(
            spark, ref, {"id": [5, 6]}, mode="rewrite",
        ),
        audit=lambda df: df.count() == 10,
    )
    assert v == 2
    assert len(_rows(spark, table)) == 10
    assert list_branches(spark, table) == []  # dropped after publish

    # vetoed audit: main untouched, branch kept for debugging
    with pytest.raises(AuditFailed):
        write_audit_publish(
            spark,
            table,
            "bad-run",
            write=lambda ref: snapshot_delete(
                spark, ref, {"id": list(range(12))}, mode="rewrite",
            ),
            audit=lambda df: df.count() > 5,  # mass-delete tripwire
        )
    assert len(_rows(spark, table)) == 10
    assert list_branches(spark, table) == ["bad-run"]
    # and with keep_branch_on_failure=False the branch is reclaimed
    with pytest.raises(AuditFailed):
        write_audit_publish(
            spark,
            table,
            "bad-run-2",
            write=lambda ref: snapshot_delete(
                spark, ref, {"id": [0]}, mode="rewrite",
            ),
            audit=lambda df: False,
            keep_branch_on_failure=False,
        )
    assert "bad-run-2" not in list_branches(spark, table)


def test_publish_loses_cleanly_to_concurrent_writer(
    spark, table, monkeypatch
):
    """The true race window: publish reads main's head, THEN a
    concurrent writer claims the next version, then publish's commit
    attempts the same number — the exclusive manifest create
    arbitrates and the publish loses with SnapshotConflict, never a
    mixed state. Simulated by pinning publish's view of main to the
    stale head while the adversary commits for real."""
    import nyc_taxi_data_warehouse_spark.warehouse.branching as B

    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    create_branch(spark, table, "racer")
    ref = branch_ref(table, "racer")
    snapshot_write(_df(spark, [(2, 2, "b")]), ref, mode="append")

    real = B.list_versions

    def stale(p):
        vs = real(p)
        return [v for v in vs if v <= 1] if p == table else vs

    monkeypatch.setattr(B, "list_versions", stale)
    # adversary wins the v2 slot between publish's check and commit
    snapshot_write(_df(spark, [(3, 3, "c")]), table, mode="append")
    with pytest.raises(SnapshotConflict, match="committed concurrently"):
        publish_branch(spark, table, "racer")
    # main is exactly the adversary's state; branch untouched
    assert _rows(spark, table) == [(1, 1, "a"), (3, 3, "c")]
    assert _rows(spark, ref) == [(1, 1, "a"), (2, 2, "b")]


def test_branch_cli_lifecycle(spark, table, capsys):
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main

    def run(*argv):
        assert main(list(argv), spark=spark) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    snapshot_write(_df(spark, [(1, 1, "a"), (2, 2, "b")]), table)
    out = run("branch", "--table-path", table, "--action", "create",
              "--name", "dev")
    assert out == {"ref": branch_ref(table, "dev")}
    snapshot_delete(spark, out["ref"], {"id": [2]}, mode="rewrite")
    out = run("branch", "--table-path", table, "--action", "tag",
              "--name", "pre")
    assert out == {"tag": "pre", "version": 1}
    out = run("branch", "--table-path", table, "--action", "list")
    assert out == {"branches": ["dev"], "tags": {"pre": 1}}
    out = run("branch", "--table-path", table, "--action", "publish",
              "--name", "dev")
    assert out == {"version": 2, "from_branch": "dev"}
    assert _rows(spark, table) == [(1, 1, "a")]
    out = run("branch", "--table-path", table, "--action", "drop",
              "--name", "dev", "--reclaim")
    assert out["dropped"] == "dev"
    assert read_tag(spark, table, "pre").count() == 2
    out = run("branch", "--table-path", table, "--action", "untag",
              "--name", "pre")
    assert out == {"deleted_tag": "pre"}


def test_publish_carries_branch_relayout(spark, table):
    """Publish is layout-free like an overwrite commit: a branch that
    re-partitioned the table via compaction publishes its new layout
    (it carries zero files from main, so no misclassification risk)."""
    snapshot_write(_df(spark, [(i, i % 2, f"d{i}") for i in range(8)]), table)
    ref = create_branch(spark, table, "relayout")
    snapshot_compact(spark, ref, target_mb=64, partition_cols=["month"])
    v = publish_branch(spark, table, "relayout")
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    assert load_manifest(table, v)["partition_cols"] == ["month"]
    assert _rows(spark, table) == sorted(
        (i, i % 2, f"d{i}") for i in range(8)
    )
    # and later appends on main follow the published layout contract
    snapshot_write(
        _df(spark, [(99, 1, "x")]), table, mode="append",
        partition_cols=["month"],
    )
    assert (99, 1, "x") in _rows(spark, table)


def test_sweep_orphans_reclaims_crash_debris_only(spark, table):
    """Orphan GC: a crashed commit's files (written, manifest never
    claimed) are invisible to vacuum — sweep_orphans deletes them once
    older than the grace window, leaves referenced and young files
    alone, and removes fully-orphaned commit dirs marker files and all."""
    import os

    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        _write_commit_files,
        sweep_orphans,
    )

    snapshot_write(_df(spark, [(1, 1, "a"), (2, 2, "b")]), table)
    # a "crashed" commit: files written, no manifest ever claims them
    commit, orphan_files = _write_commit_files(
        _df(spark, [(9, 9, "crash")]), table, None
    )
    assert orphan_files
    # a dropped branch without reclaim leaves its minted files behind
    ref = create_branch(spark, table, "gone")
    snapshot_write(_df(spark, [(7, 7, "g")]), ref, mode="append")
    drop_branch(spark, table, "gone")  # metadata-only
    # young files survive the sweep
    res = sweep_orphans(spark, table, grace_seconds=3600)
    assert res["files_deleted"] == 0 and res["files_kept_young"] >= 2
    # age them out and sweep for real
    res = sweep_orphans(spark, table, grace_seconds=0)
    assert res["files_deleted"] >= 2 and res["dirs_deleted"] >= 2
    assert not os.path.exists(f"{table}/data/{commit}")
    # the live table is untouched
    assert _rows(spark, table) == [(1, 1, "a"), (2, 2, "b")]
    # idempotent
    res = sweep_orphans(spark, table, grace_seconds=0)
    assert res["files_deleted"] == 0 and res["dirs_deleted"] == 0


def test_sweep_orphans_spares_branch_and_tag_references(spark, table):
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        sweep_orphans,
    )

    snapshot_write(_df(spark, [(1, 1, "a")]), table)  # v1
    create_tag(spark, table, "pin")
    ref = create_branch(spark, table, "live")
    snapshot_write(_df(spark, [(5, 5, "b")]), ref, mode="append")
    snapshot_write(_df(spark, [(2, 2, "c")]), table)  # overwrite main
    vacuum_snapshots(spark, table, keep_last=1)  # v1 manifest kept (tag)
    res = sweep_orphans(spark, table, grace_seconds=0)
    assert res["files_deleted"] == 0
    assert read_tag(spark, table, "pin").count() == 1
    assert _rows(spark, ref) == [(1, 1, "a"), (5, 5, "b")]
    with pytest.raises(ValueError, match="table root"):
        sweep_orphans(spark, branch_ref(table, "live"), grace_seconds=0)


def test_vacuum_cli_with_orphan_sweep(spark, table, capsys):
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        _write_commit_files,
    )

    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    snapshot_write(_df(spark, [(2, 2, "b")]), table)
    _write_commit_files(_df(spark, [(9, 9, "crash")]), table, None)
    assert main(
        [
            "snapshot-vacuum", "--table-path", table, "--keep-last", "1",
            "--sweep-orphans", "--orphan-grace-seconds", "0",
        ],
        spark=spark,
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["versions_dropped"] == 1
    assert out["orphan_files_deleted"] >= 1
    assert out["orphan_dirs_deleted"] >= 1
    assert _rows(spark, table) == [(2, 2, "b")]


@pytest.mark.slowproof
def test_streaming_feed_and_append_over_branch_ref(spark, table, tmp_path):
    """The streaming surface follows refs too: stream_snapshot_append
    lands micro-batches on a BRANCH (exactly-once per chain), the feed
    source reads a branch's own history, and main never sees either
    until publish."""
    from nyc_taxi_data_warehouse_spark.streaming.snapshot_source import (
        read_snapshot_stream,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        stream_snapshot_append,
    )

    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    ref = create_branch(spark, table, "ingest")
    src_dir = str(tmp_path / "src")
    _df(spark, [(2, 2, "b"), (3, 3, "c")]).write.parquet(src_dir)
    stream = (
        spark.readStream.schema("id long, month int, v string")
        .parquet(src_dir)
    )
    stream_snapshot_append(
        spark, stream, ref, str(tmp_path / "ck1"), stream_id="s1"
    )
    assert len(_rows(spark, ref)) == 3
    assert _rows(spark, table) == [(1, 1, "a")]  # main isolated

    # the feed source reads the BRANCH chain from version 0
    rows: list = []
    q = (
        read_snapshot_stream(spark, ref)
        .writeStream.foreachBatch(lambda b, e: rows.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted((r.id, r.month, r.v) for r in rows) == [
        (1, 1, "a"), (2, 2, "b"), (3, 3, "c"),
    ]
    publish_branch(spark, table, "ingest")
    assert len(_rows(spark, table)) == 3


@pytest.mark.slowproof
def test_satellite_indexes_follow_branch_refs(spark, tmp_path):
    """Worklist #4 (round 7): a WAP curation run keeps its SATELLITE
    indexes in sync on the branch before publish — Bloom build/read/
    sync and the postings change-feed sync all drive from a
    'table#branch' ref; after the fast-forward publish, the same
    index serves MAIN unchanged (a reconcile against main is a strict
    no-op, because publish moved zero data files)."""
    from nyc_taxi_data_warehouse_spark.operators.search import (
        lookup_postings,
        postings,
        set_postings_sync_cursor,
        sync_postings_from_snapshot,
        write_postings_index,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        build_snapshot_bloom_index,
        read_snapshot_with_bloom,
        sync_bloom_with_snapshot,
    )

    table = str(tmp_path / "wap_docs")
    bidx = str(tmp_path / "wap_bloom")
    pidx = str(tmp_path / "wap_postings")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "secret delta")],
        "doc_id long, text string",
    )
    snapshot_write(docs, table)
    ref = create_branch(spark, table, "curation")
    # postings index forked at branch v1 (the fork-point state)
    write_postings_index(
        postings(read_snapshot(spark, ref), "text", "doc_id"), pidx
    )
    set_postings_sync_cursor(spark, pidx, 1)

    # curation DML happens ON THE BRANCH: append + takedown
    snapshot_write(
        spark.createDataFrame([(4, "omega alpha")], "doc_id long, text string"),
        ref, mode="append",
    )
    snapshot_delete(spark, ref, {"doc_id": [3]}, mode="rewrite")

    # Bloom: build from the ref, lookup through the ref
    build_snapshot_bloom_index(spark, ref, "doc_id", bidx)
    got = read_snapshot_with_bloom(spark, ref, bidx, [4, 3])
    assert [(r.doc_id, r.text) for r in got.collect()] == [(4, "omega alpha")]

    # postings: change-feed sync driven from the ref
    res = sync_postings_from_snapshot(spark, ref, pidx)
    assert res["docs_upserted"] == 1 and res["docs_deleted"] == 1
    hits = lookup_postings(spark, pidx, ["omega", "secret"])
    terms = {r["term"] for r in hits.collect()}
    assert terms == {"omega"}

    # main is UNTOUCHED until publish
    assert sorted(r.doc_id for r in read_snapshot(spark, table).collect()) \
        == [1, 2, 3]
    publish_branch(spark, table, "curation")
    assert sorted(r.doc_id for r in read_snapshot(spark, table).collect()) \
        == [1, 2, 4]
    # the branch-built Bloom index serves MAIN as-is: reconcile is a
    # no-op (publish carried the exact same data files) and lookups
    # through the main path hit
    out = sync_bloom_with_snapshot(spark, table, bidx)
    assert (out["files_added"], out["files_removed"]) == (0, 0)
    got_main = read_snapshot_with_bloom(spark, table, bidx, [4])
    assert [(r.doc_id, r.text) for r in got_main.collect()] \
        == [(4, "omega alpha")]


def test_drop_branch_reclaim_sweeps_branch_minted_dv_sidecars(
    spark, table
):
    """ADVICE r7: reclaim=True must treat deletion-vector sidecars
    exactly like data files on BOTH sides of the reference check — a
    branch-minted sidecar is reclaimed with the branch (no other ref
    holds it), while a sidecar shared with main (fork carry) survives
    or main's deleted rows would resurrect."""
    import os

    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    snapshot_write(_df(spark, [(i, i % 2, f"d{i}") for i in range(10)]), table)
    # a MAIN-minted sidecar, carried into the fork
    snapshot_delete(spark, table, {"id": [2]}, mode="dv")
    main_dv = load_manifest(
        table, list_versions(table)[-1]
    )["dv_files"]
    assert len(main_dv) == 1
    ref = create_branch(spark, table, "tmp")
    # a BRANCH-minted sidecar on top
    snapshot_delete(spark, ref, {"id": [5]}, mode="dv")
    bman = load_manifest(ref, list_versions(ref)[-1])
    branch_dv = sorted(set(bman["dv_files"]) - set(main_dv))
    assert len(branch_dv) == 1
    assert os.path.exists(os.path.join(table, branch_dv[0]))

    drop_branch(spark, table, "tmp", reclaim=True)
    # branch-minted sidecar reclaimed; shared fork-carry sidecar intact
    assert not os.path.exists(os.path.join(table, branch_dv[0]))
    assert os.path.exists(os.path.join(table, main_dv[0]))
    # main still reads with its own tombstones applied
    assert _rows(spark, table) == sorted(
        (i, i % 2, f"d{i}") for i in range(10) if i != 2
    )
