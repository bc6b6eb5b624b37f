"""Keyed replica maintenance (warehouse/replicate.py): applying the
row-level change feed to a derived table with the equality-delete
writers — one refresh reads the source's changed files and writes the
net changed keys, never the replica. The contract: after any refresh,
the replica's visible rows == transform(source snapshot), across every
commit kind the feed bridges (CoW/DV DML, eq upserts, compaction,
restore), and re-applying a range converges (crash safety)."""

from __future__ import annotations

import pytest

from nyc_taxi_data_warehouse_spark.warehouse.eqdeletes import (
    snapshot_append_upsert,
    snapshot_delete_keys,
)
from nyc_taxi_data_warehouse_spark.warehouse.replicate import (
    replicate_keyed,
)
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    snapshot_compact,
    snapshot_delete,
    snapshot_properties,
    snapshot_restore,
    snapshot_update,
    snapshot_versions,
    snapshot_write,
)
from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import list_versions

from pyspark.sql import functions as F


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, month int, v string")


def _bag(df, cols=("id", "month", "v")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _assert_mirrors(spark, src, dst, xf=None):
    want = read_snapshot(spark, src)
    if xf:
        want = xf(want)
    cols = tuple(want.columns)
    assert _bag(read_snapshot(spark, dst), cols) == _bag(want, cols)


@pytest.mark.slowproof
def test_replica_follows_full_dml_mix(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(10)]),
        src, partition_cols=["month"], stats_cols=["id"],
    )
    rep = replicate_keyed(spark, src, dst, ["id"])
    assert rep["upserted"] is None  # bootstrap
    _assert_mirrors(spark, src, dst)
    # no new commits: refresh is a no-op (no version published)
    n_dst = len(snapshot_versions(spark, dst))
    rep = replicate_keyed(spark, src, dst, ["id"])
    assert rep == {
        "source_version": rep["source_version"], "upserted": 0,
        "deleted_keys": 0,
    }
    assert len(snapshot_versions(spark, dst)) == n_dst
    # a full DML mix on the source, ONE refresh
    snapshot_append_upsert(
        spark, src, _df(spark, [(3, 1, "UP3"), (100, 0, "UP100")]), ["id"]
    )
    snapshot_delete_keys(
        spark, src, spark.createDataFrame([(4,)], "id long")
    )
    snapshot_update(spark, src, {"id": [5]}, {"v": "CW5"}, mode="rewrite")
    snapshot_delete(spark, src, {"id": [6]}, mode="dv")
    rep = replicate_keyed(spark, src, dst, ["id"])
    assert rep["upserted"] >= 3 and rep["deleted_keys"] >= 2
    _assert_mirrors(spark, src, dst)
    # compaction on the source is replica-invisible
    snapshot_compact(spark, src)
    rep = replicate_keyed(spark, src, dst, ["id"])
    assert rep["upserted"] == 0 and rep["deleted_keys"] == 0
    _assert_mirrors(spark, src, dst)
    # a source restore (rollback) flows through as ordinary changes
    snapshot_restore(spark, src, 2)  # back to the post-upsert state
    replicate_keyed(spark, src, dst, ["id"])
    _assert_mirrors(spark, src, dst)


@pytest.mark.slowproof
def test_replica_with_filter_projection_and_crash_replay(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")

    def xf(df):
        # row-local filter + projection: the "active rows" view
        return df.where(F.col("month") == 1).select("id", "v")

    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 0, "b"), (3, 1, "c")]),
        src, partition_cols=["month"],
    )
    replicate_keyed(spark, src, dst, ["id"], transform=xf)
    _assert_mirrors(spark, src, dst, xf)
    assert read_snapshot(spark, dst).columns == ["id", "v"]
    # an UPDATE that moves a row out of the predicate must DELETE its
    # key from the replica (filtered-away new image). The eq upsert is
    # the one writer that can move a key ACROSS partitions (the mask
    # is key-based, not position-based), so this also exercises that.
    snapshot_append_upsert(
        spark, src, _df(spark, [(3, 0, "moved")]), ["id"]
    )
    snapshot_append_upsert(  # and one moves IN
        spark, src, _df(spark, [(2, 1, "now-active")]), ["id"]
    )
    rep = replicate_keyed(spark, src, dst, ["id"], transform=xf)
    assert rep["deleted_keys"] >= 1
    _assert_mirrors(spark, src, dst, xf)
    assert sorted(
        (r.id, r.v) for r in read_snapshot(spark, dst).collect()
    ) == [(1, "a"), (2, "now-active")]
    # crash replay: re-apply the same range by resetting the cursor —
    # the refresh converges (idempotent-by-convergence)
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_set_properties,
    )

    cur = snapshot_properties(spark, dst)["replica.cursor"]
    snapshot_set_properties(spark, dst, {"replica.cursor": "1"})
    replicate_keyed(spark, src, dst, ["id"], transform=xf)
    assert snapshot_properties(spark, dst)["replica.cursor"] == cur
    _assert_mirrors(spark, src, dst, xf)
    # transform dropping the key column refuses loudly
    with pytest.raises(ValueError, match="key column"):
        replicate_keyed(
            spark, src, str(tmp_path / "dst2"), ["id"],
            transform=lambda df: df.select("v"),
        )


def test_replicate_cli(spark, tmp_path, capsys):
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 0, "b")]), src,
        partition_cols=["month"],
    )
    main(
        ["replicate", "--src-path", src, "--dst-path", dst,
         "--keys", "id", "--partition-by", "month"],
        spark=spark,
    )
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["source_version"] == 1
    snapshot_delete_keys(
        spark, src, spark.createDataFrame([(2,)], "id long")
    )
    main(
        ["replicate", "--src-path", src, "--dst-path", dst,
         "--keys", "id"],
        spark=spark,
    )
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["deleted_keys"] == 1
    assert sorted(
        r.id for r in read_snapshot(spark, dst).collect()
    ) == [1]


def test_replica_refuses_foreign_table_and_vacuumed_gap(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snapshot_write(_df(spark, [(1, 1, "a")]), src, partition_cols=["month"])
    # a pre-existing non-replica table must not be silently adopted
    snapshot_write(_df(spark, [(9, 9, "z")]), dst, partition_cols=["month"])
    with pytest.raises(ValueError, match="replica.cursor"):
        replicate_keyed(spark, src, dst, ["id"])
    # a cursor below the source's vacuum cutoff fails loudly
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        vacuum_snapshots,
    )

    dst2 = str(tmp_path / "dst2")
    replicate_keyed(spark, src, dst2, ["id"])
    for k in range(6):
        snapshot_write(
            _df(spark, [(10 + k, 1, f"n{k}")]), src, mode="append",
            partition_cols=["month"],
        )
    vacuum_snapshots(spark, src, keep_last=2)
    with pytest.raises(FileNotFoundError):
        replicate_keyed(spark, src, dst2, ["id"])


@pytest.mark.slowproof
def test_replica_refusals_schema_drift_keys_cursor_nulls(spark, tmp_path):
    """REVIEW r8: every ambiguity refuses loudly instead of silently
    diverging — source ADD COLUMN (images wider than the replica),
    a keys list differing from the bootstrap's persisted one, a cursor
    ahead of the source head (dropped/recreated source), and NULL keys
    at the bootstrap front door."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_add_column,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 0, "b")]), src,
        partition_cols=["month"],
    )
    replicate_keyed(spark, src, dst, ["id"])
    # source schema evolves; a changed row's image is now wider
    snapshot_add_column(spark, src, "score", "double")
    snapshot_append_upsert(
        spark, src,
        spark.createDataFrame(
            [(1, 1, "a2", 0.5)],
            "id long, month int, v string, score double",
        ),
        ["id"],
    )
    with pytest.raises(ValueError, match="score"):
        replicate_keyed(spark, src, dst, ["id"])
    # evolve the replica the same way: the refresh then applies
    snapshot_add_column(spark, dst, "score", "double")
    replicate_keyed(spark, src, dst, ["id"])
    got = {
        (r.id, r.v, r.score)
        for r in read_snapshot(spark, dst).collect()
    }
    assert (1, "a2", 0.5) in got and (2, "b", None) in got
    # keys mismatch vs the persisted replica.keys
    with pytest.raises(ValueError, match="keys"):
        replicate_keyed(spark, src, dst, ["id", "month"])
    # cursor ahead of a recreated (shorter) source
    import shutil

    shutil.rmtree(src)
    snapshot_write(
        spark.createDataFrame(
            [(9, 9, "z", None)],
            "id long, month int, v string, score double",
        ),
        src, partition_cols=["month"],
    )
    with pytest.raises(ValueError, match="AHEAD"):
        replicate_keyed(spark, src, dst, ["id"])
    # NULL keys refuse at the bootstrap front door
    src2 = str(tmp_path / "src2")
    snapshot_write(
        spark.createDataFrame(
            [(None, 1, "ghost")], "id long, month int, v string"
        ),
        src2, partition_cols=["month"],
    )
    with pytest.raises(ValueError, match="NULL key"):
        replicate_keyed(spark, src2, str(tmp_path / "dst2"), ["id"])


def test_replica_bootstrap_crash_resumes(spark, tmp_path):
    """REVIEW r8: a crash between the bootstrap write and the cursor
    property leaves the marker breadcrumb — the next run finishes the
    bootstrap (cursor from the marker's recorded head) instead of
    rejecting its own half-finished table; a marker recording a
    DIFFERENT src/keys refuses."""
    import json as _json
    import os

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 0, "b")]), src,
        partition_cols=["month"],
    )
    # forge the crash state: marker + v1, no cursor property
    os.makedirs(dst, exist_ok=True)
    with open(os.path.join(dst, "_replica_bootstrap.json"), "w") as f:
        _json.dump({"src": src, "keys": ["id"], "head": 1}, f)
    snapshot_write(
        read_snapshot(spark, src, version=1), dst,
        partition_cols=["month"],
    )
    # source advances before the resume
    snapshot_delete_keys(
        spark, src, spark.createDataFrame([(2,)], "id long")
    )
    # wrong identity refuses
    with pytest.raises(ValueError, match="refusing to resume"):
        replicate_keyed(spark, src, dst, ["id", "month"])
    rep = replicate_keyed(spark, src, dst, ["id"])
    assert rep["deleted_keys"] == 1
    assert not os.path.exists(os.path.join(dst, "_replica_bootstrap.json"))
    _assert_mirrors(spark, src, dst)
    assert snapshot_properties(spark, dst)["replica.keys"] == "id"


def test_replica_writes_are_o_changes(spark, tmp_path):
    """The refresh never reads or rewrites the replica: applying a
    one-key change to a replica of a much larger table writes bytes
    ∝ the change (one image + two key sidecars), not the replica."""
    import os

    import hashlib

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    snapshot_write(
        _df(
            spark,
            [
                # incompressible payloads: a constant string would
                # zstd away to nothing and the ratio would compare
                # parquet overheads instead of data
                (i, i % 2, hashlib.sha256(str(i).encode()).hexdigest() * 8)
                for i in range(2000)
            ],
        ),
        src, partition_cols=["month"],
    )
    replicate_keyed(spark, src, dst, ["id"], auto_resolve_entries=None)

    def tree_bytes(root):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(os.path.join(root, "data"))
            for f in fs
            if not f.startswith(("_", "."))
        )

    replica_bytes = tree_bytes(dst)
    before = replica_bytes
    snapshot_append_upsert(
        spark, src, _df(spark, [(7, 1, "CHANGED")]), ["id"]
    )
    replicate_keyed(spark, src, dst, ["id"], auto_resolve_entries=None)
    grew = tree_bytes(dst) - before
    assert grew < replica_bytes / 50, (grew, replica_bytes)
    assert [
        (r.id, r.v)
        for r in read_snapshot(spark, dst).where("id = 7").collect()
    ] == [(7, "CHANGED")]


@pytest.mark.slowproof
def test_replica_of_branch_ref_source(spark, tmp_path):
    """A replica whose SOURCE is a branch ref (`table#branch`) mirrors
    the BRANCH's state: main commits never leak in, branch commits
    flow, and publish_branch flows through the main-ref replica as
    ordinary commits (round-9 composition hardening)."""
    from nyc_taxi_data_warehouse_spark.warehouse.branching import (
        branch_ref,
        create_branch,
        publish_branch,
    )

    src = str(tmp_path / "bsrc")
    dstb = str(tmp_path / "bdst")
    dstm = str(tmp_path / "mdst")
    snapshot_write(_df(spark, [(1, 0, "a"), (2, 1, "b")]), src)
    create_branch(spark, src, "audit")
    ref = branch_ref(src, "audit")

    # diverge: branch gets an upsert, main gets a different one
    snapshot_append_upsert(spark, ref, _df(spark, [(3, 0, "br3")]), ["id"])
    snapshot_append_upsert(spark, src, _df(spark, [(9, 0, "mn9")]), ["id"])

    replicate_keyed(spark, ref, dstb, ["id"])
    _assert_mirrors(spark, ref, dstb)
    got = _bag(read_snapshot(spark, dstb))
    assert (3, 0, "br3") in got and not any(r[0] == 9 for r in got)

    # a main replica tracks main only
    replicate_keyed(spark, src, dstm, ["id"])
    _assert_mirrors(spark, src, dstm)
    got_m = _bag(read_snapshot(spark, dstm))
    assert (9, 0, "mn9") in got_m and not any(r[0] == 3 for r in got_m)

    # more branch churn, then PUBLISH: the branch replica keeps
    # following its ref, the main replica sees the published state as
    # one more refresh (the feed bridges the publish commit)
    snapshot_delete_keys(
        spark, ref, spark.createDataFrame([(1,)], "id long")
    )
    replicate_keyed(spark, ref, dstb, ["id"])
    _assert_mirrors(spark, ref, dstb)
    # main advanced since the fork -> not a fast-forward; publish
    # last-writer-wins, which is still just one more feed-bridged commit
    publish_branch(spark, src, "audit", force=True)
    replicate_keyed(spark, src, dstm, ["id"])
    _assert_mirrors(spark, src, dstm)


@pytest.mark.slowproof
def test_replica_follows_source_restore_rollback(spark, tmp_path):
    """A source RESTORE below the replica's cursor is an ordinary
    feed-bridged commit: the next refresh rolls the replica back too —
    the cursor pins head versions, never 'how far history went'."""
    src = str(tmp_path / "rsrc")
    dst = str(tmp_path / "rdst")
    snapshot_write(_df(spark, [(1, 0, "a"), (2, 1, "b")]), src)
    v_base = list_versions(src)[-1]
    snapshot_append_upsert(
        spark, src, _df(spark, [(2, 1, "B2"), (3, 0, "c")]), ["id"]
    )
    replicate_keyed(spark, src, dst, ["id"])
    _assert_mirrors(spark, src, dst)

    snapshot_restore(spark, src, v_base)  # roll the source back
    rep = replicate_keyed(spark, src, dst, ["id"])
    _assert_mirrors(spark, src, dst)
    assert _bag(read_snapshot(spark, dst)) == [(1, 0, "a"), (2, 1, "b")]
    # cursor landed on the restore commit's version
    assert int(
        snapshot_properties(spark, dst)["replica.cursor"]
    ) == list_versions(src)[-1]
    assert rep["deleted_keys"] >= 1  # id=3 left with the rollback


@pytest.mark.slowproof
def test_replica_refresh_races_concurrent_source_upserts(spark, tmp_path):
    """Refreshes racing concurrent source upserts (the
    stream_snapshot_upsert shape) stay convergent: whatever interleaves,
    a final quiesced refresh mirrors the source exactly, and no refresh
    ever corrupts the replica (round-9 composition hardening)."""
    import threading

    src = str(tmp_path / "csrc")
    dst = str(tmp_path / "cdst")
    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(6)]), src
    )
    replicate_keyed(spark, src, dst, ["id"])

    errs: list[Exception] = []

    def upserter(k0):
        try:
            for j in range(3):
                snapshot_append_upsert(
                    spark, src,
                    _df(spark, [(k0 + j, (k0 + j) % 2, f"u{k0}_{j}")]),
                    ["id"], retries=8,
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def refresher():
        try:
            for _ in range(3):
                replicate_keyed(spark, src, dst, ["id"])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=upserter, args=(10,)),
        threading.Thread(target=upserter, args=(20,)),
        threading.Thread(target=refresher),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    # quiesced: one final refresh lands the mirror exactly on the source
    replicate_keyed(spark, src, dst, ["id"])
    _assert_mirrors(spark, src, dst)
    assert int(
        snapshot_properties(spark, dst)["replica.cursor"]
    ) == list_versions(src)[-1]
