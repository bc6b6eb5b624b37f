"""Equality deletes: zero-table-read upserts / key deletes.

``snapshot_append_upsert`` / ``snapshot_delete_keys`` commit key
sidecars whose rows mask matching rows in every file added strictly
before the entry (per-file sequence numbers in the manifest);
``snapshot_resolve_eq`` folds entries into position deletion vectors.
The contract under test: every read surface (plain, pruned, count,
minmax, change feed, streaming feed, time travel, branches) sees
exactly the rows a key-by-key replay would produce, the write side
never reads the table, resolution changes nothing visible, mutators
auto-resolve, and GC/restore/constraints compose.
"""

from __future__ import annotations

import os

import pytest

from nyc_taxi_data_warehouse_spark.warehouse.eqdeletes import (
    snapshot_append_upsert,
    snapshot_delete_keys,
    stream_snapshot_upsert,
)
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    Range,
    snapshot_changes,
    snapshot_agg,
    snapshot_files,
    snapshot_resolve_eq,
    snapshot_update,
    snapshot_versions,
    snapshot_write,
)
from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
    list_versions,
    load_manifest,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, month int, v string")


def _bag(df):
    return sorted((r.id, r.month, r.v) for r in df.collect())


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "eq_table")


def _head(spark, table):
    return load_manifest(table, list_versions(table)[-1])


def _apply_changes(spark, table, base_rows, from_version=0):
    """Replay the change feed over a python bag — the oracle every
    feed test compares against."""
    bag = list(base_rows)
    ch = snapshot_changes(spark, table, from_version=from_version)
    for r in sorted(
        ch.collect(), key=lambda r: (r._commit_version, r._change_type)
    ):
        t = (r.id, r.month, r.v)
        if r._change_type == "insert":
            bag.append(t)
        else:
            bag.remove(t)
    return sorted(bag)


# ---------------------------------------------------------------------------
# Core semantics
# ---------------------------------------------------------------------------


def test_partition_update_error_points_at_upsert(spark, table):
    """UPDATE of a partition column refuses, and the advice it gives
    works: an upsert by key moves the row to its new partition and
    leaves exactly one live row per key."""
    snapshot_write(
        _df(spark, [(1, 0, "a"), (2, 0, "b"), (3, 1, "c")]),
        table, partition_cols=["month"],
    )
    with pytest.raises(ValueError, match="snapshot_append_upsert"):
        snapshot_update(spark, table, {"id": [1]}, {"month": 1})
    snapshot_append_upsert(spark, table, _df(spark, [(1, 1, "a2")]), ["id"])
    assert _bag(read_snapshot(spark, table)) == [
        (1, 1, "a2"), (2, 0, "b"), (3, 1, "c"),
    ]


@pytest.mark.slowproof
def test_upsert_and_delete_keys_end_to_end(spark, table):
    """Upsert replaces matched keys and inserts unmatched ones without
    reading the table; delete_keys masks rows by key; every metadata
    aggregate stays exact while entries are outstanding."""
    snapshot_write(
        _df(spark, [(i, i % 3, f"v{i}") for i in range(12)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    v, n = snapshot_append_upsert(
        spark, table,
        _df(spark, [(2, 2, "NEW2"), (7, 1, "NEW7"), (100, 0, "NEW100")]),
        ["id"],
    )
    assert n == 3
    bag = _bag(read_snapshot(spark, table))
    assert (2, 2, "NEW2") in bag and (7, 1, "NEW7") in bag
    assert (100, 0, "NEW100") in bag
    assert not [t for t in bag if t[0] == 2 and t[2] == "v2"]
    assert len(bag) == 13
    # exact aggregates with the entry outstanding
    assert snapshot_agg(spark, table, [("count", "*")])[0][0] == 13
    assert snapshot_agg(
        spark, table, [("count", "*")], partitions={"month": 2}
    )[0][0] == len(
        [t for t in bag if t[1] == 2]
    )
    assert snapshot_agg(
        spark, table, [("min", "id"), ("max", "id")]
    )[0] == (0, 100)
    assert snapshot_agg(spark, table, [("count", "id")])[0][0] == 13
    # pruned read masked too
    pruned = read_snapshot(spark, table, where={"id": Range(0, 10)})
    assert not [r for r in pruned.collect() if r.id == 2 and r.v == "v2"]
    # key delete: no data writes beyond one sidecar
    v2, nk = snapshot_delete_keys(
        spark, table, spark.createDataFrame([(5,), (100,)], "id long")
    )
    assert nk == 2
    bag2 = _bag(read_snapshot(spark, table))
    assert len(bag2) == 11
    assert not [t for t in bag2 if t[0] in (5, 100)]
    assert snapshot_agg(spark, table, [("count", "*")])[0][0] == 11
    # time travel below the delete still shows the rows
    assert len(_bag(read_snapshot(spark, table, version=v))) == 13
    # metadata tables surface the eq state
    files = snapshot_files(spark, table)
    assert files.where("has_eq_deletes").count() > 0
    man = _head(spark, table)
    assert len(man["eqs"]) == 2
    # refusals: NULL key, duplicate keys without version_col
    with pytest.raises(ValueError, match="NULL key"):
        snapshot_append_upsert(
            spark, table, _df(spark, [(None, 1, "x")]), ["id"]
        )
    with pytest.raises(ValueError, match="duplicate key"):
        snapshot_append_upsert(
            spark, table,
            _df(spark, [(1, 1, "a"), (1, 1, "b")]), ["id"],
        )
    # version_col picks the newest image within the batch (on a table
    # that carries the version column)
    t2 = table + "_ver"
    snapshot_write(
        spark.createDataFrame(
            [(1, 1, "a", 1)], "id long, month int, v string, ver int"
        ),
        t2, partition_cols=["month"],
    )
    snapshot_append_upsert(
        spark, t2,
        spark.createDataFrame(
            [(1, 1, "old", 5), (1, 1, "new", 9), (2, 1, "x", 1)],
            "id long, month int, v string, ver int",
        ),
        ["id"],
        version_col="ver",
    )
    got = {(r.id, r.v) for r in read_snapshot(spark, t2).collect()}
    assert got == {(1, "new"), (2, "x")}


@pytest.mark.slowproof
def test_upsert_is_o_batch_and_masks_follow_sequence(spark, table):
    """The upsert writes ∝ batch (images + one key sidecar), never the
    table; masks scope by sequence — a key re-inserted by a LATER
    upsert survives an earlier delete, and an upsert's own images are
    never self-masked."""
    snapshot_write(
        _df(spark, [(i, i % 2, "x" * 2000) for i in range(2000)]),
        table, partition_cols=["month"],
    )
    known = set(os.listdir(os.path.join(table, "data")))
    table_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(os.path.join(table, "data"))
        for f in fs
        if not f.startswith(("_", "."))
    )
    snapshot_append_upsert(
        spark, table, _df(spark, [(5, 1, "NEW")]), ["id"]
    )
    new_bytes = 0
    for d in os.listdir(os.path.join(table, "data")):
        if d in known:
            continue
        for dp, _, fs in os.walk(os.path.join(table, "data", d)):
            for f in fs:
                if not f.startswith(("_", ".")):
                    new_bytes += os.path.getsize(os.path.join(dp, f))
    # one image row + one key row vs a ~4 MB table
    assert new_bytes < table_bytes / 50, (new_bytes, table_bytes)
    # sequence scoping: delete key 9, then re-insert it
    snapshot_delete_keys(
        spark, table, spark.createDataFrame([(9,)], "id long")
    )
    assert not [
        r for r in read_snapshot(spark, table).collect() if r.id == 9
    ]
    snapshot_append_upsert(
        spark, table, _df(spark, [(9, 1, "BACK")]), ["id"]
    )
    nine = [r for r in read_snapshot(spark, table).collect() if r.id == 9]
    assert [(r.id, r.v) for r in nine] == [(9, "BACK")]
    # and a later upsert of the same key supersedes BACK, exactly once
    snapshot_append_upsert(
        spark, table, _df(spark, [(9, 1, "NEWER")]), ["id"]
    )
    nine = [r for r in read_snapshot(spark, table).collect() if r.id == 9]
    assert [(r.id, r.v) for r in nine] == [(9, "NEWER")]
    assert snapshot_agg(spark, table, [("count", "*")])[0][0] == 2000


@pytest.mark.slowproof
def test_resolve_eq_equivalence_idempotence_and_gc(spark, table):
    """Resolution changes NOTHING visible: bag-equal before/after on
    every surface, entries fold to position DVs, a second resolve is a
    no-op, and vacuum reclaims the orphaned key sidecars only after
    the versions referencing them are dropped."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        vacuum_snapshots,
    )

    snapshot_write(
        _df(spark, [(i, i % 3, f"v{i}") for i in range(30)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    snapshot_append_upsert(
        spark, table,
        _df(spark, [(4, 1, "N4"), (40, 1, "N40")]), ["id"],
    )
    snapshot_delete_keys(
        spark, table, spark.createDataFrame([(8,), (9,)], "id long")
    )
    before = _bag(read_snapshot(spark, table))
    count_before = snapshot_agg(spark, table, [("count", "*")])[0][0]
    mm_before = snapshot_agg(spark, table, [("min", "id"), ("max", "id")])[0]
    man = _head(spark, table)
    eq_paths = [e["path"] for e in man["eqs"]]
    v, n = snapshot_resolve_eq(spark, table)
    # resolved rows: old image of 4, plus 8 and 9 (40 never existed)
    assert n == 3
    man = _head(spark, table)
    assert not man.get("eqs")
    assert man.get("dv_files")
    assert _bag(read_snapshot(spark, table)) == before
    assert snapshot_agg(spark, table, [("count", "*")])[0][0] == count_before
    assert snapshot_agg(
        spark, table, [("min", "id"), ("max", "id")]
    )[0] == mm_before
    assert _bag(read_snapshot(spark, table, version=v - 1)) == before
    # idempotent
    v2, n2 = snapshot_resolve_eq(spark, table)
    assert (v2, n2) == (v, 0)
    # the key sidecars are still REFERENCED by retained history —
    # vacuum with full retention must keep them
    rv = vacuum_snapshots(spark, table, keep_last=100)
    for p in eq_paths:
        assert os.path.exists(os.path.join(table, p)), p
    # retention past the eq versions: sidecars reclaimed
    vacuum_snapshots(spark, table, keep_last=1)
    for p in eq_paths:
        assert not os.path.exists(os.path.join(table, p)), p
    assert _bag(read_snapshot(spark, table)) == before
    assert rv["versions_dropped"] == 0


@pytest.mark.slowproof
def test_mutators_resolve_first(spark, table):
    """DML on a table with outstanding entries resolves them implicitly
    — results position-exact, history shows the resolve, the head
    carries no entries. Compaction does not resolve: it reads through
    the masks and the entries fold with the files they masked."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_compact,
        snapshot_delete,
        snapshot_update,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(20)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    snapshot_append_upsert(
        spark, table, _df(spark, [(3, 1, "N3")]), ["id"]
    )
    v, n = snapshot_delete(spark, table, {"id": [3, 4]})
    assert n == 2  # N3 image + row 4 (the masked old 3 is already dead)
    assert not [
        r for r in read_snapshot(spark, table).collect() if r.id in (3, 4)
    ]
    ops = [h["op"] for h in snapshot_versions(spark, table)]
    assert "resolve_eq" in ops
    assert not _head(spark, table).get("eqs")
    # update after a fresh upsert
    snapshot_append_upsert(
        spark, table, _df(spark, [(5, 1, "N5")]), ["id"]
    )
    v, n = snapshot_update(spark, table, {"id": [5]}, {"v": "UPD"})
    assert n == 1  # only the live N5 image, never the masked old 5
    five = [r.v for r in read_snapshot(spark, table).collect() if r.id == 5]
    assert five == ["UPD"]
    # compact folds everything physical
    snapshot_append_upsert(
        spark, table, _df(spark, [(6, 0, "N6")]), ["id"]
    )
    before = _bag(read_snapshot(spark, table))
    ops = [h["op"] for h in snapshot_versions(spark, table)]
    n_resolves = ops.count("resolve_eq")
    snapshot_compact(spark, table)
    assert _bag(read_snapshot(spark, table)) == before
    man = _head(spark, table)
    assert not man.get("eqs") and not man.get("dv_files")
    ops = [h["op"] for h in snapshot_versions(spark, table)]
    assert ops[-1] == "compact" and ops.count("resolve_eq") == n_resolves


def _eq_table_with_dvs(spark, table):
    """A month-partitioned table with a DV delete and an outstanding
    upsert entry that masks rows in both partitions' base files."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
    )

    snapshot_write(  # one 10-row base file per month
        _df(spark, [(i, i % 2, f"v{i}") for i in range(20)]).coalesce(1),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    snapshot_delete(spark, table, {"v": ["v4", "v7"]}, mode="dv")
    v, _ = snapshot_append_upsert(
        spark, table,
        _df(spark, [(3, 1, "N3"), (6, 0, "N6"), (50, 1, "N50")]),
        ["id"],
    )
    head = _head(spark, table)
    assert head.get("eqs") and head.get("dv_files")
    return v


def test_compact_reads_through_outstanding_eq(spark, table, tmp_path):
    """A full compaction over DVs and an outstanding upsert entry is
    ONE compact commit (no resolve_eq): same rows, no entries or
    sidecars left, live-row totals recorded on both sides, and the
    change feed and a verify stream (scoped and unscoped) started at
    the upsert see zero changes."""
    from nyc_taxi_data_warehouse_spark.streaming.snapshot_source import (
        read_snapshot_stream,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_compact,
    )

    up = _eq_table_with_dvs(spark, table)
    before = _bag(read_snapshot(spark, table))
    assert len(before) == 19  # 20 - 2 DV'd + N50; N3/N6 replace 3/6
    v = snapshot_compact(spark, table)
    assert v == up + 1
    assert _bag(read_snapshot(spark, table)) == before
    assert "resolve_eq" not in [
        h["op"] for h in snapshot_versions(spark, table)
    ]
    man = _head(spark, table)
    assert man["op"] == "compact"
    assert not man.get("eqs") and not man.get("dv_files")
    assert man["rows_removed"] == man["rows_added"] == len(before)
    assert snapshot_changes(spark, table, from_version=up).count() == 0
    for name, scope in (("all", None), ("m0", {"month": 0})):
        out = tmp_path / f"out_{name}"
        q = (
            read_snapshot_stream(
                spark, table, starting_version=up,
                on_non_append="verify", partitions=scope,
            )
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert spark.read.parquet(str(out)).count() == 0, name


def test_targeted_compact_keeps_carried_files_masked(spark, table):
    """A targeted (min_file_rows) compaction with an outstanding entry
    packs the fragments — including the upsert's own images, which
    its entry must not mask after they get the commit's sequence —
    and carries the base files, which stay masked."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_compact,
    )

    _eq_table_with_dvs(spark, table)
    for i in range(2):  # a second fragment beside the upsert image
        snapshot_write(
            _df(spark, [(100 + i, 1, f"a{i}")]), table, mode="append",
            partition_cols=["month"],
        )
    pre = _head(spark, table)
    before = _bag(read_snapshot(spark, table))
    v = snapshot_compact(spark, table, min_file_rows=5)
    man = _head(spark, table)
    assert man["version"] == v and man["op"] == "compact"
    assert _bag(read_snapshot(spark, table)) == before
    assert (3, 1, "v3") not in before and (3, 1, "N3") in before
    carried = [f for f in man["files"] if f in pre["files"]]
    assert carried and man["files_carried"] == len(carried)
    assert {e["path"] for e in man["eqs"]} == {
        e["path"] for e in pre["eqs"]
    }
    assert {f: man["seq"][f] for f in carried} == {
        f: pre["seq"][f] for f in carried
    }
    assert man["rows_removed"] == man["rows_added"]
    assert "resolve_eq" not in [
        h["op"] for h in snapshot_versions(spark, table)
    ]
    assert snapshot_changes(
        spark, table, from_version=pre["version"]
    ).count() == 0


@pytest.mark.slowproof
def test_change_feed_eq_legs_replay_exactly(spark, table):
    """snapshot_changes over upsert / key-delete / resolve / restore
    history: replaying the feed from v0 over an empty bag reproduces
    the live table exactly; a resolve contributes zero changes; a
    restore across an upsert resurrects the superseded images."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_restore,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(8)]),
        table, partition_cols=["month"],
    )
    v1 = 1
    snapshot_append_upsert(
        spark, table, _df(spark, [(2, 0, "N2"), (20, 0, "N20")]), ["id"]
    )
    snapshot_delete_keys(
        spark, table, spark.createDataFrame([(7,)], "id long")
    )
    rv, _ = snapshot_resolve_eq(spark, table)
    # the resolve is change-free: feed across JUST it is empty
    assert snapshot_changes(
        spark, table, from_version=rv - 1, to_version=rv
    ).count() == 0
    # upsert emits delete(old image) + insert(new image)
    ch = snapshot_changes(spark, table, from_version=v1, to_version=v1 + 1)
    got = sorted(
        (r.id, r.v, r._change_type) for r in ch.collect()
    )
    assert got == [
        (2, "N2", "insert"), (2, "v2", "delete"), (20, "N20", "insert"),
    ]
    # full replay == live state
    assert _apply_changes(spark, table, []) == _bag(
        read_snapshot(spark, table)
    )
    # restore to the eq-masked delete version: the resolve's position
    # tombstones swap back to the key mask — visibility identical,
    # feed still replays exactly (the swap cancels to zero)
    snapshot_restore(spark, table, rv - 1)
    assert _apply_changes(spark, table, []) == _bag(
        read_snapshot(spark, table)
    )
    assert snapshot_changes(
        spark, table, from_version=rv, to_version=rv + 1
    ).count() == 0
    # restore to the pre-delete version: key 7 resurrects through the
    # feed too
    snapshot_restore(spark, table, rv - 2)
    assert _apply_changes(spark, table, []) == _bag(
        read_snapshot(spark, table)
    )
    live_ids = {r.id for r in read_snapshot(spark, table).collect()}
    assert 7 in live_ids
    # restore BELOW the upsert: superseded images return, new ones go
    snapshot_restore(spark, table, v1)
    assert _bag(read_snapshot(spark, table)) == sorted(
        (i, i % 2, f"v{i}") for i in range(8)
    )
    assert _apply_changes(spark, table, []) == _bag(
        read_snapshot(spark, table)
    )


def test_restore_carries_eq_state_and_constraints_guard(spark, table):
    """Restore TO a version with outstanding entries keeps masking
    (whole-state carry of entries + per-file sequences); a CHECK
    constraint added later re-validates rows an abandoned entry had
    masked — a rollback cannot silently resurrect violating rows."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_add_constraint,
        snapshot_restore,
    )

    snapshot_write(
        _df(spark, [(1, 1, "ok"), (2, 1, "BAD"), (3, 0, "ok")]),
        table, partition_cols=["month"],
    )
    snapshot_delete_keys(
        spark, table, spark.createDataFrame([(2,)], "id long")
    )
    v_masked = list_versions(table)[-1]
    # advance the head past the entry
    rv, _ = snapshot_resolve_eq(spark, table)
    # restore back TO the eq-masked version: row 2 stays dead
    snapshot_restore(spark, table, v_masked)
    assert sorted(
        r.id for r in read_snapshot(spark, table).collect()
    ) == [1, 3]
    assert _head(spark, table).get("eqs")
    # constraint guard: adding "v <> 'BAD'" validates EXISTING data —
    # which passes because the violating row is eq-masked (the
    # existing-data scan must honor key masks); restoring to v1
    # (where the entry never existed) must then refuse — the rollback
    # would resurrect the violating row
    snapshot_add_constraint(spark, table, "no_bad", "v <> 'BAD'")
    with pytest.raises(ValueError, match="no_bad"):
        snapshot_restore(spark, table, 1)
    # the vetoed restore left no version behind
    assert sorted(
        r.id for r in read_snapshot(spark, table).collect()
    ) == [1, 3]


@pytest.mark.slowproof
def test_feed_classification_eq(spark, table, tmp_path):
    """Streaming feed: an upsert commit refuses under fail AND verify
    (its key-masked deletes cannot stream), skip streams only the
    fresh images, a resolve passes under verify, and a
    partition-scoped reader ignores eq churn confined elsewhere."""
    from nyc_taxi_data_warehouse_spark.streaming.snapshot_source import (
        read_snapshot_stream,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(6)]),
        table, partition_cols=["month"],
    )

    def drain(ckpt, on_non_append="fail", partitions=None):
        out = tmp_path / f"out_{ckpt}"
        q = (
            read_snapshot_stream(
                spark, table, on_non_append=on_non_append,
                partitions=partitions,
            )
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            return spark.read.parquet(str(out))
        except Exception:
            return spark.createDataFrame([], "id long, month int, v string")

    base = drain("c0")  # baseline: the 6 seed rows
    assert base.count() == 6
    snapshot_append_upsert(
        spark, table, _df(spark, [(1, 1, "N1"), (60, 0, "N60")]), ["id"]
    )
    with pytest.raises(Exception, match="equality"):
        drain("c0")
    with pytest.raises(Exception, match="equality"):
        drain("c0v", on_non_append="verify")
    # skip: the two fresh images stream, the masked old row does not
    got = drain("c0s", on_non_append="skip")
    ids = sorted(r.id for r in got.collect())
    assert ids == [0, 1, 1, 2, 3, 4, 5, 60]  # seed 6 + both images
    # resolve folds the entry (verify acceptance across a resolve is
    # covered by test_feed_verify_accepts_resolve_only_history — a
    # from-scratch reader here would still refuse at the upsert)
    rv, n = snapshot_resolve_eq(spark, table)
    assert n == 1
    # partition scoping: a key mask is NOT partition-confined (any
    # applicable in-scope file may hold a matching row), so a scoped
    # reader refuses eq churn whenever any of its files predate the
    # entry — but a partition whose files ALL postdate the entry is
    # provably untouched and streams through even under fail
    snapshot_append_upsert(
        spark, table, _df(spark, [(3, 1, "N3b")]), ["id"]
    )
    snapshot_write(
        _df(spark, [(90, 9, "fresh")]), table, mode="append",
        partition_cols=["month"],
    )
    got = drain("c0p9", partitions={"month": 9})
    ids = sorted(r.id for r in got.collect())
    assert ids == [90]  # the post-entry partition: upsert invisible
    # ... but a month=1 scoped reader refuses that same upsert commit
    with pytest.raises(Exception, match="equality"):
        drain("c0p1", partitions={"month": 1})


@pytest.mark.slowproof
def test_feed_verify_accepts_resolve_only_history(spark, table, tmp_path):
    """A verify reader consuming across ONLY a resolve commit (no
    upsert in its range) passes it silently as row-neutral."""
    from nyc_taxi_data_warehouse_spark.streaming.snapshot_source import (
        read_snapshot_stream,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(4)]),
        table, partition_cols=["month"],
    )
    snapshot_delete_keys(
        spark, table, spark.createDataFrame([(2,)], "id long")
    )
    pre = list_versions(table)[-1]
    out = tmp_path / "out"
    q = (
        read_snapshot_stream(
            spark, table, starting_version=pre, on_non_append="verify"
        )
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snapshot_resolve_eq(spark, table)
    # drain again across resolve + a fresh append
    snapshot_write(
        _df(spark, [(10, 0, "app")]), table, mode="append",
        partition_cols=["month"],
    )
    q = (
        read_snapshot_stream(
            spark, table, starting_version=pre, on_non_append="verify"
        )
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.id for r in spark.read.parquet(str(out)).collect())
    assert got == [10]  # the append only; the resolve streamed nothing


@pytest.mark.slowproof
def test_branches_carry_eq_and_sequence_floor(spark, table):
    """A branch fork carries outstanding entries (reads masked on the
    branch), branch appends are NOT eaten by carried entries (the
    sequence floor outruns them), and publish fast-forwards the eq
    state back to main."""
    from nyc_taxi_data_warehouse_spark.warehouse.branching import (
        create_branch,
        publish_branch,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(6)]),
        table, partition_cols=["month"],
    )
    snapshot_delete_keys(
        spark, table, spark.createDataFrame([(1,)], "id long")
    )
    ref = create_branch(spark, table, "wap")
    assert sorted(
        r.id for r in read_snapshot(spark, ref).collect()
    ) == [0, 2, 3, 4, 5]
    # append the SAME key on the branch: the carried entry must not
    # mask the new image (its sequence is above the entry's)
    snapshot_write(
        _df(spark, [(1, 1, "branch1")]), ref, mode="append",
        partition_cols=["month"],
    )
    ones = [
        (r.id, r.v)
        for r in read_snapshot(spark, ref).collect()
        if r.id == 1
    ]
    assert ones == [(1, "branch1")]
    # an upsert ON the branch masks branch-visible rows only
    snapshot_append_upsert(
        spark, ref, _df(spark, [(2, 0, "branchN2")]), ["id"]
    )
    assert sorted(
        (r.id, r.v)
        for r in read_snapshot(spark, ref).collect()
        if r.id == 2
    ) == [(2, "branchN2")]
    # main unaffected until publish
    assert not [
        r for r in read_snapshot(spark, table).collect() if r.v == "branch1"
    ]
    publish_branch(spark, table, "wap")
    bag = _bag(read_snapshot(spark, table))
    assert (1, 1, "branch1") in bag and (2, 0, "branchN2") in bag
    assert not [t for t in bag if t[0] == 2 and t[2] == "v2"]
    # and the published state resolves cleanly
    v, n = snapshot_resolve_eq(spark, table)
    assert n == 2  # old images of 1 (seed) and 2 (seed)
    assert _bag(read_snapshot(spark, table)) == bag


@pytest.mark.slowproof
def test_stream_snapshot_upsert_exactly_once(spark, tmp_path, table):
    """The streaming upsert sink: one upsert_eq version per micro-
    batch, checkpoint replays add nothing, fresh-checkpoint replays
    dedup via (stream_id, epoch), and the auto-resolve cadence folds
    entries."""
    snapshot_write(
        _df(spark, [(1, 1, "seed1"), (2, 0, "seed2")]),
        table, partition_cols=["month"],
    )
    src = tmp_path / "src"
    src.mkdir()
    d1 = _df(spark, [(1, 1, "up1"), (3, 1, "up3")])
    d1.write.mode("overwrite").parquet(str(src / "f1"))

    def run(ckpt, auto=None):
        stream = (
            spark.readStream.schema(d1.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        stream_snapshot_upsert(
            spark, stream, table, str(tmp_path / ckpt), "cdc-a",
            keys=["id"], auto_resolve_entries=auto,
        )

    run("ckpt")
    bag = _bag(read_snapshot(spark, table))
    assert sorted(bag) == [
        (1, 1, "up1"), (2, 0, "seed2"), (3, 1, "up3")
    ]
    n_versions = len(snapshot_versions(spark, table))
    run("ckpt")  # same checkpoint: nothing new
    assert len(snapshot_versions(spark, table)) == n_versions
    run("ckpt2")  # fresh checkpoint: epochs replay, manifests dedup
    assert len(snapshot_versions(spark, table)) == n_versions
    assert _bag(read_snapshot(spark, table)) == bag
    # second batch + aggressive auto-resolve: entries fold
    _df(spark, [(2, 0, "up2")]).write.mode("overwrite").parquet(
        str(src / "f2")
    )
    run("ckpt", auto=1)
    bag = _bag(read_snapshot(spark, table))
    assert (2, 0, "up2") in bag and (2, 0, "seed2") not in bag
    assert not _head(spark, table).get("eqs")
    ops = [h["op"] for h in snapshot_versions(spark, table)]
    assert "resolve_eq" in ops and "upsert_eq" in ops


@pytest.mark.slowproof
def test_drop_column_blocked_by_eq_history(spark, table):
    """Dropping a column an equality delete ever keyed on (in retained
    history) refuses even after the entry is resolved: the change
    feed's eq legs re-join on the key column for any retained range,
    and a restore can bring the entry back outstanding. Vacuuming the
    eq history unblocks the drop."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_drop_column,
        vacuum_snapshots,
    )

    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 0, "b")]),
        table, partition_cols=["month"],
    )
    snapshot_append_upsert(
        spark, table, _df(spark, [(1, 1, "N1")]), ["id"]
    )
    snapshot_resolve_eq(spark, table)
    # resolved, but the upsert_eq version is retained — the feed still
    # joins on "id" to replay it
    with pytest.raises(ValueError, match="equality delete"):
        snapshot_drop_column(spark, table, "id")
    # the feed replay the guard protects actually works
    assert _apply_changes(spark, table, []) == _bag(
        read_snapshot(spark, table)
    )
    vacuum_snapshots(spark, table, keep_last=1)
    v = snapshot_drop_column(spark, table, "id")
    assert "id" not in read_snapshot(spark, table).columns


def test_restore_valid_when_masks_cover_violation(spark, table):
    """A restore TO a state whose equality entry masks the violating
    rows must pass the CHECK re-validation (the added-files scan
    honors the commit's own masking) — only a restore that actually
    RESURRECTS the violation refuses."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_add_constraint,
        snapshot_restore,
    )

    snapshot_write(
        _df(spark, [(1, 1, "ok"), (2, 1, "BAD")]),
        table, partition_cols=["month"],
    )
    snapshot_delete_keys(
        spark, table, spark.createDataFrame([(2,)], "id long")
    )
    v_masked = list_versions(table)[-1]
    # replace the table wholesale: the old file (and entry) leave
    snapshot_write(
        _df(spark, [(3, 1, "ok3")]), table, mode="overwrite",
        partition_cols=["month"],
    )
    snapshot_add_constraint(spark, table, "no_bad", "v <> 'BAD'")
    # restoring to the masked state re-adds the file holding BAD, but
    # the carried entry masks it — the restore must succeed
    snapshot_restore(spark, table, v_masked)
    assert sorted(
        r.id for r in read_snapshot(spark, table).collect()
    ) == [1]
    # restoring to v1 (entry never existed) resurrects BAD: refused
    with pytest.raises(ValueError, match="no_bad"):
        snapshot_restore(spark, table, 1)


def test_null_casting_keys_refuse(spark, table):
    """A key value that CASTS to NULL under the table's key type must
    refuse like a literal NULL — checked pre-cast it would commit as a
    silently-lost delete (or an un-supersedable NULL-keyed image)."""
    snapshot_write(
        _df(spark, [(1, 1, "a")]), table, partition_cols=["month"]
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")  # cast -> NULL
    try:
        with pytest.raises(ValueError, match="NULL key"):
            snapshot_delete_keys(
                spark, table,
                spark.createDataFrame([("abc",)], "id string"),
            )
        with pytest.raises(ValueError, match="NULL key"):
            snapshot_append_upsert(
                spark, table,
                spark.createDataFrame(
                    [("abc", 1, "x")], "id string, month int, v string"
                ),
                ["id"],
            )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert snapshot_agg(spark, table, [("count", "*")])[0][0] == 1


@pytest.mark.slowproof
def test_feed_skip_subtracts_dv_targeted_readds_on_eq_commits(
    spark, table, tmp_path
):
    """A restore that changes the eq set AND re-adds a file carried
    position tombstones target: skip mode must not stream that file
    whole (its dead rows would resurrect on the feed) — the DV re-add
    guard applies inside the eq branch too."""
    from nyc_taxi_data_warehouse_spark.streaming.snapshot_source import (
        read_snapshot_stream,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
        snapshot_drop_partitions,
        snapshot_restore,
    )

    snapshot_write(
        _df(spark, [(i, 0, f"s{i}") for i in range(4)]),
        table, partition_cols=["month"],
    )
    snapshot_delete_keys(  # E1: matches nothing, seq 2
        spark, table, spark.createDataFrame([(999,)], "id long")
    )
    snapshot_write(  # F: seq 3 — E1 does NOT apply to it
        _df(spark, [(10, 1, "f10"), (11, 1, "f11")]),
        table, mode="append", partition_cols=["month"],
    )
    snapshot_delete(spark, table, {"id": [0, 10]}, mode="dv")  # D targets both
    v_pre_drop = list_versions(table)[-1]
    snapshot_drop_partitions(spark, table, {"month": 1})  # F leaves, D stays
    snapshot_delete_keys(  # E2 — so the restore's eq set CHANGES
        spark, table, spark.createDataFrame([(998,)], "id long")
    )
    snapshot_restore(spark, table, v_pre_drop)  # re-adds F, dvs unchanged
    out = tmp_path / "out"
    q = (
        read_snapshot_stream(spark, table, on_non_append="skip")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(str(out))
    # id=10's file is tombstone-targeted: the restore must NOT
    # re-stream it (its dead row would resurrect on the feed)
    assert got.where("id = 10").count() == 1
    # id=11's file is NOT targeted: the restore re-add streams it
    # again — skip mode's documented behavior for plain restores too
    # (re-adds are inserts; only tombstone-targeted ones are dropped)
    assert got.where("id = 11").count() == 2
    assert got.count() == 7


def test_eq_read_plan_is_broadcast_only(spark, table):
    """The equality-masked scan must never shuffle the TABLE: key
    sidecars broadcast (they hold only deleted keys), so a read with
    outstanding entries costs zero exchanges beyond the broadcasts —
    the read-side property that keeps un-resolved upserts cheap at
    100 TB. Files NO entry applies to (fresh post-entry appends) scan
    with no join at all (the seq split). Measured from the executed
    plan, like the DV plan pin."""
    from nyc_taxi_data_warehouse_spark.plans.audit import (
        collect_with_metrics,
    )

    snapshot_write(
        _df(spark, [(i, i % 3, f"v{i}") for i in range(600)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    snapshot_append_upsert(
        spark, table, _df(spark, [(5, 2, "N5"), (700, 1, "N700")]), ["id"]
    )
    snapshot_delete_keys(
        spark, table, spark.createDataFrame([(50,), (500,)], "id long")
    )
    got = read_snapshot(spark, table)
    m = collect_with_metrics(got)
    assert m["n_shuffles"] == 0, m
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # the whole DV row-identity machinery stays out of the plan: with
    # no position tombstones outstanding, an eq-masked read needs no
    # _metadata projection and no relpath-decode join
    assert "_dv_pos" not in plan
    # and the post-entry images' group scans CLEAN — count the anti
    # joins: 2 entries x 1 key set applied over 2 applicable groups...
    # group 0 (seed files): both entries -> joins against both
    # sidecars' key sets (same key set: one union read per group);
    # group 1 (upsert images): the delete_keys entry only; group 2
    # (nothing newer): absent. The exact join count is a plan detail —
    # what must hold is NO exchange and a bounded number of
    # broadcasts, already asserted above.
    rows = sorted(r.id for r in got.collect())
    assert 700 in rows and 50 not in rows and 500 not in rows
    assert [r for r in rows if r == 5] == [5]


@pytest.mark.slowproof
def test_concurrent_upserters_all_land_exactly_once(spark, table):
    """6 threads race keyed upserts (disjoint keys) against one table
    with conflict retries: the exclusive manifest claim serializes
    them, every writer's image and eq entry land exactly once, masks
    compose (each upsert's entry applies to everything before it), and
    the final state equals a sequential replay."""
    from concurrent.futures import ThreadPoolExecutor

    snapshot_write(
        _df(spark, [(i, 0, f"seed{i}") for i in range(6)]),
        table, partition_cols=["month"],
    )

    def upsert(i):
        v, n = snapshot_append_upsert(
            spark, table, _df(spark, [(i, 0, f"up{i}")]), ["id"],
            retries=50,
        )
        assert n == 1
        return v

    with ThreadPoolExecutor(max_workers=6) as ex:
        versions = list(ex.map(upsert, range(6)))
    assert sorted(versions) == list(range(2, 8))  # distinct, gapless
    got = sorted((r.id, r.v) for r in read_snapshot(spark, table).collect())
    assert got == [(i, f"up{i}") for i in range(6)]
    assert snapshot_agg(spark, table, [("count", "*")])[0][0] == 6
    man = _head(spark, table)
    assert len(man["eqs"]) == 6
    # and the fold agrees
    v, n = snapshot_resolve_eq(spark, table)
    assert n == 6  # exactly the six seed images
    assert sorted(
        (r.id, r.v) for r in read_snapshot(spark, table).collect()
    ) == got


def test_eq_cli_surface(spark, table, capsys):
    """snapshot-delete-keys and snapshot-resolve-eq round-trip through
    the CLI."""
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main

    snapshot_write(
        _df(spark, [(i, 0, f"v{i}") for i in range(5)]),
        table, partition_cols=["month"],
    )
    main(
        [
            "snapshot-delete-keys", "--table-path", table,
            "--keys", '[{"id": 1}, {"id": 3}]',
        ],
        spark=spark,
    )
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["keys_deleted"] == 2
    assert sorted(
        r.id for r in read_snapshot(spark, table).collect()
    ) == [0, 2, 4]
    main(["snapshot-resolve-eq", "--table-path", table], spark=spark)
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_resolved"] == 2
    assert not _head(spark, table).get("eqs")
    assert sorted(
        r.id for r in read_snapshot(spark, table).collect()
    ) == [0, 2, 4]


def test_batch_validation_is_single_action(spark, tmp_path):
    """The eq-batch refusal checks (NULL keys, duplicate keys) and the
    appended-image count fold into ONE driver action over the
    checkpointed batch (round-9 scale watch: the old shape was 3
    actions per CDC micro-batch — a NULL-key probe, a dup-key probe,
    then a count). AQE splits one action into a variable number of
    Spark JOBS, so the pin is self-calibrating: the single-pass
    validation must cost strictly fewer jobs than the old three-probe
    shape measured in the SAME session."""
    import pyspark.sql.functions as F

    from nyc_taxi_data_warehouse_spark.warehouse.eqdeletes import (
        _null_key_cond,
        _validate_eq_batch,
    )

    sc = spark.sparkContext

    def jobs(tag, fn):
        sc.setJobGroup(tag, tag)
        out = fn()
        n = len(sc.statusTracker().getJobIdsForGroup(tag))
        sc.setJobGroup(None, None)
        return n, out

    batch = spark.createDataFrame(
        [(2, "B"), (3, "c")], "id long, v string"
    ).localCheckpoint(eager=True)
    new_jobs, n = jobs(
        "val1", lambda: _validate_eq_batch(batch, ["id"], allow_dups=False)
    )
    assert n == 2

    def old_shape():
        # the pre-round-9 three-action sequence, verbatim
        batch.where(_null_key_cond(["id"])).limit(1).collect()
        (
            batch.groupBy("id").count()
            .where(F.col("count") > 1).limit(1).collect()
        )
        return batch.count()

    old_jobs, old_n = jobs("val0", old_shape)
    assert old_n == 2
    assert new_jobs < old_jobs, (
        f"single-pass validation ran {new_jobs} jobs vs the old "
        f"three-probe shape's {old_jobs} — the fold regressed"
    )

    # the delete_keys leg reuses the same validator on the distinct
    # checkpointed key frame: allow_dups counts distinct keys
    dele = (
        spark.createDataFrame([(1,), (1,), (2,)], "id long")
        .distinct()
        .localCheckpoint(eager=True)
    )
    _, nk = jobs(
        "val2", lambda: _validate_eq_batch(dele, ["id"], allow_dups=True)
    )
    assert nk == 2
