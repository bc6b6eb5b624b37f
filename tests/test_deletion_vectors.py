"""Deletion vectors (merge-on-read deletes) on snapshot tables.

``snapshot_delete(mode="dv")`` commits (file, row-position) tombstones as
parquet sidecars instead of rewriting victim files; readers anti-join
them at scan time; ``snapshot_compact`` folds them into physical files.
The contract under test: DV deletes are ROW-FOR-ROW equivalent to the
copy-on-write path on every read surface (plain, pruned, Bloom, time
travel, change feed, branches), compose with the whole DML/maintenance
matrix (update, replace, restore, compact, vacuum, GC), and actually
deliver the write-amplification win they exist for.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    Range,
    snapshot_changes,
    snapshot_compact,
    snapshot_delete,
    snapshot_restore,
    snapshot_update,
    snapshot_versions,
    snapshot_write,
    sweep_orphans,
    vacuum_snapshots,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, month int, v string")


def _bag(df):
    return sorted((r.id, r.month, r.v) for r in df.collect())


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "dv_table")


def _commit_dir_bytes(table, known_dirs):
    """Bytes in data/ commit dirs NOT in known_dirs (the new commits)."""
    total = 0
    droot = os.path.join(table, "data")
    for d in os.listdir(droot):
        if d in known_dirs:
            continue
        for dp, _, fs in os.walk(os.path.join(droot, d)):
            for f in fs:
                if not f.startswith(("_", ".")):
                    total += os.path.getsize(os.path.join(dp, f))
    return total


# --------------------------------------------- equivalence with CoW


@pytest.mark.slowproof
def test_dv_equals_rewrite_over_dml_storm(spark, tmp_path):
    """The same DML storm, deletes via DV on one table and via rewrite
    on the other: bags equal after every step, and both agree with a
    pure-python reference."""
    a = str(tmp_path / "via_dv")
    b = str(tmp_path / "via_rw")
    rows = [(i, i % 3, f"v{i}") for i in range(30)]
    for t in (a, b):
        snapshot_write(
            _df(spark, rows), t, partition_cols=["month"], stats_cols=["id"],
        )
    ref = {(i, m, v) for i, m, v in rows}

    def check():
        assert _bag(read_snapshot(spark, a)) == _bag(read_snapshot(spark, b))
        assert _bag(read_snapshot(spark, a)) == sorted(ref)

    va, na = snapshot_delete(spark, a, {"id": [3, 17, 999]}, mode="dv")
    vb, nb = snapshot_delete(spark, b, {"id": [3, 17, 999]}, mode="rewrite")
    assert na == nb == 2
    ref -= {(3, 0, "v3"), (17, 2, "v17")}
    check()

    # append lands normally on both; DV entries keep masking old files
    for t in (a, b):
        snapshot_write(_df(spark, [(100, 1, "new")]), t, mode="append",
                       partition_cols=["month"])
    ref.add((100, 1, "new"))
    check()

    # second DV delete stacks on the first (and the duplicate value
    # 17 is already gone -> only the fresh matches count)
    _, na = snapshot_delete(spark, a, {"id": [17, 100, 5]}, mode="dv")
    _, nb = snapshot_delete(spark, b, {"id": [17, 100, 5]}, mode="rewrite")
    assert na == nb == 2
    ref -= {(100, 1, "new"), (5, 2, "v5")}
    check()

    # CoW update on the DV table must not resurrect tombstoned rows
    for t in (a, b):
        snapshot_update(
            spark, t, {"id": [7]}, {"v": "patched"}, mode="rewrite",
        )
    ref = {(i, m, "patched") if i == 7 else (i, m, v) for i, m, v in ref}
    check()

    # compact folds the DVs away physically; bags unchanged
    snapshot_compact(spark, a, partition_cols=["month"])
    check()
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    head = load_manifest(a, list_versions(a)[-1])
    assert not head.get("dv_files")  # folded
    assert head["rows_removed"] == head["rows_added"] == len(ref)

    # deleting already-deleted values again: no-op, no new version
    n_vers = len(snapshot_versions(spark, a))
    v, n = snapshot_delete(spark, a, {"id": [3, 17]}, mode="dv")
    assert n == 0 and len(snapshot_versions(spark, a)) == n_vers


def test_dv_null_safety(spark, table):
    """NULL keys never match an IN list — same contract as the
    rewrite path."""
    spark.createDataFrame(
        [(1, "a"), (None, "keepme"), (2, "b")], "id long, v string"
    ).transform(lambda d: d)  # explicit schema w/ null id
    df = spark.createDataFrame(
        [(1, 1, "a"), (None, 1, "keepme"), (2, 1, "b")],
        "id long, month int, v string",
    )
    snapshot_write(df, table)
    _, n = snapshot_delete(spark, table, {"id": [1, 2]}, mode="dv")
    assert n == 2
    got = read_snapshot(spark, table).collect()
    assert [(r.id, r.v) for r in got] == [(None, "keepme")]


def test_dv_read_surfaces(spark, table, tmp_path):
    """Pruned reads, Bloom lookups, and time travel all respect DVs."""
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        build_snapshot_bloom_index,
        read_snapshot_with_bloom,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(20)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    idx = str(tmp_path / "dv_bloom")
    build_snapshot_bloom_index(spark, table, "id", idx)
    v1 = 1
    _, n = snapshot_delete(spark, table, {"id": [4, 5, 6]}, mode="dv")
    assert n == 3
    # pruned range read: tombstoned rows excluded, others exact
    got = read_snapshot(spark, table, where={"id": Range(3, 8)})
    assert sorted(r.id for r in got.collect()) == [3, 7, 8]
    # Bloom point lookup: physical candidate, zero live matches
    assert read_snapshot_with_bloom(spark, table, idx, [5]).count() == 0
    assert read_snapshot_with_bloom(spark, table, idx, [7]).count() == 1
    # time travel: the pre-delete version still shows the rows
    assert read_snapshot(spark, table, version=v1).count() == 20
    assert read_snapshot(spark, table).count() == 17


# --------------------------------------------------- change feed


def test_dv_change_feed_and_restore_resurrection(spark, table):
    """A DV delete emits row-level 'delete' changes; restoring past it
    emits the SAME rows back as inserts (tombstone removal =
    resurrection); compaction after a DV delete is an empty change
    set; the apply-invariant holds across the whole history."""
    base = [(i, i % 2, f"v{i}") for i in range(10)]
    snapshot_write(
        _df(spark, base), table, partition_cols=["month"], stats_cols=["id"],
    )
    snapshot_delete(spark, table, {"id": [2, 7]}, mode="dv")  # v2
    ch = snapshot_changes(spark, table, from_version=1, to_version=2)
    assert sorted(
        (r.id, r._change_type) for r in ch.collect()
    ) == [(2, "delete"), (7, "delete")]

    snapshot_restore(spark, table, 1)  # v3: resurrect 2 and 7
    ch2 = snapshot_changes(spark, table, from_version=2, to_version=3)
    assert sorted(
        (r.id, r._change_type) for r in ch2.collect()
    ) == [(2, "insert"), (7, "insert")]

    snapshot_delete(spark, table, {"id": [0]}, mode="dv")  # v4
    snapshot_compact(spark, table, partition_cols=["month"])  # v5 folds
    assert snapshot_changes(
        spark, table, from_version=4, to_version=5
    ).count() == 0

    # apply-invariant over the full range
    def apply(bag, ch_df):
        bag = list(bag)
        for r in sorted(
            ch_df.collect(),
            key=lambda r: (r["_commit_version"], r["_change_type"]),
        ):
            t = (r.id, r.month, r.v)
            bag.remove(t) if r._change_type == "delete" else bag.append(t)
        return sorted(bag)

    full = snapshot_changes(spark, table, from_version=1)
    assert apply(
        _bag(read_snapshot(spark, table, version=1)), full
    ) == _bag(read_snapshot(spark, table))


@pytest.mark.slowproof
def test_dv_feed_classification(spark, table, tmp_path):
    """The insert-only streaming feed fails loudly on a DV commit
    (fail AND verify — tombstones are never row-neutral), skips it
    under skip, and passes a DV-folding compaction under verify."""
    from tests.test_snapshot_feed import _drain

    # one MIXED file per month dir: the DV delete below must write a
    # tombstone (a single-valued victim file would full-drop by stats
    # proof and the commit would classify as a file removal instead)
    snapshot_write(
        _df(spark, [(i, i % 2, "x") for i in range(6)]).coalesce(1),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    got = _drain(spark, table, str(tmp_path / "dvf"), "dv_f1",
                 on_non_append="verify")
    assert got.count() == 6
    snapshot_delete(spark, table, {"id": [1]}, mode="dv")
    for mode, ck in (("fail", "dvf_f"), ("verify", "dvf")):
        with pytest.raises(Exception, match="deletion vectors"):
            _drain(spark, table, str(tmp_path / ck), f"dv_{mode}",
                   on_non_append=mode)
    got2 = _drain(spark, table, str(tmp_path / "dvf_s"), "dv_skip",
                  on_non_append="skip")
    assert got2.count() == 6  # initial snapshot; the DV commit skipped
    # a consumer positioned PAST the DV commit (offset advanced by the
    # skip drain above) then meets a compaction that FOLDS the DVs:
    # verify passes it as row-neutral — recorded totals count LIVE
    # rows on both sides — and later appends flow normally
    snapshot_compact(spark, table, partition_cols=["month"])
    snapshot_write(_df(spark, [(50, 0, "y")]), table, mode="append",
                   partition_cols=["month"])
    got3 = _drain(spark, table, str(tmp_path / "dvf_s"), "dv_f2",
                  on_non_append="verify")
    assert [(r.id, r.month, r.v) for r in got3.collect()] == [(50, 0, "y")]


# ------------------------------------------- branches, GC, vacuum


def test_dv_branches_and_publish(spark, table):
    """create_branch carries the base's DVs; a DV delete on the branch
    stays isolated from main; publish fast-forwards main to the
    branch's DV state."""
    from nyc_taxi_data_warehouse_spark.warehouse.branching import (
        create_branch,
        publish_branch,
    )

    snapshot_write(
        _df(spark, [(i, 1, f"v{i}") for i in range(8)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    snapshot_delete(spark, table, {"id": [0]}, mode="dv")  # main v2
    ref = create_branch(spark, table, "work")
    assert read_snapshot(spark, ref).count() == 7  # fork carries DVs
    snapshot_delete(spark, ref, {"id": [1, 2]}, mode="dv")
    assert read_snapshot(spark, ref).count() == 5
    assert read_snapshot(spark, table).count() == 7  # main isolated
    publish_branch(spark, table, "work")
    assert sorted(r.id for r in read_snapshot(spark, table).collect()) \
        == [3, 4, 5, 6, 7]


def test_dv_survives_vacuum_and_sweep(spark, table):
    """DV sidecars are REFERENCED storage: vacuum keeps a retained
    version's DVs (and reclaims them with the version), sweep_orphans
    never deletes a live sidecar however old it is."""
    import time

    snapshot_write(
        _df(spark, [(i, 1, f"v{i}") for i in range(10)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    snapshot_delete(spark, table, {"id": [3]}, mode="dv")  # v2 (dv commit)
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    dvs = load_manifest(table, 2)["dv_files"]
    assert dvs
    snapshot_write(_df(spark, [(90, 1, "z")]), table, mode="append",
                   partition_cols=["month"])  # v3
    vacuum_snapshots(spark, table, keep_last=2)  # drops v1
    for f in dvs:
        assert os.path.exists(os.path.join(table, f)), f
    # age everything, then sweep: live sidecars stay
    past = time.time() - 30 * 24 * 3600
    for dp, _, fs in os.walk(os.path.join(table, "data")):
        for f in fs:
            os.utime(os.path.join(dp, f), (past, past))
        os.utime(dp, (past, past))
    sweep_orphans(spark, table, grace_seconds=3600)
    for f in dvs:
        assert os.path.exists(os.path.join(table, f)), f
    assert read_snapshot(spark, table).count() == 10  # 10 - 1 + 1
    # compact folds DVs; vacuum then reclaims the orphaned sidecars
    snapshot_compact(spark, table, partition_cols=["month"])
    vacuum_snapshots(spark, table, keep_last=1)
    for f in dvs:
        assert not os.path.exists(os.path.join(table, f)), f
    assert read_snapshot(spark, table).count() == 10


# ------------------------------------------------- the actual win


def test_dv_write_amplification_win(spark, table):
    """Planted wide-spread victims (one matching row in EVERY file):
    the rewrite path rewrites the whole table; the DV path writes a
    tombstone sidecar orders of magnitude smaller. This is the
    measured reason the feature exists."""
    import uuid as _uuid

    pad = "x" * 2000
    rows = [(i, i % 8, pad + _uuid.uuid4().hex) for i in range(4000)]
    snapshot_write(
        _df(spark, rows), table, partition_cols=["month"], stats_cols=["id"],
    )
    before_dirs = set(os.listdir(os.path.join(table, "data")))
    # victims spread across the id range -> every file holds one
    victims = list(range(0, 4000, 500))
    _, n = snapshot_delete(spark, table, {"id": victims}, mode="dv")
    assert n == len(victims)
    dv_bytes = _commit_dir_bytes(table, before_dirs)

    # same delete on a fresh copy via rewrite
    table2 = table + "_rw"
    snapshot_write(
        _df(spark, rows), table2, partition_cols=["month"], stats_cols=["id"],
    )
    before2 = set(os.listdir(os.path.join(table2, "data")))
    _, n2 = snapshot_delete(spark, table2, {"id": victims}, mode="rewrite")
    assert n2 == n
    rw_bytes = _commit_dir_bytes(table2, before2)

    assert _bag(read_snapshot(spark, table)) == _bag(
        read_snapshot(spark, table2)
    )
    assert dv_bytes * 20 < rw_bytes, (dv_bytes, rw_bytes)


# ----------------------------------------- merge-on-read UPDATE


@pytest.mark.slowproof
def test_update_dv_equals_rewrite(spark, tmp_path):
    """snapshot_update(mode="dv") ≡ the CoW update row-for-row: one
    commit tombstones old images and appends patched ones; the change
    feed reports delete(old) + insert(new); expression-valued set
    works; tombstoned rows never resurrect through it."""
    a = str(tmp_path / "udv")
    b = str(tmp_path / "urw")
    rows = [(i, i % 2, f"v{i}") for i in range(20)]
    for t in (a, b):
        snapshot_write(
            _df(spark, rows), t, partition_cols=["month"], stats_cols=["id"],
        )
        snapshot_delete(spark, t, {"id": [4]}, mode="dv")  # pre-existing DV
    va, na = snapshot_update(
        spark, a, {"id": [3, 4, 7]}, {"v": F.concat(F.lit("R:"), F.col("v"))},
        mode="dv",
    )
    vb, nb = snapshot_update(
        spark, b, {"id": [3, 4, 7]}, {"v": F.concat(F.lit("R:"), F.col("v"))},
        mode="rewrite",
    )
    assert na == nb == 2  # id 4 is already deleted on both
    assert _bag(read_snapshot(spark, a)) == _bag(read_snapshot(spark, b))
    assert (3, 1, "R:v3") in _bag(read_snapshot(spark, a))
    # change feed: delete old image + insert new image, same version
    ch = snapshot_changes(spark, a, from_version=2, to_version=va)
    got = sorted((r.id, r.v, r._change_type) for r in ch.collect())
    assert got == [
        (3, "R:v3", "insert"), (3, "v3", "delete"),
        (7, "R:v7", "insert"), (7, "v7", "delete"),
    ]
    # partition-column update refuses, same as CoW
    with pytest.raises(ValueError, match="partition column"):
        snapshot_update(spark, a, {"id": [1]}, {"month": 9}, mode="dv")
    # stats recorded for the patched files keep pruned reads exact
    assert sorted(
        r.id for r in read_snapshot(spark, a, where={"id": Range(3, 7)}).collect()
    ) == [3, 5, 6, 7]


@pytest.mark.slowproof
def test_compact_dvs_consolidates_sidecars(spark, table, tmp_path):
    """Many small DV deletes -> one consolidated sidecar set, data
    files untouched; inert entries dropped; change feed across the
    consolidation is EMPTY; the verify-mode feed passes it; vacuum
    reclaims the superseded sidecars."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_compact_dvs,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )
    from tests.test_snapshot_feed import _drain

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(20)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    for k in (1, 5, 9):
        snapshot_delete(spark, table, {"id": [k]}, mode="dv")
    man = load_manifest(table, list_versions(table)[-1])
    old_dvs = man["dv_files"]
    assert len(old_dvs) == 3
    before = _bag(read_snapshot(spark, table))

    # feed positioned past the DV deletes (skip drain advances offset)
    ck = str(tmp_path / "cdv")
    _drain(spark, table, ck, "cdv1", on_non_append="skip")

    v = snapshot_compact_dvs(spark, table)
    man2 = load_manifest(table, v)
    assert man2["files"] == man["files"]  # data untouched
    assert len(man2["dv_files"]) == 1
    assert man2["dv_rows_before"] == man2["dv_rows_after"] == 3
    assert _bag(read_snapshot(spark, table)) == before
    assert snapshot_changes(
        spark, table, from_version=v - 1, to_version=v
    ).count() == 0
    # verify-mode feed passes the declared, count-verified consolidation
    snapshot_write(_df(spark, [(90, 0, "z")]), table, mode="append",
                   partition_cols=["month"])
    got = _drain(spark, table, ck, "cdv2", on_non_append="verify")
    assert _bag(got) == [(90, 0, "z")]
    # vacuum reclaims the superseded sidecars once their versions drop
    vacuum_snapshots(spark, table, keep_last=2)
    for f in old_dvs:
        assert not os.path.exists(os.path.join(table, f)), f
    assert _bag(read_snapshot(spark, table)) == sorted(
        before + [(90, 0, "z")]
    )
    # nothing to consolidate -> same version back
    assert snapshot_compact_dvs(spark, table) == list_versions(
        table
    )[-1]


@pytest.mark.slowproof
def test_merge_dv_equals_cow_merge(spark, tmp_path):
    """snapshot_merge(mode="dv") ≡ the CoW merge, both flavors:
    plain replace-matched/insert-unmatched, and version_col
    max-version-wins (older redelivered updates lose; duplicate keys
    collapse to the winner). Unmatched target files are carried, only
    tombstones + update images are written."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_merge,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "id long, month int, v string, ver int"
        )

    base = [(i, i % 3, f"v{i}", 1) for i in range(12)]
    upd = [
        (3, 0, "u3", 2),     # replaces id 3
        (100, 1, "u100", 2),  # brand-new key
        (6, 0, "stale", 0),   # OLDER than target: loses under version_col
    ]
    a = str(tmp_path / "mdv")
    b = str(tmp_path / "mrw")
    for t in (a, b):
        snapshot_write(
            mk(base), t, partition_cols=["month"], stats_cols=["id"],
        )
        snapshot_delete(spark, t, {"id": [9]}, mode="dv")  # pre-existing DV

    # ---- version_col flavor
    va = snapshot_merge(
        spark, a, mk(upd), ["id"], ["month"], version_col="ver", mode="dv"
    )
    snapshot_merge(spark, b, mk(upd), ["id"], ["month"], version_col="ver")
    bag = lambda t: sorted(  # noqa: E731
        (r.id, r.month, r.v, r.ver)
        for r in read_snapshot(spark, t).collect()
    )
    assert bag(a) == bag(b)
    assert (3, 0, "u3", 2) in bag(a) and (6, 0, "v6", 1) in bag(a)
    assert (100, 1, "u100", 2) in bag(a)
    man = load_manifest(a, va)
    assert man["dv_rows_added"] == 1  # only id 3's old image tombstoned
    # redelivery is a no-op on CONTENT (rows identical after re-merge)
    snapshot_merge(
        spark, a, mk(upd), ["id"], ["month"], version_col="ver", mode="dv"
    )
    assert bag(a) == bag(b)

    # ---- plain flavor on fresh tables
    c = str(tmp_path / "pdv")
    d = str(tmp_path / "prw")
    for t in (c, d):
        snapshot_write(mk(base), t, partition_cols=["month"])
    upd2 = [(0, 0, "u0", 9), (200, 2, "u200", 9)]
    snapshot_merge(spark, c, mk(upd2), ["id"], ["month"], mode="dv")
    snapshot_merge(spark, d, mk(upd2), ["id"], ["month"])
    assert bag(c) == bag(d)
    # DV merge carried every original data file by reference
    man_c = load_manifest(c, list_versions(c)[-1])
    man_c1 = load_manifest(c, 1)
    assert set(man_c1["files"]) <= set(man_c["files"])


def _readd_history(spark, table):
    """v1 write, v2 DV-delete, v3 CoW-delete of every remaining row in
    month 0 (its file DROPS with no replacement), v4 restore(v2):
    v3->v4 RE-ADDS a file that carries outstanding tombstones while
    the DV set is unchanged — the trap for any 'append' fast path. The
    v2 sidecar also tombstones a month-1 row, so it keeps a live
    target (and stays in the DV set) after month 0's file drops."""
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    snapshot_write(
        _df(spark, [(i, 0 if i < 6 else 1, f"v{i}") for i in range(12)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    snapshot_delete(spark, table, {"id": [1, 3, 7]}, mode="dv")       # v2
    snapshot_delete(spark, table, {"id": [0, 2, 4, 5]}, mode="rewrite")       # v3
    man3 = load_manifest(table, 3)
    assert man3.get("dv_files")  # tombstones still carried
    snapshot_restore(spark, table, 2)                            # v4
    man4 = load_manifest(table, 4)
    assert set(man4["dv_files"]) == set(man3["dv_files"])  # dv_same
    assert set(man4["files"]) - set(man3["files"])  # file re-added
    assert list_versions(table)[-1] == 4
    return sorted(
        (r.id, r.month, r.v)
        for r in read_snapshot(spark, table, version=2).collect()
    )


def test_changes_readded_tombstoned_file_no_resurrection(spark, table):
    """The change feed must NOT emit a re-added file's tombstoned rows
    as inserts when the DV set is unchanged across the re-add (the
    batched append fast path is only safe for commits carrying no
    tombstones at all)."""
    live_v2 = _readd_history(spark, table)
    ch = snapshot_changes(spark, table, from_version=3, to_version=4)
    ins = sorted(
        (r.id, r.month, r.v)
        for r in ch.where("_change_type = 'insert'").collect()
    )
    # exactly the rows live at v2 in the re-added file (month 0 minus
    # the DV-deleted 1 and 3) — never the tombstoned ones
    assert ins == [t for t in live_v2 if t[1] == 0]
    assert not any(i in (1, 3) for i, _, _ in ins)
    # whole-range apply invariant still bridges
    bag = sorted(
        (r.id, r.month, r.v)
        for r in read_snapshot(spark, table, version=1).collect()
    )
    for r in sorted(
        snapshot_changes(spark, table, from_version=1).collect(),
        key=lambda r: (r["_commit_version"], r["_change_type"]),
    ):
        t = (r.id, r.month, r.v)
        bag.remove(t) if r._change_type == "delete" else bag.append(t)
    assert sorted(bag) == _bag(read_snapshot(spark, table))


@pytest.mark.slowproof
def test_feed_readded_tombstoned_file_refuses(spark, table, tmp_path):
    """The streaming feed must refuse (fail/verify) or skip a commit
    that re-adds a tombstone-carrying file — streaming it whole would
    deliver dead rows; a PURE append while tombstones are outstanding
    still streams (no false positive)."""
    from tests.test_snapshot_feed import _drain

    _readd_history(spark, table)
    ck = str(tmp_path / "radd")
    got = _drain(spark, table, ck, "radd1", on_non_append="skip")
    # v1 snapshot streamed; v2/v3/v4 all skipped (dv delta, rewrite,
    # re-add of a tombstoned file)
    assert got.count() == 12
    for mode in ("fail", "verify"):
        with pytest.raises(Exception, match="deletion"):
            _drain(spark, table, str(tmp_path / f"radd_{mode}"),
                   f"radd_{mode}", on_non_append=mode)
    # pure append with outstanding DVs: streams normally
    snapshot_write(_df(spark, [(50, 1, "new")]), table, mode="append",
                   partition_cols=["month"])
    got2 = _drain(spark, table, ck, "radd2", on_non_append="skip")
    assert _bag(got2) == [(50, 1, "new")]


def test_plain_reads_keep_user_dv_named_columns(spark, table):
    """A table whose schema happens to contain a column named
    ``_dv_file`` reads back intact when no DV machinery is engaged;
    engaging DVs on it refuses loudly."""
    df = spark.createDataFrame(
        [(1, "x"), (2, "y")], "id long, _dv_file string"
    )
    snapshot_write(df, table)
    got = read_snapshot(spark, table)
    assert sorted((r.id, r._dv_file) for r in got.collect()) \
        == [(1, "x"), (2, "y")]
    with pytest.raises(ValueError, match="reserved"):
        snapshot_delete(spark, table, {"id": [1]}, mode="dv")


def test_dv_read_plan_is_broadcast_only(spark, tmp_path):
    """The merge-on-read anti-join must never shuffle the TABLE: the
    tombstone side broadcasts, so a DV-masked scan costs zero
    exchanges beyond the broadcast — the property that makes
    outstanding tombstones cheap at 100 TB. Measured from the executed
    plan, not asserted in prose (shuffle-audit entry x_dv_delete_read
    is the cross-SF companion)."""
    from nyc_taxi_data_warehouse_spark.plans.audit import (
        collect_with_metrics,
    )

    table = str(tmp_path / "dv_plan")
    snapshot_write(
        _df(spark, [(i, i % 3, f"v{i}") for i in range(600)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    snapshot_delete(spark, table, {"id": [5, 50, 500]}, mode="dv")
    got = read_snapshot(spark, table)
    m = collect_with_metrics(got)
    assert m["n_shuffles"] == 0, m
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_feed_skip_streams_untargeted_appends_alongside_readd(
    spark, table, tmp_path
):
    """ADVICE r7: in onNonAppend=skip mode a commit that re-adds a
    tombstone-targeted file AND appends fresh untargeted files must
    still stream the fresh files — the skip contract is "ignore
    rewrites", not "ignore the whole commit"."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        _commit,
        _write_commit_files,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )
    from pyspark.sql.types import StructType
    from tests.test_snapshot_feed import _drain

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(10)]),
        table, partition_cols=["month"],
    )                                                          # v1
    # id 1 (month 1) keeps the sidecar live once month 0's file drops
    snapshot_delete(spark, table, {"id": [0, 1]}, mode="dv")        # v2
    man2 = load_manifest(table, 2)
    targeted = [f for f in man2["files"] if "month=0" in f]
    snapshot_delete(
        spark, table, {"id": [2, 4, 6, 8], "month": [0]}, mode="rewrite"
    )                                                          # v3 CoW
    man3 = load_manifest(table, 3)
    readd = sorted(set(targeted) - set(man3["files"]))
    assert readd  # the tombstoned month-0 file left the manifest
    # v4: one commit = re-add of the targeted file + a FRESH append;
    # v3's recorded targets shrank to its live files, so the re-add
    # names its target again (as a restore's source manifest does)
    _, fresh = _write_commit_files(
        _df(spark, [(50, 2, "new"), (51, 2, "new2")]), table, ["month"]
    )
    _commit(
        spark, table,
        sorted(man3["files"] + readd[:1] + fresh),
        StructType.fromJson(man3["schema"]),
        "weird_mixed_readd", 3, partition_cols=["month"],
        dv_targets=man2["dv_targets"],
    )
    # skip mode: fresh files stream, the re-added tombstoned file not
    got = _drain(
        spark, table, str(tmp_path / "mix_skip"), "mix_skip",
        on_non_append="skip", starting_version=3,
    )
    assert _bag(got) == [(50, 2, "new"), (51, 2, "new2")]
    # fail mode still refuses the same commit loudly
    with pytest.raises(Exception, match="re-adds"):
        _drain(
            spark, table, str(tmp_path / "mix_fail"), "mix_fail",
            on_non_append="fail", starting_version=3,
        )


@pytest.mark.slowproof
def test_compact_dvs_single_sidecar_inert_dominated(spark, table):
    """ADVICE r7: a SINGLE sidecar dominated by inert entries (targets
    since rewritten away) must still consolidate — its dead weight is
    re-read by every DV-masked scan otherwise; a fully-live single
    sidecar stays a no-op; the commit that leaves a sidecar all-inert
    is itself DV-FREE (recorded targets shrink to the live files), so
    there is nothing left to consolidate."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        _dv_entry_count,
        _footer_row_total,
        snapshot_compact_dvs,
        snapshot_replace_partitions,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(20)]),
        table, partition_cols=["month"],
    )
    snapshot_delete(spark, table, {"id": [0, 2, 4, 6, 8]}, mode="dv")  # month 0
    snapshot_delete(spark, table, {"id": [1]}, mode="dv")              # month 1
    v = snapshot_compact_dvs(spark, table)
    man = load_manifest(table, v)
    assert len(man["dv_files"]) == 1
    assert _footer_row_total(spark, table, man["dv_files"]) == 6

    # fully-live single sidecar: no pointless rewrite
    assert snapshot_compact_dvs(spark, table) == v

    # replace month 0 -> 5 of 6 entries go inert
    snapshot_replace_partitions(
        _df(spark, [(100 + i, 0, f"n{i}") for i in range(4)]),
        table, ["month"],
    )
    v2 = snapshot_compact_dvs(spark, table)
    assert v2 == list_versions(table)[-1] > v
    man2 = load_manifest(table, v2)
    assert len(man2["dv_files"]) == 1
    assert _footer_row_total(spark, table, man2["dv_files"]) == 1
    assert man2["dv_rows_before"] == man2["dv_rows_after"] == 1
    expect = sorted(
        [(i, i % 2, f"v{i}") for i in range(20) if i % 2 == 1 and i != 1]
        + [(100 + i, 0, f"n{i}") for i in range(4)]
    )
    assert _bag(read_snapshot(spark, table)) == expect

    # replace month 1 too -> the last entry goes inert -> DV-free commit
    v3 = snapshot_replace_partitions(
        _df(spark, [(200, 1, "m")]), table, ["month"]
    )
    man3 = load_manifest(table, v3)
    assert v3 > v2 and not man3.get("dv_files")
    assert snapshot_compact_dvs(spark, table) == v3
    assert _bag(read_snapshot(spark, table)) == sorted(
        [(100 + i, 0, f"n{i}") for i in range(4)] + [(200, 1, "m")]
    )


_INERT_ROWS = sorted(
    [(i, 1, f"v{i}") for i in range(1, 10, 2)] + [(100, 0, "n")]
)


def _inert_sidecar_table(spark, table):
    """A head whose sidecar set has NO live target, as older writers
    left it: v1 write, v2 DV-deletes id 0 (month 0), v3 replaces month
    0. Today v3 folds the set away, so v3 is rewritten as a full-body
    manifest carrying v2's sidecars and targets — the state a
    partition replace used to inherit unchanged."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_replace_partitions,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )
    from tests.test_manifestlog import _hand_write

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(10)]),
        table, partition_cols=["month"],
    )
    snapshot_delete(spark, table, {"id": [0]}, mode="dv")          # v2
    snapshot_replace_partitions(
        _df(spark, [(100, 0, "n")]), table, ["month"]
    )                                                              # v3
    man2 = load_manifest(table, 2)
    man3 = load_manifest(table, 3)
    assert man2["dv_files"] and not man3.get("dv_files")
    legacy = {
        k: v for k, v in man3.items()
        if k not in ("manifest_id", "parent_id", "ckpt")
    }
    legacy.update(dv_files=man2["dv_files"], dv_targets=man2["dv_targets"])
    _hand_write(table, 3, legacy)
    man3 = load_manifest(table, 3)
    assert man3["dv_files"] == man2["dv_files"]
    assert not set(man3["dv_targets"]) & set(man3["files"])
    assert _bag(read_snapshot(spark, table)) == _INERT_ROWS
    return man3


def test_feed_streams_appends_past_an_inert_sidecar_set(
    spark, table, tmp_path
):
    """A plain append on a head whose sidecar set is already inert
    carries the set unchanged — it removes no file, so folding the set
    there would read as a deletion-vector change — and every feed mode
    streams the append's rows."""
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )
    from tests.test_snapshot_feed import _drain

    man3 = _inert_sidecar_table(spark, table)
    v4 = snapshot_write(
        _df(spark, [(50, 1, "a"), (51, 0, "b")]), table, mode="append",
        partition_cols=["month"],
    )
    man4 = load_manifest(table, v4)
    assert man4["dv_files"] == man3["dv_files"]
    assert man4["dv_targets"] == man3["dv_targets"]
    for mode in ("fail", "verify", "skip"):
        got = _drain(
            spark, table, str(tmp_path / f"ck_{mode}"), f"inert_{mode}",
            starting_version=3, on_non_append=mode,
        )
        assert _bag(got) == [(50, 1, "a"), (51, 0, "b")], mode


def test_compact_dvs_clears_an_inert_sidecar_set(spark, table):
    """``snapshot_compact_dvs`` on an all-inert sidecar set publishes a
    DV-free version that records zero live tombstones on both sides,
    and reads are unchanged."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_compact_dvs,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    _inert_sidecar_table(spark, table)
    v = snapshot_compact_dvs(spark, table)
    man = load_manifest(table, v)
    assert v == 4 and not man.get("dv_files")
    assert man["dv_rows_before"] == man["dv_rows_after"] == 0
    assert _bag(read_snapshot(spark, table)) == _INERT_ROWS


def test_snapshot_delete_mode_auto_dispatch(spark, table, monkeypatch):
    """mode='auto' picks by the bytes the rewrite would copy: below
    the threshold it rewrites (no tombstone debt), above it writes
    tombstones — both row-for-row equivalent, op recorded."""
    from nyc_taxi_data_warehouse_spark.warehouse import snapshots as sn
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(20)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    # victims are tiny vs a huge threshold -> rewrite
    monkeypatch.setattr(sn, "DV_THRESHOLD_MB", 1024)
    v1, n1 = snapshot_delete(spark, table, {"id": [4]})
    assert n1 == 1
    assert load_manifest(table, v1)["op"] == "delete_rows"
    assert not load_manifest(table, v1).get("dv_files")
    # threshold 0 -> any victim bytes exceed it -> DV
    monkeypatch.setattr(sn, "DV_THRESHOLD_MB", 0)
    v2, n2 = snapshot_delete(spark, table, {"id": [7]})
    assert n2 == 1
    man2 = load_manifest(table, v2)
    assert man2["op"] == "delete_rows_dv" and man2["dv_files"]
    # explicit modes still available through the front door
    v3, n3 = snapshot_delete(spark, table, {"id": [8]}, mode="rewrite")
    assert load_manifest(table, v3)["op"] == "delete_rows"
    # update dispatch mirrors delete's
    v4, n4 = snapshot_update(spark, table, {"id": [9]}, {"v": None})
    assert n4 == 1
    assert load_manifest(table, v4)["op"] == "update_rows_dv"
    expect = sorted(
        (i, i % 2, None if i == 9 else f"v{i}")
        for i in range(20)
        if i not in (4, 7, 8)
    )
    assert _bag(read_snapshot(spark, table)) == expect
    with pytest.raises(ValueError, match="auto|dv|rewrite"):
        snapshot_delete(spark, table, {"id": [1]}, mode="bogus")


def test_dml_opens_the_head_once_per_statement(spark, table, monkeypatch):
    """Every DELETE/UPDATE strategy opens the head manifest exactly
    once: the auto decision and the engine it picks share one opened,
    sanitized and planned head (auto landing on either strategy)."""
    from nyc_taxi_data_warehouse_spark.warehouse import snapshots as sn

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(20)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    opens = []
    real = sn._manifest_at

    def spy(*a, **k):
        opens.append(1)
        return real(*a, **k)

    monkeypatch.setattr(sn, "_manifest_at", spy)
    cases = [("auto", 1024), ("auto", 0), ("rewrite", 64), ("dv", 64)]
    for i, (mode, threshold) in enumerate(cases):
        monkeypatch.setattr(sn, "DV_THRESHOLD_MB", threshold)
        opens.clear()
        _, n = snapshot_delete(spark, table, {"id": [i]}, mode=mode)
        assert (n, len(opens)) == (1, 1), (mode, threshold)
        opens.clear()
        _, n = snapshot_update(
            spark, table, {"id": [10 + i]}, {"v": "x"}, mode=mode
        )
        assert (n, len(opens)) == (1, 1), (mode, threshold)
    assert _bag(read_snapshot(spark, table)) == sorted(
        (i, i % 2, "x" if 10 <= i < 14 else f"v{i}")
        for i in range(4, 20)
    )


@pytest.mark.slowproof
def test_auto_compact_consolidates_sidecar_pileup(spark, table, monkeypatch):
    """A stream of small DV deletes through the front door never lets
    sidecars pile up unbounded: past AUTO_COMPACT_FILES the set is
    consolidated in a follow-on compact_dvs commit, results intact."""
    from nyc_taxi_data_warehouse_spark.warehouse import snapshots as sn
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(30)]),
        table, partition_cols=["month"],
    )
    monkeypatch.setattr(sn, "AUTO_COMPACT_FILES", 3)
    deleted = []
    for i in range(5):
        snapshot_delete(spark, table, {"id": [i]}, mode="dv")
        deleted.append(i)
        man = load_manifest(
            table, list_versions(table)[-1]
        )
        assert len(man.get("dv_files") or []) < 3 + 1
    man = load_manifest(table, list_versions(table)[-1])
    # consolidation ran at least once (compact_dvs op in history)
    assert "compact_dvs" in {
        h["op"] for h in snapshot_versions(spark, table)
    }
    assert _bag(read_snapshot(spark, table)) == sorted(
        (i, i % 2, f"v{i}") for i in range(30) if i not in deleted
    )


def test_replace_partitions_with_outstanding_dvs(spark, table):
    """VERDICT r7 worklist pin: dynamic partition replacement on a
    table with outstanding tombstones — the replaced partition's
    tombstones go inert (fresh files are never masked), carried
    partitions stay masked, the recorded dv_targets shrink to the live
    files, and the change feed stays consistent."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_compact_dvs,
        snapshot_replace_partitions,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(12)]),
        table, partition_cols=["month"],
    )
    # tombstones in BOTH partitions
    v_dv, n = snapshot_delete(spark, table, {"id": [0, 1]}, mode="dv")
    assert n == 2
    man = load_manifest(table, v_dv)
    assert man["dv_files"] and len(man["dv_targets"]) >= 2
    # replace month=0 wholesale
    v_rp = snapshot_replace_partitions(
        _df(spark, [(100, 0, "n0"), (102, 0, "n2")]), table, ["month"]
    )
    man_rp = load_manifest(table, v_rp)
    # DVs inherit through the replacement (month=1's tombstone must
    # keep riding); the recorded targets shrink to the live files
    # (month=0's entry went inert with its file)
    assert man_rp["dv_files"] == man["dv_files"]
    assert man_rp["dv_targets"] == sorted(
        set(man["dv_targets"]) & set(man_rp["files"])
    )
    assert len(man_rp["dv_targets"]) == len(man["dv_targets"]) - 1
    expect = sorted(
        [(i, i % 2, f"v{i}") for i in range(12) if i not in (0, 1)
         if i % 2 == 1]
        + [(i, i % 2, f"v{i}") for i in range(12) if i % 2 == 0
           and i != 0]
        + [(100, 0, "n0"), (102, 0, "n2")]
    )
    # month=0 old rows replaced; id=1 (month 1) still tombstoned
    expect = sorted(
        [(i, 1, f"v{i}") for i in range(12) if i % 2 == 1 and i != 1]
        + [(100, 0, "n0"), (102, 0, "n2")]
    )
    assert _bag(read_snapshot(spark, table)) == expect
    # the feed across the replacement: month=0's delta, id=1 NOT
    # resurrected, tombstoned id=0 NOT re-deleted (already dead)
    ch = snapshot_changes(spark, table, from_version=v_dv)
    got = sorted(
        (r.id, r._change_type) for r in ch.collect()
    )
    assert got == sorted(
        [(i, "delete") for i in range(12) if i % 2 == 0 and i != 0]
        + [(100, "insert"), (102, "insert")]
    )
    # consolidation sheds the inert month=0 entry
    v_c = snapshot_compact_dvs(spark, table, min_dead_fraction=0.1)
    man_c = load_manifest(table, v_c)
    assert v_c > v_rp
    assert len(man_c["dv_targets"]) == 1
    assert all("month=1" in t for t in man_c["dv_targets"])
    assert _bag(read_snapshot(spark, table)) == expect
