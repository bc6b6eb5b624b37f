"""Incremental manifest log: O(change) commit docs, checkpoints,
reconstruction, vacuum rescue, and the dv_targets-driven read split.

The scale claim under test: commit metadata is ∝ the CHANGE (plus an
amortized checkpoint every ``checkpoint_every`` commits), never the
table — the last O(table)-per-commit cost in the engine. Correctness
claim: every reconstructed manifest is byte-equivalent (same dict) to
what the old full-JSON format would have recorded."""

from __future__ import annotations

import glob
import json
import os
import pickle
import random

import pytest

from nyc_taxi_data_warehouse_spark.warehouse import manifestlog as ml
from nyc_taxi_data_warehouse_spark.warehouse.branching import (
    create_branch,
    create_tag,
    drop_branch,
    publish_branch,
)
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    Range,
    snapshot_changes,
    snapshot_compact_dvs,
    snapshot_delete,
    snapshot_restore,
    snapshot_write,
    sweep_orphans,
    vacuum_snapshots,
)
from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
    list_versions,
    load_manifest,
    read_doc,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, month int, v string")


def _bag(df):
    return sorted((r.id, r.month, r.v) for r in df.collect())


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "mlog_table")


@pytest.fixture()
def ckpt3(monkeypatch):
    """A short checkpoint cadence so tests exercise ckpt commits,
    delta chains, and chain-crossing reconstruction in few commits."""
    monkeypatch.setenv("SPARK_GRAFT_MANIFEST_CKPT_EVERY", "3")


# ---------------------------------------------------------------------------
# Pure-unit: codec round trips (no Spark)
# ---------------------------------------------------------------------------


def test_checkpoint_roundtrip_all_state_shapes():
    shapes = [
        {"files": [], "dv_files": None, "dv_targets": None,
         "stats": None, "stats_cols": None, "rows": None,
         "props": None, "eqs": None, "seq": None},
        {"files": ["data/a/x.parquet"], "dv_files": None,
         "dv_targets": None, "stats": None, "stats_cols": None,
         "rows": None,
         "props": {"owner": "etl", "constraint.pos": "id >= 0"},
         "eqs": None, "seq": None},
        {"files": ["data/a/x.parquet", "data/b/m=1/y y.parquet"],
         "dv_files": ["data/c/dv.parquet"],
         "dv_targets": ["data/a/x.parquet"],
         "stats": {"data/a/x.parquet": {"id": [1, 9]},
                   "data/b/m=1/y y.parquet": {"id": [None, None]}},
         "stats_cols": ["id"],
         # rows map may be PARTIAL (legacy history has no counts)
         "rows": {"data/a/x.parquet": 12345},
         "props": None,
         # equality-delete entries + per-file added-at versions
         # (seq map may be partial too)
         "eqs": [{"path": "data/e/eq.parquet", "seq": 4,
                  "keys": ["id", "month"]}],
         "seq": {"data/a/x.parquet": 2}},
        # stats present but EMPTY dict is a distinct state from None
        {"files": ["data/a/x.parquet"], "dv_files": None,
         "dv_targets": None, "stats": {}, "stats_cols": ["id"],
         "rows": {"data/a/x.parquet": 7}, "props": None,
         "eqs": None, "seq": None},
    ]
    for st in shapes:
        assert ml.decode_checkpoint(ml.encode_checkpoint(st)) == st
    # stats pruning: file lists intact, stats dropped, rows KEPT (the
    # stripped planner reader may verify from totals)
    got = ml.decode_checkpoint(
        ml.encode_checkpoint(shapes[2]), want_stats=False
    )
    assert got["files"] == shapes[2]["files"]
    assert got["dv_files"] == shapes[2]["dv_files"]
    assert got["dv_targets"] == shapes[2]["dv_targets"]
    assert got["stats"] is None
    assert got["rows"] == shapes[2]["rows"]
    # eq entries + seq reach STRIPPED readers too: they change row
    # visibility, so the streaming planner cannot be blind to them
    assert got["eqs"] == shapes[2]["eqs"]
    assert got["seq"] == shapes[2]["seq"]
    got1 = ml.decode_checkpoint(
        ml.encode_checkpoint(shapes[1]), want_stats=False
    )
    assert got1["props"] == shapes[1]["props"]


def test_encode_fold_random_transition_equivalence():
    """fold_delta(encode_commit(...)) == the target state, across a
    randomized walk of adds/removes/dv churn/stats churn — the
    format's core invariant."""
    rng = random.Random(7)
    state = {"files": [], "dv_files": None, "dv_targets": None,
             "stats": None, "stats_cols": None, "rows": None,
             "props": None, "eqs": None, "seq": None}
    pool = [f"data/{i:02d}/p.parquet" for i in range(40)]
    for step in range(1, 60):
        files = set(state["files"])
        files |= set(rng.sample(pool, rng.randrange(0, 4)))
        files -= set(rng.sample(sorted(files), min(len(files), rng.randrange(0, 3))))
        has_dv = rng.random() < 0.5 and files
        dvs = sorted(rng.sample(pool, 2)) if has_dv else None
        tgts = sorted(rng.sample(sorted(files), min(2, len(files)))) if has_dv else None
        has_stats = rng.random() < 0.5
        stats = (
            {f: {"id": [rng.randrange(9), 9]} for f in sorted(files)[:3]}
            if has_stats
            else None
        )
        # rows invariant: a live file's count never changes or
        # disappears; new entries may appear for new files AND for
        # previously-unknown live files (self-heal backfill). Some
        # files stay unknown (legacy / forged history).
        prev_rows = state.get("rows") or {}
        rows = {f: prev_rows[f] for f in files if f in prev_rows}
        for f in files:
            if f not in rows and rng.random() < 0.7:
                rows[f] = rng.randrange(1, 10_000)
        # props churn freely (set / overwrite / unset)
        props = dict(state.get("props") or {})
        r = rng.random()
        if r < 0.3:
            props[f"k{rng.randrange(3)}"] = f"v{rng.randrange(5)}"
        elif r < 0.45 and props:
            props.pop(rng.choice(sorted(props)))
        # seq invariant: mirrors rows — a live file's added-at version
        # never changes; some files stay unknown (legacy history)
        prev_seq = state.get("seq") or {}
        seq = {f: prev_seq[f] for f in files if f in prev_seq}
        for f in files:
            if f not in seq and rng.random() < 0.6:
                seq[f] = step
        # eq entries: immutable per path, added (upsert_eq) and
        # removed (resolve / restore) across the walk
        eqs = [dict(e) for e in state.get("eqs") or []]
        r = rng.random()
        if r < 0.3:
            eqs.append({"path": f"data/eq{step:02d}/e.parquet",
                        "seq": step, "keys": ["id"]})
        elif r < 0.45 and eqs:
            eqs.pop(rng.randrange(len(eqs)))
        target = {
            "files": sorted(files),
            "dv_files": dvs or None,
            "dv_targets": tgts or None,
            "stats": stats,
            "stats_cols": ["id"] if has_stats else None,
            "rows": rows or None,
            "props": props or None,
            "eqs": eqs or None,
            "seq": seq or None,
        }
        scalars = {"version": step, "parent": step - 1, "op": "t",
                   "manifest_id": f"m{step}"}
        doc, ckpt = ml.encode_commit(scalars, target, state)
        if ckpt is not None:
            got = ml.decode_checkpoint(ckpt)
        else:
            got = ml.fold_delta(doc, state)
        assert got == target, f"step {step}"
        # and the consumer dict carries state + scalars, no delta keys
        man = ml.manifest_dict(doc, got)
        assert man["files"] == target["files"]
        assert man.get("dv_files") == (target["dv_files"] or None) or (
            not target["dv_files"] and "dv_files" not in man
        )
        assert not (set(man) & {"files_add", "files_del", "stats_put"})
        state = target


def test_statecache_lru_and_pickles_empty():
    c = ml.StateCache(maxsize=2)
    c.put("a", {"files": ["a"]})
    c.put("b", {"files": ["b"]})
    assert c.get("a") == {"files": ["a"]}  # refresh a
    c.put("c", {"files": ["c"]})           # evicts b
    assert c.get("b") is None
    assert c.get("a") is not None and c.get("c") is not None
    assert c.get(None) is None
    # the streaming source module cloudpickles its globals (which hold
    # a StateCache): must pickle, and must come back EMPTY
    c2 = pickle.loads(pickle.dumps(c))
    assert c2.get("a") is None
    c2.put("z", {"files": []})
    assert c2.get("z") == {"files": []}


# ---------------------------------------------------------------------------
# On-disk format: O(change) deltas + checkpoint cadence
# ---------------------------------------------------------------------------


@pytest.mark.slowproof
def test_commit_docs_are_o_change_not_o_table(spark, table, ckpt3):
    """Append commits write a CONSTANT-size doc while the table grows;
    checkpoint commits land on the cadence; every version reconstructs
    to exactly the accumulated state."""
    snapshot_write(
        _df(spark, [(i, i % 2, f"a{i}") for i in range(8)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    delta_sizes = []
    for k in range(2, 9):
        snapshot_write(
            _df(spark, [(100 + k, k % 2, f"b{k}")]),
            table, mode="append", partition_cols=["month"], stats_cols=["id"],
        )
        doc = read_doc(table, k)
        if not doc.get("ckpt"):
            delta_sizes.append(len(json.dumps(doc)))
            # a delta append records ONLY the appended files
            assert "files" not in doc
            assert len(doc["files_add"]) <= 2
            assert not doc.get("files_del")
            assert len(doc.get("stats_put") or {}) <= 2
    # doc size flat while the table grew 8 -> 15 files
    assert max(delta_sizes) - min(delta_sizes) < 200
    # cadence: v1 (chain start), v3, v6 are checkpoint commits
    kinds = {
        v: ("ckpt" if read_doc(table, v).get("ckpt") else "delta")
        for v in list_versions(table)
    }
    assert kinds[1] == kinds[3] == kinds[6] == "ckpt"
    assert kinds[2] == kinds[4] == kinds[5] == kinds[7] == kinds[8] == "delta"
    # reconstruction equals accumulated truth at EVERY version
    man = load_manifest(table, 8)
    assert len(man["files"]) == len(man["stats"])
    assert _bag(read_snapshot(spark, table)) == sorted(
        [(i, i % 2, f"a{i}") for i in range(8)]
        + [(100 + k, k % 2, f"b{k}") for k in range(2, 9)]
    )
    for v in range(1, 9):
        got = read_snapshot(spark, table, version=v).count()
        assert got == 8 + (v - 1)
    # stats-driven pruning still exact through reconstruction
    assert read_snapshot(spark, table, where={"id": Range(0, 3)}).count() == 4


def test_checkpoint_blob_written_before_claim(spark, table, ckpt3):
    """A ckpt-commit's doc references a blob that exists on disk, named
    by the doc's own manifest_id."""
    snapshot_write(_df(spark, [(1, 0, "a")]), table)
    doc = read_doc(table, 1)
    assert doc["ckpt"] == ml.ckpt_name(1, doc["manifest_id"])
    assert os.path.exists(os.path.join(table, "_versions", doc["ckpt"]))
    st = ml.decode_checkpoint(
        open(os.path.join(table, "_versions", doc["ckpt"]), "rb").read()
    )
    assert st["files"] == load_manifest(table, 1)["files"]


def _hand_write(table, version, doc):
    """Replace a manifest with a hand-built body, clearing the Hadoop
    local-FS checksum sidecars a plain open() would leave stale."""
    vdir = os.path.join(table, "_versions")
    for p in glob.glob(os.path.join(vdir, "*.crc")) + glob.glob(
        os.path.join(vdir, ".*.crc")
    ):
        os.remove(p)
    with open(os.path.join(vdir, f"{version:08d}.json"), "w") as f:
        json.dump(doc, f)


def test_legacy_full_manifest_backcompat(spark, table, tmp_path):
    """A table whose v1 was written by the old full-JSON format keeps
    working: reads, DML deltas on top, dv_targets derived on demand."""
    # hand-write a legacy v1: full file list, no manifest_id/log keys
    snapshot_write(
        _df(spark, [(i, i % 2, f"a{i}") for i in range(6)]),
        table, partition_cols=["month"],
    )
    man = load_manifest(table, 1)
    legacy = {
        "version": 1, "parent": None, "op": "overwrite",
        "committed_at_ms": man["committed_at_ms"],
        "files": man["files"], "schema": man["schema"],
        "partition_cols": ["month"],
    }
    for blob in glob.glob(os.path.join(table, "_versions", "*.ckpt.parquet")):
        os.remove(blob)
    _hand_write(table, 1, legacy)
    assert load_manifest(table, 1) == legacy
    assert read_snapshot(spark, table).count() == 6
    # a DELTA commits cleanly against the legacy parent
    snapshot_write(
        _df(spark, [(50, 0, "x")]), table, mode="append",
        partition_cols=["month"],
    )
    doc2 = read_doc(table, 2)
    assert "files" not in doc2 and len(doc2["files_add"]) == 1
    assert "parent_id" not in doc2  # legacy parents have no id
    assert read_snapshot(spark, table).count() == 7
    # legacy manifests with sidecars but no recorded dv_targets:
    # the next DV commit derives the full target list from sidecars
    v, n = snapshot_delete(spark, table, {"id": [0]}, mode="dv")
    man_v = load_manifest(table, v)
    # simulate a legacy DV manifest: full body, no recorded targets
    legacy_dv = {
        k: v2 for k, v2 in man_v.items() if k != "dv_targets"
    }
    for blob in glob.glob(os.path.join(table, "_versions", "*.ckpt.parquet")):
        os.remove(blob)
    _hand_write(table, v, legacy_dv)
    assert "dv_targets" not in load_manifest(table, v)
    assert read_snapshot(spark, table).count() == 6  # DV still applies
    v2, _ = snapshot_delete(spark, table, {"id": [2]}, mode="dv")
    man2 = load_manifest(table, v2)
    # derived targets cover BOTH the legacy sidecar's and the new one's
    assert len(man2["dv_targets"]) == 2
    assert read_snapshot(spark, table).count() == 5


# ---------------------------------------------------------------------------
# Vacuum: rescue checkpoints + blob GC
# ---------------------------------------------------------------------------


@pytest.mark.slowproof
def test_vacuum_rescues_delta_tails_and_tagged_islands(
    spark, table, ckpt3
):
    """Dropping history must leave every RETAINED version
    reconstructible: the retention tail and a tagged delta island get
    rescue checkpoints; dropped versions' blobs are deleted."""
    snapshot_write(_df(spark, [(1, 0, "a")]), table, partition_cols=["month"])
    for k in range(2, 9):  # v2..v8
        snapshot_write(
            _df(spark, [(k, k % 2, f"b{k}")]), table, mode="append",
            partition_cols=["month"],
        )
    # v5 is a DELTA (cadence 3: ckpts at 1,3,6) — tag it
    assert not read_doc(table, 5).get("ckpt")
    create_tag(spark, table, "island", 5)
    res = vacuum_snapshots(spark, table, keep_last=2)
    assert res["versions_dropped"] == 5
    assert list_versions(table) == [5, 7, 8]
    # the tagged delta island and the tail delta both reconstruct
    assert read_snapshot(spark, table, version=5).count() == 5
    assert read_snapshot(spark, table, version=7).count() == 7
    assert read_snapshot(spark, table).count() == 8
    blobs = {os.path.basename(p) for p in glob.glob(
        os.path.join(table, "_versions", "*.ckpt.parquet")
    )}
    doc5 = read_doc(table, 5)
    doc7 = read_doc(table, 7)
    assert ml.rescue_name(5, doc5["manifest_id"]) in blobs
    assert ml.rescue_name(7, doc7["manifest_id"]) in blobs
    # dropped versions' blobs are gone (v1, v3, v6 had ckpts)
    for v in (1, 3, 6):
        assert not any(b.startswith(f"{v:08d}.") for b in blobs)
    # a SECOND vacuum over the rescued state is a clean no-op
    res2 = vacuum_snapshots(spark, table, keep_last=2)
    assert res2["versions_dropped"] == 0
    assert read_snapshot(spark, table, version=5).count() == 5
    # fresh process state (cold cache): reconstruction from disk alone
    ml._STATE_CACHE.__setstate__({"maxsize": 256})
    assert read_snapshot(spark, table, version=5).count() == 5
    assert read_snapshot(spark, table).count() == 8


def test_sweep_orphans_removes_racer_ckpt_debris(spark, table):
    """An unreferenced checkpoint blob (lost commit race / crash
    between blob write and claim) is swept once aged; referenced
    blobs and young debris survive."""
    snapshot_write(_df(spark, [(1, 0, "a")]), table)
    doc = read_doc(table, 1)
    vdir = os.path.join(table, "_versions")
    live = os.path.join(vdir, doc["ckpt"])
    debris = os.path.join(vdir, ml.ckpt_name(1, "deadbeef" * 4))
    with open(debris, "wb") as f:
        f.write(b"junk")
    # young debris survives the age gate
    res = sweep_orphans(spark, table, grace_seconds=3600)
    assert os.path.exists(debris) and os.path.exists(live)
    # aged debris is swept; the referenced blob survives grace=0
    res = sweep_orphans(spark, table, grace_seconds=0)
    assert res["files_deleted"] >= 1
    assert not os.path.exists(debris)
    assert os.path.exists(live)
    assert read_snapshot(spark, table).count() == 1


# ---------------------------------------------------------------------------
# dv_targets: recorded, maintained, and driving the read split
# ---------------------------------------------------------------------------


def test_dv_targets_lifecycle(spark, table):
    """Recorded at DV-commit time ∝ targeted files; carried by
    inherit; superset-after-rewrite is harmless; compact_dvs shrinks
    it back to the live footprint; fold (compact) clears it."""
    snapshot_write(
        _df(spark, [(i, i % 3, f"a{i}") for i in range(12)]),
        table, partition_cols=["month"],
    )
    v, _ = snapshot_delete(spark, table, {"id": [0, 3]}, mode="dv")   # month 0
    man = load_manifest(table, v)
    tgts = man["dv_targets"]
    assert tgts and all("month=0" in t for t in tgts)
    # plain append INHERITS the list untouched
    snapshot_write(
        _df(spark, [(100, 1, "x")]), table, mode="append",
        partition_cols=["month"],
    )
    man2 = load_manifest(table, list_versions(table)[-1])
    assert man2["dv_targets"] == tgts
    # CoW delete rewrites the targeted files -> recorded list is now a
    # SUPERSET of live targets; reads stay exact
    snapshot_delete(spark, table, {"id": [6]}, mode="rewrite")  # month 0 victim files
    assert _bag(read_snapshot(spark, table)) == sorted(
        [(i, i % 3, f"a{i}") for i in range(12) if i not in (0, 3, 6)]
        + [(100, 1, "x")]
    )
    # consolidation: every entry went inert with the rewrite ->
    # DV-free manifest, targets cleared
    v3 = snapshot_compact_dvs(spark, table)
    man3 = load_manifest(table, v3)
    assert not man3.get("dv_files") and not man3.get("dv_targets")


def test_dv_read_split_plan_only_targeted_files_join(spark, table):
    """The DV-masked read splits on dv_targets: untargeted files scan
    clean (no row-identity join) and only the targeted files feed the
    broadcast anti-join. Asserted from EXECUTED metrics: the anti-join
    emits only the targeted files' surviving rows (3), not the whole
    table (15) — the property that keeps a one-file tombstone from
    dragging 100 TB through a join."""
    from nyc_taxi_data_warehouse_spark.plans.audit import (
        _iter_executed_nodes,
        collect_with_metrics,
    )

    snapshot_write(
        _df(spark, [(i, i % 4, f"a{i}") for i in range(16)]),
        table, partition_cols=["month"],
    )
    v, n = snapshot_delete(spark, table, {"id": [1]}, mode="dv")  # month 1 only
    assert n == 1
    man = load_manifest(table, v)
    assert all("month=1" in t for t in man["dv_targets"])
    got = read_snapshot(spark, table)
    assert _bag(got) == sorted(
        (i, i % 4, f"a{i}") for i in range(16) if i != 1
    )
    m = collect_with_metrics(got)
    assert m["n_shuffles"] == 0, m  # split keeps the zero-shuffle pin
    anti_rows = []
    for node in _iter_executed_nodes(
        got._jdf.queryExecution().executedPlan()
    ):
        if (
            "BroadcastHashJoin" in node.getClass().getSimpleName()
            and "LeftAnti" in node.joinType().toString()
        ):
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    anti_rows.append(kv._2().value())
    # the anti-join saw ONLY the targeted files' rows: its output is
    # their surviving rows, strictly less than the 15-row table
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        _footer_row_total,
    )

    expected = _footer_row_total(spark, table, man["dv_targets"]) - 1
    assert expected < 15
    assert max(anti_rows) == expected, (anti_rows, expected)
    # AQE plan strings repeat the tree under "== Initial Plan ==" —
    # assert shape on the final section only
    plan = (
        got._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("LeftAnti") == 1
    assert "Union" in plan


def test_change_feed_and_time_travel_across_delta_chains(
    spark, table, ckpt3
):
    """snapshot_changes / restore / time travel operate purely on
    reconstructed manifests — exercise them across ckpt boundaries
    with DV commits in range."""
    snapshot_write(
        _df(spark, [(i, i % 2, f"a{i}") for i in range(6)]),
        table, partition_cols=["month"],
    )
    snapshot_write(
        _df(spark, [(10, 0, "x")]), table, mode="append",
        partition_cols=["month"],
    )                                                    # v2 delta
    snapshot_delete(spark, table, {"id": [0]}, mode="dv")     # v3 ckpt + DV
    snapshot_write(
        _df(spark, [(11, 1, "y")]), table, mode="append",
        partition_cols=["month"],
    )                                                    # v4 delta
    ch = snapshot_changes(spark, table, from_version=1)
    rows = sorted(
        (r.id, r._change_type, r._commit_version) for r in ch.collect()
    )
    assert rows == [
        (0, "delete", 3),
        (10, "insert", 2),
        (11, "insert", 4),
    ]
    v5 = snapshot_restore(spark, table, 2)
    assert read_snapshot(spark, table).count() == 7  # id 0 resurrected
    man5 = load_manifest(table, v5)
    assert not man5.get("dv_files") and not man5.get("dv_targets")


def test_branch_fork_is_checkpoint_and_carries_dv_targets(
    spark, table, ckpt3
):
    snapshot_write(
        _df(spark, [(i, i % 2, f"a{i}") for i in range(8)]),
        table, partition_cols=["month"],
    )
    snapshot_delete(spark, table, {"id": [2]}, mode="dv")
    man = load_manifest(table, 2)
    ref = create_branch(spark, table, "dev")
    bdoc = read_doc(ref, 1)
    # fork = chain start = checkpoint commit: O(1) JSON + one blob,
    # never an O(table) files_add delta
    assert bdoc.get("ckpt") and "files_add" not in bdoc
    bman = load_manifest(ref, 1)
    assert bman["dv_targets"] == man["dv_targets"]
    assert read_snapshot(spark, ref).count() == 7
    # publish carries targets back; drop cleans the branch blobs
    snapshot_write(
        _df(spark, [(50, 0, "z")]), ref, mode="append",
        partition_cols=["month"],
    )
    publish_branch(spark, table, "dev")
    pman = load_manifest(table, list_versions(table)[-1])
    assert pman["dv_targets"] == man["dv_targets"]
    assert read_snapshot(spark, table).count() == 8
    drop_branch(spark, table, "dev", reclaim=True)
    assert not glob.glob(os.path.join(table, "_branches", "dev", "**"))
    assert read_snapshot(spark, table).count() == 8


def test_manifest_scale_artifact_is_committed_and_sane():
    """MANIFEST_SCALE.json (generated by tools/manifest_meter.py) is
    the measured record behind the O(change) metadata claim: delta
    commit bytes flat across a 10x table-file scale-up while the old
    full-JSON format scales linearly. A stale/implausible artifact
    flips this test, not just the SURVEY prose."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    doc = json.load(open(os.path.join(root, "MANIFEST_SCALE.json")))
    claim = doc["claim"]
    assert claim["file_scale_factor"] >= 10
    # steady-state append doc must NOT grow with the table
    assert claim["delta_bytes_ratio"] < 2.0, claim
    # the format it replaced DID grow ~linearly (sanity that the meter
    # measured something real)
    assert claim["legacy_bytes_ratio"] > claim["file_scale_factor"] / 2
    assert claim["steady_state_win_at_largest"] > 100
    for row in doc["rows"]:
        # checkpoint amortizes: blob bytes / cadence stays well under
        # the legacy per-commit write
        amortized = row["ckpt_bytes_max"] / row["ckpt_every"]
        assert amortized < row["legacy_bytes_per_commit"] / 10, row


def test_stripped_reconstruction_never_partial_stats(spark, table, ckpt3):
    """REVIEW r8: a want_stats=False reconstruction folding deltas over
    a stats-stripped checkpoint base must return the structural
    no-stats shape — never a partial dict holding only the latest
    commit's stats_put (a future stats consumer in the planning
    subprocess would silently read wrong per-file stats)."""
    snapshot_write(
        _df(spark, [(i, i % 2, f"a{i}") for i in range(6)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )                                                        # v1 ckpt
    for k in range(2, 6):                                    # deltas + ckpt
        snapshot_write(
            _df(spark, [(100 + k, k % 2, f"b{k}")]),
            table, mode="append", partition_cols=["month"], stats_cols=["id"],
        )
    head = list_versions(table)[-1]
    assert not read_doc(table, head).get("ckpt")  # delta head
    # JVM-side (full) reconstruction carries complete stats
    full = load_manifest(table, head)
    assert len(full["stats"]) == len(full["files"])
    # planner-side (stripped) reconstruction: no stats AT ALL
    stripped = load_manifest(table, head, want_stats=False)
    assert "stats" not in stripped and "stats_cols" not in stripped
    assert stripped["files"] == full["files"]


def test_feed_read_doc_propagates_non_notfound_oserrors():
    """REVIEW r8: only genuinely-missing manifests map to None —
    throttling/permission OSErrors must propagate, or a transient 503
    reads as 'vacuumed history' and the operator skips feed data."""
    import errno

    assert ml.is_not_found(FileNotFoundError("x"))
    assert ml.is_not_found(OSError("Path does not exist 's3://b/k'"))
    assert ml.is_not_found(OSError(errno.ENOENT, "No such file"))
    assert not ml.is_not_found(OSError("AWS Error SLOW_DOWN (503)"))
    assert not ml.is_not_found(PermissionError("denied"))
    # a missing BUCKET is a config error, never vacuumed history
    assert not ml.is_not_found(
        OSError("The specified bucket does not exist")
    )


@pytest.mark.slowproof
def test_auto_compact_cadence_gate(spark, table, monkeypatch):
    """REVIEW r8 (both passes): count-only triggering thrashes once the
    live floor exceeds the trigger count (every DML re-reads all
    tombstones), and a predicted-reduction gate on raw bytes never
    fires for mostly-INERT sets. The cadence gate fixes both: fire on
    count, but never within auto_compact_files versions of the last
    compact_dvs commit — amortized 1/N regardless of the floor, inert
    weight still shed."""
    from nyc_taxi_data_warehouse_spark.warehouse import snapshots as sn

    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(40)]),
        table, partition_cols=["month"],
    )
    monkeypatch.setattr(sn, "AUTO_COMPACT_FILES", None)
    for i in range(4):
        sn.snapshot_delete(spark, table, {"id": [i]}, mode="dv")
    man = load_manifest(table, list_versions(table)[-1])
    assert len(man["dv_files"]) >= 4
    calls = []
    monkeypatch.setattr(
        sn, "snapshot_compact_dvs",
        lambda *a, **k: calls.append(1) or list_versions(table)[-1],
    )
    # sidecar pileup, no recent consolidation: fires
    sn._maybe_auto_compact_dvs(spark, table, auto_compact_files=2)
    assert calls == [1]
    # a REAL consolidation lands, leaving the live floor >= trigger
    monkeypatch.undo()
    v_c = snapshot_compact_dvs(spark, table)
    man_c = load_manifest(table, v_c)
    assert man_c["dv_files"]  # live tombstones remain
    calls2 = []
    monkeypatch.setattr(
        sn, "snapshot_compact_dvs",
        lambda *a, **k: calls2.append(1) or v_c,
    )
    # within the cadence window of the compact_dvs commit: stands down
    # even though the count trigger is met
    sn._maybe_auto_compact_dvs(spark, table, auto_compact_files=1)
    assert not calls2
    # more DML pushes the consolidation out of the window: fires again
    monkeypatch.undo()
    monkeypatch.setattr(sn, "AUTO_COMPACT_FILES", None)
    for i in range(10, 13):
        sn.snapshot_delete(spark, table, {"id": [i]}, mode="dv")
    calls3 = []
    monkeypatch.setattr(
        sn, "snapshot_compact_dvs",
        lambda *a, **k: calls3.append(1) or v_c,
    )
    sn._maybe_auto_compact_dvs(spark, table, auto_compact_files=2)
    assert calls3 == [1]


# ---------------------------------------------------------------------------
# Per-file row counts in the manifest -> metadata-only COUNT(*)
# ---------------------------------------------------------------------------


@pytest.mark.slowproof
def test_snapshot_count_metadata_only_across_dml_storm(
    spark, table, ckpt3
):
    """snapshot_agg COUNT(*) == read_snapshot().count() at EVERY
    version of a history spanning append / DV delete / DV update /
    CoW delete / compact / restore — while the manifest rows map stays O(change)
    per commit (an append's delta carries counts only for its new
    files) and the count itself never opens a data page beyond the
    tombstone sidecars."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_agg,
        snapshot_compact,
        snapshot_update,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, f"a{i}") for i in range(10)]),
        table, partition_cols=["month"],
    )
    snapshot_write(
        _df(spark, [(100 + i, i % 2, f"b{i}") for i in range(4)]),
        table, mode="append", partition_cols=["month"],
    )
    snapshot_delete(spark, table, {"id": [1, 3]}, mode="dv")
    snapshot_update(spark, table, {"id": [100]}, {"v": "patched"}, mode="dv")
    snapshot_delete(spark, table, {"id": [5]}, mode="rewrite")  # copy-on-write
    snapshot_compact(spark, table, target_mb=1)
    snapshot_restore(spark, table, 3)
    for v in list_versions(table):
        assert snapshot_agg(
            spark, table, [("count", "*")], version=v
        )[0][0] == read_snapshot(spark, table, version=v).count(), v
    # the delta doc of the append carries counts ONLY for its new files
    doc2 = read_doc(table, 2)
    assert set(doc2["rows_put"]) == set(doc2["files_add"])
    # a pure-DV commit adds no files, so no counts either
    doc3 = read_doc(table, 3)
    assert "rows_put" not in doc3 and "files_add" not in doc3
    # snapshot_files surfaces the recorded per-file counts
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_files,
    )

    fr = snapshot_files(spark, table).collect()
    assert all(r.rows is not None and r.rows > 0 for r in fr)
    assert sum(r.rows for r in fr) >= snapshot_agg(
        spark, table, [("count", "*")]
    )[0][0]
    with pytest.raises(ValueError):
        snapshot_agg(
            spark, table, [("count", "*")], version=1, at_timestamp=0
        )


def test_snapshot_count_self_heals_legacy_and_fails_loud(
    spark, table
):
    """A legacy manifest (no rows map) counts by reading ONLY the
    missing footers; a manifest-referenced file that cannot be opened
    raises instead of under-counting."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import snapshot_agg

    snapshot_write(
        _df(spark, [(i, i % 2, f"a{i}") for i in range(6)]),
        table, partition_cols=["month"],
    )
    man = load_manifest(table, 1)
    legacy = {
        "version": 1, "parent": None, "op": "overwrite",
        "committed_at_ms": man["committed_at_ms"],
        "files": man["files"], "schema": man["schema"],
        "partition_cols": ["month"],
    }
    for blob in glob.glob(
        os.path.join(table, "_versions", "*.ckpt.parquet")
    ):
        os.remove(blob)
    _hand_write(table, 1, legacy)
    assert "rows" not in load_manifest(table, 1)
    assert snapshot_agg(
        spark, table, [("count", "*")]
    )[0][0] == 6  # footer self-heal
    # the next commit records counts for ITS files only (legacy gap
    # stays a gap — strictly O(change) commits, no backfill storm)
    snapshot_write(
        _df(spark, [(50, 0, "x")]), table, mode="append",
        partition_cols=["month"],
    )
    doc2 = read_doc(table, 2)
    assert set(doc2["rows_put"]) == set(doc2["files_add"])
    assert snapshot_agg(spark, table, [("count", "*")])[0][0] == 7
    # fail-loud: a referenced file with neither a recorded count nor a
    # readable footer is corruption, never a silent under-count
    legacy_bad = dict(legacy)
    legacy_bad["files"] = legacy["files"] + ["data/nope/x.parquet"]
    _hand_write(table, 1, legacy_bad)
    ml._STATE_CACHE._d.clear()
    with pytest.raises(FileNotFoundError):
        snapshot_agg(spark, table, [("count", "*")], version=1)


# ---------------------------------------------------------------------------
# Hypothesis fuzz: metadata-only commit storms vs a pure-python shadow
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# (op, payload): append n files / overwrite n files / dv-commit /
# clear-dvs / tag current head / vacuum keep_last
_META_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(1, 3)),
        st.tuples(st.just("overwrite"), st.integers(1, 3)),
        st.tuples(st.just("dv"), st.integers(1, 2)),
        st.tuples(st.just("cleardv"), st.just(0)),
        st.tuples(st.just("tag"), st.just(0)),
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
    ),
    min_size=4,
    max_size=14,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_META_OPS, ckpt_every=st.integers(1, 5))
@pytest.mark.slowproof
def test_reconstruction_matches_shadow_ledger_under_any_history(
    spark, tmp_path_factory, ops, ckpt_every, monkeypatch
):
    """Every RETAINED version's reconstructed state must equal a
    pure-python shadow ledger after ANY interleaving of appends,
    overwrites, DV commits, DV clears, tags and vacuums, at any
    checkpoint cadence — including reconstruction across vacuum gaps
    (rescue checkpoints) and tagged delta islands. Metadata-only:
    commits record synthetic relpaths, so the fuzz drives the manifest
    log itself, not parquet IO."""
    from pyspark.sql.types import LongType, StructField, StructType

    from nyc_taxi_data_warehouse_spark.warehouse import snapshots as sn
    from nyc_taxi_data_warehouse_spark.warehouse.branching import (
        create_tag,
    )

    monkeypatch.setenv("SPARK_GRAFT_MANIFEST_CKPT_EVERY", str(ckpt_every))
    table = str(tmp_path_factory.mktemp("mfuzz") / "t")
    schema = StructType([StructField("id", LongType())])
    shadow: dict[int, dict] = {}  # version -> {"files", "dvs", "tgts"}
    seq = 0
    parent = None
    tagged = 0

    def commit(files, dvs, tgts, op):
        nonlocal parent
        v = sn._commit(
            spark, table, files, schema, op, parent,
            dv_files=list(dvs) or None,
            dv_targets=list(tgts) or None,
        )
        shadow[v] = {
            "files": sorted(files),
            "dvs": sorted(dvs),
            "tgts": sorted(tgts),
        }
        parent = v

    def fresh(n, kind="f"):
        nonlocal seq
        out = [
            f"data/{'c' * 24}{seq + i:08x}/{kind}-{seq + i}.parquet"
            for i in range(n)
        ]
        seq += n
        return out

    commit(fresh(2), [], [], "overwrite")  # v1 chain start
    for op, arg in ops:
        if op == "append":
            grown = sorted(set(shadow[parent]["files"]) | set(fresh(arg)))
            commit(grown, shadow[parent]["dvs"],
                   shadow[parent]["tgts"], "append")
        elif op == "overwrite":
            commit(fresh(arg), [], [], "overwrite")
        elif op == "dv":
            prev = shadow[parent]
            new_dvs = fresh(arg, "dv")
            tgts = sorted(set(prev["tgts"]) | set(prev["files"][:1]))
            commit(prev["files"],
                   sorted(set(prev["dvs"]) | set(new_dvs)), tgts, "dvc")
        elif op == "cleardv":
            prev = shadow[parent]
            commit(prev["files"], [], [], "compact_dvs")
        elif op == "tag":
            if tagged < 3:  # tag names are immutable; a few suffice
                create_tag(spark, table, f"pin{tagged}", parent)
                tagged += 1
        elif op == "vacuum":
            sn.vacuum_snapshots(spark, table, keep_last=arg)
    # cold cache: reconstruction from DISK alone, every retained version
    ml._STATE_CACHE.__setstate__({"maxsize": 256})
    retained = ml.list_versions(table)
    assert parent in retained
    for v in retained:
        man = ml.load_manifest(table, v)
        want = shadow[v]
        assert man["files"] == want["files"], (v, "files")
        assert sorted(man.get("dv_files") or []) == want["dvs"], (v, "dvs")
        assert sorted(man.get("dv_targets") or []) == want["tgts"], (v, "tgts")


# ---------------------------------------------------------------------------
# Round 9: weight-bounded cache + checkpoint-adjacent-only insertion
# ---------------------------------------------------------------------------


def test_statecache_weight_bound():
    """The cache evicts by total WEIGHT (∝ Σ len(files)), not just
    entry count: 256 states of a 1M-file table must not pile up to
    multi-GB driver RSS. The newest entry always survives, even alone
    over budget."""
    c = ml.StateCache(maxsize=100, max_weight=1000)
    for i in range(10):
        c.put(f"k{i}", {"files": [f"f{j}" for j in range(300)]})
        assert c.weight() <= 1000 or len(c._d) == 1
    # only ⌊1000/301⌋ = 3 large states fit
    held = [k for k in (f"k{i}" for i in range(10)) if c.get(k)]
    assert held == ["k7", "k8", "k9"]
    assert c.weight() == 3 * 301

    # re-putting an existing key replaces its weight, never leaks
    c.put("k9", {"files": ["one"]})
    assert c.weight() == 2 * 301 + 2

    # an oversized single state is kept (evicting the entry a reader
    # is about to use would only force an immediate re-fold) but
    # pushes everything else out
    c.put("big", {"files": [f"f{j}" for j in range(5000)]})
    assert c.get("big") is not None
    assert len(c._d) == 1

    # pickles empty with both bounds intact
    c2 = pickle.loads(pickle.dumps(c))
    assert c2.get("big") is None
    assert c2._max_weight == 1000


def test_cold_walk_caches_only_ckpt_base_and_final(
    spark, table, ckpt3
):
    """A cold reconstruct of the head must insert at most the
    checkpoint-adjacent base and the requested commit's final state —
    NOT one large state per intermediate fold (round-9 scale fix) —
    and intermediate versions must still reconstruct correctly (from
    the cached base, cost bounded by the checkpoint cadence)."""
    snapshot_write(_df(spark, [(1, 0, "a")]), table)
    for k in range(6):  # ckpt at v1, v4; deltas v2,v3,v5,v6,v7
        snapshot_write(
            _df(spark, [(10 + k, 0, f"b{k}")]), table, mode="append"
        )
    versions = list_versions(table)
    head = versions[-1]
    # ground truth per version, captured through the normal cache
    expect = {
        v: len(load_manifest(table, v)["files"]) for v in versions
    }
    fresh = ml.StateCache(maxsize=256)
    orig = ml._STATE_CACHE
    ml._STATE_CACHE = fresh
    try:
        man = load_manifest(table, head)
        assert len(man["files"]) == expect[head]
        n_after_cold = len(fresh._d)
        # ≤ 2 inserts (ckpt base + final), never one per delta
        assert n_after_cold <= 2, sorted(fresh._d)
        # ascending walk stays O(1) folds per version: every version
        # reconstructs and lands in the cache as it goes
        for v in versions:
            got = load_manifest(table, v)
            assert len(got["files"]) == expect[v]
        assert _bag(read_snapshot(spark, table)) == sorted(
            [(1, 0, "a")] + [(10 + k, 0, f"b{k}") for k in range(6)]
        )
    finally:
        ml._STATE_CACHE = orig


def test_rescue_base_caches_under_rescued_commit(spark, table, ckpt3):
    """Across a vacuum gap the rescue checkpoint's decoded state caches
    under the RESCUED commit's id (it IS that commit's state), and the
    parentless-root synthetic empty state never caches under a real
    commit id."""
    snapshot_write(_df(spark, [(1, 0, "a")]), table)
    for k in range(5):
        snapshot_write(
            _df(spark, [(10 + k, 0, f"b{k}")]), table, mode="append"
        )
    vacuum_snapshots(spark, table, keep_last=2)
    keep = list_versions(table)
    expect = {
        v: len(load_manifest(table, v)["files"]) for v in keep
    }
    fresh = ml.StateCache(maxsize=256)
    orig = ml._STATE_CACHE
    ml._STATE_CACHE = fresh
    try:
        for v in keep:
            man = load_manifest(table, v)
            assert len(man["files"]) == expect[v]
        # every cached state matches its commit exactly (no synthetic
        # empties under real ids, no off-by-one-fold states)
        for key, st in list(fresh._d.items()):
            vs = [
                v for v in keep
                if read_doc(table, v)["manifest_id"] == key
            ]
            if vs:
                assert len(st["files"]) == expect[vs[0]], (key, vs)
    finally:
        ml._STATE_CACHE = orig
