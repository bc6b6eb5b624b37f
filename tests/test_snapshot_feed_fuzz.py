"""Property fuzz for the snapshot change feed: ANY sequence of commits
(append / partition replacement / targeted delete — copy-on-write AND
deletion-vector — / targeted update / compaction / restore) must
satisfy, at every cut point v,

    table@v  +  changes(v, latest)  ==  table@latest     (as bags)

which is the whole CDF contract — inserts and deletes derived from
file diffs must exactly bridge any two retained versions, including
across rewrite commits that rewrite unchanged rows into new files.
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    snapshot_changes,
    snapshot_compact,
    snapshot_delete,
    snapshot_replace_partitions,
    snapshot_update,
    snapshot_write,
)

# op scripts: (kind, payload) — payloads are data-free recipes so
# hypothesis shrinks well
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 2), st.integers(1, 3)),
        st.tuples(st.just("replace"), st.integers(0, 2), st.integers(0, 2)),
        st.tuples(st.just("delete"), st.integers(0, 30)),
        st.tuples(st.just("delete_dv"), st.integers(0, 30)),
        st.tuples(st.just("update_dv"), st.integers(0, 30)),
        st.tuples(st.just("compact_dvs"), st.just(0)),
        st.tuples(st.just("update"), st.integers(0, 30)),
        st.tuples(st.just("compact"), st.just(0)),
        # targeted compaction: bin-pack only sub-threshold fragments,
        # carry everything else by reference (threshold generous, so
        # most files qualify and DV interplay gets exercised)
        st.tuples(st.just("compact_small"), st.just(0)),
        # metadata-only partition delete: whole matching directories
        # leave the manifest with zero data I/O
        st.tuples(st.just("drop_partition"), st.integers(0, 2)),
        # conjunctive DML front doors (composite key: id AND month) —
        # exercises the shared predicate engine incl. the partition-
        # pruned victim planning and stats whole-file proofs
        st.tuples(
            st.just("delete_where"), st.integers(0, 30), st.integers(0, 2)
        ),
        st.tuples(
            st.just("update_where"), st.integers(0, 30), st.integers(0, 2)
        ),
        # RANGE DML (round 10): TTL-style bounded sweeps through the
        # same predicate engine — stats-interval victim planning,
        # whole-file range proofs (drop-by-reference), and partition-
        # directory range pruning on the month leg
        st.tuples(st.just("delete_range"), st.integers(0, 30)),
        st.tuples(
            st.just("update_range"), st.integers(0, 30), st.integers(0, 2)
        ),
        # equality-delete plane: zero-read keyed upsert, key-sidecar
        # delete, and the fold into position DVs — the feed must
        # bridge key-masked visibility exactly, including restores
        # that swap position masks back to key masks
        st.tuples(
            st.just("upsert_eq"), st.integers(0, 30), st.integers(0, 2)
        ),
        st.tuples(st.just("delete_eq"), st.integers(0, 30)),
        st.tuples(st.just("resolve_eq"), st.just(0)),
        # metadata-only rename toggle of the value column (v↔vv):
        # frozen physical names mean every later read/DML/feed leg
        # must keep resolving the same on-disk column; appends with
        # the other name then REVERT the logical schema
        # (newest-writer-wins) and must prune the stale map entry
        st.tuples(st.just("rename"), st.just(0)),
        # restore: roll back to a pseudo-random retained version (the
        # payload indexes into the versions list at apply time)
        st.tuples(st.just("restore"), st.integers(0, 7)),
        # PARTITION EVOLUTION (round 9): toggle the layout between
        # [month] and unpartitioned, metadata-only — later appends
        # write under the new layout, so histories go MIXED and every
        # feed leg must bridge them; ops needing directory proofs
        # (replace/drop_partition) skip while unprovable, exactly as
        # the engine refuses
        st.tuples(st.just("evolve"), st.integers(0, 1)),
    ),
    min_size=2,
    max_size=6,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
@pytest.mark.slowproof
def test_changes_bridge_any_history(spark, tmp_path_factory, ops):
    table = str(tmp_path_factory.mktemp("fuzz") / "t")
    pc = ["month"]

    def mk(rows):
        return spark.createDataFrame(rows, "id long, month int, v string")

    def cur_pc():
        from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
            _manifest_partition_cols,
        )
        from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
            list_versions,
            load_manifest,
        )

        man = load_manifest(
            table, list_versions(table)[-1]
        )
        return _manifest_partition_cols(man)

    next_id = [0]

    def cur_vname():
        from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
            list_versions,
            load_manifest,
        )

        man = load_manifest(
            table, list_versions(table)[-1]
        )
        return man["schema"]["fields"][2]["name"]

    def fresh_rows(month, k):
        out = []
        for _ in range(k):
            out.append((next_id[0], month, f"v{next_id[0]}"))
            next_id[0] += 1
        return out

    snapshot_write(
        mk(fresh_rows(0, 2) + fresh_rows(1, 2)),
        table, partition_cols=pc, stats_cols=["id"],
    )
    for kind, *args in ops:
        if kind == "append":
            month, k = args
            snapshot_write(
                mk(fresh_rows(month, k)), table, mode="append",
                partition_cols=cur_pc(),
            )
        elif kind == "evolve":
            from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
                snapshot_set_layout,
            )

            try:
                snapshot_set_layout(
                    spark, table, pc if args[0] else None
                )
            except ValueError:
                pass  # already that layout
        elif kind == "replace":
            month, k = args
            if cur_pc() != pc:
                continue  # needs the partitioned layout
            try:
                snapshot_replace_partitions(
                    mk(fresh_rows(month, max(k, 1))), table,
                    partition_cols=pc,
                )
            except ValueError:
                # unmigrated old-layout files: directory supersession
                # is unprovable — the engine refuses, the op skips
                continue
        elif kind == "delete":
            snapshot_delete(
                spark, table, {"id": [args[0], args[0] + 1]}, mode="rewrite",
            )
        elif kind == "delete_dv":
            snapshot_delete(
                spark, table, {"id": [args[0], args[0] + 1]}, mode="dv",
            )
        elif kind == "update_dv":
            snapshot_update(
                spark, table, {"id": [args[0]]}, {cur_vname(): "DV_REDACTED"},
                mode="dv",
            )
        elif kind == "compact_dvs":
            from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
                snapshot_compact_dvs,
            )

            snapshot_compact_dvs(spark, table)
        elif kind == "update":
            snapshot_update(
                spark, table, {"id": [args[0]]}, {cur_vname(): "REDACTED"},
                mode="rewrite",
            )
        elif kind == "delete_where":
            snapshot_delete(
                spark, table,
                {"id": [args[0], args[0] + 1], "month": [args[1]]},
            )
        elif kind == "update_where":
            snapshot_update(
                spark, table, {"id": [args[0]], "month": [args[1]]},
                {cur_vname(): "WHERE_REDACTED"},
            )
        elif kind == "delete_range":
            from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
                Range,
            )

            snapshot_delete(
                spark, table,
                {"id": Range(lo=args[0], hi=args[0] + 3, hi_inc=False)},
            )
        elif kind == "update_range":
            from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
                Range,
            )

            snapshot_update(
                spark, table,
                {
                    "id": Range(lo=args[0], hi=args[0] + 2),
                    "month": Range(hi=args[1]),
                },
                {cur_vname(): "RANGE_REDACTED"},
            )
        elif kind == "upsert_eq":
            from nyc_taxi_data_warehouse_spark.warehouse.eqdeletes import (
                snapshot_append_upsert,
            )

            kid, month = args
            up = spark.createDataFrame(
                [(kid, month, f"UP{kid}")],
                f"id long, month int, {cur_vname()} string",
            )
            snapshot_append_upsert(spark, table, up, ["id"])
        elif kind == "delete_eq":
            from nyc_taxi_data_warehouse_spark.warehouse.eqdeletes import (
                snapshot_delete_keys,
            )

            snapshot_delete_keys(
                spark, table,
                spark.createDataFrame(
                    [(args[0],), (args[0] + 1,)], "id long"
                ),
            )
        elif kind == "resolve_eq":
            from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
                snapshot_resolve_eq,
            )

            snapshot_resolve_eq(spark, table)
        elif kind == "drop_partition":
            from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
                snapshot_drop_partitions,
            )

            try:
                snapshot_drop_partitions(spark, table, {"month": args[0]})
            except ValueError:
                continue  # mixed layouts: directory proof unavailable
        elif kind == "compact_small":
            snapshot_compact(
                spark, table, partition_cols=cur_pc(), min_file_mb=0.5
            )
        elif kind == "rename":
            from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
                snapshot_rename_column,
            )

            cur = cur_vname()
            snapshot_rename_column(
                spark, table, cur, "vv" if cur == "v" else "v"
            )
        elif kind == "restore":
            from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
                snapshot_restore,
            )
            from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
                list_versions,
            )

            vs = list_versions(table)
            snapshot_restore(spark, table, vs[args[0] % len(vs)])
        else:
            snapshot_compact(spark, table, partition_cols=cur_pc())

    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
    )

    versions = list_versions(table)
    latest = versions[-1]
    # positional tuples: the value column's LOGICAL name may differ per
    # version (rename ops), but its schema position never moves
    final = sorted(
        (r[0], r[1], r[2])
        for r in read_snapshot(spark, table).collect()
    )
    for v in {versions[0], versions[len(versions) // 2], latest}:
        base = sorted(
            (r[0], r[1], r[2])
            for r in read_snapshot(spark, table, version=v).collect()
        )
        ch = snapshot_changes(spark, table, from_version=v).collect()
        bag = list(base)
        for r in sorted(
            ch, key=lambda r: (r["_commit_version"], r["_change_type"])
        ):
            t = (r[0], r[1], r[2])
            if r["_change_type"] == "delete":
                assert t in bag, (v, t)
                bag.remove(t)
            else:
                bag.append(t)
        assert sorted(bag) == final, v


@pytest.mark.slowproof
def test_changes_long_history_bounded_plan(spark, tmp_path_factory):
    """A feed spanning a LONG mostly-append history must not build an
    O(commits) driver-side plan: append-at-current-schema commits
    collapse into one batched scan + broadcast file→version lookup, so
    the optimized plan stays near-constant in the commit count while
    the apply invariant keeps holding. The occasional rewrite commits
    sprinkled in stay on the per-commit diff path."""
    table = str(tmp_path_factory.mktemp("longhist") / "t")
    pc = ["month"]

    def mk(rows):
        return spark.createDataFrame(rows, "id long, month int, v string")

    n_commits = 200
    snapshot_write(
        mk([(0, 0, "v0")]), table, partition_cols=pc, stats_cols=["id"],
    )
    for i in range(1, n_commits):
        if i % 67 == 0:
            snapshot_delete(spark, table, {"id": [i - 1]}, mode="rewrite")
        else:
            snapshot_write(
                mk([(i, i % 4, f"v{i}")]), table, mode="append",
                partition_cols=pc,
            )
    ch = snapshot_changes(spark, table, from_version=0)
    plan = ch._jdf.queryExecution().optimizedPlan().toString()
    # 2 delete commits → ≤ a handful of per-commit scan pairs; the
    # ~197 appends must contribute ONE batched scan. An O(commits)
    # plan regression blows far past this bound. (Count relation NODES
    # — lines — not substrings: the batched scan's own path list
    # contains hundreds of '.parquet' strings.)
    n_scans = sum(
        1 for ln in plan.splitlines() if "Relation" in ln
    )
    assert n_scans <= 16, f"{n_scans} relation nodes — plan grows O(commits)"
    # apply invariant over the whole range
    final = sorted(
        (r["id"], r["month"], r["v"])
        for r in read_snapshot(spark, table).collect()
    )
    bag: list = []
    for r in sorted(
        ch.collect(), key=lambda r: (r["_commit_version"], r["_change_type"])
    ):
        t = (r["id"], r["month"], r["v"])
        if r["_change_type"] == "delete":
            bag.remove(t)
        else:
            bag.append(t)
    assert sorted(bag) == final
