"""Keyed replica maintenance: apply a snapshot table's row-level
change feed to a derived table, O(changes) per refresh.

``materialize_incremental`` (insert-only feed) refuses upsert/delete
history by design — an append-only derived table cannot track row
removals. This module completes the family for KEYED derived tables:
``replicate_keyed`` consumes ``snapshot_changes`` (which bridges every
commit kind: CoW/DV DML, equality-delete upserts, compactions,
restores) and applies the NET per-key effect to the replica using the
equality-delete writers — so one refresh costs

    read  ∝ the source commits' changed files (the CDF contract)
    write ∝ the net changed keys (images + two key sidecars)

and NOTHING is read from the replica itself. At 100 TB that is the
difference between "a filtered mirror follows a CDC-upserted source"
and "every refresh re-joins the mirror".

Semantics: the replica holds, per key, the source's latest visible row
(optionally transformed by a projection/filter). Refreshes are
idempotent-by-convergence: re-applying a range upserts the same images
(masking the previous application's) and re-deletes absent keys, so a
crash between the apply and the cursor write converges on re-run —
the same at-least-once ∘ idempotent-apply composition every streaming
sink here uses. The cursor rides the REPLICA's table properties
(``replica.cursor``), so it travels with branches/restores of the
replica like any other state.

Reference: the reference pipeline maintains derived tables by full
re-INSERT from Redshift (queries.py recomputes aggregates wholesale);
this is the engine-native incremental upgrade.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .eqdeletes import (
    maybe_resolve_eq,
    snapshot_append_upsert,
    snapshot_delete_keys,
)
from .manifestlog import list_versions, read_json
from .snapshots import (
    _fs,
    _jp,
    _manifest_at,
    _write_bytes_exclusive,
    read_snapshot,
    snapshot_changes,
    snapshot_properties,
    snapshot_set_properties,
    snapshot_write,
)

_CURSOR = "replica.cursor"
_KEYS = "replica.keys"
# bootstrap crash marker: written BEFORE the replica's v1, deleted
# after the cursor property lands — a crash between the two leaves a
# resumable breadcrumb instead of a table future runs must reject
_MARKER = "_replica_bootstrap.json"


def replicate_keyed(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    keys: list[str],
    transform: Callable[[DataFrame], DataFrame] | None = None,
    partition_cols: list[str] | None = None,
    auto_resolve_entries: int | None = 8,
) -> dict:
    """One incremental refresh of the keyed replica at ``dst_path``.

    First call BOOTSTRAPS: the transformed source snapshot is written
    as the replica's v1 and the cursor pins the source version it
    reflects. Later calls read ``snapshot_changes`` since the cursor,
    collapse them to the net per-key outcome (the LATEST change wins:
    an insert means "upsert this image", a delete with no later insert
    means "drop the key"), and apply via the equality-delete writers —
    zero reads of the replica. Returns
    ``{"source_version", "upserted", "deleted_keys"}``.

    ``transform`` (projection/filter) runs on full source row images —
    it must keep the key columns and be ROW-LOCAL (each output row
    derived from one input row), the same contract every CDC-derived
    view has: a filter drops rows (their keys simply delete when their
    source rows do or when the new image no longer passes), a
    projection narrows them. The refresh detects a filtered-away
    UPDATE (new image fails the filter) and deletes the key — a
    replica of "active users" drops a user the moment an update
    flips their status.

    Refusals are LOUD everywhere ambiguity could corrupt: a
    pre-existing non-replica table at ``dst_path``, a ``keys`` list
    that differs from the one persisted at bootstrap
    (``replica.keys``), a source whose transformed schema drifted from
    the replica's (ADD COLUMN on the source — evolve the replica with
    ``snapshot_add_column`` or re-bootstrap), a cursor AHEAD of the
    source's head (dropped-and-recreated source / wrong ``src_path``),
    NULL key values (at bootstrap AND in every applied image — a keyed
    replica of a NULL-keyed source is not maintainable), and a cursor
    below the source's vacuum cutoff (``FileNotFoundError`` from
    ``snapshot_changes`` — re-bootstrap into a fresh path)."""
    import json as _json

    xf = transform or (lambda df: df)
    head, _ = _manifest_at(src_path)
    fs, jvm = _fs(spark, dst_path)
    marker_jp = _jp(jvm, dst_path, _MARKER)

    def _read_marker() -> dict | None:
        return read_json(f"{dst_path}/{_MARKER}")

    def _check_marker(m: dict) -> None:
        if m["src"] != src_path or m["keys"] != list(keys):
            raise ValueError(
                f"half-finished bootstrap at {dst_path} records "
                f"src={m['src']!r} keys={m['keys']} — refusing to "
                f"resume it as src={src_path!r} keys={list(keys)}"
            )

    if not list_versions(dst_path):
        marker = _read_marker()
        if marker is not None:
            _check_marker(marker)  # crash before v1: redo from scratch
            fs.delete(marker_jp, False)
        snap = xf(read_snapshot(spark, src_path, version=head))
        missing = [k for k in keys if k not in snap.columns]
        if missing:
            raise ValueError(
                f"transform dropped key column(s) {missing} — a keyed "
                "replica cannot apply deletes without them"
            )
        null_cond = F.lit(False)
        for k in keys:
            null_cond = null_cond | F.col(k).isNull()
        bad = snap.where(null_cond).limit(1).collect()
        if bad:
            raise ValueError(
                "NULL key in the source snapshot — a keyed replica "
                "cannot mask or delete NULL-keyed rows (any later "
                "change to one would wedge every refresh); offender: "
                f"{bad[0].asDict()}"
            )
        _write_bytes_exclusive(
            fs, marker_jp,
            _json.dumps(
                {"src": src_path, "keys": list(keys), "head": head},
                sort_keys=True,
            ).encode("utf-8"),
        )
        snapshot_write(
            snap, dst_path, partition_cols=partition_cols
        )
        snapshot_set_properties(
            spark, dst_path,
            {_CURSOR: str(head), _KEYS: ",".join(keys)},
        )
        fs.delete(marker_jp, False)
        return {
            "source_version": head,
            "upserted": None,  # bootstrap: whole snapshot
            "deleted_keys": 0,
        }
    props = snapshot_properties(spark, dst_path)
    raw = props.get(_CURSOR)
    if raw is None:
        marker = _read_marker()
        if marker is None:
            raise ValueError(
                f"{dst_path} exists but has no {_CURSOR} property — "
                "not a replica this module maintains (bootstrap into "
                "a fresh path)"
            )
        # crash between the bootstrap write and the cursor property:
        # finish the bootstrap from the marker's recorded state
        _check_marker(marker)
        snapshot_set_properties(
            spark, dst_path,
            {_CURSOR: str(marker["head"]), _KEYS: ",".join(keys)},
        )
        fs.delete(marker_jp, False)
        props = snapshot_properties(spark, dst_path)
        raw = props[_CURSOR]
    recorded_keys = props.get(_KEYS)
    if recorded_keys is not None and recorded_keys != ",".join(keys):
        raise ValueError(
            f"replica at {dst_path} was bootstrapped with keys="
            f"{recorded_keys!r} — refusing to refresh with "
            f"{','.join(keys)!r} (mis-keyed eq entries would corrupt "
            "masking)"
        )
    cursor = int(raw)
    if head < cursor:
        raise ValueError(
            f"replica cursor {cursor} is AHEAD of {src_path}'s head "
            f"{head} — dropped-and-recreated source or wrong src_path; "
            "re-bootstrap into a fresh path"
        )
    if head == cursor:
        return {"source_version": cursor, "upserted": 0, "deleted_keys": 0}
    ch = snapshot_changes(
        spark, src_path, from_version=cursor, to_version=head
    )
    # net per-key outcome: the latest change wins; within one commit a
    # replaced key appears as delete(old)+insert(new) and the insert
    # must win, hence the _change_type DESC tiebreak
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(
        F.col("_commit_version").desc(), F.col("_change_type").desc()
    )
    net = (
        ch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=True)  # one CDF read feeds both legs
    )
    src_cols = [
        c for c in net.columns
        if c not in ("_change_type", "_commit_version")
    ]
    images = xf(
        net.where(F.col("_change_type") == "insert").select(*src_cols)
    )
    missing = [k for k in keys if k not in images.columns]
    if missing:
        raise ValueError(
            f"transform dropped key column(s) {missing} — a keyed "
            "replica cannot apply deletes without them"
        )
    # schema drift refuses loudly: a source ADD COLUMN makes the feed's
    # images wider than the replica, and the upsert's cast-select would
    # silently NARROW them — the replica would quietly stop mirroring
    # transform(source). Evolve the replica (snapshot_add_column) or
    # re-bootstrap, then re-run.
    replica_cols = {
        f["name"]
        for f in _manifest_at(dst_path)[1]["schema"]["fields"]
    }
    drifted = sorted(set(images.columns) - replica_cols)
    if drifted:
        raise ValueError(
            f"source/transform now produces column(s) {drifted} the "
            f"replica at {dst_path} does not have — evolve the replica "
            "(snapshot_add_column) or re-bootstrap, then re-run"
        )
    # keys whose final state is a delete, PLUS keys whose new image the
    # transform filtered away (an update can move a row out of the
    # replica's predicate — its old image must leave)
    dead = net.where(F.col("_change_type") == "delete").select(*keys)
    filtered_away = (
        net.where(F.col("_change_type") == "insert")
        .select(*keys)
        .exceptAll(images.select(*keys))
    )
    dele = dead.unionByName(filtered_away).distinct()
    images = images.localCheckpoint(eager=True)
    n_up = images.count()
    if n_up:
        snapshot_append_upsert(
            spark, dst_path, images, keys,
            extra={"replica_src_version": head},
        )
    n_del = 0
    dele = dele.localCheckpoint(eager=True)
    if dele.count():
        _, n_del = snapshot_delete_keys(
            spark, dst_path, dele,
            extra={"replica_src_version": head},
        )
    snapshot_set_properties(spark, dst_path, {_CURSOR: str(head)})
    if auto_resolve_entries is not None:
        # bound the replica's accumulated key masks, conflict-tolerant
        # like every auto-maintenance hook
        maybe_resolve_eq(spark, dst_path, auto_resolve_entries)
    return {
        "source_version": head,
        "upserted": n_up,
        "deleted_keys": n_del,
    }
