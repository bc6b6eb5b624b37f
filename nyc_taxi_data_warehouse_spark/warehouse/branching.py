"""Branches, tags, and write-audit-publish over snapshot tables.

The manifest design makes branching almost free: every manifest is a
FULL file list, so any version is a complete table state, and data
files are immutable uuid-pooled under ``data/`` — a branch is just a
second manifest chain under ``_branches/<name>/_versions/`` whose
commits reference (and add to) the same data pool. Every operation
here is METADATA-ONLY: creating, publishing, or dropping a branch
moves zero data bytes, at 100 GB or 100 TB alike.

```
table/
  data/<uuid>/...                  shared immutable pool (main + branches)
  _versions/00000007.json          main chain
  _branches/dev/_versions/00000001.json   branch chain (v1 = fork point)
  _tags/release-1.json             {"version": 5} — immutable pin
```

A BRANCH REF is ``f"{table}#{name}"`` (``branch_ref``): every snapshot
function — ``read_snapshot``, ``snapshot_write``, the DML triad,
``snapshot_compact``, ``snapshot_restore``, ``snapshot_changes`` —
accepts a ref and operates on the branch's chain, with full conflict
detection per branch (the exclusive manifest create arbitrates each
chain independently).

The flagship workflow is WRITE-AUDIT-PUBLISH (the pattern Netflix
popularized for Iceberg): run a risky curation job (dedup sweep, PII
redaction, model-version re-embedding) against an isolated branch,
audit the result with arbitrary checks, and only then atomically
fast-forward main to the audited state. Readers of main never see a
half-finished or failed run; a failed audit costs a metadata delete
plus orphaned files the next vacuum reclaims.

Publish is strictly FAST-FORWARD: if main advanced past the branch's
fork point, ``publish_branch`` raises ``SnapshotConflict`` (publishing
a full-state manifest over a diverged main would silently drop main's
concurrent commits). The retry is cheap — re-branch from the new head
and re-run — and matches the WAP contract that one pipeline owns the
table during a run. ``force=True`` is the documented
last-writer-wins escape hatch.

Reference parity: the reference pipeline has no isolation story at all
(a failed Airflow backfill leaves partial S3 state visible to Redshift
immediately — /root/reference/data/airflow/dags/
save_nyc_data_to_s3.py writes directly to the serving bucket); this
module is the engine-native upgrade.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .manifestlog import REF_SEP, check_ref_name, list_versions, load_manifest
from .snapshots import (
    SnapshotConflict,
    _branch_names,
    _commit,
    _storage_refs,
    _fs,
    _jp,
    _manifest_at,
    _manifest_partition_cols,
    _tag_versions,
    _TDIR,
    _write_bytes_exclusive,
    read_snapshot,
)


def branch_ref(path: str, name: str) -> str:
    """The ref string routing snapshot operations to branch ``name``."""
    check_ref_name(name)
    if REF_SEP in path:
        raise ValueError(f"{path!r} is already a branch ref")
    return f"{path}{REF_SEP}{name}"


def create_branch(
    spark: SparkSession, path: str, name: str, at_version: int | None = None
) -> str:
    """Fork ``name`` from the table's latest (or ``at_version``) state;
    returns the branch ref. Metadata-only: branch v1 is a manifest
    carrying the fork point's file list. Creation is atomic (exclusive
    create of the branch's 00000001.json — two racers cannot both
    create the same branch) and refuses an existing name."""
    ref = branch_ref(path, name)
    v, man = _manifest_at(path, at_version)
    if list_versions(ref):
        raise ValueError(f"branch {name!r} already exists at {path}")
    _commit(
        spark,
        ref,
        man["files"],
        StructType.fromJson(man["schema"]),
        "branch",
        None,
        extra={"base_table_version": v},
        props=man.get("props"),
        partition_cols=_manifest_partition_cols(man),
        # branch v1 has no parent: the base state travels whole —
        # its deletion vectors and equality-delete plane (dropping
        # them would resurrect the base's deleted rows on the branch),
        # row counts and stats (a metadata-only fork must never open
        # a footer), column map and defaults, and its sequence
        # counter (branch versions restart at 1 — without the floor a
        # branch commit's new files would stamp sequences BELOW
        # carried eq entries and get their rows eaten by them)
        source=man,
    )
    return ref


def list_branches(spark: SparkSession, path: str) -> list[str]:
    """Branch names, sorted (metadata listing only)."""
    return _branch_names(path)


def drop_branch(
    spark: SparkSession, path: str, name: str, reclaim: bool = False
) -> int:
    """Delete the branch's manifest chain; returns data files deleted.

    Default is metadata-only (safe under concurrent branch readers —
    they hold immutable file lists). ``reclaim=True`` additionally
    deletes data files ONLY this branch referenced: branch-minted files
    never appear in main manifests, so no vacuum would ever find them —
    the referenced set here is every main version plus every OTHER
    branch, making a published (or shared-fork) file immune. Same
    no-pinned-reader contract as vacuum when reclaiming."""
    check_ref_name(name)
    fs, jvm = _fs(spark, path)
    bdir = _jp(jvm, path, "_branches", name)
    if not fs.exists(bdir):
        raise FileNotFoundError(f"no branch {name!r} at {path}")
    deleted = 0
    if reclaim:
        # _storage_refs counts deletion-vector sidecars exactly like
        # data files on BOTH sides: a branch-minted sidecar no other
        # ref holds is this branch's storage to reclaim, while one
        # shared with main (fork carry / publish) must survive or its
        # deleted rows resurrect on the surviving refs
        mine: set[str] = set()
        ref = branch_ref(path, name)
        for v in list_versions(ref):
            mine.update(_storage_refs(load_manifest(ref, v)))
        referenced: set[str] = set()
        for v in list_versions(path):
            referenced.update(_storage_refs(load_manifest(path, v)))
        for other in _branch_names(path):
            if other == name:
                continue
            oref = branch_ref(path, other)
            for v in list_versions(oref):
                referenced.update(
                    _storage_refs(load_manifest(oref, v))
                )
        for f in sorted(mine - referenced):
            if fs.delete(_jp(jvm, path, f), False):
                deleted += 1
    fs.delete(bdir, True)
    return deleted


def publish_branch(
    spark: SparkSession,
    path: str,
    name: str,
    force: bool = False,
) -> int:
    """Atomically fast-forward main to the branch head's state; returns
    the new main version. The publish is ONE manifest commit carrying
    the branch head's file list — zero data movement, any table size.

    Raises ``SnapshotConflict`` when main advanced past the branch's
    fork point (non-fast-forward — publishing would silently drop
    main's concurrent commits; re-branch and re-run, or pass
    ``force=True`` for documented last-writer-wins). The conflict check
    races with concurrent main writers, but the exclusive manifest
    create closes the window: a writer that slips in after the check
    claims the version number first and THIS publish loses cleanly."""
    ref = branch_ref(path, name)
    bvers = list_versions(ref)
    if not bvers:
        raise FileNotFoundError(f"no branch {name!r} at {path}")
    head = load_manifest(ref, bvers[-1])
    base = load_manifest(ref, bvers[0]).get("base_table_version")
    mvers = list_versions(path)
    mhead = mvers[-1] if mvers else None
    if not force and mhead != base:
        raise SnapshotConflict(
            f"main is at v{mhead} but branch {name!r} forked from "
            f"v{base} — not a fast-forward; re-branch from the current "
            "head and re-run (or force=True for last-writer-wins)"
        )
    # No layout guard: publish carries ZERO files from main (the branch
    # head is a complete table state), so it is layout-free exactly like
    # snapshot_write(mode="overwrite") — a branch that re-partitioned
    # via snapshot_compact publishes its new layout legitimately.
    extra = {
        "from_branch": name,
        "branch_version": bvers[-1],
        "branch_base": base,
    }
    if head.get("load") is not None:
        # carry ingest provenance (load_month's (year, month, rows))
        # through the fast-forward, or the manifest-replay
        # already-loaded check would re-load every WAP'd month. The
        # squash keeps only the HEAD commit's provenance — a branch
        # that loaded several months re-checks the earlier ones
        # (idempotent replace_partitions makes that safe, just unskipped)
        extra["load"] = head["load"]
    return _commit(
        spark,
        path,
        head["files"],
        StructType.fromJson(head["schema"]),
        "publish",
        mhead,
        extra=extra,
        partition_cols=_manifest_partition_cols(head),
        # the fast-forward is a whole-state replacement: the BRANCH
        # HEAD's properties and state, never main's — and the head's
        # sequence counter floors main's (both chains advanced it
        # independently since the fork)
        props=head.get("props"),
        source=head,
    )


class AuditFailed(RuntimeError):
    """The audit callback vetoed the publish; main is untouched."""


def write_audit_publish(
    spark: SparkSession,
    path: str,
    name: str,
    write,
    audit,
    keep_branch_on_failure: bool = True,
) -> int:
    """The WAP pattern as one call. ``write(ref)`` runs arbitrary
    snapshot operations against the isolated branch ref; ``audit(df)``
    receives the branch head as a DataFrame and returns truthy to
    approve. On approval the branch publishes (fast-forward) and is
    dropped; on veto, ``AuditFailed`` raises and main is untouched —
    the failed branch is kept for debugging by default (drop it, or
    pass ``keep_branch_on_failure=False``). A crash anywhere leaves
    main unchanged: the branch is the only mutated state.

    A ``SnapshotConflict`` from the final publish (main advanced while
    the run executed) deliberately KEEPS the branch regardless of
    ``keep_branch_on_failure`` — the audited work is valid, only the
    fast-forward lost; the caller re-branches from the new head or
    publishes with ``force=True`` rather than repaying the write."""
    ref = create_branch(spark, path, name)
    try:
        write(ref)
        if not audit(read_snapshot(spark, ref)):
            raise AuditFailed(
                f"audit vetoed branch {name!r}; main is unchanged"
                + ("" if keep_branch_on_failure else " (branch dropped)")
            )
    except BaseException:
        if not keep_branch_on_failure:
            drop_branch(spark, path, name, reclaim=True)
        raise
    version = publish_branch(spark, path, name)
    # published files are referenced by main and survive the reclaim;
    # only the branch's superseded intermediates are swept
    drop_branch(spark, path, name, reclaim=True)
    return version


# ---------------------------------------------------------------------------
# Tags: immutable named pins on main-chain versions
# ---------------------------------------------------------------------------


def create_tag(
    spark: SparkSession, path: str, name: str, version: int | None = None
) -> int:
    """Pin ``name`` to the latest (or given) main version; returns the
    pinned version. Tags are IMMUTABLE — the exclusive create makes
    re-tagging an error (delete first), so a tag seen once means the
    same rows forever, and ``vacuum_snapshots`` never drops a tagged
    version's manifest or files."""
    check_ref_name(name)
    if REF_SEP in path:
        raise ValueError("tags pin main-chain versions; pass the table root")
    v, _ = _manifest_at(path, version)
    fs, jvm = _fs(spark, path)
    jpath = _jp(jvm, path, _TDIR, f"{name}.json")
    data = json.dumps({"name": name, "version": v}, sort_keys=True)
    if not _write_bytes_exclusive(fs, jpath, data.encode("utf-8")):
        raise ValueError(
            f"tag {name!r} already exists at {path} (tags are immutable; "
            "delete_tag first)"
        )
    return v


def list_tags(spark: SparkSession, path: str) -> dict[str, int]:
    """{tag: version}, metadata listing only."""
    return _tag_versions(path)


def resolve_tag(spark: SparkSession, path: str, name: str) -> int:
    tags = _tag_versions(path)
    if name not in tags:
        raise FileNotFoundError(f"no tag {name!r} at {path}")
    return tags[name]


def delete_tag(spark: SparkSession, path: str, name: str) -> None:
    check_ref_name(name)
    fs, jvm = _fs(spark, path)
    jpath = _jp(jvm, path, _TDIR, f"{name}.json")
    if not fs.delete(jpath, False):
        raise FileNotFoundError(f"no tag {name!r} at {path}")


def read_tag(spark: SparkSession, path: str, name: str) -> DataFrame:
    """The table exactly as tagged — stable across later DML/vacuum."""
    return read_snapshot(spark, path, resolve_tag(spark, path, name))
