"""Snapshot-versioned tables — manifest commits, time travel, vacuum.

Rewriting partitions IN PLACE (dynamic partition overwrite) is
idempotent, but at cluster scale it has the classic lockless-warehouse
race: a reader that planned its scan before an overwrite commits can
read a partition mid-rewrite. The fix — the same idea Delta/Iceberg are
built on, reduced to its core — is to never mutate data files, only
publish new MANIFESTS. Every warehouse table (the fact table included,
``load.py``) is one of these:

```
table/
  data/<commit-uuid>/...            immutable parquet, written once
  _versions/00000001.json           checkpoint commit: {"ckpt": <blob>}
  _versions/00000001.<id>.ckpt.parquet   full state, zstd parquet
  _versions/00000002.json           delta commit: {"files_add": [...]}
```

- A table VERSION is a JSON manifest resolving to exactly the data
  files it comprises (plus the schema, so empty tables read back
  typed). The on-disk doc is an O(CHANGE) DELTA against its parent —
  adds/removes of files, DV sidecars, stats entries — with a full
  columnar checkpoint blob every ``manifestlog.checkpoint_every()``
  commits and at every chain start; see ``manifestlog`` for the
  format, reconstruction, and the 100 TB metadata math.
- The LATEST version is simply the highest-numbered manifest — no
  pointer file, so publishing a version is ONE atomic exclusive create
  (``FileSystem.create(overwrite=false)``): readers see the old
  version or the new one, never a mix, and two racing writers cannot
  both claim a version number (the loser retries on the next number).
  Checkpoint blobs are written BEFORE the claim, so a committed doc's
  blob always exists; a losing racer's blob is aged debris for
  ``sweep_orphans``.
- Readers resolve a manifest, then scan an explicit file list; a
  concurrent commit cannot change files out from under a running scan
  because data files are never rewritten or deleted by commits.
- ``vacuum_snapshots`` deletes files referenced ONLY by dropped
  versions — storage reclamation is decoupled from correctness, and
  time travel (``read_snapshot(version=N)``) works for any retained N.

Metadata READS (version listing, manifest and checkpoint reads, tags,
branch names, parquet footers, file sizes) go through ``pyarrow.fs``
via ``manifestlog`` — the one reader this module and the streaming
source share, with no py4j round trip per call. WRITES, exclusive
claims and deletes go through the Hadoop ``FileSystem`` API (via the
session's JVM), as do the post-write listing of a commit dir and the
GC walks of vacuum and the orphan sweeps. A table path must therefore
be one pyarrow resolves as well as Hadoop: a local path, ``file:``,
``hdfs://``, ``s3://`` or ``gs://``. The one semantic the write side
leans on is atomic exclusive create, which local filesystems and HDFS
give; plain S3 would need the S3A conditional-create or a commit
service — the documented reality for every manifest-log design.
"""

from __future__ import annotations

import json
import os
import re
import uuid

import pandas as pd

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..session import local_frame
from . import manifestlog
from .manifestlog import (
    BDIR,
    REF_SEP,
    VDIR,
    list_versions,
    load_manifest,
    pa_fs,
    parquet_num_rows,
    partition_values,
    read_doc,
    read_json,
    split_ref,
)

_DDIR = "data"
_TDIR = "_tags"


def _root(path: str) -> str:
    """The table root of a path-or-ref (where data files live)."""
    return split_ref(path)[0]


class SnapshotConflict(RuntimeError):
    """Another writer published this version first; retry the commit."""


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _jp(jvm, *parts: str):
    return jvm.org.apache.hadoop.fs.Path("/".join(p.rstrip("/") for p in parts))


# How the commit claims a manifest name. The whole isolation story rests
# on exactly one writer winning the `{version:08d}.json` create:
#
# - ``"create"`` (default): ``fs.create(path, overwrite=false)`` —
#   atomic on HDFS and local filesystems, where the namenode/kernel
#   arbitrates the exclusive create.
# - ``"builder"``: the ``FSDataOutputStreamBuilder`` contract,
#   ``fs.createFile(path).overwrite(false).build()``. On S3A with
#   conditional creates enabled this maps to a conditional PUT
#   (``If-None-Match: *``), where the CONFLICT surfaces at ``close()``
#   (the PUT happens there), not at create time — the plain "create"
#   path's check-then-create is a race window on object stores. Both
#   failure points are treated as "lost the race"; mis-reporting a
#   transient close() failure as a conflict is SAFE (SnapshotConflict is
#   retryable and the orphaned data files never corrupt reads), whereas
#   the reverse — claiming success on an unconfirmed write — is not.
#
# Selected globally via SPARK_GRAFT_SNAPSHOT_COMMIT (create|builder);
# there is deliberately no per-call argument — mixing claim strategies
# on one table would let two writers both win the same version.
def _commit_mode() -> str:
    mode = os.environ.get("SPARK_GRAFT_SNAPSHOT_COMMIT", "create")
    if mode not in ("create", "builder"):
        raise ValueError(
            f"SPARK_GRAFT_SNAPSHOT_COMMIT must be create|builder; got {mode!r}"
        )
    return mode


def _write_bytes_exclusive(fs, jpath, data: bytes) -> bool:
    """Atomic create-if-absent; False when the path already exists (or,
    in builder mode, when the conditional write could not be CONFIRMED
    — see ``_commit_mode``).

    On the local filesystem both modes claim through ``O_EXCL``: Hadoop's
    local create and ``createFile`` builder check and then open, so
    racing writers can all "win" the same name (8 threads racing one
    name: several winners in 15 of 40 trials)."""
    mode = _commit_mode()
    if fs.getScheme() == "file":
        local = fs.makeQualified(jpath).toUri().getPath()
        os.makedirs(os.path.dirname(local), exist_ok=True)
        try:
            fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            return False
        with os.fdopen(fd, "wb") as out:
            out.write(data)
        return True
    if mode == "builder":
        # unlike plain create(), the builder does not create parent
        # directories; mkdirs is idempotent (and a no-op namespace-wise
        # on object stores, where directories are virtual)
        fs.mkdirs(jpath.getParent())
        try:
            out = fs.createFile(jpath).overwrite(False).build()
        except Exception:
            return False
        try:
            out.write(bytearray(data))
            out.close()
        except Exception:
            # conditional-PUT stores reject here (If-None-Match miss)
            return False
        return True
    try:
        out = fs.create(jpath, False)
    except Exception:
        return False
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    return True


def _write_blob(spark: SparkSession, path: str, name: str, data: bytes):
    root, mdir = split_ref(path)
    fs, jvm = _fs(spark, root)
    jpath = _jp(jvm, root, mdir, name)
    fs.mkdirs(jpath.getParent())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def _manifest_at(path: str, version: int | None = None) -> tuple[int, dict]:
    """``(version, manifest)`` of ``version`` (default: the head).
    Raises ``FileNotFoundError`` when the table has no versions or
    ``version`` is not among them (never committed, or vacuumed)."""
    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {path}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise FileNotFoundError(
            f"version {version} not present at {path} (have {versions})"
        )
    return version, load_manifest(path, version)


def _colmap(man: dict) -> dict:
    """The manifest's logical→physical column-name map (RENAME
    support). Identity entries are never stored; absent/empty means
    every column's on-disk name equals its logical name (all
    pre-rename history). Physical names are FROZEN at add time:
    ``snapshot_rename_column`` changes only the logical name in
    ``man["schema"]`` and records the mapping here, so every file —
    written before OR after the rename — stores the same physical
    column, and readers alias once at the read boundary instead of
    resolving names per file (the silent-null hazard a naive rename
    has). Everything BELOW the manifest boundary is physical: file
    columns, per-file stats keys, ``stats_cols``, partition
    directories, equality-delete sidecar columns and entry keys."""
    return man.get("colmap") or {}


def _phys(man: dict, col: str) -> str:
    """Physical (on-disk) name of logical column ``col`` per the
    MANIFEST's colmap."""
    return _colmap(man).get(col, col)


def _phys_fields(schema: StructType, colmap: dict) -> StructType:
    """``schema`` with field names mapped logical→physical."""
    from pyspark.sql.types import StructField

    return StructType(
        [
            StructField(
                colmap.get(f.name, f.name), f.dataType, f.nullable
            )
            for f in schema.fields
        ]
    )


def _as_nullable(dt):
    """``dt`` with every level nullable — Spark's ``asNullable``, which
    its file writers apply to the schema they store."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


def _write_commit_files(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None,
    colmap: dict | None = None,
    max_records: int | None = None,
) -> tuple[str, list[str]]:
    """Write ``df`` as a new immutable commit dir; returns (commit id,
    file paths RELATIVE to the table root). Branch refs write into the
    same root data/ pool as main (uuid commit dirs cannot collide).
    ``max_records`` caps the rows per file (``maxRecordsPerFile``).

    ``colmap`` (logical→physical, see ``_colmap``): ``df`` arrives
    with LOGICAL names from every writer; files always store PHYSICAL
    names, so renamed columns keep one on-disk identity across the
    table's whole history. ``partition_cols`` are already physical
    (the manifest stores the directory layout's names).

    The schema written is recorded for the commit dir (``_DIR_SCHEMAS``),
    so the first read of the new files plans without an inference
    job."""
    path = _root(path)
    commit = uuid.uuid4().hex
    dest = f"{path}/{_DDIR}/{commit}"
    if colmap:
        phys = [colmap.get(c, c) for c in df.columns]
        dups = sorted({p for p in phys if phys.count(p) > 1})
        if dups:
            # a newest-writer-wins append can evolve the schema with a
            # column NAMED after another column's frozen physical slot
            # (add_column refuses this; the raw append path lands here)
            # — fail with the real cause, not parquet's duplicate-
            # column error after a partial job
            pairs = [
                f"{c!r}→{colmap.get(c, c)!r}"
                for c in df.columns
                if colmap.get(c, c) in dups
            ]
            raise ValueError(
                "columns collide on their on-disk (physical) names "
                f"({', '.join(pairs)}) — a column may not reuse another "
                "column's physical slot; pick a different name"
            )
        df = df.select(
            *[F.col(c).alias(p) for c, p in zip(df.columns, phys)]
        )
    writer = df.write.mode("error")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if max_records:
        writer = writer.option("maxRecordsPerFile", max_records)
    writer.parquet(dest)
    # the schema a read of the dir sees: the stored (data) fields made
    # nullable, then the partition fields under the written types, which
    # parse the directory strings back exactly (inference would guess
    # the types from the strings)
    pset = set(partition_cols or ())
    fields = df.schema.fields
    if len(_DIR_SCHEMAS) >= _SCHEMA_MEMO_MAX:
        _DIR_SCHEMAS.clear()
    _DIR_SCHEMAS[dest] = (
        _as_nullable(StructType([f for f in fields if f.name not in pset])),
        _as_nullable(
            StructType(
                [f for c in partition_cols or () for f in fields if f.name == c]
            )
        ),
    )
    spark = df.sparkSession
    fs, jvm = _fs(spark, path)
    root_uri = fs.makeQualified(_jp(jvm, path)).toString().rstrip("/")
    files = []
    it = fs.listFiles(_jp(jvm, dest), True)
    while it.hasNext():
        p = it.next().getPath().toString()
        name = p.rsplit("/", 1)[-1]
        if name.startswith("_") or name.startswith("."):
            continue
        assert p.startswith(root_uri + "/"), (p, root_uri)
        files.append(p[len(root_uri) + 1 :])
    return commit, sorted(files)


# Spark's inferred schema per (basePath, paths) set of commit or sidecar
# files. Every such file lives in a uuid-named dir written once with
# mode("error") (``_write_commit_files``) and is never rewritten in
# place, so a path set's schema never changes: the 1-task inference job
# a schemaless read launches runs once per set per process, not once
# per read. Bounded by wholesale clear, like ``_FOOTER_CACHE``.
_SCHEMA_MEMO: dict[tuple[str | None, tuple[str, ...]], StructType] = {}
_SCHEMA_MEMO_MAX = 4096
# (data fields, partition fields) per commit dir this process wrote,
# keyed by the dir's path as written (``_write_commit_files``); same
# bound as ``_SCHEMA_MEMO``
_DIR_SCHEMAS: dict[str, tuple[StructType, StructType]] = {}
# ``collect_file_stats`` entries per (table root, relpath, stats
# columns) — immutable files, so a commit retry reuses them instead of
# rescanning; same bound as ``_SCHEMA_MEMO``
_STATS_MEMO: dict[tuple[str, str, tuple[str, ...]], dict] = {}
_COMMIT_DIR_RE = re.compile(rf"^(.*/{_DDIR}/[0-9a-f]{{32}})/")


def _written_schema(
    paths: list[str], base_path: str | None
) -> StructType | None:
    """The schema to read ``paths`` with, when this process wrote every
    dir they live in (``None`` otherwise). With ``basePath`` = a commit
    dir, its partition fields follow its data fields; without one,
    Spark roots partition discovery at each file's own dir, so only
    the data fields appear (and every dir must have written the same
    ones)."""
    if base_path is not None:
        got = _DIR_SCHEMAS.get(base_path)
        if got is None or not all(
            p.startswith(base_path + "/") for p in paths
        ):
            return None
        return StructType(got[0].fields + got[1].fields)
    found = []
    for p in paths:
        m = _COMMIT_DIR_RE.match(p)
        got = _DIR_SCHEMAS.get(m.group(1)) if m else None
        if got is None:
            return None
        found.append(got[0])
    return found[0] if all(s == found[0] for s in found) else None


def _read_files(
    spark: SparkSession,
    paths: list[str],
    base_path: str | None = None,
    partition_types: dict | None = None,
) -> DataFrame:
    """``spark.read.parquet(*paths)`` over commit or sidecar files (with
    ``basePath`` when given, so partition directories below it become
    columns) — the ONE reader for them. The schema comes from the
    commit dirs' writer when this process wrote them, else from the
    memo of an earlier read of the same path set, else from Spark's
    inference job (once per set: the files are immutable).

    ``partition_types`` ({partition column: DataType}, the manifest's)
    parse the directory strings under the table's own types, memo hit
    or miss: inference would guess them from the strings, turning a
    STRING ``'01'`` into ``1``."""
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    key = (base_path, tuple(paths))
    schema = _SCHEMA_MEMO.get(key) or _written_schema(paths, base_path)
    if schema is None:
        schema = reader.parquet(*paths).schema
        if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_MAX:
            _SCHEMA_MEMO.clear()
        _SCHEMA_MEMO[key] = schema
    if partition_types and base_path is not None:
        # only the fields the directories encode: a column the layout
        # gained after these files were written is stored as data
        rel = paths[0][len(base_path) + 1 :].split("/")[:-1]
        pkeys = {s.split("=", 1)[0] for s in rel if "=" in s}
        schema = StructType(
            [
                StructField(
                    f.name, partition_types[f.name], f.nullable, f.metadata
                )
                if f.name in pkeys and f.name in partition_types
                else f
                for f in schema.fields
            ]
        )
    return reader.schema(schema).parquet(*paths)


_DV_INHERIT = "inherit"


def _dv_targets_for(man: dict, new_targets=()) -> object:
    """The ``dv_targets`` value for a commit that carries ``man``'s
    sidecars (plus optionally new ones tombstoning ``new_targets``):
    the recorded list unioned with the additions — or the INHERIT
    sentinel when ``man`` is a legacy manifest with sidecars but no
    recorded target list, making ``_commit`` derive it from the
    sidecar footprint once (after which it stays recorded)."""
    if man.get("dv_files") and man.get("dv_targets") is None:
        return _DV_INHERIT
    if not (man.get("dv_targets") or new_targets):
        return None
    return sorted(set(man.get("dv_targets") or ()) | set(new_targets))


# most tombstones per deletion-vector sidecar file (~a few hundred MB raw)
_DV_ROWS_PER_SIDECAR = 4_000_000


def _observed(obs, **zero) -> dict:
    """The metrics ``obs`` collected during the action it observed — the
    ONE reader of the warehouse's observations (``load_month``'s row
    count, the DML engines' row counts and tombstone targets), so a
    write reports its counts from its own job, never a second pass.

    ``zero`` is the metrics' value over no rows, returned in the
    zero-task case: a job over an empty input can schedule no tasks,
    the CollectMetrics node then never executes, and
    ``Observation.get`` fails JVM-side — no tasks means no rows, so
    ``zero`` is exact, not a guess. That case is detected by PROBING
    THE JVM OBSERVATION STATE, not by matching the exception text: a
    never-populated observation's ``getRow()`` is a schema-less empty
    ``GenericRow`` (size 0 on Spark 4.1.2; ``getOrEmpty`` NPEs on it),
    while a populated one carries one field per metric. Any failure
    with a populated row re-raises — an unrelated JVM error must never
    become a recorded zero."""
    try:
        return obs.get
    except Exception:
        try:
            jrow = obs._jo.getRow()
            never_populated = jrow is None or int(jrow.size()) == 0
        except Exception:
            never_populated = False
        if never_populated:
            return dict(zero)
        raise


def _write_tombstones(
    matched: DataFrame, path: str
) -> tuple[int, list[str], list[str]]:
    """Write the ``(_dv_file, _dv_pos)`` identities of ``matched`` (a
    lazy frame, read once by the write job) as deletion-vector sidecars
    of at most ``_DV_ROWS_PER_SIDECAR`` tombstones each. Returns ``(n,
    sidecars, targets)``: the tombstone count, the sidecar relpaths and
    the distinct files tombstoned — metadata-sized, recorded in the
    manifest so readers split clean files past the anti-join and the
    feed planner never opens a sidecar. ``n`` and the targets are
    observed by the write job itself; when ``n`` is 0 the commit dir
    (Spark writes one empty part file) is removed and nothing is
    returned.

    The observation sits above the rebalance exchange, so it runs in
    the writing (result) stage, where each partition's metrics count
    once — a retried shuffle-map stage would count its rows twice —
    and above ``matched``'s DV/equality masks and match filter, which
    Spark does not push below it."""
    obs = Observation()
    commit, sidecars = _write_commit_files(
        matched.select(*_DV_COLS)
        .hint("rebalance")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.collect_set("_dv_file").alias("targets"),
        ),
        path,
        None,
        max_records=_DV_ROWS_PER_SIDECAR,
    )
    got = _observed(obs, n=0, targets=[])
    if not got["n"]:
        spark = matched.sparkSession
        root = _root(path)
        fs, jvm = _fs(spark, root)
        fs.delete(_jp(jvm, root, _DDIR, commit), True)
        return 0, [], []
    return got["n"], sidecars, sorted(got["targets"])


# ---------------------------------------------------------------------------
# Equality deletes: key-tombstone sidecars scoped by per-file sequence
# ---------------------------------------------------------------------------
#
# An EQUALITY-DELETE entry is {"path": <sidecar relpath>, "seq":
# <commit version>, "keys": [<key columns>]}: the sidecar's rows (one
# per deleted key) delete every matching row in live files added
# STRICTLY BEFORE seq (per the manifest's per-file "seq" map; a file
# with no entry predates tracking and every delete applies). Files
# appended in the same commit get seq == the entry's seq, so an
# upsert's own new images are never self-deleted. This is the public
# Iceberg-v2 equality-delete design re-expressed on this manifest
# format: the WRITE side never reads the table (a CDC upsert batch
# costs its own images plus one key sidecar), the READ side anti-joins
# keys only over the applicable files, and ``snapshot_resolve_eq``
# folds entries into position deletion vectors so read cost never
# accretes. DML mutators resolve outstanding entries first — their
# stats proofs and row accounting stay position-exact; compaction reads
# through the masks and the entries fold with the files they masked.


def _eq_entries(man: dict) -> list[dict]:
    return list(man.get("eqs") or [])


def _eq_applicable(entries: list[dict], seq_map: dict, f: str) -> bool:
    s = seq_map.get(f, 0)
    return any(e["seq"] > s for e in entries)


def _eq_affected_files(man: dict, files=None) -> list[str]:
    """The (scoped) live files at least one equality delete applies
    to — the surface metadata-only answers must scan instead."""
    entries = _eq_entries(man)
    if not entries:
        return []
    seq_map = man.get("seq") or {}
    src = man["files"] if files is None else files
    return [f for f in src if _eq_applicable(entries, seq_map, f)]


def _eq_live_entries(
    entries: list[dict], files: list[str], seq_map: dict
) -> list[dict]:
    """Entries still applicable to at least one of ``files`` — the
    rest are inert (every file they could match has left the table)
    and fold away, exactly like shrunk dv_targets."""
    out = []
    for e in entries:
        if any(seq_map.get(f, 0) < e["seq"] for f in files):
            out.append(e)
    return out


def _sidecar_df(
    spark: SparkSession, root: str, paths: list[str], cols: list[str]
) -> DataFrame:
    """Read sidecar parquet relpaths projected to ``cols``, broadcast
    when the on-disk total is <= 64 MB (the overwhelmingly common
    case — sidecars hold only deleted keys/positions), else leave the
    join to shuffle rather than risk the driver. The ONE copy of the
    threshold policy every sidecar consumer (position DVs, equality
    keys, the change feed's delta reads) shares."""
    uris = [f"{_root(root)}/{p}" for p in paths]
    df = _read_files(spark, uris).select(*cols)
    total = sum(_make_batch_sizer()(uris))
    return F.broadcast(df) if total <= 64 << 20 else df


def _apply_eq(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    entries: list[dict],
) -> DataFrame:
    """Anti-join ``df`` against the entries' key sidecars. Entries are
    grouped by key-column set so N same-shape upsert batches cost one
    join, not N. Plain (non-null-safe) equality: a NULL key on a data
    row never matches — the upsert writers refuse NULL keys, so a NULL
    here can only be pre-existing data an eq delete must not touch."""
    if not entries:
        return df
    by_keys: dict[tuple, list[str]] = {}
    for e in entries:
        by_keys.setdefault(tuple(e["keys"]), []).append(e["path"])
    for keys, paths in sorted(by_keys.items()):
        keycols = list(keys)
        df = df.join(
            _sidecar_df(spark, root, paths, keycols), keycols, "left_anti"
        )
    return df


def _commit(
    spark: SparkSession,
    path: str,
    files: list[str],
    schema: StructType,
    op: str,
    parent: int | None,
    extra: dict | None = None,
    partition_cols: list[str] | None = None,
    dv_files=_DV_INHERIT,
    dv_targets=_DV_INHERIT,
    known_rows: dict[str, int] | None = None,
    props=_DV_INHERIT,
    eq_files=_DV_INHERIT,
    colmap=_DV_INHERIT,
    defaults=_DV_INHERIT,
    stats_cols=_DV_INHERIT,
    source: dict | None = None,
) -> int:
    """Publish ``files`` as version ``parent + 1`` of ``path`` — the ONE
    place manifest state passes from one version to the next.

    THE CARRY RULE. Every state key defaults to INHERIT: its value
    comes from the CARRY SOURCE — the parent manifest, or ``source``
    for whole-state commits (restore, branch fork, publish), which
    republish another manifest's state whole. Per-file maps (``rows``,
    ``seq``, ``stats``) keep the source's entries for carried files,
    are computed for files NEW TO THE TABLE (in neither the parent nor
    ``source``: footers for rows, this commit's sequence for seq,
    ``collect_file_stats`` for stats when ``stats_cols`` is set) and
    drop entries of files that left. Entries naming columns that left
    the schema are pruned (``colmap`` by logical name; ``defaults``,
    ``stats_cols`` and stats entries by physical name). A carried file
    the source tracked without an entry (legacy history) stays a gap —
    backfilling would make one commit O(table); readers self-heal per
    call. ``props`` inherit from the PARENT even under ``source`` (a
    restore keeps the head's properties; fork and publish pass the
    source's explicitly). ``source`` also floors this commit's
    sequence at the source's (branch chains restart VERSION numbers at
    1, and sequence numbers order files against equality deletes).

    ``dv_files`` — the DELETION-VECTOR sidecars active at this version
    (parquet relpaths of (file, pos) tombstones, merged at read; see
    ``snapshot_delete(mode="dv")``); ``dv_targets`` — the distinct data
    files they tombstone, recorded so readers split scans (untargeted
    files skip the anti-join) and the streaming feed planner never
    opens a sidecar. Explicit sidecars without targets get them derived
    from the sidecar footprint (one metadata-sized distinct). The
    recorded targets shrink to this commit's files: DV entries are
    keyed by (relpath, row position) and relpaths are uuid-unique, so
    an entry for a dropped file is inert, and the commit that drops a
    set's last live target folds the set to ``None``, restoring clean
    scans. A set that already had no live target in the carry source
    (older writers left such sets behind) is carried unchanged — a
    legal superset; folding it on a commit that removes no file would
    read as a deletion-vector change to the change feed.
    ``snapshot_compact_dvs`` clears it.

    ``eq_files`` — the EQUALITY-DELETE entries active at this version
    ([{"path", "seq", "keys"}]; see the note above ``_eq_entries``). An
    entry passed with ``seq=None`` is stamped with THIS commit's
    sequence number; entries no live file is subject to are pruned.

    ``stats_cols`` (physical names) sets the columns per-file stats
    track; a caller-supplied ``extra["stats"]`` map is recorded as the
    commit's stats verbatim (pruned like any other) — nothing carried,
    nothing scanned. Stats are computed only for new files whose footer
    was found (forged metadata-only relpaths are never scanned), after
    the constraint checks (a refused commit scans nothing), and once
    per file per process (``_STATS_MEMO``), so a conflict retry stays
    metadata-only. ``known_rows`` supplies footer counts the caller
    already read.

    METADATA IS O(CHANGE): the on-disk doc is a delta against the
    parent's reconstructed state (adds/removes of files, sidecars,
    targets, stats entries) with a full parquet checkpoint every
    ``manifestlog.checkpoint_every()`` commits and at every chain
    start — see ``manifestlog`` for the format and scale math. The
    checkpoint blob is written BEFORE the exclusive manifest claim,
    so a doc that references one can always resolve it; a losing
    racer's blob is debris for ``sweep_orphans``."""
    import time

    root, mdir = split_ref(path)
    fs, jvm = _fs(spark, root)
    pman = load_manifest(path, parent) if parent is not None else None
    src = source if source is not None else (pman or {})
    files = sorted(files)
    if len(set(files)) != len(files):
        raise ValueError(f"duplicate relpaths in commit file list at {path}")
    fset = set(files)
    if dv_files == _DV_INHERIT:
        dv_files = src.get("dv_files")
        if dv_targets == _DV_INHERIT:
            dv_targets = src.get("dv_targets")
    if dv_targets == _DV_INHERIT:
        dv_targets = None
    if dv_files and not dv_targets:
        dv_targets = [
            r[0]
            for r in _read_files(spark, [f"{root}/{p}" for p in dv_files])
            .select("_dv_file")
            .distinct()
            .collect()
        ]
    live = sorted(set(dv_targets or ()) & fset) if dv_files else []
    if live:
        dv_files, dv_targets = sorted(dv_files), live
    elif not dv_files or set(dv_targets) & set(src.get("files") or ()):
        dv_files = dv_targets = None
    if eq_files == _DV_INHERIT:
        eq_files = src.get("eqs")
    # logical→physical column map (RENAME; see _colmap); full
    # overwrites pass None (fresh files are written physical ==
    # logical). Pruning self-heals: an append under the newest-writer-
    # wins schema rule can revert a renamed column to its physical
    # name, and a stale entry would poison the read boundary's inverse
    # aliasing. INITIAL defaults ({physical col: scalar}; see
    # _read_file_list) and stats columns prune by physical slot.
    if colmap == _DV_INHERIT:
        colmap = _colmap(src)
    if defaults == _DV_INHERIT:
        defaults = src.get("defaults")
    if stats_cols == _DV_INHERIT:
        stats_cols = src.get("stats_cols")
    names = {f.name for f in schema.fields}
    colmap = {
        l: p for l, p in (colmap or {}).items() if l in names and l != p
    } or None
    phys = {(colmap or {}).get(n, n) for n in names}
    defaults = {
        c: v for c, v in (defaults or {}).items() if c in phys
    } or None
    if stats_cols is not None:
        stats_cols = [c for c in stats_cols if c in phys]
    version = (parent or 0) + 1
    # the chain-independent data sequence: strictly increases along
    # any commit lineage (legacy parents without one fall back to
    # their version — same monotonicity, and only relative order
    # matters)
    seq_floor = max(
        int(m.get("last_seq") or m["version"]) if m else 0
        for m in (pman, source)
    )
    seq_no = seq_floor + 1
    extra = dict(extra or {})
    stats = extra.pop("stats", None)
    parent_files = set(pman["files"]) if pman else set()
    known = parent_files | set(src.get("files") or ())
    new_files = [f for f in files if f not in known]
    src_rows = src.get("rows") or {}
    rows = {f: src_rows[f] for f in files if f in src_rows}
    rows.update({f: n for f, n in (known_rows or {}).items() if f in fset})
    unread = [f for f in new_files if f not in rows]
    if unread:  # missing_ok: forged metadata-only commits record none
        rows.update(_rows_for_files(spark, root, unread, missing_ok=True))
    src_seq = src.get("seq") or {}
    seq = {f: src_seq[f] for f in files if f in src_seq}
    seq.update({f: seq_no for f in new_files})
    # Equality-delete entries: stamp fresh entries (seq=None) with
    # this commit's sequence, then prune entries no live file is
    # subject to (inert — every file they could match has left).
    eq_files = [
        {**e, "seq": seq_no if e.get("seq") is None else e["seq"]}
        for e in (eq_files or [])
    ]
    eq_files = _eq_live_entries(eq_files, files, seq) or None
    # Table properties CARRY like every other state key (the INHERIT
    # default); whole-state commits (branch fork, publish) and the
    # property DDL pass an explicit dict. CHECK constraints live under
    # "constraint.<name>" and are enforced here — the single choke
    # point every commit flows through — against the files NEW TO THE
    # TABLE (O(change) data read; restores re-validate resurrected
    # files against the CURRENT constraints). A failed check leaves
    # the written files as sweep_orphans debris, never a version.
    # Branch forks and publishes are exempt: they are whole-state
    # carries of an already-validated state (props travel WITH it, so
    # enforcement history is consistent), and validating them would
    # re-scan the table per fork.
    if props == _DV_INHERIT:
        props = pman.get("props") if pman else None
    props = dict(props) if props else None
    if props and op not in ("branch", "publish"):

        def check(to_scan):
            # validate under the COMMIT's own masking: fresh files are
            # never dv-targeted or eq-applicable (uuid dirs, own-
            # sequence stamps), so this is free for appends — but a
            # restore re-adds OLD files whose violating rows may be
            # masked dead by the carried tombstones/entries, and
            # refusing those would block a perfectly valid rollback
            _enforce_constraints(
                spark, root, sorted(to_scan), schema, partition_cols,
                props,
                dv_files=dv_files,
                dv_targets=dv_targets,
                eq_entries=eq_files,
                file_seq=seq,
                colmap=colmap,
                defaults=defaults,
            )

        added = {f for f in files if f not in parent_files}
        check(added)
        # Rows can also go live WITHOUT a new file: a commit that
        # DROPS tombstone sidecars (restore rolling back past a DV
        # delete) resurrects previously-masked rows in carried files.
        # Detect it metadata-only (a sidecar left the dv set) and
        # re-validate the parent's targeted files that remain live,
        # under the NEW dv masking, so still-deleted rows never
        # false-positive. compact_dvs is exempt: consolidation proves
        # its live tombstone set unchanged by count round-trip.
        removed_dvs = set((pman or {}).get("dv_files") or ()) - set(
            dv_files or ()
        )
        if removed_dvs and op != "compact_dvs":
            if pman is not None and pman.get("dv_targets") is not None:
                suspects = set(pman["dv_targets"])
            else:  # legacy parent: no recorded targets — be safe
                suspects = set((pman or {}).get("files") or ())
            check((suspects & fset) - added)
        # Same resurrection hazard for EQUALITY deletes: an entry that
        # left the state (restore rolling back past an upsert) brings
        # its masked rows back to life in carried files — re-validate
        # the files it applied to, under the NEW masking. resolve_eq
        # is exempt: it replaces entries with position tombstones for
        # the same rows (visibility unchanged by construction, and the
        # recorded resolve counts pin it).
        cur_eq_paths = {e["path"] for e in (eq_files or [])}
        removed_eqs = [
            e
            for e in ((pman or {}).get("eqs") or [])
            if e["path"] not in cur_eq_paths
        ]
        if removed_eqs and op != "resolve_eq":
            check(
                f
                for f in fset - added
                if _eq_applicable(removed_eqs, seq, f)
            )
    if stats is None:
        src_stats = src.get("stats") or {}
        stats = {f: src_stats[f] for f in files if f in src_stats}
        todo = [f for f in new_files if f in rows]  # footer found
        if stats_cols and todo:
            key = tuple(stats_cols)
            got = {
                f: _STATS_MEMO[(root, f, key)]
                for f in todo
                if (root, f, key) in _STATS_MEMO
            }
            miss = [f for f in todo if f not in got]
            if miss:
                fresh = collect_file_stats(spark, root, miss, stats_cols)
                if len(_STATS_MEMO) >= _SCHEMA_MEMO_MAX:
                    _STATS_MEMO.clear()
                _STATS_MEMO.update(
                    {(root, f, key): e for f, e in fresh.items()}
                )
                got.update(fresh)
            stats.update(got)
        if not stats and stats_cols is None:
            stats = None
    if stats is not None:
        stats = {
            f: {c: v for c, v in stats[f].items() if c in phys}
            for f in files
            if f in stats
        }
    state = {
        "files": files,
        "dv_files": dv_files,
        "dv_targets": dv_targets,
        "stats": stats,
        "stats_cols": stats_cols,
        "rows": rows or None,
        "props": props,
        "eqs": (
            sorted(eq_files, key=lambda e: (e["seq"], e["path"]))
            if eq_files
            else None
        ),
        "seq": seq or None,
    }
    scalars = {
        "version": version,
        "parent": parent,
        "op": op,
        "last_seq": seq_no,
        # wall-clock commit time (driver): powers timestamp time travel
        # (``snapshot_version_at``). Ordering is by VERSION, not this
        # field — clock skew between writers cannot reorder history, it
        # only blurs which version a given timestamp resolves to, the
        # same contract every manifest-log store documents.
        "committed_at_ms": int(time.time() * 1000),
        # immutable uuid identity: chains the delta log (children
        # record parent_id), keys the reconstruction cache, and binds
        # checkpoint blobs to the manifest that references them
        "manifest_id": uuid.uuid4().hex,
        "schema": json.loads(schema.json()),
        # The table's partition LAYOUT is part of the manifest: carried
        # files are classified by their partition directories, so every
        # commit must agree on the layout (enforced by
        # ``_require_same_layout``) and rewrites (delete/compact) must
        # reproduce it.
        "partition_cols": list(partition_cols) if partition_cols else None,
        **({"colmap": colmap} if colmap else {}),
        **({"defaults": defaults} if defaults else {}),
        **extra,
    }
    if pman is not None and pman.get("manifest_id"):
        scalars["parent_id"] = pman["manifest_id"]
    parent_state = (
        manifestlog.state_from_manifest(pman) if pman is not None else None
    )
    doc, ckpt = manifestlog.encode_commit(scalars, state, parent_state)
    if ckpt is not None:
        _write_blob(spark, path, doc["ckpt"], ckpt)
    data = json.dumps(doc, sort_keys=True).encode("utf-8")
    jpath = _jp(jvm, root, mdir, f"{version:08d}.json")
    if not _write_bytes_exclusive(fs, jpath, data):
        raise SnapshotConflict(
            f"version {version} of {path} was committed concurrently"
        )
    manifestlog._STATE_CACHE.put(doc["manifest_id"], state)
    return version


def _manifest_partition_cols(man: dict) -> list[str] | None:
    pc = man.get("partition_cols")
    return list(pc) if pc else None


def _require_same_layout(
    man: dict, partition_cols: list[str] | None, op: str
) -> None:
    """Carried files are classified by partition DIRECTORY, so a commit
    whose layout differs from the parent's would silently misclassify
    them (an unpartitioned rewrite's files are 'never in any touched
    partition' — stale rows survive merges). Fail fast instead. Legacy
    manifests that predate layout recording are exempt (the
    depth check in ``snapshot_replace_partitions`` still guards them).
    """
    if "partition_cols" not in man:
        return
    have = _manifest_partition_cols(man)
    want = list(partition_cols) if partition_cols else None
    if have != want:
        raise ValueError(
            f"{op}: table partition layout is {have} but caller passed "
            f"{want} — mixed layouts misclassify carried files; evolve "
            "the layout metadata-only with snapshot_set_layout, or "
            "rewrite with snapshot_write(mode='overwrite') / "
            "snapshot_compact"
        )


def snapshot_write(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_cols: list[str] | None = None,
    retries: int = 0,
    stats_cols: list[str] | None = None,
) -> int:
    """Publish ``df`` as a new table version; returns the version
    number. ``mode='overwrite'`` makes the new commit the whole table;
    ``'append'`` unions it with the parent version's files. Raises
    ``SnapshotConflict`` if another writer claims the version number
    first (data files are orphaned, never corrupting — re-run).

    ``stats_cols`` sets the columns whose per-file min/max/null count
    (plus the sum of numeric ones; ``collect_file_stats``) the manifest
    records — Iceberg-style scan-planning metadata:
    ``read_snapshot(where=...)``, the DML planner and ``snapshot_agg``
    select or prove files from it WITHOUT opening them. It is table
    state: every later commit carries it and computes entries for the
    files it adds. ``None`` keeps the table's current setting.

    ``retries``: on conflict, re-derive the parent and RECOMMIT THE
    SAME already-written data files against the new head — the
    standard lakehouse transaction retry. The expensive write job runs
    once; each retry is metadata-only (one manifest read + one
    exclusive create). Semantically safe for both modes: an overwrite
    means "this df is the whole table" regardless of head, and an
    append's union with the NEW parent's file list composes with any
    concurrent commit (a concurrent delete's rewrite is in the new
    parent; this append's files are disjoint by construction)."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append; got {mode!r}")
    spark = df.sparkSession
    versions = list_versions(path)
    parent = versions[-1] if versions else None
    cmap, dflts = None, None
    if mode == "append" and parent is not None:
        pman = load_manifest(path, parent)
        # fail fast BEFORE the expensive data write
        _require_same_layout(pman, partition_cols, "append")
        # appended files store PHYSICAL names (frozen across renames —
        # see _colmap); a full overwrite starts a fresh identity map.
        # defaults are captured WITH the schema, like the colmap — the
        # retry loop must never pair this schema with a different
        # head's alter state (the captured-tuple rule).
        cmap = _colmap(pman) or None
        dflts = pman.get("defaults")
    _, new_files = _write_commit_files(df, path, partition_cols, colmap=cmap)
    # stats (like the files they describe) are keyed by PHYSICAL names
    pstats = (
        _DV_INHERIT
        if stats_cols is None
        else [(cmap or {}).get(c, c) for c in stats_cols]
    )
    for attempt in range(retries + 1):
        files = new_files
        if mode == "append" and parent is not None:
            pman = load_manifest(path, parent)
            _require_same_layout(pman, partition_cols, "append")
            files = sorted(pman["files"] + new_files)
        try:
            return _commit(
                spark, path, files, df.schema, mode, parent,
                partition_cols=partition_cols,
                dv_files=_DV_INHERIT if mode == "append" else None,
                colmap=cmap if mode == "append" else None,
                defaults=dflts if mode == "append" else None,
                stats_cols=pstats,
            )
        except SnapshotConflict:
            if attempt == retries:
                raise
            versions = list_versions(path)
            parent = versions[-1] if versions else None


def _partition_dir(relpath: str) -> str:
    """The partition directories of a commit-file relpath
    (``data/<commit>/a=1/b=x/part-…`` → ``a=1/b=x``; ``''`` when
    unpartitioned)."""
    rel = relpath.split("/", 2)[-1]
    return rel.rsplit("/", 1)[0] if "/" in rel else ""


def snapshot_replace_partitions(
    df: DataFrame, path: str, partition_cols: list[str],
    extra=None,
    retries: int = 0,
) -> int:
    """Dynamic-partition-overwrite semantics, versioned: the new commit
    replaces the parent's files ONLY in the partitions present in
    ``df``; all other files carry over. Readers of older versions are
    unaffected — the race-free counterpart of an in-place dynamic
    partition overwrite. ``extra`` keys are recorded verbatim in
    the commit manifest (the snapshot-backed load path records its
    ``load`` provenance there, making the manifest the idempotency
    ledger). ``extra`` may be a CALLABLE returning the dict — it is
    invoked only after the commit files are written, so values that
    materialize with the write job (an Observation's row count) can be
    recorded without a second scan.

    The touched partitions are the directories of the files the write
    produced, so the write job is the statement's only pass over
    ``df``."""
    spark = df.sparkSession
    versions = list_versions(path)
    parent = versions[-1] if versions else None
    if parent is not None:
        _require_same_layout(
            load_manifest(path, parent),
            partition_cols,
            "replace_partitions",
        )
    cmap, dflts = None, None
    if parent is not None:
        _pm = load_manifest(path, parent)
        cmap = _colmap(_pm) or None
        dflts = _pm.get("defaults")  # captured-tuple rule
    _, new_files = _write_commit_files(
        df, path, partition_cols, colmap=cmap
    )
    # The touched partitions are the directories the write produced:
    # every partition present in ``df`` holds at least one new file, and
    # Spark's own directory strings (``b=true``, ``d=1.0E16``, null as
    # the default-partition name, escaped characters) compare exactly
    # with the carried files' — no value is ever re-rendered in Python.
    touched = {_partition_dir(f) for f in new_files}
    extra_doc = extra() if callable(extra) else extra
    seen_files = (
        set(load_manifest(path, parent)["files"])
        if parent is not None
        else set()
    )
    for attempt in range(retries + 1):
        carried = []
        if parent is not None:
            prefixes = tuple(f"{c}=" for c in partition_cols)
            for f in load_manifest(path, parent)["files"]:
                rel = f.split("/", 2)[-1]  # strip data/<commit>/
                dirs = rel.split("/")[:-1]
                # A parent file without the expected partition
                # directories (written unpartitioned by a legacy
                # rewrite) cannot be classified — carrying it would
                # keep stale rows of touched partitions alive. Fail
                # fast; such files no longer occur (every rewrite
                # reproduces the recorded layout).
                if len(dirs) != len(partition_cols) or any(
                    not d.startswith(p) for d, p in zip(dirs, prefixes)
                ):
                    raise ValueError(
                        f"replace_partitions: parent file {f} is not laid "
                        f"out by {partition_cols} (layout evolution leaves "
                        "old files in their original dirs); run "
                        "snapshot_compact to migrate them first"
                    )
                if _partition_dir(f) not in touched:
                    carried.append(f)
        try:
            return _commit(
                spark,
                path,
                sorted(carried + new_files),
                df.schema,
                "replace_partitions",
                parent,
                extra=extra_doc,
                partition_cols=partition_cols,
                # the captured (schema, colmap, defaults) tuple — see
                # stream_snapshot_append for why inheriting the
                # retry-time head's alter state is a silent-null hazard
                colmap=cmap,
                defaults=dflts,
            )
        except SnapshotConflict:
            # transaction retry: the replacement files are already
            # written and stay valid — only the CARRIED set depends on
            # the parent, and it is recomputed from the new head above
            # (metadata-only), composing with concurrent appends or
            # rewrites of OTHER partitions. A concurrent change inside
            # one of OUR touched partitions is a true write-write
            # conflict: blindly recommitting would silently discard it,
            # so that keeps raising even with retries left.
            if attempt == retries:
                raise
            versions = list_versions(path)
            parent = versions[-1] if versions else None
            head_files: set[str] = set()
            if parent is not None:
                pman = load_manifest(path, parent)
                _require_same_layout(
                    pman, partition_cols, "replace_partitions"
                )
                head_files = set(pman["files"])
            for f in head_files ^ seen_files:
                pdir = _partition_dir(f)
                if pdir in touched:
                    raise SnapshotConflict(
                        f"partition {pdir!r} was modified concurrently "
                        "— write-write conflict; re-run the load "
                        "against the current table state"
                    ) from None
            seen_files = head_files


def _to_epoch_ms(ts) -> int:
    """Epoch milliseconds from a datetime, ISO-8601 string, or numeric
    epoch SECONDS (floats keep sub-second precision). Naive datetimes
    and ISO strings are interpreted in the DRIVER's local timezone
    (Python's ``.timestamp()`` default) — the same clock that stamped
    ``committed_at_ms``, so naive-in/naive-out round-trips on one
    machine; pass an aware datetime or a ``+HH:MM`` ISO offset when
    resolving against a table committed from another timezone."""
    import datetime as _dt

    if isinstance(ts, _dt.datetime):
        return int(ts.timestamp() * 1000)
    if isinstance(ts, str):
        # ISO wins for strings: '20260815' is basic-format ISO (a CLI
        # digit-sniffing heuristic would misroute it to epoch-seconds
        # 1970); plain numeric strings that aren't ISO fall through
        try:
            return int(_dt.datetime.fromisoformat(ts).timestamp() * 1000)
        except ValueError:
            return int(float(ts) * 1000)
    return int(float(ts) * 1000)


def _committed_ms(path: str, version: int, man: dict) -> int:
    """Commit time of ``version`` in epoch ms: its ``committed_at_ms``,
    or the manifest file's modification time for manifests predating
    the field."""
    t = man.get("committed_at_ms")
    if t is None:
        root, mdir = split_ref(path)
        fs, p = pa_fs(f"{root}/{mdir}/{version:08d}.json")
        t = fs.get_file_info(p).mtime_ns // 1_000_000
    return t


def snapshot_version_at(spark: SparkSession, path: str, ts) -> int:
    """The latest retained version committed at or before ``ts``
    (datetime | ISO string | epoch seconds) — Delta's TIMESTAMP AS OF.
    Commit times come from the manifests' ``committed_at_ms`` (driver
    wall clock at claim time; manifests predating the field fall back
    to the manifest file's modification time). Resolution walks the
    retained manifest list — metadata-proportional, bounded by
    retention, like every history API here. Raises when ``ts`` predates
    the oldest retained commit (vacuum may have dropped the version
    that was live then — guessing would silently serve newer data), and
    likewise for any ``ts`` inside a retention GAP (tag-pinned vacuum
    drops untagged middles): the dropped versions' commit times are
    gone with their manifests, so the whole (t(best), t(next)) window
    refuses rather than risk serving a version older than what was
    live at ``ts``."""
    ts_ms = _to_epoch_ms(ts)
    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {path}")
    best = None
    next_man = None
    for v in versions:
        man = load_manifest(path, v)
        if _committed_ms(path, v, man) <= ts_ms:
            best = v
        else:
            next_man = man  # per-chain commit times are monotone (one
            # writer wins each claim; skew only blurs the boundary)
            break
    if best is None:
        raise FileNotFoundError(
            f"no version of {path} existed at or before {ts!r} (oldest "
            f"retained is v{versions[0]}); history below it was vacuumed"
        )
    # Retention GAP guard: tag-pinned retention can leave holes in the
    # middle of the chain (vacuum drops untagged versions between a tag
    # and the kept tail). If the next retained version's parent is not
    # ``best``, some DROPPED version was live during (t(best), ts] —
    # serving ``best`` would silently time-travel too far back.
    if next_man is not None and next_man.get("parent") != best:
        raise FileNotFoundError(
            f"the version of {path} live at {ts!r} was vacuumed (retained "
            f"chain jumps v{best} -> v{next_man.get('parent')}'s child); "
            "refusing to serve older data"
        )
    return best


def _norm_partition_value(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        # Spark writes boolean partition dirs as 'true'/'false';
        # Python str(True) is 'True' — a silent zero-file match
        return "true" if v else "false"
    return str(v)


def _partition_pruned_files(
    man: dict, partitions: dict, unencoded: str = "raise"
) -> list[str]:
    """Manifest-resident partition pruning: the files of ``man`` whose
    partition-directory values match ``partitions`` ({col: value or
    list-of-values}; ``None`` selects the Hive null partition). Pure
    driver-side string work over relpaths the manifest already holds —
    no listing, no stats, no data I/O — so a one-partition read of a
    10^6-file table plans from metadata alone. Values compare as the
    DIRECTORY strings Spark wrote (callers pass primitives; ``str()``
    normalizes), which is exactly Hive/Iceberg partition-predicate
    semantics. Unknown columns refuse: a typo'd key silently matching
    nothing would read as 'partition is empty'.

    ``unencoded`` picks the behavior for files whose directories do
    NOT carry every filter column — possible only after
    ``snapshot_set_layout`` evolved the layout and before a compact
    migrated the old files (such a file MAY hold matching rows;
    metadata cannot tell):

    - ``"raise"`` (default): refuse loudly — for surfaces whose answer
      must be provable from directory values alone (metadata-only
      partition drops, partition-scoped change feeds, metadata
      MIN/MAX);
    - ``"split"``: keep such files and return ``(files_to_read,
      unencoded_subset)`` in ONE relpath-parsing pass — for readers
      that apply a row-level residual filter
      (``_partition_residual_cond``) and need to know whether any
      unmigrated file survived, without re-parsing every path."""

    if unencoded not in ("raise", "split"):
        raise ValueError(f"bad unencoded mode {unencoded!r}")
    # directory names are PHYSICAL (frozen at add time — see _colmap);
    # callers filter by logical names
    pc = set(_manifest_partition_cols(man) or [])
    bad = sorted(k for k in partitions if _phys(man, k) not in pc)
    if bad:
        raise ValueError(
            f"partition filter on non-partition column(s) {bad} — table "
            f"layout is {sorted(pc) or 'unpartitioned'}"
        )
    partitions = {_phys(man, k): v for k, v in partitions.items()}
    want: dict[str, set] = {}
    for k, val in partitions.items():
        vs = val if isinstance(val, (list, tuple, set, frozenset)) else [val]
        want[k] = {_norm_partition_value(v) for v in vs}
    out = []
    unenc = []
    for f in man["files"]:
        vals = partition_values(f)
        missing = [k for k in want if k not in vals]
        if missing:
            if unencoded == "raise":
                raise ValueError(
                    f"file {f} does not encode partition column(s) "
                    f"{missing} in its directories — the layout evolved "
                    "(snapshot_set_layout) and this surface needs "
                    "directory-provable partition values; run "
                    "snapshot_compact to migrate old files first"
                )
            out.append(f)
            unenc.append(f)
            continue
        if all(vals.get(k) in vs for k, vs in want.items()):
            out.append(f)
    if unencoded == "split":
        return out, unenc
    return out


def _partition_residual_cond(partitions: dict):
    """Row-level equivalent of the directory match — applied by read
    surfaces over files that predate a layout evolution (their rows
    carry the column as DATA, not directories). Comparison is on the
    directory STRING form (cast-to-string), keeping the exact
    semantics ``_partition_pruned_files`` documents; for rows of
    dir-encoded files the condition is a tautology, so applying it to
    a whole mixed read changes nothing for migrated files."""
    cond = None
    for k, val in partitions.items():
        vs = val if isinstance(val, (list, tuple, set, frozenset)) else [val]
        strs = sorted(
            {_norm_partition_value(v) for v in vs if v is not None}
        )
        c = F.col(k).cast("string").isin(*strs) if strs else None
        if any(v is None for v in vs):
            isn = F.col(k).isNull()
            c = isn if c is None else (c | isn)
        if c is None:
            # an EMPTY value list matches nothing — the column's
            # constraint must be FALSE, never silently dropped (which
            # would return every unmigrated-file row)
            c = F.lit(False)
        cond = c if cond is None else (cond & c)
    return cond if cond is not None else F.lit(True)


def _files_not_encoding(
    man: dict, partitions: dict, files: list[str] | None = None
) -> list[str]:
    """The subset of ``files`` (default: all live files) whose relpath
    directories do NOT carry every filter/layout column (logical keys,
    compared physical) — nonempty exactly while a layout evolution
    (``snapshot_set_layout``) has files not yet migrated by a compact."""

    want = [_phys(man, k) for k in partitions]
    out = []
    for f in man["files"] if files is None else files:
        vals = partition_values(f)
        if any(k not in vals for k in want):
            out.append(f)
    return out


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    at_timestamp=None,
    partitions: dict | None = None,
    where: dict | list | None = None,
) -> DataFrame:
    """The table at ``version`` (default: latest), or as of
    ``at_timestamp`` (datetime | ISO string | epoch seconds — resolved
    via ``snapshot_version_at``). Partition columns come back from the
    directory names (``basePath``), exactly like a plain partitioned
    read.

    ``partitions`` ({col: value or list}) prunes AT THE MANIFEST: only
    matching files enter the scan (``df.inputFiles()`` shows exactly
    them). This matters on the flat read path, where partition values
    ride a broadcast lookup join rather than Hive directory discovery
    — a WHERE on the joined column cannot skip files there, so without
    manifest pruning a one-partition query of a 100 TB table opens
    every file.

    ``where`` is the DML predicate form (``{col: values | Range |
    IS_NULL | IS_NOT_NULL}``, or a list of such dicts for OR) and
    prunes the same way: only files whose stats/directories admit a
    match are opened (stats-less files are kept — never a false
    negative), then the exact row predicate applies as a residual. A
    retention audit (``where={"ts": Range(hi=cutoff, hi_inc=False)}``)
    on a time-clustered table opens only the files the cutoff
    intersects. ``partitions`` and ``where`` compose (both narrow the
    file set before any file opens); DV tombstones, equality deletes,
    renames and initial defaults apply exactly as on a plain read."""
    if version is not None and at_timestamp is not None:
        raise ValueError("pass version OR at_timestamp, not both")
    if at_timestamp is not None:
        version = snapshot_version_at(spark, path, at_timestamp)
    _, man = _manifest_at(path, version)
    return _read_at(spark, path, man, partitions, where)


def _read_at(
    spark: SparkSession,
    path: str,
    man: dict,
    partitions: dict | None = None,
    where: dict | list | None = None,
) -> DataFrame:
    """``read_snapshot`` of an already-opened manifest."""
    files = man["files"]
    conds = []
    if partitions:
        # conservative keep for files predating a layout evolution
        # (they may hold matching rows as DATA); the residual row
        # filter below restores exactness — a tautology on rows of
        # dir-encoded files, the real predicate on unmigrated ones
        files, unenc = _partition_pruned_files(man, partitions, "split")
        if unenc:
            conds.append(_partition_residual_cond(partitions))
    if where is not None:
        preds = _sanitize_predicates(where)
        if preds:
            admitted = set(_plan(man, preds)[0])
            files = [f for f in files if f in admitted]
            conds.append(_match_expr(preds))
        else:  # provably-empty range / emptied IN list
            files = []
    if not files:  # nothing can match: answer without planning a scan
        return local_frame(spark, [], StructType.fromJson(man["schema"]))
    out = _scan_live(spark, path, man, files)
    for cond in conds:
        out = out.where(cond)
    return out


# name (lowercased) → {"path", "name", "pinned"} for every table that
# went through ``snapshot_register``; consumed by the SQL statement
# front door (``sqlfront``). Process-global like local-mode temp views;
# a re-register overwrites, matching createOrReplaceTempView.
_SQL_REGISTRY: dict[str, dict] = {}


def snapshot_register(
    spark: SparkSession,
    path: str,
    name: str,
    version: int | None = None,
    at_timestamp=None,
    partitions: dict | None = None,
) -> None:
    """Register the snapshot table as a session temp view so plain
    ``spark.sql`` can query it — the ad-hoc-SQL surface over versioned
    tables (``SELECT ... FROM name``), with the same version /
    timestamp / partition-scope selection as ``read_snapshot``. The
    view captures the version RESOLVED NOW: a later commit does not
    leak into an already-registered view (reader isolation carries
    into SQL), and omitting ``version`` pins the current latest —
    re-register to follow the head."""
    # resolve the version FIRST and pin read_snapshot to it, so the
    # registry's ``resolved_version`` provably equals what the view
    # reflects (no listing race with a concurrent commit) — the SQL
    # front door's metadata-planned SELECT fast path answers at this
    # version for exact parity with a spark.sql scan of the view
    resolved = version
    if resolved is None and at_timestamp is not None:
        resolved = snapshot_version_at(spark, path, at_timestamp)
    resolved, man = _manifest_at(path, resolved)
    _read_at(spark, path, man, partitions).createOrReplaceTempView(name)
    # capture the VIEW-WRAPPED plan (not the raw DataFrame: the View/
    # SubqueryAlias wrapper shifts the semantic hash) — the identity
    # token the SELECT fast path compares against the live view
    view_df = spark.table(name)
    # record the name→path binding for the SQL statement front door
    # (``sqlfront.snapshot_sql``): DELETE/UPDATE/MERGE/ALTER/VACUUM/
    # DESCRIBE HISTORY statements resolve table names through this.
    # Mirrors temp-view semantics (re-register overwrites). ``pinned``
    # registrations (explicit version/timestamp/partition scope) are
    # time-travel views: the front door refuses to mutate through them
    # and never auto-refreshes them after a DML on the same path.
    _SQL_REGISTRY[name.lower()] = {
        "path": path,
        "name": name,
        "pinned": (
            version is not None
            or at_timestamp is not None
            or bool(partitions)
        ),
        # the pin itself, for READ surfaces that can honor it (SHOW
        # PARTITIONS of a version-pinned view shows THAT version)
        "version": version,
        "at_timestamp": at_timestamp,
        # what the temp view ACTUALLY reflects (head resolved at
        # registration for unpinned names) — the SELECT fast path
        # answers at this version, matching the view byte-for-byte
        # even when later commits have moved the table head
        "resolved_version": resolved,
        # a partition-scoped registration restricts the view to a
        # file subset the fast path does not model — it refuses and
        # the statement passes through to spark.sql over the view
        "partitions": dict(partitions) if partitions else None,
        # the registered DataFrame itself: the SELECT fast path
        # verifies via sameSemantics that the live temp view is STILL
        # this plan — a view the user later replaced or dropped must
        # win for reads (passthrough precedence), never be shadowed
        # by the registry binding
        "view_df": view_df,
    }


_FLAT_READ_THRESHOLD = 8


# Footer cache for _flat_readable: data files are IMMUTABLE once
# written (content-addressed commit dirs, never rewritten in place), so
# a file's parquet schema can be remembered for the process lifetime —
# repeated reads of a long-history table pay footer I/O only for files
# not yet seen, instead of one serial driver-side footer read per file
# per read. Keyed (root, relpath); bounded by wholesale clear (entries
# are tiny, the bound is a runaway guard, not an LRU).
_FOOTER_CACHE: dict[tuple[str, str], tuple] = {}
_FOOTER_CACHE_MAX = 1 << 20


def _flat_readable(
    spark: SparkSession,
    path: str,
    files: list[str],
    schema: StructType,
    partition_cols: list[str],
    must_have: set | None = None,
) -> bool:
    """True iff every file can be read DIRECTLY under the target
    schema in one scan: its partition-directory keys are exactly the
    target layout, and every data column it stores has the target
    type byte-for-byte (missing columns null-fill; anything needing a
    cast — a widened/narrowed history — keeps the per-commit path).
    ``must_have``: physical column names every file must PHYSICALLY
    store for the flat path — columns with an initial DEFAULT fill
    per commit group, which one flat scan cannot express.
    At most one parquet FOOTER read per file EVER (metadata-only,
    cached — see ``_FOOTER_CACHE``), fetched through a small thread
    pool so an object store's per-open latency is paid concurrently,
    not serially."""

    path = _root(path)

    try:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_type
    except ImportError:  # pragma: no cover
        return False
    want_keys = set(partition_cols)
    data_types = {
        f.name: f.dataType
        for f in schema.fields
        if f.name not in want_keys
    }
    fs, root = pa_fs(path)
    missing = [f for f in files if (root, f) not in _FOOTER_CACHE]
    if missing:
        from concurrent.futures import ThreadPoolExecutor

        def probe(f: str):
            try:
                with fs.open_input_file(f"{root}/{f}") as fh:
                    return f, tuple(
                        (fld.name, fld.type) for fld in pq.read_schema(fh)
                    )
            except OSError:
                return f, None  # transient/missing: NOT cached

        with ThreadPoolExecutor(
            max_workers=min(16, len(missing))
        ) as pool:
            probed = dict(pool.map(probe, missing))
        good = {f: v for f, v in probed.items() if v is not None}
        if len(_FOOTER_CACHE) + len(good) > _FOOTER_CACHE_MAX:
            _FOOTER_CACHE.clear()
        for f, fields in good.items():
            _FOOTER_CACHE[(root, f)] = fields
        if len(good) != len(probed):
            return False
    for f in files:
        if set(partition_values(f)) != want_keys:
            return False
        if must_have and not must_have <= {
            n for n, _ in _FOOTER_CACHE[(root, f)]
        }:
            return False  # defaulted column absent: needs per-part fill
        for name, atype in _FOOTER_CACHE[(root, f)]:
            want = data_types.get(name)
            if want is None:
                return False  # dropped-column history needs the cast path
            try:
                have = from_arrow_type(atype)
            except Exception:
                return False
            if have != want:
                return False
    return True


# ASCII characters Spark's scan metadata percent-encodes in
# ``_metadata.file_path`` (the Java URI path grammar's illegal set:
# control chars, space, and "<>%?#[]\^`{|}"). Everything else —
# including '+' and non-ASCII — passes through RAW, so url_decode
# (form decoding: '+' → space) would corrupt round-trips; instead we
# encode manifest relpaths to the URI form and join on that.
# Verified empirically on pyspark 4.1.2: disk 'name=a b' → meta
# 'name=a%20b', disk 'name=a%23b' → meta 'name=a%2523b', disk
# 'name=a+b' / 'name=héllo' → unchanged.
_URI_ILLEGAL = set(' "<>%?#[]\\^`{|}\x7f') | {chr(c) for c in range(0x20)}


def _uri_encode_relpath(rel: str) -> str:
    """A manifest relpath (on-disk form) → the exact string
    ``_metadata.file_path`` carries for that file (URI path form)."""
    out = []
    for ch in rel:
        if ch in _URI_ILLEGAL:
            out.append("".join("%%%02X" % b for b in ch.encode("utf-8")))
        else:
            out.append(ch)
    return "".join(out)


def _relpath_from_file_path(col):
    """``data/<hex32>/...`` relpath (URI-encoded form) from a
    ``_metadata.file_path`` column. Greedy leading ``.*`` pins the LAST
    ``data/<hex32>/`` occurrence: a table living under a directory named
    like a commit dir can't confuse the match. Join keys built from this
    must be ``_uri_encode_relpath``-encoded manifest relpaths."""
    return F.regexp_extract(col, "^.*/(data/[0-9a-f]{32}/.*)$", 1)


def _read_file_list_flat(
    spark: SparkSession,
    path: str,
    files: list[str],
    schema: StructType,
    partition_cols: list[str],
    versions: list[int] | None = None,
    row_ids: bool = False,
) -> DataFrame:
    """ONE scan over the whole file list (``_flat_readable`` verified).
    Partition discovery cannot span commit dirs (each is its own hive
    root — CONFLICTING_DIRECTORY_STRUCTURES), so it is disabled and the
    partition-directory values ride in a broadcast (relpath → values)
    lookup parsed driver-side from the manifest relpaths.

    ``versions`` (parallel to ``files``) is the change-feed variant: the
    lookup gains a ``_commit_version`` column carried into the output.
    The SAME relpath may then appear at several versions (a restore
    re-adding a file whose original append is also in range) — the scan
    reads each distinct file ONCE and the lookup join fans its rows out
    to one copy per listed version, never rows × paths × lookup-rows.

    ``row_ids=True`` appends the stable row identity the deletion-
    vector layer is keyed by: ``_dv_file`` (raw manifest relpath) and
    ``_dv_pos`` (``_metadata.row_index``)."""

    path = _root(path)

    pfields = {f.name: f for f in schema.fields if f.name in partition_cols}
    data_fields = [f for f in schema.fields if f.name not in pfields]
    scan = (
        spark.read.option("recursiveFileLookup", "true")
        .schema(StructType(data_fields))
        # dedupe: Spark reads a path listed twice TWICE (no dedup), so a
        # repeated relpath would double its physical rows before the
        # lookup join multiplied them again
        .parquet(*dict.fromkeys(f"{path}/{f}" for f in files))
    )
    if not pfields and versions is None and not row_ids:
        return scan.select(*[f.name for f in schema.fields])
    lookup_rows = []
    for i, f in enumerate(files):
        vals = partition_values(f)
        # key by the URI-encoded form — _metadata.file_path percent-
        # encodes e.g. spaces, so a raw-relpath join silently drops
        # every row of files under such partition dirs
        row = [_uri_encode_relpath(f)]
        if versions is not None:
            row.append(versions[i])
        if row_ids:
            row.append(f)
        lookup_rows.append((*row, *[vals.get(c) for c in partition_cols]))
    lookup = local_frame(
        spark,
        lookup_rows,
        ", ".join(
            ["_relpath string"]
            + (["_commit_version int"] if versions is not None else [])
            + (["_dv_file string"] if row_ids else [])
            + [f"`{c}` string" for c in partition_cols]
        ),
    )
    out_cols = [
        F.col(f.name).cast(f.dataType).alias(f.name)
        if f.name in pfields
        else f.name
        for f in schema.fields
    ]
    if versions is not None:
        out_cols.append("_commit_version")
    if row_ids:
        out_cols.extend(_DV_COLS)
    scan = scan.withColumn(
        "_relpath", _relpath_from_file_path(F.col("_metadata.file_path"))
    )
    if row_ids:
        # LEFT join + in-column raise on an unmapped scan path (see
        # _require_mapped): the row identity feeds the DV anti-join /
        # tombstone writers, so encoding drift must fail loudly there,
        # never silently drop a file's rows. The plain (no row-id)
        # reads keep the inner join — their encoder is pinned by
        # tests/test_uri_relpaths.py against the running Spark.
        scan = scan.withColumn("_dv_pos", F.col("_metadata.row_index"))
        return (
            scan.join(F.broadcast(lookup), "_relpath", "left")
            .withColumn(
                "_dv_file", _require_mapped(F.col("_dv_file"), "_relpath")
            )
            .select(*out_cols)
        )
    return scan.join(F.broadcast(lookup), "_relpath").select(*out_cols)


_DV_COLS = ("_dv_file", "_dv_pos")


def _read_file_list(
    spark: SparkSession,
    path: str,
    files: list[str],
    schema: StructType,
    partition_cols: list[str] | None = None,
    dv_files: list[str] | None = None,
    row_ids: bool = False,
    dv_targets: list[str] | None = None,
    eq_entries: list[dict] | None = None,
    file_seq: dict | None = None,
    colmap: dict | None = None,
    defaults: dict | None = None,
) -> DataFrame:
    """Scan an explicit manifest file list, normalised to ``schema``.

    Planning launches no Spark job once each commit dir's file set has
    been written or read in this process: the per-commit reads go
    through ``_read_files``, whose recorded writer schemas and schema
    memo stand in for Spark's inference job (commit dirs are
    immutable), and the driver-built lookups are ``local_frame``s. The
    per-commit reads type partition columns with the manifest's types,
    and only columns stored under another type than the manifest's are
    cast.

    ``defaults`` ({PHYSICAL column name: scalar}): INITIAL defaults —
    a column added with a default fills that value for rows of files
    that PHYSICALLY lack the column (written before the add), while
    genuine NULLs written after the add stay NULL (the Iceberg-v3
    initial-default distinction; physical absence is the per-file
    marker, so no per-row bookkeeping exists anywhere).

    ``dv_files`` are the manifest's deletion-vector sidecars (parquet
    relpaths of ``(_dv_file, _dv_pos)`` tombstones): their rows are
    anti-joined away here, so EVERY reader that threads the manifest's
    ``dv_files`` through gets merge-on-read deletes for free.
    ``row_ids=True`` keeps the ``_dv_file``/``_dv_pos`` identity
    columns in the output (for writers that need to address rows).

    ``dv_targets`` (the manifest's recorded distinct tombstoned files;
    a superset of the live targets is legal) SPLITS the scan: files
    with no outstanding tombstones bypass the anti-join — and, unless
    ``row_ids`` is asked for, the whole row-identity machinery
    (``_metadata`` projection, relpath decode join) — entirely. Only
    the targeted files pay. At 100 TB with a few tombstoned files,
    the read plan is a plain scan unioned with one small anti-join,
    instead of every row of the table flowing through the join (the
    >64 MB sidecar fallback was a full-table shuffle).

    ``eq_entries``/``file_seq`` (the manifest's equality-delete
    entries and per-file added-at versions) split the scan the same
    way: files are grouped by WHICH entries apply (applicability is
    monotone in the file's seq, so the groups are the suffixes of the
    seq-sorted entry list — at most len(entries)+1 of them, and
    maintenance keeps that list short), each group anti-joins only
    its applicable key sidecars, and files no entry applies to scan
    clean."""
    from bisect import bisect_right

    from pyspark.sql.types import LongType, StringType, StructField

    path = _root(path)
    if colmap:
        # RENAME support (one wrapper recursion): files, stats,
        # partition dirs and eq sidecars all live in the PHYSICAL
        # namespace (``_colmap``), so the whole machinery below runs
        # with the physical schema and the output aliases back to
        # logical names once, at this single boundary. ``_dv_file``/
        # ``_dv_pos`` are synthetic and pass through untouched.
        # Entries outside the requested schema are ignored (callers
        # may pass a head colmap against a narrower projection).
        names = {f.name for f in schema.fields}
        colmap = {l: p for l, p in colmap.items() if l in names}
        inv = {p: l for l, p in colmap.items()}
        out = _read_file_list(
            spark, path, files, _phys_fields(schema, colmap),
            partition_cols=partition_cols, dv_files=dv_files,
            row_ids=row_ids, dv_targets=dv_targets,
            eq_entries=eq_entries, file_seq=file_seq,
            defaults=defaults,
        )
        return out.select(
            *[F.col(c).alias(inv.get(c, c)) for c in out.columns]
        )
    if eq_entries and files:
        seq_map = file_seq or {}
        entries = sorted(eq_entries, key=lambda e: (e["seq"], e["path"]))
        seqs = [e["seq"] for e in entries]
        groups: dict[int, list[str]] = {}
        for f in files:
            groups.setdefault(bisect_right(seqs, seq_map.get(f, 0)), []).append(f)
        # with recorded dv_targets, only groups actually holding a
        # tombstoned file pay the DV read — without the pruning every
        # group's recursion would re-read and re-broadcast the same
        # sidecars (K+1 redundant reads per scan while entries are
        # outstanding)
        tset = set(dv_targets) if dv_targets is not None else None
        parts = []
        for idx in sorted(groups):
            gdvs = dv_files
            if dv_files and tset is not None and not (
                tset & set(groups[idx])
            ):
                gdvs = None
            part = _read_file_list(
                spark, path, groups[idx], schema,
                partition_cols=partition_cols,
                dv_files=gdvs, row_ids=row_ids,
                dv_targets=dv_targets if gdvs else None,
                defaults=defaults,
            )
            parts.append(_apply_eq(spark, path, part, entries[idx:]))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    if dv_files and dv_targets is not None:
        tset = set(dv_targets)
        tomb = [f for f in files if f in tset]
        if not tomb:
            dv_files = None  # every tombstone is inert: clean scan
        elif len(tomb) < len(files):
            clean = [f for f in files if f not in tset]
            return _read_file_list(
                spark, path, clean, schema,
                partition_cols=partition_cols,
                dv_files=None, row_ids=row_ids,
                defaults=defaults,
            ).unionByName(
                _read_file_list(
                    spark, path, tomb, schema,
                    partition_cols=partition_cols,
                    dv_files=dv_files, row_ids=row_ids,
                    defaults=defaults,
                )
            )
        # else: every file is targeted — fall through whole
    want_ids = bool(row_ids or dv_files)
    if want_ids:
        clash = [f.name for f in schema.fields if f.name in _DV_COLS]
        if clash:
            raise ValueError(
                f"columns {clash} are reserved for the deletion-vector "
                "row identity; rename them to use DV reads"
            )
    if not files:
        out = StructType(
            list(schema.fields)
            + (
                [
                    StructField("_dv_file", StringType()),
                    StructField("_dv_pos", LongType()),
                ]
                if row_ids
                else []
            )
        )
        return local_frame(spark, [], out)
    # Partition values live in the directory names UNDER each commit
    # dir, so each commit is its own basePath: one read per commit
    # (bounded by retained versions, not data size), unioned by name.
    by_commit: dict[str, list[str]] = {}
    for f in files:
        commit = "/".join(f.split("/", 2)[:2])  # data/<uuid>
        by_commit.setdefault(commit, []).append(f)
    # Long-history bound: past a handful of commit dirs the per-commit
    # union's plan grows O(commit dirs) — a delete over a fragmented
    # table, or read_snapshot after thousands of small appends, would
    # pay a node per commit. When a footer sweep proves every file
    # stores the target types at the target layout (the common case:
    # stable schema), collapse the whole list into ONE scan; histories
    # that genuinely need per-file normalisation (widened/narrowed/
    # dropped columns, layout changes) keep the per-commit cast path,
    # whose depth is then bounded by how unusual the history is.
    live_defaults = {
        c: v
        for c, v in (defaults or {}).items()
        if c in {f.name for f in schema.fields}
    }
    if len(by_commit) > _FLAT_READ_THRESHOLD and _flat_readable(
        spark, path, files, schema, partition_cols or [],
        must_have=set(live_defaults) or None,
    ):
        df = _read_file_list_flat(
            spark, path, files, schema, partition_cols or [],
            row_ids=want_ids,
        )
        if not want_ids:
            return df  # never touch user columns when no DV machinery ran
        return _apply_dvs(spark, path, df, dv_files, keep_ids=row_ids)
    parts = []
    dtypes = {f.name: f.dataType for f in schema.fields}
    ptypes = {c: dtypes[c] for c in partition_cols or () if c in dtypes}
    for commit, flist in sorted(by_commit.items()):
        p = _read_files(
            spark, [f"{path}/{f}" for f in flist], f"{path}/{commit}",
            partition_types=ptypes,
        )
        # INITIAL defaults: fill per commit group, BEFORE the union —
        # physical absence of the column marks exactly the pre-add
        # files, and a post-union fill could not tell their rows from
        # genuine NULLs written later
        for c, dval in sorted(live_defaults.items()):
            if c not in p.columns:
                p = p.withColumn(c, F.lit(dval).cast(dtypes[c]))
        if want_ids:
            # row identity must come from each leaf scan (_metadata is
            # per-scan, unreachable after the union)
            p = p.withColumn(
                "_dv_enc",
                _relpath_from_file_path(F.col("_metadata.file_path")),
            ).withColumn("_dv_pos", F.col("_metadata.row_index"))
        parts.append(p)
    # allowMissingColumns: an appended commit written AFTER a column was
    # added carries the new column; older carried-over commits surface
    # it as null — schema evolution without rewriting history. The
    # manifest schema (the newest writer's) decides the column set.
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p, allowMissingColumns=True)
    # pin the manifest's types (an int widened to bigint by a newer
    # writer reads back as bigint everywhere) and null-fill columns no
    # commit stores. Columns already read under their manifest type
    # pass by name: a Column per field costs py4j round trips and a
    # Python call-site capture each
    read = {f.name: f.dataType for f in df.schema.fields}
    ids = ["_dv_enc", "_dv_pos"] if want_ids else []
    same = [read.get(f.name) == f.dataType for f in schema.fields]
    if not all(same) or [f.name for f in schema.fields] + ids != list(read):
        df = df.select(
            *[
                f.name
                if ok
                else (F.col(f.name) if f.name in read else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f, ok in zip(schema.fields, same)
            ],
            *ids,
        )
    if not want_ids:
        return df  # never touch user columns when no DV machinery ran
    enc2raw = F.broadcast(
        local_frame(
            spark,
            [(_uri_encode_relpath(f), f) for f in files],
            "_dv_enc string, _dv_file string",
        )
    )
    # LEFT join + in-column raise: a silent inner join would let
    # encoding drift (see _uri_encode_relpath) drop whole files from
    # DV-masked reads and the DML victim reads — the same fail-loud
    # rule collect_file_stats and the Bloom builder enforce.
    df = (
        df.join(enc2raw, "_dv_enc", "left")
        .withColumn("_dv_file", _require_mapped(F.col("_dv_file"), "_dv_enc"))
        .drop("_dv_enc")
    )
    return _apply_dvs(spark, path, df, dv_files, keep_ids=row_ids)


def _scan_live(
    spark: SparkSession,
    path: str,
    man: dict,
    files: list[str],
    row_ids: bool = False,
) -> DataFrame:
    """The live rows of ``files`` (a subset of ``man["files"]``) in
    ``man``'s logical schema, with EVERY manifest mask applied: layout
    partition columns, DV tombstones, equality deletes, the rename map
    and initial defaults. Scans that read a manifest's own rows go
    through here, so none of them can leave a mask out (a missing mask
    brings deleted rows back without any error)."""
    return _read_file_list(
        spark, path, files, StructType.fromJson(man["schema"]),
        partition_cols=_manifest_partition_cols(man),
        dv_files=man.get("dv_files"),
        row_ids=row_ids,
        dv_targets=man.get("dv_targets"),
        eq_entries=man.get("eqs"),
        file_seq=man.get("seq"),
        colmap=_colmap(man) or None,
        defaults=man.get("defaults"),
    )


def _require_mapped(mapped, enc_col: str):
    """``mapped`` unless NULL — then raise AT SCAN TIME naming the
    unmapped encoded relpath. Living inside the output column keeps
    column pruning from optimizing the check away."""
    return F.when(
        mapped.isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "scan path matches no manifest relpath "
                    "(_uri_encode_relpath drifted from Spark's "
                    "_metadata.file_path encoding): "
                ),
                F.col(enc_col),
            )
        ),
    ).otherwise(mapped)


def _apply_dvs(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    dv_files: list[str] | None,
    keep_ids: bool,
) -> DataFrame:
    """Merge-on-read: anti-join the deletion-vector tombstones on
    (file, row position). DV sidecars hold only deleted keys, so they
    broadcast in the overwhelmingly common case; past a size threshold
    the join falls back to a shuffle rather than risk the driver."""
    if dv_files:
        df = df.join(
            _sidecar_df(spark, root, dv_files, list(_DV_COLS)),
            list(_DV_COLS),
            "left_anti",
        )
    if not keep_ids:
        df = df.drop(*_DV_COLS)
    return df


def snapshot_changes(
    spark: SparkSession,
    path: str,
    from_version: int | None = None,
    to_version: int | None = None,
    from_timestamp=None,
    to_timestamp=None,
    partitions: dict | None = None,
) -> DataFrame:
    """Row-level change feed between two retained versions.

    ``partitions`` ({col: value | list}) scopes the feed to matching
    partition directories — every per-commit file diff is pruned at
    the manifest before any read, so a one-tenant CDC consumer of a
    100 TB table plans and scans only its tenant's files, and commits
    confined to other partitions contribute nothing (zero scan nodes,
    not just zero rows).

    Bounds can be given as versions or as TIMESTAMPS (datetime | ISO
    string | epoch seconds, resolved via ``snapshot_version_at``):
    ``from_timestamp=yesterday_9am`` means "changes SINCE the state
    that was live then" — the resolved version is the exclusive lower
    bound, exactly like ``from_version``. Timestamp resolution inherits
    the retention-gap refusal (never silently serves extra history).
    Exactly one of ``from_version``/``from_timestamp`` is required;
    ``to_version``/``to_timestamp`` are mutually exclusive.

    Returns the table's columns (at ``to_version``'s schema) plus
    ``_change_type`` (``'insert'`` | ``'delete'``) and
    ``_commit_version`` — every row change a consumer must apply to go
    from the table at ``from_version`` (exclusive) to ``to_version``
    (inclusive, default latest). An updated row appears as a delete of
    the old image plus an insert of the new one, the standard
    file-granular CDF contract.

    The feed is derived purely from manifest FILE diffs, so there is no
    write-path overhead and it works retroactively for any retained
    history. Per commit, only the files that commit added or removed
    are scanned — cost is proportional to the size of the change, never
    the table. Rewrite commits (compaction, delete_rows survivors,
    merge carry-alongs) re-write unchanged rows into new files; those
    are cancelled row-for-row with ``exceptAll`` over the touched files
    (a compaction therefore yields an EMPTY change set), which is also
    why bag semantics — duplicate physical rows — are preserved
    exactly. Append-only commits skip the diff entirely: added files
    stream straight through with no shuffle.

    Versions below ``from_version`` may already be vacuumed; every
    version in the requested range must still be retained (loud
    ``FileNotFoundError`` otherwise).
    """
    if (from_version is None) == (from_timestamp is None):
        raise ValueError(
            "exactly one of from_version / from_timestamp is required"
        )
    if to_version is not None and to_timestamp is not None:
        raise ValueError("to_version and to_timestamp are mutually exclusive")
    if from_timestamp is not None:
        from_version = snapshot_version_at(spark, path, from_timestamp)
    if to_timestamp is not None:
        to_version = snapshot_version_at(spark, path, to_timestamp)
    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions at {path}")
    if to_version is None:
        to_version = versions[-1]
    if from_version > to_version:
        raise ValueError(
            f"from_version {from_version} > to_version {to_version}"
        )
    # Versions are consecutive (each commit's parent is the previous
    # version); the diff for v needs both v's manifest and its parent's,
    # so every manifest in [from_version, to_version] must be retained
    # (from_version == 0 means "since before version 1" — no parent).
    needed = set(range(max(from_version, 1), to_version + 1))
    missing = needed - set(versions)
    if missing:
        raise FileNotFoundError(
            f"versions {sorted(missing)} not retained at {path} (have "
            f"{versions}) — change feed needs every manifest in range; "
            "raise from_version above the vacuum cutoff"
        )
    # exclusive lower bound: from_version's manifest is needed only as
    # the parent of the first diff
    want = [v for v in sorted(needed) if v > from_version]
    target_man = load_manifest(path, to_version)
    out_schema = StructType.fromJson(target_man["schema"])
    # Columns align by IDENTITY through the target's rename lineage:
    # physical names are frozen (see _colmap), so the TARGET's map is
    # the correct logical→physical translation for every in-lineage
    # file, however old. A column whose identity was reset (full
    # overwrite) under a reused logical name reads null-filled from
    # pre-reset commits — field-identity semantics, not name reattach.
    tmap = _colmap(target_man) or None
    tinv = {p: l for l, p in (tmap or {}).items()}
    # defaults resolve PER VERSION (unlike the identity map): an
    # untargeted compact MATERIALIZES them and sheds the entries, so
    # the target may carry none while in-range history still fills —
    # each commit's frames read under its own manifest's defaults,
    # reproducing exactly what that version's queryable reads showed
    # (and making the compact's delete/insert pairs cancel).
    tdefaults = target_man.get("defaults")
    target_schema_json = json.dumps(target_man["schema"], sort_keys=True)
    changes: list[DataFrame] = []
    # Plan-growth bound: the per-commit loop below builds one DataFrame
    # pair per commit, so a feed spanning thousands of commits would
    # explode the driver-side plan O(commits). The overwhelmingly
    # common commit in a long history is a pure APPEND at the current
    # schema — those are BATCHED into one multi-path scan plus a
    # broadcast (file → commit-version) lookup join, collapsing N
    # append commits into a single scan node. Only rewrite commits
    # (which need their per-commit exceptAll cancellation) and commits
    # written under an older schema (whose files can't be read with
    # the target schema directly) stay on the per-commit path, so the
    # plan grows with the number of UNUSUAL commits, not the history
    # length. The lookup is keyed by file RELPATH, not commit dir —
    # a restore can re-add a file minted by an earlier in-range commit,
    # and that row must carry the restore's version, not the original's.
    def _scoped(man: dict) -> set[str]:
        if not partitions:
            return set(man["files"])
        return set(_partition_pruned_files(man, partitions))

    if partitions:
        # validate the filter keys once, loudly (a typo'd column must
        # never read as "no changes")
        _partition_pruned_files(target_man, partitions)
    batched: list[tuple[str, int]] = []
    for v in want:
        man = load_manifest(path, v)
        parent = man["parent"]
        pfiles: set[str] = set()
        pdvs: list[str] = []
        peqs: list[dict] = []
        pseq: dict = {}
        pman = None
        if parent is not None:
            pman = load_manifest(path, parent)
            pfiles = _scoped(pman)
            pdvs = pman.get("dv_files") or []
            peqs = pman.get("eqs") or []
            pseq = pman.get("seq") or {}
        cdvs = man.get("dv_files") or []
        ceqs = man.get("eqs") or []
        cseq = man.get("seq") or {}
        files = _scoped(man)
        added = sorted(files - pfiles)
        removed = sorted(pfiles - files)
        # ADD COLUMN WITH DEFAULT moves no files but retroactively
        # changes every pre-existing row of the column (NULL →
        # default). Emit that change exactly: diff the WHOLE carried
        # state, parent-side read under the parent's defaults, child
        # side under the commit's — exceptAll cancels every untouched
        # row (files that physically store the column, columns whose
        # fill didn't change), leaving precisely the retroactive
        # delete(old image)+insert(new image) pairs. Costs one read of
        # the pre-add surface at feed time — the honest price of
        # replaying a rows-changing commit.
        retro_defaults = bool(
            set(man.get("defaults") or {})
            - set((pman or {}).get("defaults") or {})
        )
        if retro_defaults:
            added = sorted(files)
            removed = sorted(pfiles)
        dv_same = set(cdvs) == set(pdvs)
        eq_same = {e["path"] for e in ceqs} == {e["path"] for e in peqs}
        # the batched fast path reads added files with NO dv masking —
        # safe only when the commit carries no tombstones at all. With
        # outstanding DVs, a restore can re-add an OLD file some
        # carried sidecar targets (fresh uuid-dir appends can never be
        # targeted, but structurally proving "not a re-add" costs more
        # than the per-commit path it would save), and the unmasked
        # batched read would resurrect its dead rows as inserts. The
        # EQUALITY-delete analog: the entry set must be unchanged (a
        # changed set implies row deletes/resurrections this commit)
        # AND no carried entry may apply to an added file (a restore
        # can re-add a file older than a carried entry — its key-
        # masked rows must not stream; fresh appends carry the
        # commit's own sequence and are never applicable).
        if (
            not removed
            and dv_same
            and not cdvs
            and eq_same
            and not _eq_affected_files(man, added)
            and json.dumps(man["schema"], sort_keys=True) == target_schema_json
            and man.get("partition_cols") == target_man.get("partition_cols")
            # every ADDED file must encode the target layout in its
            # DIRECTORIES: a restore can re-add a file written before a
            # layout evolution (snapshot_set_layout) whose partition
            # column lives in its data pages — the flat read's relpath
            # lookup would null-fill it (silent feed corruption; the
            # per-commit path reads it from the pages correctly)
            and not _files_not_encoding(
                target_man,
                dict.fromkeys(_manifest_partition_cols(target_man) or ()),
                added,
            )
            and (man.get("defaults") or None) == (tdefaults or None)
            and (
                not tdefaults
                or _flat_readable(
                    spark, path, added,
                    _phys_fields(out_schema, tmap or {}),
                    _manifest_partition_cols(target_man) or [],
                    must_have=set(tdefaults),
                )
            )
        ):
            batched.extend((f, v) for f in added)
            continue
        target_pcols = _manifest_partition_cols(target_man)
        # Deletion-vector deltas on files present on BOTH sides: new
        # tombstones are row DELETES; tombstones that vanished (a
        # restore to a pre-delete state) RESURRECT their rows as
        # inserts. Reads are masked by the matching side's DV set —
        # parent's for what was live before, the commit's for what is
        # live now — which also makes equivalent-tombstone swaps
        # (delete, restore past it, delete again) cancel to zero.
        # When the retroactive-defaults override expanded added/removed
        # to the WHOLE carried state, the full-state exceptAll diff
        # below — each side read under its own dv/eq masks — already
        # yields exactly the net row changes, including any tombstones
        # this commit added or dropped. Running the dv/eq delta legs
        # too would emit those same rows a second time at the same
        # _commit_version (e.g. restore-forward across an
        # add-with-default that also carries a DV), breaking the feed's
        # exact bag-semantics contract. Skip them by emptying `common`.
        common = set() if retro_defaults else (files & pfiles)
        ptgts = pman.get("dv_targets") if parent is not None else None
        for (
            delta_dvs, mask_dvs, mask_tgts, mask_eq, mask_seq,
            mask_defaults, ctype,
        ) in (
            # masks are the side the CONSUMER holds: rows already dead
            # there (position OR key form) must not re-emit
            (sorted(set(cdvs) - set(pdvs)), pdvs, ptgts, peqs, pseq,
             (pman or {}).get("defaults"), "delete"),
            (
                sorted(set(pdvs) - set(cdvs)),
                cdvs,
                man.get("dv_targets"),
                ceqs,
                cseq,
                man.get("defaults"),
                "insert",
            ),
        ):
            if not delta_dvs or not common:
                continue
            ent = _sidecar_df(spark, path, delta_dvs, list(_DV_COLS))
            aff = sorted(
                common
                & {r["_dv_file"] for r in ent.select("_dv_file").distinct().collect()}
            )
            if not aff:
                continue
            rows = _read_file_list(
                spark, path, aff, out_schema,
                partition_cols=target_pcols,
                dv_files=sorted(mask_dvs), row_ids=True,
                dv_targets=mask_tgts,
                eq_entries=mask_eq, file_seq=mask_seq,
                colmap=tmap,
                defaults=mask_defaults,
            ).join(ent, list(_DV_COLS), "left_semi")
            changes.append(
                rows.drop(*_DV_COLS)
                .withColumn("_change_type", F.lit(ctype))
                .withColumn("_commit_version", F.lit(v))
            )
        # EQUALITY-delete deltas on common files. An ADDED entry
        # (upsert_eq/delete_eq, or a restore back TO an eq-masked
        # state) deletes the rows it newly masks: rows of its
        # applicable files that were visible to the PARENT (mask:
        # parent's dvs + parent's eq set) and match its keys — minus
        # rows in dv entries the same commit ADDED (those are the
        # dv-added leg's to report). A REMOVED entry (restore past an
        # upsert) resurrects: rows visible under the CHILD's full
        # state that match its keys — minus rows in dv entries the
        # commit REMOVED (the dv-removed leg's). Entries process
        # sequentially with processed ones appended to the mask, so a
        # row matching two entries emits once. resolve_eq commits
        # cancel to zero through these same masks (the new dvs cover
        # exactly the removed entries' rows), and a restore swapping
        # position masks back to key masks cancels symmetrically — no
        # op trust needed anywhere.
        cpaths = {e["path"] for e in ceqs}
        ppaths = {e["path"] for e in peqs}
        eq_added = [e for e in ceqs if e["path"] not in ppaths]
        eq_removed = [e for e in peqs if e["path"] not in cpaths]
        if common and (eq_added or eq_removed):

            def _keys_df(e):
                # sidecar columns are physical; the frames they join
                # are logical — alias through the target's inverse map
                kdf = _sidecar_df(spark, path, [e["path"]], e["keys"])
                return kdf.select(
                    *[F.col(k).alias(tinv.get(k, k)) for k in e["keys"]]
                )

            def _keys_of(e):
                return [tinv.get(k, k) for k in e["keys"]]

            def _dv_entry_df(paths):
                if not paths:
                    return None
                return _sidecar_df(spark, path, paths, list(_DV_COLS))

            added_dv_ent = (
                _dv_entry_df(sorted(set(cdvs) - set(pdvs)))
                if eq_added
                else None
            )
            mask = list(peqs)
            for e in sorted(eq_added, key=lambda e: (e["seq"], e["path"])):
                aff = sorted(
                    f for f in common if pseq.get(f, 0) < e["seq"]
                )
                if aff:
                    rows = _read_file_list(
                        spark, path, aff, out_schema,
                        partition_cols=target_pcols,
                        dv_files=sorted(pdvs) or None,
                        dv_targets=ptgts,
                        row_ids=True,
                        eq_entries=mask, file_seq=pseq,
                        colmap=tmap,
                        defaults=(pman or {}).get("defaults"),
                    )
                    if added_dv_ent is not None:
                        rows = rows.join(
                            added_dv_ent, list(_DV_COLS), "left_anti"
                        )
                    rows = rows.drop(*_DV_COLS).join(
                        _keys_df(e), _keys_of(e), "left_semi"
                    )
                    changes.append(
                        rows.withColumn("_change_type", F.lit("delete"))
                        .withColumn("_commit_version", F.lit(v))
                    )
                mask = mask + [e]
            removed_dv_ent = (
                _dv_entry_df(sorted(set(pdvs) - set(cdvs)))
                if eq_removed
                else None
            )
            mask = list(ceqs)
            for e in sorted(
                eq_removed, key=lambda e: (e["seq"], e["path"])
            ):
                aff = sorted(
                    f for f in common if cseq.get(f, 0) < e["seq"]
                )
                if aff:
                    rows = _read_file_list(
                        spark, path, aff, out_schema,
                        partition_cols=target_pcols,
                        dv_files=sorted(cdvs) or None,
                        dv_targets=man.get("dv_targets"),
                        row_ids=True,
                        eq_entries=mask, file_seq=cseq,
                        colmap=tmap,
                        defaults=man.get("defaults"),
                    )
                    if removed_dv_ent is not None:
                        rows = rows.join(
                            removed_dv_ent, list(_DV_COLS), "left_anti"
                        )
                    rows = rows.drop(*_DV_COLS).join(
                        _keys_df(e), _keys_of(e), "left_semi"
                    )
                    changes.append(
                        rows.withColumn("_change_type", F.lit("insert"))
                        .withColumn("_commit_version", F.lit(v))
                    )
                mask = mask + [e]
        ins = _read_file_list(
            spark, path, added, out_schema, partition_cols=target_pcols,
            dv_files=sorted(cdvs),
            dv_targets=man.get("dv_targets"),
            eq_entries=ceqs, file_seq=cseq,
            colmap=tmap,
            defaults=man.get("defaults"),
        )
        if removed:
            dele = _read_file_list(
                spark, path, removed, out_schema,
                partition_cols=target_pcols,
                # the PARENT's tombstones: consumers hold the parent
                # state, so rows already dead there must not re-delete
                dv_files=sorted(pdvs),
                dv_targets=ptgts,
                eq_entries=peqs, file_seq=pseq,
                colmap=tmap,
                defaults=(pman or {}).get("defaults"),
            )
            # cancel rewritten-but-unchanged rows (bag semantics)
            ins, dele = ins.exceptAll(dele), dele.exceptAll(ins)
            changes.append(
                dele.withColumn("_change_type", F.lit("delete")).withColumn(
                    "_commit_version", F.lit(v)
                )
            )
        if added:
            changes.append(
                ins.withColumn("_change_type", F.lit("insert")).withColumn(
                    "_commit_version", F.lit(v)
                )
            )
    if batched:
        # One scan over every batched commit's files, shared with the
        # long-history read path (``_read_file_list_flat``): partition
        # values and the commit version ride in the broadcast relpath
        # lookup, and a relpath re-added by an in-range restore is read
        # once and fanned out per version by the join.
        ins = _read_file_list_flat(
            spark,
            path,
            [f for f, _ in batched],
            _phys_fields(out_schema, tmap or {}),
            _manifest_partition_cols(target_man) or [],
            versions=[v for _, v in batched],
        )
        changes.append(
            ins.select(
                *[
                    F.col((tmap or {}).get(f.name, f.name)).alias(f.name)
                    for f in out_schema.fields
                ],
                F.lit("insert").alias("_change_type"),
                F.col("_commit_version"),
            )
        )
    if not changes:
        empty = local_frame(spark, [], out_schema)
        return empty.withColumn(
            "_change_type", F.lit("").cast("string")
        ).withColumn("_commit_version", F.lit(0).cast("int"))
    df = changes[0]
    for c in changes[1:]:
        df = df.unionByName(c)
    return df


def snapshot_restore(
    spark: SparkSession, path: str, version: int
) -> int:
    """Roll the table back to ``version`` — published as a NEW commit
    whose file list is the old version's, so the rollback is itself
    versioned (undoable, conflict-checked, visible in history) and
    costs zero data movement: manifests reference immutable files, so
    restoring is re-listing them. The restored version must still be
    retained (vacuum drops old manifests); the change feed reports the
    rollback as the exact delete+insert set any consumer needs.
    """
    versions = list_versions(path)
    if version not in versions:
        raise FileNotFoundError(
            f"version {version} not present at {path} (have {versions})"
        )
    man = load_manifest(path, version)
    latest = versions[-1]
    # deliberately NO same-layout guard (round 9): the commit below
    # republishes the restored version's own partition_cols alongside
    # its whole state, so restoring across a snapshot_set_layout is
    # self-consistent — it rolls the layout back too, and every reader
    # resolves layouts per version (per-file, for mixed histories)
    return _commit(
        spark,
        path,
        man["files"],
        StructType.fromJson(man["schema"]),
        "restore",
        latest,
        extra={"restored_from": version},
        partition_cols=_manifest_partition_cols(man),
        # the RESTORED state whole, never the abandoned head's: its
        # tombstones (the head's may target exactly the files being
        # restored), its equality-delete plane with the files' added-at
        # sequences (re-stamping a re-added file would detach it from
        # the entries that masked its rows), its row counts and stats
        # (no footer re-read or rescan on a zero-data-movement op), its
        # column map and defaults (the head's alters may postdate it)
        source=man,
    )


def snapshot_versions(spark: SparkSession, path: str) -> list[dict]:
    """Version history, oldest first: version/op/parent/n_files."""
    out = []
    for v in list_versions(path):
        man = load_manifest(path, v)
        out.append(
            {
                "version": v,
                "op": man["op"],
                "parent": man["parent"],
                "n_files": len(man["files"]),
            }
        )
    return out


def snapshot_files(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    _man: dict | None = None,
) -> DataFrame:
    """The table's FILES metadata as a queryable DataFrame (the
    ``table.files`` / ``DESCRIBE DETAIL`` surface every lakehouse
    exposes): one row per live data file with its size, partition
    values, tombstone flag, and per-column min/max stats as a JSON
    string. Built from the manifest + one filesystem status per file
    (metadata-only, no data reads) — and DISTRIBUTED once built, so
    operational queries over a million-file table ("bytes per
    partition", "files with stale stats", "tombstoned share") run as
    ordinary Spark SQL instead of a driver loop."""

    if _man is not None:
        man = _man
    else:
        _, man = _manifest_at(path, version)
    root = _root(path)
    stats = man.get("stats") or {}
    tgts = set(man.get("dv_targets") or ())
    frows = man.get("rows") or {}
    eq_aff = set(_eq_affected_files(man))
    # stats are keyed by on-disk (physical) names; present LOGICAL
    inv = {p: l for l, p in _colmap(man).items()}
    rows = []
    for f in man["files"]:
        pv = partition_values(f)
        rows.append(
            (
                f,
                # physical footer row count from the manifest (null for
                # files predating row tracking — see _live_row_total)
                frows.get(f),
                json.dumps(pv, sort_keys=True) if pv else None,
                f in tgts,
                f in eq_aff,
                json.dumps(
                    {inv.get(c, c): v for c, v in stats[f].items()},
                    sort_keys=True,
                )
                if f in stats
                else None,
            )
        )
    base = local_frame(
        spark,
        rows,
        "file string, rows long, partition_values string, "
        "has_tombstones boolean, has_eq_deletes boolean, stats string",
    )

    # file sizes come from the EXECUTORS (Arrow-batched pyarrow
    # file-info, one batched call per partition) — a serial driver
    # getFileStatus loop is one object-store RPC per file, hours at
    # 10^6 files. Everything else above is already in the manifest.
    from pyspark.sql.functions import pandas_udf

    sizer = _make_batch_sizer()

    @pandas_udf("long")
    def _sizes(paths: pd.Series) -> pd.Series:
        import pandas as pd

        return pd.Series(sizer(paths.tolist()), dtype="int64")

    return base.select(
        "file",
        _sizes(F.concat(F.lit(f"{root}/"), F.col("file"))).alias("bytes"),
        "rows",
        "partition_values",
        "has_tombstones",
        "has_eq_deletes",
        "stats",
    )


def snapshot_partitions(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Partition-level metadata table (the ``table.partitions`` /
    ``SHOW PARTITIONS`` surface): one row per distinct
    partition-directory tuple of the CURRENT layout with file count,
    physical row count, byte total, and tombstone presence — built on
    ``snapshot_files`` (manifest + executor-batched file stats, no
    data reads) and aggregated AS a Spark plan, so it stays distributed
    at a million files.

    Values are the DIRECTORY strings (the same domain every partition
    predicate uses); the Hive null partition surfaces as NULL. After a
    layout evolution, files not yet migrated (their directories don't
    encode the current layout) group under ``encodes_layout = false``
    with NULL partition values — visibly unmigrated rather than
    silently misbinned; a compact moves them into their real groups.
    ``rows`` is the PHYSICAL footer total (NULL when any grouped file
    predates row tracking); live-row exactness under tombstones is
    ``snapshot_agg(partitions=...)``'s job."""
    version, man = _manifest_at(path, version)
    pcols = _manifest_partition_cols(man) or []
    clash = sorted(
        set(pcols)
        & {
            "n_files", "rows", "bytes", "has_tombstones",
            "has_eq_deletes", "encodes_layout",
        }
    )
    if clash:
        raise ValueError(
            f"partition column(s) {clash} collide with this view's "
            "metric columns — query snapshot_files and aggregate "
            "yourself, or rename the column"
        )
    # ONE manifest load: snapshot_files reuses it (legacy full-JSON
    # manifests bypass the state cache, so a second load would re-read
    # and re-parse the whole document on the driver)
    files = snapshot_files(spark, path, version, _man=man)
    m = F.from_json(
        F.coalesce(F.col("partition_values"), F.lit("{}")),
        "map<string,string>",
    )
    # internal names are prefixed so a partition column named like a
    # snapshot_files column (rows, bytes, ...) can never clobber the
    # metric inputs before aggregation
    pt = {c: f"__pt_{i}" for i, c in enumerate(pcols)}
    if pcols:
        enc = None
        for c in pcols:
            has = F.map_contains_key(m, F.lit(c))
            enc = has if enc is None else (enc & has)
        files = files.withColumn("__pt_enc", enc)
        for c in pcols:
            files = files.withColumn(
                pt[c],
                F.when(F.col("__pt_enc"), F.element_at(m, F.lit(c))),
            )
    else:
        files = files.withColumn("__pt_enc", F.lit(True))
    keys = [pt[c] for c in pcols] + ["__pt_enc"]
    agg = files.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_files"),
        # NULL when ANY grouped file predates row tracking — a partial
        # sum would silently undercount
        F.when(
            F.count("rows") == F.count(F.lit(1)), F.sum("rows")
        ).alias("rows"),
        F.sum("bytes").alias("bytes"),
        F.max("has_tombstones").alias("has_tombstones"),
        F.max("has_eq_deletes").alias("has_eq_deletes"),
    )
    out = agg.select(
        *[F.col(pt[c]).alias(c) for c in pcols],
        F.col("__pt_enc").alias("encodes_layout"),
        "n_files", "rows", "bytes", "has_tombstones", "has_eq_deletes",
    )
    return out.orderBy(
        *[F.col(c).asc_nulls_last() for c in pcols + ["encodes_layout"]]
    )


_AGG_FUNCS = ("min", "max", "sum", "count")


def _agg_normalize(aggs) -> list:
    """Validate/normalize ``snapshot_agg``'s ``aggs`` argument:
    ``[(func, col)]`` with lowercased funcs, or a loud ValueError."""
    norm: list[tuple[str, str]] = []
    for a in aggs:
        try:
            func, col = a
        except Exception:
            raise ValueError(f"each agg must be (func, col); got {a!r}")
        fl = str(func).lower()
        if fl not in _AGG_FUNCS:
            raise ValueError(
                f"agg func must be one of {_AGG_FUNCS}; got {func!r}"
            )
        if col == "*" and fl != "count":
            raise ValueError(
                f"'*' is only valid under count; got {func!r}('*')"
            )
        norm.append((fl, col))
    if not norm:
        raise ValueError("aggs must name at least one aggregate")
    return norm


def _agg_validate_types(norm, ftypes) -> None:
    from pyspark.sql.types import NumericType

    for fl, c in norm:
        if c != "*" and c not in ftypes:
            raise ValueError(
                f"unknown column {c!r} (have {sorted(ftypes)})"
            )
        if fl == "sum" and not isinstance(ftypes[c], NumericType):
            raise ValueError(
                f"SUM needs a numeric column; {c!r} is "
                f"{ftypes[c].simpleString()}"
            )


def _agg_ent(man: dict, f: str, col: str):
    return (man.get("stats") or {}).get(f, {}).get(_phys(man, col))


def _dir_decode_types(for_sum: bool = False):
    """The ONE list of partition-key types whose directory strings
    decode back to the Spark-typed value faithfully — shared by the
    proven gate, the grouped planner's key check, and the decoder so
    they can never drift. Excluded on purpose: float/double (Java and
    Python render doubles differently; NaN never equals itself) and
    tz-ful TimestampType (directories are written in the SESSION
    timezone while collect() converts through the driver's OS
    timezone — under a non-default session tz the same instant would
    decode and collect to different naive datetimes, splitting groups
    and mis-combining MIN/MAX; TimestampNTZ has no conversion and
    stays). ``for_sum`` narrows to types where value × rows is exact
    multiplication."""
    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DateType,
        DecimalType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
        TimestampNTZType,
    )

    integral = (ByteType, ShortType, IntegerType, LongType)
    if for_sum:
        return integral + (DecimalType,)
    return integral + (
        StringType, BooleanType, DecimalType, DateType,
        TimestampNTZType,
    )


def _agg_dir_value(man: dict, f: str, col: str, ftypes):
    """A partition column's value for file ``f``, decoded from its
    directory string (None for the Hive null partition). Callers only
    reach this for files the proven gate already decode-checked."""
    s = partition_values(f).get(_phys(man, col))
    return (
        None if s is None else _decode_partition_string(s, ftypes[col])
    )


def _agg_part_provable(man, col, ftypes, base_ok, rows_map, kind):
    """Files whose partition DIRECTORY proves aggregates over
    partition column ``col``: the directory value IS the column value
    for every row, so a full-match file with a known row count
    answers MIN/MAX (the value, when rows exist), COUNT (rows or 0
    for the null partition), and SUM (value × rows — integral and
    Decimal only: exact multiplication; float repeated-addition order
    cannot be reproduced) with zero I/O. ``kind`` is ``minmax`` /
    ``sum`` / ``count``. MIN/MAX/SUM require a decodable type
    (``_dir_decode_types``) and a parseable directory; COUNT only
    needs null-vs-non-null, which the Hive null marker decides for
    EVERY key type — a COUNT over a double-partitioned key still
    answers with zero I/O."""
    import decimal

    if kind != "count" and not isinstance(
        ftypes[col], _dir_decode_types(for_sum=kind == "sum")
    ):
        return set()
    phys = _phys(man, col)
    ok = set()
    for f in base_ok:
        if f not in rows_map:
            continue  # no row count: can't weigh the value
        vals = partition_values(f)
        if phys not in vals:
            continue  # layout evolved: the value lives in-row
        if kind != "count":
            try:
                _decode_partition_string(vals[phys], ftypes[col])
            except (
                ValueError, ArithmeticError, decimal.InvalidOperation
            ):
                continue  # hand-placed undecodable directory: scan
        ok.add(f)
    return ok


def _agg_proven_sets(man, norm, ftypes, victims, full):
    """The exactness gates of the aggregate planner: per requested
    aggregate, the set of victim files whose metadata PROVABLY answers
    it — see ``snapshot_agg``'s docstring for the per-rule rationale.
    Returns ``(proven, rows_map)`` with ``proven`` aligned to
    ``norm``."""
    import math

    from pyspark.sql.types import (
        BooleanType,
        DateType,
        DecimalType,
        NumericType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    tgts = set(man.get("dv_targets") or ())
    if man.get("dv_files") and man.get("dv_targets") is None:
        tgts = set(victims)  # legacy: unknown targets — assume any
    eq_aff = set(_eq_affected_files(man, victims))
    part_cols = set(_manifest_partition_cols(man) or ())
    rows_map = man.get("rows") or {}
    base_ok = {
        f for f in victims
        if f in full and f not in tgts and f not in eq_aff
    }
    proven: list[set] = []
    for fl, col in norm:
        if fl == "count" and col == "*":
            ok = {f for f in base_ok if f in rows_map}
        elif _phys(man, col) in part_cols:
            # partition values live in DIRECTORY names, not stats —
            # and the directory is even stronger than stats: it is
            # the exact value of every row, so the freshness query
            # (MAX over the partition key) answers with zero I/O
            ok = _agg_part_provable(
                man, col, ftypes, base_ok, rows_map,
                "sum" if fl == "sum" else
                "count" if fl == "count" else "minmax",
            )
        elif fl == "count":
            ok = set()
            for f in base_ok:
                e = _agg_ent(man, f, col)
                if f in rows_map and e is not None and len(e) >= 3:
                    ok.add(f)
        elif fl == "sum":
            ok = set()
            for f in base_ok:
                e = _agg_ent(man, f, col)
                if e is None or len(e) < 4:
                    continue
                if e[3] is None and not (
                    f in rows_map and e[2] == rows_map[f]
                ):
                    # a NULL sum is only provably "zero non-null rows"
                    # when the null count says ALL rows are null —
                    # otherwise (overflow under non-ANSI, oddity) the
                    # scan decides (REVIEW r11)
                    continue
                ok.add(f)
        elif isinstance(ftypes[col], DecimalType) or not isinstance(
            ftypes[col],
            (
                NumericType,
                StringType,
                BooleanType,
                DateType,
                TimestampType,
                TimestampNTZType,
            ),
        ):
            # Decimal endpoints are outward-widened floats, and any
            # type whose stats image is a lossy str(v) — intervals,
            # binary, arrays, structs — orders wrongly as a string:
            # both prune-exact, neither answer-exact (REVIEW r11)
            ok = set()
        else:
            ok = set()
            idx = 0 if fl == "min" else 1
            for f in base_ok:
                e = _agg_ent(man, f, col)
                if e is None:
                    continue
                v = e[idx]
                if isinstance(v, float) and math.isnan(v):
                    continue  # Spark orders NaN largest; scan decides
                ok.add(f)
        proven.append(ok)
    return proven, rows_map


def _agg_combine_one(fl, col, meta, sv, man, ftypes, rows_map):
    """Combine one aggregate's metadata contributions (``meta`` — the
    fully-proven files) with its residual-scan value ``sv`` into the
    final Spark-typed Python value. The exactness invariants live in
    ``_agg_proven_sets``; this is pure arithmetic plus the
    denormalization of date/timestamp stat images."""
    import datetime
    import decimal
    import math

    from pyspark.sql.types import (
        DateType,
        TimestampNTZType,
        TimestampType,
    )

    part = col != "*" and _phys(man, col) in set(
        _manifest_partition_cols(man) or ()
    )
    if fl == "count":
        total = int(sv or 0)
        if col == "*":
            total += sum(rows_map[f] for f in meta)
        elif part:
            # the directory value applies to every row: a non-null
            # partition contributes all its rows, the null partition
            # contributes none. The RAW directory string decides —
            # null-ness needs no type decode, so COUNT answers even
            # for float/double keys
            phys = _phys(man, col)
            total += sum(
                rows_map[f]
                for f in meta
                if partition_values(f).get(phys) is not None
            )
        else:
            total += sum(
                rows_map[f] - _agg_ent(man, f, col)[2] for f in meta
            )
        return total
    if fl == "sum":
        with decimal.localcontext() as ctx:
            # wide-decimal contributions and totals combine at full
            # width — the ambient prec=28 would silently round
            # (REVIEW r11); Spark's SUM result caps at decimal(38,s)
            ctx.prec = 76
            vals = []
            for f in meta:
                if part:
                    v = _agg_dir_value(man, f, col, ftypes)
                    if v is not None and rows_map[f]:
                        vals.append(v * rows_map[f])
                    continue
                s = _agg_ent(man, f, col)[3]
                if s is not None:
                    vals.append(
                        decimal.Decimal(s) if isinstance(s, str) else s
                    )
            if sv is not None:
                vals.append(sv)
            if not vals:
                return None
            return sum(vals)
    idx = 0 if fl == "min" else 1
    if part:
        vals = [
            v
            for f in meta
            if rows_map[f]
            and (v := _agg_dir_value(man, f, col, ftypes)) is not None
        ]
        if sv is not None:
            # scan values are already Spark-typed, like the decoded
            # directory values — compare typed, no stat-image detour
            vals.append(sv)
        if not vals:
            return None
        return min(vals) if fl == "min" else max(vals)
    vals = [
        v for f in meta if (v := _agg_ent(man, f, col)[idx]) is not None
    ]
    if isinstance(sv, float) and math.isnan(sv):
        # NaN orders largest in Spark: it IS the max; for min it means
        # every scanned value was NaN — metadata values (never NaN,
        # gated in _agg_proven_sets) win when present
        if fl == "max" or not vals:
            return sv
        sv = None
    if sv is not None:
        if not vals:
            # scan-only: the Spark-typed value passes through
            # untouched (normalizing would widen Decimals)
            return sv
        vals.append(_stat_norm(sv))
    if not vals:
        return None
    r = min(vals) if fl == "min" else max(vals)
    dt = ftypes[col]
    if isinstance(dt, DateType) and isinstance(r, str):
        r = datetime.date.fromisoformat(r)
    elif isinstance(
        dt, (TimestampType, TimestampNTZType)
    ) and isinstance(r, str):
        r = datetime.datetime.fromisoformat(r)
    return r


def _decode_partition_string(s, dt):
    """A partition-directory string back to the Spark-typed Python
    value — the inverse of how Spark wrote the directory, for exactly
    the types ``snapshot_agg`` admits as group keys."""
    import datetime
    import decimal

    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DateType,
        DecimalType,
        IntegerType,
        LongType,
        ShortType,
        TimestampNTZType,
        TimestampType,
    )

    if s is None:
        return None
    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        return int(s)
    if isinstance(dt, BooleanType):
        return s == "true"
    if isinstance(dt, DecimalType):
        return decimal.Decimal(s)
    if isinstance(dt, DateType):
        return datetime.date.fromisoformat(s)
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return datetime.datetime.fromisoformat(s)
    return s  # StringType


def snapshot_agg(
    spark: SparkSession,
    path: str,
    aggs: list,
    by: list | None = None,
    version: int | None = None,
    at_timestamp=None,
    partitions: dict | None = None,
    where: dict | list | None = None,
) -> list[tuple]:
    """Exact ``SELECT [by...,] agg [, agg ...] FROM t [WHERE where]
    [GROUP BY by]`` answered from manifest metadata wherever PROVABLE,
    scanning only the files metadata cannot answer for — the one
    aggregate entry point. ``aggs`` is a list of ``(func, col)`` with
    func in min|max|sum|count (col ``"*"`` for COUNT(*) only).

    Returns SQL-shaped rows: without ``by``, exactly one tuple of
    aggregate values aligned with ``aggs``; with ``by`` (PARTITION
    columns only — their values are directory strings the manifest
    already holds), one ``(by_vals..., agg_vals...)`` tuple per live
    group, in no particular order (SQL GROUP BY order is unspecified).
    Values are what ``read_snapshot(...).agg(...)`` returns —
    Spark-typed whichever files answered from metadata. SQL NULL
    semantics: MIN/MAX/SUM over zero non-null rows are None, COUNT is
    0, and a group is emitted iff at least one live row matched.

    Scope takes ``read_snapshot``'s words: ``version`` / ``at_timestamp``
    pick the snapshot; ``partitions`` prunes at the manifest (files
    predating a layout evolution scan with the row-level residual);
    ``where`` ({col: values | Range | IS_NULL | IS_NOT_NULL}, or a DNF
    list of such dicts) admits files by stats/directories, proves files
    it matches WHOLE, and applies the exact row predicate to scanned
    files. A provably-empty ``where`` answers COUNT 0 / NULL (no
    groups under ``by``) without a scan.

    Per scoped file (a file failing its rule joins the scan — the
    result is never approximate):

    - COUNT(*): a whole-match file no equality delete applies to (a
      key may mask 0..n of its rows) answers its recorded row count
      minus its live DV tombstones — footers are read only for files
      predating row tracking. Under ``by``, tombstoned files and files
      without a recorded count scan instead (group existence needs a
      count);
    - MIN/MAX/SUM/COUNT(col) need a whole-match file free of
      tombstones and equality deletes (``_agg_proven_sets``): MIN/MAX
      from recorded endpoints, only for types whose stats image
      round-trips (Decimal endpoints are outward-widened floats;
      interval/binary/array/struct images are lossy ``str(v)``) and
      never from a NaN endpoint; SUM from the exactly-recorded
      per-file sums (a NULL sum proves "no non-null rows" only when
      the null count equals the row count); COUNT(col) from row minus
      null counts;
    - PARTITION columns answer from DIRECTORY values (the exact value
      of every row): MIN/MAX/COUNT for decodable key types, SUM as
      value × rows for integral/Decimal keys — so ``MAX(day)`` on a
      day-partitioned table, the freshness query, is zero-I/O;
    - under ``by``, a file whose directories do not encode every group
      column (pre-``snapshot_set_layout``) or whose group key cannot
      decode faithfully (``_dir_decode_types``) scans;
    - every other file joins ONE residual scan (``groupBy(by)`` under
      ``by``) computing all requested aggregates with full DV/eq
      masking, combined with the metadata contributions driver-side.
      Float SUM combines per-file partials in Python — equal up to
      addition order, like any distributed sum.

    At 100 TB this is the retention audit and the partition profile:
    ``SELECT MIN(ts), MAX(ts), SUM(bytes), COUNT(*) WHERE ts < cutoff``
    on a time-clustered table opens only the boundary files the cutoff
    intersects, and ``SELECT day, COUNT(*) ... GROUP BY day`` answers
    from a few KB of manifest."""
    if version is not None and at_timestamp is not None:
        raise ValueError("pass version OR at_timestamp, not both")
    if at_timestamp is not None:
        version = snapshot_version_at(spark, path, at_timestamp)
    _, man = _manifest_at(path, version)
    return _agg_at(spark, path, man, aggs, by, partitions, where)


def _agg_at(
    spark: SparkSession,
    path: str,
    man: dict,
    aggs: list,
    by: list | None = None,
    partitions: dict | None = None,
    where: dict | list | None = None,
) -> list[tuple]:
    """``snapshot_agg`` of an already-opened manifest."""
    norm = _agg_normalize(aggs)
    schema = StructType.fromJson(man["schema"])
    ftypes = {fld.name: fld.dataType for fld in schema.fields}
    _agg_validate_types(norm, ftypes)
    if by is not None:
        if not by:
            raise ValueError("by must name at least one partition column")
        part_cols = set(_manifest_partition_cols(man) or ())
        for c in by:
            if c not in ftypes:
                raise ValueError(
                    f"unknown column {c!r} (have {sorted(ftypes)})"
                )
            if _phys(man, c) not in part_cols:
                raise ValueError(
                    f"group column {c!r} is not a partition column — "
                    "grouped metadata aggregates need directory-provable "
                    "group values (layout: "
                    f"{sorted(part_cols) or 'unpartitioned'})"
                )
    by_cols = list(by or ())
    empty = (
        [] if by is not None
        else [tuple(0 if fl == "count" else None for fl, _ in norm)]
    )

    files = man["files"]
    conds = []
    unenc: set = set()
    if partitions:
        files, _ue = _partition_pruned_files(man, partitions, "split")
        if _ue:
            unenc = set(_ue)
            conds.append(_partition_residual_cond(partitions))
    full = set(files)
    if where is not None:
        # [] is the already-sanitized empty DNF the SQL front door
        # parses a provably-false WHERE to
        preds = where if where == [] else _sanitize_predicates(where)
        if not preds:
            return empty
        admitted, proven = _plan(man, preds)
        aset = set(admitted)
        files = [f for f in files if f in aset]
        full = set(proven)
        conds.append(_match_expr(preds))
    if not files:
        return empty
    # a file predating a layout evolution may hold rows outside the
    # partition scope: only the residual scan can answer for it
    full -= unenc
    proven, rows_map = _agg_proven_sets(man, norm, ftypes, files, full)
    if by is None:
        # ungrouped COUNT(*) subtracts each file's live tombstones
        # (``_live_row_total``), so DV'd files stay metadata-only
        eq_aff = set(_eq_affected_files(man, files))
        star = {f for f in files if f in full and f not in eq_aff}
        proven = [
            star if a == ("count", "*") else p
            for a, p in zip(norm, proven)
        ]

    phys_by = [_phys(man, c) for c in by_cols]
    decodable = all(
        isinstance(ftypes[c], _dir_decode_types()) for c in by_cols
    )
    keyof: dict = {}  # metadata-answered file -> its group key
    for f in files:
        if any(f not in p for p in proven):
            continue
        if by is None:
            keyof[f] = ()
            continue
        vals = partition_values(f)
        if (
            not decodable
            or f not in rows_map
            or any(k not in vals for k in phys_by)  # value is in-row
        ):
            continue
        try:
            # TYPED keys, decoded per the schema: directory strings
            # are not canonical (Spark trims trailing fractional-
            # second zeros — 'ts=...00.123' for a .123000 value — and
            # Decimal scales vary), so matching meta groups to scan
            # groups on strings would split a group; typed values
            # hash/compare by VALUE. An undecodable directory (hand-
            # placed file) routes to the scan rather than erroring.
            keyof[f] = tuple(
                _decode_partition_string(vals[k], ftypes[c])
                for k, c in zip(phys_by, by_cols)
            )
        except (ValueError, ArithmeticError):
            pass

    scan_rows: list = []
    scan = [f for f in files if f not in keyof]
    if scan:
        df = _scan_live(spark, path, man, scan)
        for cond in conds:
            df = df.where(cond)
        exprs = [
            getattr(F, fl)(F.lit(1) if col == "*" else F.col(col)).alias(
                f"_a{k}"
            )
            for k, (fl, col) in enumerate(norm)
        ]
        scan_rows = (
            df.groupBy(*[F.col(c) for c in by_cols]).agg(*exprs).collect()
        )

    meta_by_key: dict = {}
    for f, key in keyof.items():
        meta_by_key.setdefault(key, []).append(f)
    scan_by_key = {tuple(r[c] for c in by_cols): r for r in scan_rows}
    keys = set(meta_by_key) | set(scan_by_key) if by is not None else [()]
    out: list = []
    for key in keys:
        meta = meta_by_key.get(key, [])
        srow = scan_by_key.get(key)
        if by is not None and srow is None and not any(
            rows_map[f] for f in meta
        ):
            continue  # zero live rows: SQL emits no such group
        row = tuple(srow[c] for c in by_cols) if srow is not None else key
        for k, (fl, col) in enumerate(norm):
            sv = srow[f"_a{k}"] if srow is not None else None
            if by is None and (fl, col) == ("count", "*"):
                v = int(sv or 0) + _live_row_total(spark, path, man, meta)
            else:
                v = _agg_combine_one(fl, col, meta, sv, man, ftypes, rows_map)
            row += (v,)
        out.append(row)
    return out


def snapshot_history(spark: SparkSession, path: str) -> DataFrame:
    """The commit history as a queryable DataFrame (``DESCRIBE
    HISTORY``): version, op, parent, commit timestamp, file/DV counts,
    and the op-specific annotations (rows added/removed, DV rows,
    restore target, load provenance) as a JSON string. One manifest
    reconstruction per retained version — ascending, so the state
    cache makes the walk O(1) folds per version."""
    scalar_skip = {
        "version", "parent", "op", "committed_at_ms", "schema",
        "partition_cols", "manifest_id", "parent_id", "files",
        "dv_files", "dv_targets", "stats", "stats_cols", "rows",
        "props", "eqs", "seq", "last_seq", "colmap", "defaults",
    }
    rows = []
    for v in list_versions(path):
        man = load_manifest(path, v)
        extras = {
            k: val for k, val in man.items() if k not in scalar_skip
        }
        rows.append(
            (
                v,
                man.get("op"),
                man.get("parent"),
                man.get("committed_at_ms"),
                len(man["files"]),
                len(man.get("dv_files") or ()),
                json.dumps(extras, sort_keys=True) if extras else None,
            )
        )
    return local_frame(
        spark,
        rows,
        "version int, op string, parent int, committed_at_ms long, "
        "n_files int, n_dv_files int, extras string",
    )


def _branch_names(path: str) -> list[str]:
    """Branch names under the table's _branches/ dir (metadata-only)."""
    import pyarrow.fs as pafs

    fs, p = pa_fs(f"{path}/{BDIR}")
    return sorted(
        info.base_name
        for info in fs.get_file_info(
            pafs.FileSelector(p, allow_not_found=True)
        )
        if info.type == pafs.FileType.Directory
    )


def _tag_versions(path: str) -> dict[str, int]:
    """{tag name: pinned main-chain version} (metadata-only)."""
    import pyarrow.fs as pafs

    tdir = f"{path}/{_TDIR}"
    fs, p = pa_fs(tdir)
    out = {}
    for info in fs.get_file_info(pafs.FileSelector(p, allow_not_found=True)):
        name = info.base_name
        if name.endswith(".json"):
            doc = read_json(f"{tdir}/{name}")
            if doc is not None:  # deleted since the listing
                out[name[:-5]] = doc["version"]
    return out


def vacuum_snapshots(
    spark: SparkSession,
    path: str,
    keep_last: int | None = None,
    older_than=None,
) -> dict:
    """Drop all but the newest ``keep_last`` versions and delete data
    files no surviving version references. Time travel to dropped
    versions is gone afterwards (their manifests are removed) — run
    when no reader is pinned below the cutoff, the same contract as any
    manifest-log VACUUM. Returns {"versions_dropped", "files_deleted"}.

    ``keep_last=None`` (the default) resolves from the table's own
    ``retention.keep_last`` property when set, else 2 — so a table
    owner declares retention ONCE (``snapshot_set_properties``) and
    every maintenance job honors it without plumbing a number through
    schedulers; an explicit argument still wins.

    ``older_than`` (datetime | ISO string | epoch seconds) adds an AGE
    FLOOR: only versions committed before it are dropped, so
    "keep a week of time travel" composes with "always keep the last
    N" — a burst of commits never prematurely ages out history, and a
    quiet table never drops below ``keep_last``. Resolved from the
    table's ``retention.max_age_hours`` property when unset (both
    gates then come from declared policy).

    Branch/tag aware: TAGGED versions are never dropped regardless of
    ``keep_last`` (delete the tag first), and files referenced by ANY
    branch manifest survive — a live branch's history stays readable
    through a main-chain vacuum. Vacuum targets the TABLE; a branch ref
    is refused (``drop_branch`` removes a branch's manifests, after
    which its unshared files are ordinary vacuum candidates)."""
    if REF_SEP in path:
        raise ValueError(
            "vacuum the table root, not a branch ref — use drop_branch "
            "to retire a branch, then vacuum the table"
        )
    fs, jvm = _fs(spark, path)
    versions = list_versions(path)
    head = load_manifest(path, versions[-1]) if versions else {}
    props = head.get("props") or {}
    if keep_last is None:
        raw = props.get("retention.keep_last", "2")
        try:
            keep_last = int(raw)
        except ValueError as e:
            raise ValueError(
                f"table property retention.keep_last={raw!r} is not an "
                "int"
            ) from e
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if older_than is None and props.get("retention.max_age_hours"):
        import time as _time

        try:
            hours = float(props["retention.max_age_hours"])
        except ValueError as e:
            raise ValueError(
                "table property retention.max_age_hours="
                f"{props['retention.max_age_hours']!r} is not a number"
            ) from e
        older_than = _time.time() - hours * 3600.0
    cutoff_ms = _to_epoch_ms(older_than) if older_than is not None else None
    tagged = set(_tag_versions(path).values())
    drop = [v for v in versions[:-keep_last] if v not in tagged]
    if cutoff_ms is not None:

        # legacy manifests fall back to the manifest file's mtime, the
        # SAME clock snapshot_version_at resolves with — treating them
        # as epoch 0 would age out history the declared policy
        # promised to keep
        drop = [
            v for v in drop
            if _committed_ms(path, v, load_manifest(path, v)) < cutoff_ms
        ]
    keep = [v for v in versions if v not in drop]
    referenced: set[str] = set()
    for v in keep:
        referenced.update(_storage_refs(load_manifest(path, v)))
    for b in _branch_names(path):
        ref = f"{path}{REF_SEP}{b}"
        for bv in list_versions(ref):
            referenced.update(
                _storage_refs(load_manifest(ref, bv))
            )
    # RESCUE pass, while every ancestor manifest is still present: a
    # retained DELTA doc whose parent is about to be dropped (the
    # retention tail, or a tagged island in dropped history) could
    # never reconstruct afterwards — write its full state as a
    # checkpoint blob bound to its manifest_id. keep is ascending, so
    # a retained parent is itself made self-sufficient first and the
    # induction holds; re-vacuums are no-ops (exclusive create).
    keep_set = set(keep)
    for v in keep:
        doc = read_doc(path, v)
        if doc is None or "files" in doc or doc.get("ckpt"):
            continue  # gone, legacy full or checkpoint commit: terminal
        if doc.get("parent") in keep_set:
            continue  # parent retained (and rescued if it needed it)
        name = manifestlog.rescue_name(v, doc["manifest_id"])
        jpath = _jp(jvm, path, VDIR, name)
        if fs.exists(jpath):
            continue  # a prior vacuum already rescued this version
        man = load_manifest(path, v)
        _write_bytes_exclusive(
            fs,
            jpath,
            manifestlog.encode_checkpoint(
                manifestlog.state_from_manifest(man)
            ),
        )
    # collect the dropped versions' file refs and metadata blobs
    # BEFORE deleting any manifest: a delta doc's reconstruction may
    # need an earlier manifest that is itself being dropped
    drop_refs: dict[int, list[str]] = {}
    drop_blobs: list[str] = []
    for v in drop:
        drop_refs[v] = _storage_refs(load_manifest(path, v))
        doc = read_doc(path, v)
        if doc.get("ckpt"):
            drop_blobs.append(doc["ckpt"])
        if "manifest_id" in doc:
            drop_blobs.append(
                manifestlog.rescue_name(v, doc["manifest_id"])
            )
    deleted = 0
    for v in drop:
        for f in drop_refs[v]:
            if f not in referenced:
                if fs.delete(_jp(jvm, path, f), False):
                    deleted += 1
        fs.delete(_jp(jvm, path, VDIR, f"{v:08d}.json"), False)
    for name in drop_blobs:
        fs.delete(_jp(jvm, path, VDIR, name), False)
    # sweep now-empty commit dirs (metadata-only listing)
    ddir = _jp(jvm, path, _DDIR)
    if fs.exists(ddir):
        for st in fs.listStatus(ddir):
            it = fs.listFiles(st.getPath(), True)
            if not it.hasNext():
                fs.delete(st.getPath(), True)
    return {"versions_dropped": len(drop), "files_deleted": deleted}


def sweep_orphans(
    spark: SparkSession, path: str, grace_seconds: float = 7 * 24 * 3600
) -> dict:
    """Delete data files referenced by NO retained manifest — the
    debris of crashed commits (files written, the manifest create lost
    or never attempted: vacuum can't find them because they appear in
    no manifest at all) and of metadata-only ``drop_branch`` calls.

    The AGE GATE is the safety mechanism: every commit protocol in
    this module writes data files BEFORE claiming its manifest, so an
    unreferenced-but-younger-than-grace file may be an in-flight
    commit and is left alone. ``grace_seconds`` must exceed the
    longest plausible write-to-claim window (default: 7 days, the
    usual object-store retention posture). A commit dir whose every
    non-hidden file was orphan-deleted is removed entirely (including
    its _SUCCESS-style markers, which otherwise keep it alive through
    vacuum's empty-dir sweep).

    The referenced set spans the MAIN chain, every BRANCH chain, and —
    because tagged versions' manifests are retained by vacuum — every
    tag. Metadata-proportional driver work: one file listing of data/
    plus one manifest read per retained version. Returns
    {"files_deleted", "dirs_deleted", "files_kept_young"}."""
    import time

    if REF_SEP in path:
        raise ValueError("sweep the table root, not a branch ref")
    fs, jvm = _fs(spark, path)
    cutoff_ms_meta = (time.time() - grace_seconds) * 1000.0
    referenced: set[str] = set()
    meta_deleted = 0
    for mref in [path] + [
        f"{path}{REF_SEP}{b}" for b in _branch_names(path)
    ]:
        for v in list_versions(mref):
            referenced.update(
                _storage_refs(load_manifest(mref, v))
            )
        # checkpoint-blob debris: a commit writes its checkpoint BEFORE
        # the exclusive manifest claim, so a losing racer (or a crash
        # between blob and claim) strands a blob no manifest
        # references. Same age gate as data files — an in-flight
        # commit's just-written blob is never swept.
        meta_deleted += _sweep_ckpt_debris(spark, mref, cutoff_ms_meta)
    ddir = _jp(jvm, path, _DDIR)
    if not fs.exists(ddir):
        return {
            "files_deleted": meta_deleted,
            "dirs_deleted": 0,
            "files_kept_young": 0,
        }
    root_uri = fs.makeQualified(_jp(jvm, path)).toString().rstrip("/")
    cutoff_ms = (time.time() - grace_seconds) * 1000.0
    files_deleted = dirs_deleted = kept_young = 0
    for st in fs.listStatus(ddir):
        if not st.isDirectory():
            continue
        any_referenced = any_young = marker_young = False
        orphans = []
        it = fs.listFiles(st.getPath(), True)
        while it.hasNext():
            fst = it.next()
            p = fst.getPath().toString()
            name = p.rsplit("/", 1)[-1]
            if name.startswith("_") or name.startswith("."):
                # markers ride with their dir's fate — but their age
                # still gates marker-ONLY dirs below
                if fst.getModificationTime() > cutoff_ms:
                    marker_young = True
                continue
            rel = p[len(root_uri) + 1 :] if p.startswith(root_uri + "/") else p
            if rel in referenced:
                any_referenced = True
            elif fst.getModificationTime() > cutoff_ms:
                any_young = True
                kept_young += 1
            else:
                orphans.append(fst.getPath())
        if not any_referenced and not any_young:
            # whole commit dir is orphaned debris: remove it, markers too
            if orphans:
                fs.delete(st.getPath(), True)
                files_deleted += len(orphans)
                dirs_deleted += 1
            elif (
                not marker_young
                and st.getModificationTime() <= cutoff_ms
            ):
                # marker-only (or empty) AGED dir: a crashed commit
                # whose data files never landed. Without this branch
                # it survives both GC paths forever — vacuum's
                # empty-dir sweep sees the markers, and the orphan
                # loop above has nothing to delete.
                if fs.delete(st.getPath(), True):
                    dirs_deleted += 1
        else:
            for op in orphans:
                if fs.delete(op, False):
                    files_deleted += 1
    return {
        "files_deleted": files_deleted + meta_deleted,
        "dirs_deleted": dirs_deleted,
        "files_kept_young": kept_young,
    }


def snapshot_maintain(spark: SparkSession, path: str) -> dict:
    """One-call table maintenance, driven ENTIRELY by the table's own
    declared properties — the owner writes policy once
    (``snapshot_set_properties``) and any scheduler can run a bare
    ``snapshot_maintain`` / ``snapshot-maintain`` on every table it
    knows about without plumbing per-table knobs:

    - ``maintain.min_file_mb`` — targeted compaction: bin-pack
      partitions holding >=2 fragments below this size (rewrite cost
      ∝ fragmented bytes, see ``snapshot_compact(min_file_mb=)``).
    - ``maintain.dv_compact_files`` — consolidate deletion-vector
      sidecars once this many have accumulated AND consolidation
      would materially shrink the set (``_maybe_auto_compact_dvs``'s
      gates, applied at maintenance time instead of per-DML).
    - ``retention.keep_last`` / ``retention.max_age_hours`` — vacuum
      old versions + unreferenced files (count floor AND/OR age
      floor; both compose — see ``vacuum_snapshots``). Vacuum runs
      ONLY when the owner has declared retention: an undeclared
      policy means "keep history", never "apply a default cutoff" —
      maintenance must not be the thing that silently destroys time
      travel.
    - ``maintain.orphan_grace_hours`` — sweep crashed-commit debris
      older than the grace window (age gate per ``sweep_orphans``).
    - ``maintain.eq_resolve_entries`` — fold accumulated
      equality-delete entries into position deletion vectors once
      this many are outstanding (``snapshot_resolve_eq``), keeping
      the streaming-upsert read tax bounded.

    Every step is opportunistic: a concurrent writer winning a commit
    race skips that step for this run (the next run retries) rather
    than failing the whole sweep — maintenance never contends with
    ingest. Returns {step: result | "skipped" | "conflict"} so
    schedulers can log what actually happened. Undeclared steps cost
    nothing but one manifest read (shared, metadata-only)."""
    props = snapshot_properties(spark, path)
    report: dict = {}

    def _num(key):
        raw = props.get(key)
        if raw is None:
            return None
        try:
            return float(raw)
        except ValueError:
            raise ValueError(
                f"table property {key}={raw!r} is not a number"
            ) from None

    eq_entries_n = _num("maintain.eq_resolve_entries")
    if eq_entries_n is not None:
        # resolve FIRST, as its own conflict-tolerant step: the
        # targeted compaction below carries its unpacked files'
        # entries, which only a resolve folds
        try:
            head = load_manifest(
                path, list_versions(path)[-1]
            )
            if len(_eq_entries(head)) >= int(eq_entries_n):
                v, n = snapshot_resolve_eq(spark, path)
                report["resolve_eq"] = {"version": v, "rows": n}
            else:
                report["resolve_eq"] = "below_threshold"
        except SnapshotConflict:
            report["resolve_eq"] = "conflict"
    else:
        report["resolve_eq"] = "skipped"
    min_file_mb = _num("maintain.min_file_mb")
    if min_file_mb is not None:
        try:
            report["compact"] = {
                "version": snapshot_compact(
                    spark, path, min_file_mb=min_file_mb
                )
            }
        except SnapshotConflict:
            report["compact"] = "conflict"
    else:
        report["compact"] = "skipped"
    dv_files_n = _num("maintain.dv_compact_files")
    if dv_files_n is not None:
        try:
            _maybe_auto_compact_dvs(spark, path, int(dv_files_n))
            report["compact_dvs"] = "evaluated"
        except SnapshotConflict:  # pragma: no cover - swallowed inside
            report["compact_dvs"] = "conflict"
    else:
        report["compact_dvs"] = "skipped"
    if (
        props.get("retention.keep_last") is not None
        or props.get("retention.max_age_hours") is not None
    ):
        report["vacuum"] = vacuum_snapshots(spark, path)
    else:
        report["vacuum"] = "skipped"
    grace_h = _num("maintain.orphan_grace_hours")
    if grace_h is not None:
        report["sweep_orphans"] = sweep_orphans(
            spark, path, grace_seconds=grace_h * 3600.0
        )
    else:
        report["sweep_orphans"] = "skipped"
    return report


def _sweep_ckpt_debris(
    spark: SparkSession, path: str, cutoff_ms: float
) -> int:
    """Delete AGED ``*.ckpt.parquet`` blobs in a chain's manifest dir
    that no committed manifest references: the leavings of commit
    races lost after the blob landed (regular checkpoints are written
    pre-claim) and of superseded rescues. A kept blob is exactly one a
    retained manifest names — its own ``ckpt`` key, or the rescue name
    bound to its manifest_id."""
    root, mdir = split_ref(path)
    fs, jvm = _fs(spark, root)
    vdir = _jp(jvm, root, mdir)
    if not fs.exists(vdir):
        return 0
    live: dict[int, set[str]] = {}
    deleted = 0
    for st in fs.listStatus(vdir):
        name = st.getPath().getName()
        if not name.endswith(".ckpt.parquet"):
            continue
        if st.getModificationTime() > cutoff_ms:
            continue  # possibly an in-flight commit's blob
        try:
            v = int(name.split(".", 1)[0])
        except ValueError:
            continue
        if v not in live:
            doc = read_doc(path, v)
            names: set[str] = set()
            if doc is not None:
                if doc.get("ckpt"):
                    names.add(doc["ckpt"])
                if doc.get("manifest_id"):
                    names.add(
                        manifestlog.rescue_name(v, doc["manifest_id"])
                    )
            live[v] = names
        if name not in live[v]:
            if fs.delete(st.getPath(), False):
                deleted += 1
    return deleted


def _epoch_already_applied(
    path: str, versions: list[int], extra: dict, checked: set[int]
) -> int | None:
    """The version that already carries ``extra``'s ``(stream_id,
    epoch)`` provenance, or None — the exactly-once guard of every
    stream/upsert writer. Incremental across retries via ``checked``
    (versions already inspected)."""
    sid, epoch = extra.get("stream_id"), extra.get("epoch")
    if sid is None or epoch is None:
        return None
    for v in versions:
        if v in checked:
            continue
        checked.add(v)
        man = load_manifest(path, v)
        if man.get("stream_id") == sid and man.get("epoch") == epoch:
            return v
    return None


def stream_snapshot_append(
    spark: SparkSession,
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    stream_id: str,
    partition_cols: list[str] | None = None,
    retries: int = 3,
    auto_compact_rows: int | None = None,
    auto_compact_trigger: int = 16,
) -> None:
    """Land a stream into a snapshot table, one APPEND VERSION per
    micro-batch, exactly once across checkpoint replays.

    ``auto_compact_rows`` opts into small-file maintenance: after each
    batch commit, once ``auto_compact_trigger`` fragments with fewer
    recorded rows than this have piled up, a TARGETED compaction
    bin-packs them (carried files untouched, cadence-gated — see
    ``_maybe_auto_compact_small``). Streaming ingest is the canonical
    small-file generator; without maintenance a month of micro-batches
    is 10^5 tiny files and every read pays the open() storm.
    Downstream feed readers should use ``onNonAppend="verify"`` (the
    compact commits are row-neutral with recorded totals).

    foreachBatch is at-least-once; exactly-once falls out of making the
    apply idempotent: every stream commit records ``(stream_id, epoch)``
    in its manifest, and a replayed epoch that already appears in the
    version history is skipped (its earlier data files are already
    published; the replay's orphan dir is invisible to readers). The
    same idempotent-apply ∘ at-least-once composition as
    ``streaming/dedup_ingest.py`` — but here the publish step is the
    atomic manifest create, so a crash ANYWHERE leaves either the old
    history or the old history plus one complete version, never a
    partial table.
    """

    def apply_batch(batch: DataFrame, epoch: int) -> None:
        if batch.isEmpty():
            return
        prov = {"stream_id": stream_id, "epoch": epoch}
        checked: set[int] = set()
        head = list_versions(path)
        if _epoch_already_applied(path, head, prov, checked):
            return
        cmap, dflts = None, None
        if head:
            _hm = load_manifest(path, head[-1])
            cmap = _colmap(_hm) or None
            dflts = _hm.get("defaults")  # captured-tuple rule
        _, new_files = _write_commit_files(
            batch, path, partition_cols, colmap=cmap
        )
        # transaction retry (default on for streams: concurrent batch
        # writers or a second stream on the same table are the NORM,
        # not an error): the batch's files are written once; each
        # retry re-derives the head and recommits metadata-only
        for attempt in range(retries + 1):
            versions = list_versions(path)
            # re-check the exactly-once guard against manifests that
            # appeared since the last look: the conflicting commit may
            # BE this epoch, landed by a replayed/zombie instance of
            # this same stream while we were writing files or retrying
            # — recommitting would double the batch. Our orphan commit
            # dir stays invisible to readers (GC reclaims it later).
            if _epoch_already_applied(path, versions, prov, checked):
                return
            parent = versions[-1] if versions else None
            files = new_files
            if parent is not None:
                pman = load_manifest(path, parent)
                _require_same_layout(pman, partition_cols, "stream_append")
                files = sorted(pman["files"] + new_files)
            try:
                _commit(
                    spark,
                    path,
                    files,
                    batch.schema,
                    "stream_append",
                    parent,
                    extra=prov,
                    partition_cols=partition_cols,
                    # the (schema, colmap, defaults) TUPLE captured at
                    # file-write time: inheriting the retry-time head's
                    # alter state under this stale schema would let
                    # _commit's pruning destroy a concurrent rename's
                    # mapping or a defaulted column's fill — permanent
                    # silent nulls. Committing the captured tuple is
                    # ordinary newest-writer-wins schema semantics.
                    colmap=cmap,
                    defaults=dflts,
                )
                _maybe_auto_compact_small(
                    spark, path, auto_compact_rows,
                    trigger_files=auto_compact_trigger,
                )
                return
            except SnapshotConflict:
                if attempt == retries:
                    raise

    (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _footer_row_total(spark: SparkSession, root: str, files: list[str]) -> int:
    """Sum of parquet-footer ``num_rows`` over manifest relpaths —
    metadata-only, distributed past a small count (the per-file
    variant ``_rows_for_files`` holds the single copy of the footer
    logic; a serial driver loop here would stall a large compaction
    for hours at 10^5+ sequential object-store opens)."""
    return sum(_rows_for_files(spark, root, files).values())


def _rows_for_files(
    spark: SparkSession,
    root: str,
    files: list[str],
    missing_ok: bool = False,
) -> dict[str, int]:
    """Per-file parquet-footer row counts (metadata-only, never data
    pages). Small lists read footers on the driver; past a threshold
    the opens fan out to executors (same shape as ``_file_bytes_total``
    — a serial loop is one object-store round-trip per file).

    ``missing_ok=True`` SKIPS files whose footer cannot be found
    instead of raising — used by ``_commit`` to keep forged metadata
    histories (tests that commit synthetic relpaths) valid: the
    manifest ``rows`` map is legally partial and readers self-heal
    from footers. Any error other than not-found still propagates —
    throttling must never silently degrade the map."""
    if not files:
        return {}

    def _count(uri: str) -> int | None:
        try:
            return parquet_num_rows(uri)
        except FileNotFoundError:
            if missing_ok:
                return None
            raise

    uris = [f"{root}/{f}" for f in files]
    if len(files) <= 256:
        counted = map(_count, uris)
    else:
        n_slices = min(
            len(uris), max(2, spark.sparkContext.defaultParallelism)
        )
        counted = (
            spark.sparkContext.parallelize(uris, n_slices)
            .map(_count)
            .collect()
        )
    return {f: n for f, n in zip(files, counted) if n is not None}


def _live_row_total(
    spark: SparkSession, path: str, man: dict, files: list[str]
) -> int:
    """Live row total of ``files`` from metadata alone: the manifest's
    recorded per-file counts, footer-reading ONLY the gap (legacy
    history; fail-loud, a referenced file that cannot be opened is
    corruption, never a silent under-count), minus the tombstones
    targeting them. Sidecars are read only when one of ``files`` is a
    DV target (every file, for a legacy manifest with no recorded
    targets)."""
    root = _root(path)
    rows = man.get("rows") or {}
    total = sum(rows[f] for f in files if f in rows)
    total += _footer_row_total(
        spark, root, [f for f in files if f not in rows]
    )
    tgts = man.get("dv_targets")
    if tgts is not None:
        tgts = set(tgts)
        tomb = [f for f in files if f in tgts]
    else:
        tomb = files
    return total - _dv_entry_count(spark, root, man.get("dv_files"), tomb)


def _make_batch_sizer():
    """Factory for the batched file-size function behind every file
    stat (``_file_sizes``, ``_sidecar_df``, ``snapshot_files``), run on
    the driver for small lists and on executors past the fan-out
    threshold: ONE FileSystem
    construction and ONE batched ``get_file_info`` call per batch of
    URIs (a per-file ``from_uri`` rebuilds the object-store client —
    the RPC storm the fan-out exists to avoid, just moved). The
    fs-local path prefix is derived from ``pa_fs``'s own resolution
    of the first URI, which handles authority-bearing schemes (HDFS
    ``hdfs://nn:8020/x`` → ``/x``) and bucket-in-path ones (S3
    ``s3://b/k`` → ``b/k``) alike — naive ``scheme://`` stripping
    breaks the former. Returned as a closure so Spark pickles it by
    value (``manifestlog`` ships by value too: no package import
    needed on untuned workers)."""

    def batch_sizes(uris: list) -> list:
        uris = list(uris)
        if not uris:
            return []
        first = uris[0]
        fs, first_path = pa_fs(first)
        off = len(first) - len(first_path)
        infos = fs.get_file_info([u[off:] for u in uris])
        out = []
        for u, info in zip(uris, infos):
            if info.size is None:
                # a NotFound info would otherwise surface as an opaque
                # int64-cast failure downstream
                raise FileNotFoundError(f"cannot stat {u}")
            out.append(info.size)
        return out

    return batch_sizes


def _file_bytes_total(
    spark: SparkSession, root: str, files: list[str]
) -> int:
    """Total on-disk bytes of manifest relpaths (``_file_sizes`` holds
    the single copy of the stat logic: driver below a threshold,
    batched executor fan-out beyond — a serial driver loop is one
    object-store RPC per file, hours at the 10^5–10^6-file design
    point)."""
    return sum(_file_sizes(spark, root, files).values())


def _file_sizes(
    spark: SparkSession, root: str, files: list[str]
) -> dict[str, int]:
    """Per-file on-disk bytes of manifest relpaths — the aligned
    variant of ``_file_bytes_total`` for callers that need each size
    (targeted compaction's victim selection). Same scale shape: driver
    stats up to a small count, batched executor fan-out beyond."""
    if not files:
        return {}
    uris = [f"{root}/{f}" for f in files]
    sizer = _make_batch_sizer()
    if len(files) <= 256:
        return dict(zip(files, sizer(uris)))
    n_slices = min(len(uris), max(2, spark.sparkContext.defaultParallelism))
    sizes = (
        spark.sparkContext.parallelize(uris, n_slices)
        .mapPartitions(lambda it: sizer(list(it)))
        .collect()
    )
    return dict(zip(files, sizes))


def _storage_refs(man: dict) -> list[str]:
    """EVERY storage relpath a manifest references — data files plus
    deletion-vector sidecars (deleting a retained version's DVs would
    RESURRECT its deleted rows) plus equality-delete key sidecars
    (same hazard, key form). The single definition all three GC paths
    (vacuum, orphan sweep, branch reclaim) share: a new sidecar kind
    added here is automatically protected everywhere."""
    return (
        man["files"]
        + (man.get("dv_files") or [])
        + [e["path"] for e in man.get("eqs") or ()]
    )


def _dv_entry_count(
    spark: SparkSession,
    root: str,
    dv_files: list[str] | None,
    files: list[str],
) -> int:
    """Tombstones in ``dv_files`` that target one of ``files`` — the
    manifest-relpath semi-join ignores inert entries whose data file
    has since been rewritten away."""
    if not dv_files or not files:
        return 0
    live = F.broadcast(
        local_frame(spark, [(f,) for f in files], "_dv_file string")
    )
    return (
        _read_files(spark, [f"{_root(root)}/{p}" for p in dv_files])
        .join(live, "_dv_file", "left_semi")
        .count()
    )


def _fragment_victims(files: list[str], is_frag) -> list[str]:
    """Fragments worth bin-packing: only PARTITIONS holding >= 2 of
    them qualify — packing a lone fragment reproduces one
    under-threshold file (bin-packing cannot merge across partition
    dirs), so this selection makes every targeted pass strictly
    reduce the file count and the fixpoint a true no-op."""

    frags: dict[tuple, list[str]] = {}
    for f in files:
        if is_frag(f):
            key = tuple(sorted(partition_values(f).items()))
            frags.setdefault(key, []).append(f)
    return sorted(
        f for group in frags.values() if len(group) >= 2 for f in group
    )


def _constraint_exprs(props: dict | None) -> dict[str, str]:
    """name -> SQL expr of the CHECK constraints in a props dict."""
    pre = "constraint."
    return {
        k[len(pre):]: v
        for k, v in (props or {}).items()
        if k.startswith(pre)
    }


def _enforce_constraints(
    spark: SparkSession,
    path: str,
    files: list[str],
    schema: StructType,
    partition_cols: list[str] | None,
    props: dict,
    dv_files: list[str] | None = None,
    dv_targets: list[str] | None = None,
    eq_entries: list[dict] | None = None,
    file_seq: dict | None = None,
    colmap: dict | None = None,
    defaults: dict | None = None,
) -> None:
    """Refuse data that violates a recorded CHECK constraint. Scans
    ONLY ``files`` (the commit's additions — O(change), never the
    table) with SQL CHECK semantics: a row passes unless the
    expression is literally FALSE (NULL passes, like every SQL
    engine). Early-exits on the first violating row per constraint.
    ``dv_files``/``dv_targets`` apply the commit's deletion-vector
    masking for the resurrection re-check (a still-tombstoned row is
    not live and must not fail the check). ``colmap`` aliases the scan
    back to LOGICAL names — CHECK expressions are written against the
    user-visible schema."""
    checks = _constraint_exprs(props)
    if not checks or not files:
        return
    df = _read_file_list(
        spark, path, files, schema, partition_cols=partition_cols,
        dv_files=dv_files, dv_targets=dv_targets,
        eq_entries=eq_entries, file_seq=file_seq, colmap=colmap,
        defaults=defaults,
    )
    for name in sorted(checks):
        expr = checks[name]
        bad = (
            df.where(
                ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
            )
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"CHECK constraint {name!r} ({expr}) violated by "
                f"committed data; first offender: {bad[0].asDict()}"
            )


def snapshot_properties(
    spark: SparkSession, path: str, version: int | None = None
) -> dict[str, str]:
    """The table properties at ``version`` (default: latest) — carried
    commit-to-commit in the manifest state, metadata-only to read."""
    return dict(_manifest_at(path, version)[1].get("props") or {})


def snapshot_set_properties(
    spark: SparkSession,
    path: str,
    set_props: dict[str, str] | None = None,
    unset: list[str] | None = None,
) -> int:
    """ALTER TABLE SET/UNSET TBLPROPERTIES as a metadata-only commit:
    same files, same schema, zero data movement. Keys under
    ``constraint.`` refuse here — constraints change enforcement
    semantics, so they go through ``snapshot_add_constraint`` (which
    validates existing data) / ``snapshot_drop_constraint``."""
    set_props = dict(set_props or {})
    unset = list(unset or [])
    if not set_props and not unset:
        raise ValueError("nothing to set or unset")
    guarded = [
        k for k in list(set_props) + unset if k.startswith("constraint.")
    ]
    if guarded:
        raise ValueError(
            f"properties {guarded} are CHECK constraints — use "
            "snapshot_add_constraint / snapshot_drop_constraint"
        )
    bad_vals = {k: v for k, v in set_props.items() if not isinstance(v, str)}
    if bad_vals:
        raise ValueError(
            f"property values must be strings: {sorted(bad_vals)}"
        )
    latest, man = _manifest_at(path)
    props = dict(man.get("props") or {})
    missing = [k for k in unset if k not in props]
    if missing:
        raise ValueError(f"cannot unset absent properties {missing}")
    for k in unset:
        props.pop(k)
    props.update(set_props)
    return _commit(
        spark, path, man["files"], StructType.fromJson(man["schema"]),
        "set_properties", latest,
        extra={"props_set": sorted(set_props), "props_unset": unset},
        partition_cols=_manifest_partition_cols(man),
        props=props,
    )


def snapshot_add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT (CHECK): validates the EXISTING data
    once (one full scan — the documented cost of adding a constraint
    to a populated table, same as Delta's), then records the
    expression as a carried table property. From then on EVERY commit
    validates its added files at the ``_commit`` choke point —
    appends, stream batches, merges, update images, restores — at
    O(new files) data read, and violating writes refuse before a
    version exists."""
    if not name or "/" in name or name != name.strip():
        raise ValueError(f"bad constraint name {name!r}")
    latest, man = _manifest_at(path)
    props = dict(man.get("props") or {})
    key = f"constraint.{name}"
    if key in props:
        raise ValueError(
            f"constraint {name!r} already exists ({props[key]!r}); drop "
            "it first"
        )
    # validate existing rows under SQL CHECK semantics (NULL passes)
    df = read_snapshot(spark, path, latest)
    bad = (
        df.where(~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True)))
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"cannot add CHECK constraint {name!r} ({expr}): existing "
            f"data violates it, e.g. {bad[0].asDict()}"
        )
    props[key] = expr
    return _commit(
        spark, path, man["files"], StructType.fromJson(man["schema"]),
        "add_constraint", latest,
        extra={"constraint": name, "expr": expr},
        partition_cols=_manifest_partition_cols(man),
        props=props,
    )


def snapshot_drop_constraint(
    spark: SparkSession, path: str, name: str
) -> int:
    """ALTER TABLE DROP CONSTRAINT — metadata-only."""
    latest, man = _manifest_at(path)
    props = dict(man.get("props") or {})
    key = f"constraint.{name}"
    if key not in props:
        raise ValueError(f"no constraint named {name!r} on {path}")
    props.pop(key)
    return _commit(
        spark, path, man["files"], StructType.fromJson(man["schema"]),
        "drop_constraint", latest,
        extra={"constraint": name},
        partition_cols=_manifest_partition_cols(man),
        props=props,
    )


def snapshot_compact(
    spark: SparkSession,
    path: str,
    target_mb: float = 256,
    partition_cols: list[str] | None = None,
    cluster_by: list[str] | None = None,
    zorder_bits: int = 8,
    n_files: int | None = None,
    min_file_mb: float | None = None,
    min_file_rows: int | None = None,
) -> int:
    """Compaction as a COMMIT: rewrite the latest version's live rows
    into files of about ``target_mb`` (ceil(bytes/target) write tasks,
    rows per file capped from the recorded rows per byte, so a
    partition larger than the target splits) and publish them as a new
    version. Running readers keep their version's files untouched;
    ``vacuum_snapshots`` reclaims the old ones. Returns the new version.

    The rewrite reads the head through every mask (``_scan_live``), so
    outstanding equality deletes need no resolve: packed files get the
    commit's sequence, carried files keep theirs and stay masked, and
    ``_commit`` prunes the entries left with no applicable file.

    Manifest stats SURVIVE compaction: like every commit, it gets
    per-file stats for its new files when the table tracks
    ``stats_cols`` (``_commit``'s carry rule).

    ``cluster_by`` upgrades the rewrite to the OPTIMIZE-with-clustering
    shape: one column range-partitions + sorts on it; several columns
    cluster on the interleaved ``zorder_value`` so every file covers a
    compact region of the whole key space (``n_files`` overrides the
    byte-derived output count and row cap — clustering often wants a
    fixed shard layout). Because the new files' stats are collected from the CLUSTERED files, their [min,max] ranges come
    out tight and disjoint — compaction then actively IMPROVES scan
    pruning instead of merely not destroying it. With partition
    columns, clustering applies within each partition (the range
    exchange keys on partitions first). Row-neutral by construction
    either way, so the feed's ``onNonAppend=verify`` passes it.

    ``min_file_mb`` makes the compaction TARGETED: only files smaller
    than the threshold are bin-packed; every right-sized file is
    carried BY REFERENCE, untouched. Rewrite cost is ∝ the fragmented
    bytes, never the table — on a 100 TB table where a streaming
    ingest left a few thousand 5 MB files among 512 MB ones, the full
    rewrite copies 100 TB; the targeted one copies the few GB of
    fragments. Deletion-vector sidecars are KEPT (entries for the
    rewritten fragments go inert — uuid relpaths never recur; entries
    for carried files keep masking), and recorded dv_targets shrink to
    the carried intersection — unless nothing carried is targeted, in
    which case the sidecars fold away entirely. Per-file stats are
    carried for carried files, recomputed for the packed ones. Only
    partitions holding >= 2 fragments pack (a lone fragment would just
    be rewritten in place — thrash, not progress); when none qualify
    the call is a no-op (returns the current version, no commit).
    Targeted mode requires the table's recorded partition layout
    (carried files are classified by directory).

    ``min_file_rows`` is the METADATA-ONLY fragment threshold: victims
    come from the manifest's recorded per-file row counts — zero
    filesystem stats, so an automated maintenance trigger can evaluate
    it on every commit for free (``_maybe_auto_compact_small``). Files
    whose count is unrecorded (legacy history) are conservatively
    carried. Mutually exclusive with ``min_file_mb``."""
    latest, man = _manifest_at(path)
    root = _root(path)
    if partition_cols is None:
        # default to the table's recorded layout — an unpartitioned
        # compaction of a partitioned table would strip the partition
        # directories carried-file classification depends on
        partition_cols = _manifest_partition_cols(man)
    renamed_pc = sorted(set(partition_cols or ()) & set(_colmap(man)))
    if renamed_pc:
        # partition directory names must equal the files' (physical)
        # column names, and every partition-predicate surface assumes
        # logical == physical for layout columns — re-laying out onto
        # a renamed column would write logical-named directories over
        # physical-named files (the write itself dies on the name
        # mismatch). Shedding the rename needs a fresh column
        # identity: a full rewrite via snapshot_write(overwrite).
        raise ValueError(
            f"cannot partition by renamed column(s) {renamed_pc} — "
            "their on-disk names differ from their logical names; "
            "rewrite the table (snapshot_write overwrite) to shed the "
            "rename first"
        )
    if min_file_mb is not None and min_file_rows is not None:
        raise ValueError("pass min_file_mb OR min_file_rows, not both")
    targeted = min_file_mb is not None or min_file_rows is not None
    frows = man.get("rows") or {}
    victims, carried = list(man["files"]), []
    if targeted:
        _require_same_layout(
            man, partition_cols, "snapshot_compact(targeted)"
        )
        if min_file_mb is not None:
            sizes = _file_sizes(spark, root, man["files"])
            cut = min_file_mb * 1024 * 1024
            victims = _fragment_victims(
                man["files"], lambda f: sizes[f] < cut
            )
        else:
            victims = _fragment_victims(
                man["files"],
                lambda f: f in frows and frows[f] < min_file_rows,
            )
        carried = [f for f in man["files"] if f not in set(victims)]
        if not victims:
            return latest  # nothing to bin-pack
    max_records = None
    if n_files is None:
        if min_file_mb is None:  # stat only the victims
            sizes = _file_sizes(spark, root, victims)
        total = sum(sizes[f] for f in victims)
        target = int(target_mb * 1024 * 1024)
        n_files = max(1, -(-total // target))
        if targeted:
            # cap the derived output count so each packed file
            # averages AT OR ABOVE the fragment threshold — without
            # this, an unpartitioned (or clustered) pack of many
            # mid-size fragments can emit n_files outputs that all
            # still qualify as fragments, and the auto cadence would
            # rewrite the same bytes forever instead of converging.
            if min_file_mb is not None:
                cap = int(total // (min_file_mb * 1024 * 1024))
            else:
                cap = sum(frows[f] for f in victims) // min_file_rows
            n_files = max(1, min(n_files, cap))
        # hashing on the partition columns writes each partition from
        # one task: only a rows-per-file cap splits one larger than the
        # target (never below the rows per task chosen above)
        known = [f for f in victims if f in frows]
        known_bytes = sum(sizes[f] for f in known)
        if known_bytes:
            rows = sum(frows[f] for f in known)
            max_records = max(
                -(-rows * target // known_bytes), -(-rows // n_files)
            )
    df = _scan_live(spark, path, man, victims)
    drop_after = None
    if cluster_by:
        bad = [c for c in cluster_by if c in (partition_cols or [])]
        if bad:
            raise ValueError(
                f"cluster_by {bad} are partition columns — the directory "
                "layout already clusters them"
            )
        if len(cluster_by) == 1:
            ckey = F.col(cluster_by[0])
        else:
            from .layout import zorder_value

            df, drop_after = zorder_value(df, cluster_by, bits=zorder_bits)
            ckey = F.col(drop_after)
        range_keys = [F.col(c) for c in (partition_cols or [])] + [ckey]
        df = df.repartitionByRange(n_files, *range_keys).sortWithinPartitions(
            *range_keys
        )
        if drop_after:
            df = df.drop(drop_after)
    elif partition_cols:
        df = df.repartition(n_files, *partition_cols)
    else:
        df = df.repartition(n_files)
    # Row totals IN the commit let the feed's onNonAppend=verify gate
    # prove row-neutrality after a vacuum deleted the superseded files.
    # Removed: the live rows the masked read fed the write, observed
    # above the exchange so each counts once in the writing stage (a
    # retried map stage would count twice). Added: the new footers.
    obs = Observation()
    _, files = _write_commit_files(
        df.observe(obs, F.count(F.lit(1)).alias("n")),
        path,
        partition_cols,
        colmap=_colmap(man) or None,
        max_records=max_records,
    )
    rows_new = _rows_for_files(spark, root, files)
    extra = {
        "rows_removed": _observed(obs, n=0)["n"],
        "rows_added": sum(rows_new.values()),
    }
    dv_files = defaults_after = _DV_INHERIT
    if not targeted:
        dv_files = None  # folded into the rewrite
        # every file was rewritten from the FILLED read: initial
        # defaults are now physically materialized — shed the entries
        # (this is also what re-enables Bloom-indexing such columns)
        defaults_after = None
    else:
        extra["files_compacted"] = len(victims)
        extra["files_carried"] = len(carried)
    return _commit(
        spark, path, carried + files, df.schema, "compact", latest,
        extra=extra,
        partition_cols=partition_cols,
        dv_files=dv_files,
        known_rows=rows_new,
        defaults=defaults_after,
    )


def snapshot_merge(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    partition_cols: list[str],
    version_col: str | None = None,
    mode: str = "rewrite",
) -> int:
    """Keyed MERGE producing a NEW VERSION (replace matched, insert
    unmatched; with ``version_col``, max-version-wins across target and
    updates so out-of-order CDC feeds converge and redelivery is a
    no-op): readers keep their version, the merge publishes the next
    one, and a crash mid-merge leaves only an orphan commit dir. Keys
    must be partition-stable: an update whose key is live
    in a partition no update row touches raises ``ValueError``
    (``_require_partition_stable``); ``eqdeletes.snapshot_append_upsert``
    moves rows between partitions.

    - ``mode="rewrite"``: copy-on-write — the updates' distinct
      partition keys (metadata-sized, broadcast) prune the target read
      to touched partitions, which are rewritten whole
      (``snapshot_replace_partitions``); untouched partitions carry
      over by reference in the manifest — never read, never rewritten.
    - ``mode="dv"``: merge-on-read (op ``merge_dv``) — see
      ``_merge_dv``; write cost ∝ |updates| + |matched rows|, never
      touched-partition bytes.
    """
    if mode not in ("rewrite", "dv"):
        raise ValueError(f"mode must be rewrite|dv; got {mode!r}")
    _require_partition_stable(spark, path, updates, keys, partition_cols)
    if mode == "dv":
        return _merge_dv(
            spark, path, updates, keys, partition_cols, version_col
        )
    from pyspark.sql.window import Window

    target = read_snapshot(spark, path)
    touched = updates.select(*partition_cols).distinct()
    current = target.join(F.broadcast(touched), partition_cols, "left_semi")
    cols = target.columns
    if version_col is not None:
        tagged = (
            current.select(*cols)
            .withColumn("_src", F.lit(0))
            .unionByName(updates.select(*cols).withColumn("_src", F.lit(1)))
        )
        w = Window.partitionBy(*keys).orderBy(
            F.col(version_col).desc(), F.col("_src").asc()
        )
        merged = (
            tagged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(*cols)
        )
    else:
        merged = current.join(
            updates.select(*keys).distinct(), keys, "left_anti"
        ).select(*cols).unionByName(updates.select(*cols))
    # No off-table materialization needed: the new commit's files are
    # written BEFORE the manifest flips, and the plan reads the OLD
    # version's immutable files — the snapshot layer dissolves the
    # read-while-overwriting hazard of an in-place partition rewrite.
    return snapshot_replace_partitions(merged, path, partition_cols)


def _require_partition_stable(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    partition_cols: list[str],
) -> None:
    """Refuse a merge one of whose update keys is live in a partition
    no update row touches: both merge modes replace rows only inside
    the touched partitions, so that row would stay live beside the
    key's new image — a silent duplicate key. Metadata prunes the
    check: one aggregate over ``updates`` gives a ``Range(min, max)``
    per key column, and ``_plan`` drops the files whose stats exclude
    it; only the admitted files' live rows are semi-joined."""
    _, man = _manifest_at(path)
    bounds = updates.agg(
        *[F.min(k) for k in keys], *[F.max(k) for k in keys]
    ).first()
    preds = {}
    for i, k in enumerate(keys):
        lo, hi = bounds[i], bounds[len(keys) + i]
        if lo is None:
            return  # the column's keys are all NULL: equality matches none
        try:
            preds[k] = Range(lo, hi)
        except ValueError:
            pass  # no range over this type (bool, binary): no pruning by it
    files = _plan(man, preds)[0] if preds else man["files"]
    if not files:
        return
    clash = (
        _scan_live(spark, path, man, files)
        .join(
            F.broadcast(updates.select(*partition_cols).distinct()),
            partition_cols,
            "left_anti",
        )
        .join(updates.select(*keys).distinct(), keys, "left_semi")
        .select(*keys)
        .first()
    )
    if clash is not None:
        raise ValueError(
            f"merge keys must be partition-stable: key {tuple(clash)} is "
            "live in a partition the updates do not touch, and the merge "
            "would leave it beside its new image — use "
            "eqdeletes.snapshot_append_upsert, which moves a row between "
            "partitions"
        )


def _merge_dv(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    partition_cols: list[str],
    version_col: str | None = None,
) -> int:
    """``snapshot_merge`` semantics via deletion vectors: ONE
    commit tombstones the superseded target rows and appends only the
    surviving update images — write cost ∝ |updates| + |matched rows|,
    never touched-PARTITION bytes (the CoW merge rewrites every touched
    partition whole to replace a handful of keys; on a 100 TB table a
    small CDC batch scattered across partitions rewrote all of them).
    Unmatched target rows are never rewritten — they stay in their
    files and simply aren't tombstoned.

    Same contracts as the CoW merge: keys must be partition-stable;
    with ``version_col``, max-version-wins across target and updates
    (an older redelivered update loses to the target row it would have
    replaced — including its physical copy staying live), and
    duplicate-key rows collapse to the single winner exactly as the
    CoW path's ``row_number`` does."""
    from pyspark.sql.window import Window

    latest, man = _manifest_at(path)
    _require_same_layout(man, partition_cols, "merge_dv")
    latest, man = _eq_resolved_head(spark, path, latest, man)
    schema = StructType.fromJson(man["schema"])
    cols = [f.name for f in schema.fields]
    touched = updates.select(*partition_cols).distinct()
    target = _scan_live(
        spark, path, man, man["files"], row_ids=True
    ).join(F.broadcast(touched), partition_cols, "left_semi")
    if version_col is not None:
        tagged = target.withColumn("_src", F.lit(0)).unionByName(
            updates.select(*cols).withColumn("_src", F.lit(1)),
            allowMissingColumns=True,  # updates carry NULL row ids
        )
        w = Window.partitionBy(*keys).orderBy(
            F.col(version_col).desc(), F.col("_src").asc()
        )
        ranked = (
            tagged.withColumn("_rn", F.row_number().over(w))
            .localCheckpoint(eager=True)  # one shuffle feeds both sides
        )
        tombs = ranked.where(
            (F.col("_src") == 0) & (F.col("_rn") > 1)
        ).select(*_DV_COLS)
        new_rows = ranked.where(
            (F.col("_src") == 1) & (F.col("_rn") == 1)
        ).select(*cols)
    else:
        tombs = target.join(
            updates.select(*keys).distinct(), keys, "left_semi"
        ).select(*_DV_COLS)
        new_rows = updates.select(*cols)
    _, new_files = _write_commit_files(
        new_rows, path, partition_cols, colmap=_colmap(man) or None
    )
    n_tombs, new_dvs, new_tgts = _write_tombstones(tombs, path)
    return _commit(
        spark,
        path,
        sorted(man["files"] + new_files),
        schema,
        "merge_dv",
        latest,
        extra={"dv_added": new_dvs, "dv_rows_added": n_tombs},
        partition_cols=partition_cols,
        dv_files=sorted((man.get("dv_files") or []) + new_dvs),
        dv_targets=_dv_targets_for(man, new_tgts),
    )


# ---------------------------------------------------------------------------
# File-level column statistics: manifest-side scan planning
# ---------------------------------------------------------------------------


def _stat_norm(v, widen: int = 0):
    """JSON-able, ORDER-PRESERVING image of a stat value. Numbers stay
    numbers; date/timestamp become ISO strings (fixed-width, so
    lexicographic == chronological); Decimal becomes a float interval
    endpoint WIDENED outward (widen=-1 for a min, +1 for a max) so the
    float rounding can never shrink a file's recorded range — pruning
    stays false-negative-free."""
    import datetime
    import decimal
    import math

    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, decimal.Decimal):
        f = float(v)
        if widen and math.isfinite(f):
            pad = abs(f) * 1e-12 + 1e-12
            f = f + widen * pad
        return f
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def _stat_sum_norm(v):
    """JSON-able EXACT image of a per-file SUM: ints stay ints (Python
    json encodes arbitrary precision exactly), floats stay floats,
    Decimal becomes its exact STRING — unlike the min/max endpoints
    (which only PRUNE, so outward float widening is safe), sums ANSWER
    queries (``snapshot_agg``) and a float image would round."""
    import decimal

    if v is None or isinstance(v, (int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        return str(v)
    return None  # non-summable oddity: treated as unrecorded


def collect_file_stats(
    spark: SparkSession, path: str, files: list[str], stats_cols: list[str]
) -> dict:
    """Per-file min/max + null count for ``stats_cols`` over the given
    commit files — plus, for NUMERIC columns, the per-file SUM:
    {relpath: {col: [min, max, nulls] | [min, max, nulls, sum]}} in
    native (order-preserving) JSON form. One small aggregation grouped
    by ``_metadata.file_path`` — runs once at commit time.

    The NULL COUNT (third element; legacy two-element entries keep
    reading — every consumer indexes [0]/[1] and gates extras on
    length) is what upgrades min/max from range pruning to WHOLE-FILE
    PROOFS: ``min == max == v`` says every non-null row equals ``v``,
    but only ``nulls == 0`` makes that every ROW — the difference
    between "this file may contain matches" and "this file IS the
    match", which lets a delete drop the file by reference instead of
    rewriting it (see ``_plan``).

    The SUM (fourth element, numeric columns only; same length-gated
    compatibility) is what lets ``snapshot_agg`` answer
    ``SUM(col) WHERE <pred>`` from metadata for files the predicate
    provably matches whole — recorded exactly (``_stat_sum_norm``),
    never widened."""
    path = _root(path)
    if not files or not stats_cols:
        return {}
    df = _read_files(spark, [f"{path}/{f}" for f in files])
    present = [c for c in stats_cols if c in df.columns]
    if not present:
        return {}
    from pyspark.sql.types import NumericType

    numeric = {
        f.name for f in df.schema.fields
        if f.name in set(present) and isinstance(f.dataType, NumericType)
    }
    aggs = []
    for c in present:
        aggs.append(F.min(F.col(c)).alias(f"_mn_{c}"))
        aggs.append(F.max(F.col(c)).alias(f"_mx_{c}"))
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nl_{c}")
        )
        if c in numeric:
            aggs.append(F.sum(F.col(c)).alias(f"_sm_{c}"))
    rows = (
        df.groupBy(F.col("_metadata.file_path").alias("_f"))
        .agg(*aggs)
        .collect()
    )
    import re

    # _metadata.file_path is URI-encoded (space → %20, % → %25); the
    # manifest keys are on-disk form — map back through the encoded
    # form or a mis-keyed file keeps its [None, None] seed below and
    # pruned reads would silently exclude it
    enc2raw = {_uri_encode_relpath(f): f for f in files}
    rel_re = re.compile(r"^.*/(data/[0-9a-f]{32}/.*)$")
    # seed EVERY commit file with null-endpoint stats: an empty file
    # yields no aggregation row, and "recorded, endpoints null" is the
    # provably-excludable state (vs "no entry" = conservatively kept)
    out: dict = {
        f: {
            c: [None, None, 0, None] if c in numeric else [None, None, 0]
            for c in present
        }
        for f in files
    }
    for r in rows:
        m = rel_re.match(r["_f"])
        rel = enc2raw.get(m.group(1)) if m else None
        if rel is None:
            # An unmapped aggregation row means a NON-EMPTY file would
            # keep its [None, None] seed — the provably-excludable
            # state — and pruned reads / stats-guided deletes would
            # silently lose its rows. Encoding drift (a Spark upgrade
            # changing the file_path grammar) must fail HERE, at commit
            # time, not as silent row loss later.
            raise RuntimeError(
                f"file stats row {r['_f']!r} matches no manifest "
                "relpath — _uri_encode_relpath no longer mirrors "
                "Spark's _metadata.file_path encoding"
            )
        out[rel] = {
            c: [
                _stat_norm(r[f"_mn_{c}"], widen=-1),
                _stat_norm(r[f"_mx_{c}"], widen=1),
                int(r[f"_nl_{c}"] or 0),
            ]
            + ([_stat_sum_norm(r[f"_sm_{c}"])] if c in numeric else [])
            for c in present
        }
    return out


def _delete_rows_dv_where(
    spark: SparkSession,
    path: str,
    latest: int,
    man: dict,
    predicates,
    plan: tuple[list[str], list[str]],
) -> tuple[int, int]:
    """Merge-on-read delete — the engine behind
    ``snapshot_delete(mode="dv")``, over the statement's head
    (``latest``, ``man``; equality deletes resolved) and its
    ``_plan``: proven files drop by reference (writing one (file, pos)
    entry per row of a wholly-dead file would be pure waste on both
    sides), and only the boundary files' matching rows get
    tombstones."""
    # stats proofs and row accounting below are position-exact
    assert not man.get("eqs"), "equality deletes must be resolved first"
    admitted, dropped = plan
    dset = set(dropped)
    victims = [f for f in admitted if f not in dset]
    n, new_dvs, new_tgts = 0, [], []
    if victims:
        # the live-row mask never tombstones a row twice
        n, new_dvs, new_tgts = _write_tombstones(
            _scan_live(spark, path, man, victims, row_ids=True).where(
                _match_expr(predicates)
            ),
            path,
        )
    if n == 0 and not dropped:
        return latest, 0
    drop_rows = _live_row_total(spark, path, man, dropped) if dropped else 0
    drop_extra = (
        {"files_dropped_by_stats": len(dropped), "rows_dropped": drop_rows}
        if dropped
        else {}
    )
    version = _commit(
        spark,
        path,
        [f for f in man["files"] if f not in dset],
        StructType.fromJson(man["schema"]),
        "delete_rows_dv",
        latest,
        extra={"dv_added": new_dvs, "dv_rows_added": n, **drop_extra},
        partition_cols=_manifest_partition_cols(man),
        dv_files=sorted((man.get("dv_files") or []) + new_dvs),
        dv_targets=_dv_targets_for(man, new_tgts),
    )
    return version, n + drop_rows


class Range:
    """Interval predicate — the value side of a ``{col: Range(...)}``
    entry anywhere ``{col: values}`` predicates are accepted
    (``snapshot_delete``, ``snapshot_update``, ``read_snapshot(where=)``,
    the aggregate helpers, and the SQL front door's ``<  <=  >  >=
    BETWEEN`` grammar). ``lo``/``hi`` bound the column from
    below/above (``None`` = unbounded on that side; at least one must
    be set); ``lo_inc``/``hi_inc`` pick inclusive vs strict. NULL
    semantics are SQL's: a range never matches a NULL value.

    This is the TTL/retention/GDPR sweep shape (``DELETE FROM t WHERE
    ts < '2024-01-01'``) — the single most common DML a 100 TB table
    sees. The planner (``_plan``) prunes victims from the per-file
    min/max stats (the same pruning ``read_snapshot(where=)`` applies),
    and proves whole-file drops (file range wholly inside the
    predicate, zero nulls ⇒ drop by reference — no read, no rewrite,
    no tombstones), so a retention delete on a time-clustered table
    moves only the boundary files' bytes. Partition-column ranges prune and
    prove from directory values, typed by the column's declared type.

    Endpoints: int / float / str / Decimal / date / datetime (bool and
    NaN refuse — NaN comparisons are all-False and would plan a
    rewrite that matches nothing)."""

    __slots__ = ("lo", "hi", "lo_inc", "hi_inc")

    def __init__(self, lo=None, hi=None, lo_inc=True, hi_inc=True):
        import datetime
        import decimal
        import math

        if lo is None and hi is None:
            raise ValueError(
                "Range needs at least one endpoint (lo=None, hi=None "
                "would mean 'IS NOT NULL' — state that intent directly)"
            )
        ok_types = (
            int, float, str, decimal.Decimal,
            datetime.date, datetime.datetime,
        )
        for name, v in (("lo", lo), ("hi", hi)):
            if v is None:
                continue
            if isinstance(v, bool) or not isinstance(v, ok_types):
                raise ValueError(
                    f"Range {name} must be int/float/str/Decimal/date/"
                    f"datetime; got {type(v).__name__}"
                )
            if isinstance(v, float) and math.isnan(v):
                raise ValueError(f"Range {name} must not be NaN")
        self.lo, self.hi = lo, hi
        self.lo_inc, self.hi_inc = bool(lo_inc), bool(hi_inc)

    def _key(self):
        return (self.lo, self.hi, self.lo_inc, self.hi_inc)

    def __eq__(self, other):
        return isinstance(other, Range) and self._key() == other._key()

    def __hash__(self):
        return hash(self._key())

    def __repr__(self):
        l, r = "[" if self.lo_inc else "(", "]" if self.hi_inc else ")"
        return f"Range{l}{self.lo!r}, {self.hi!r}{r}"

    def is_empty(self) -> bool:
        """Provably matches nothing (lo > hi, or lo == hi with a
        strict end) — callers short-circuit to a no-op, like an
        emptied IN list. Incomparable endpoint types are NOT empty
        (the row-level predicate decides).

        Emptiness is type-blind here (the column's declared type is
        not in scope), so timestamp-shaped string endpoints are only
        declared empty when the RAW string order AND the canonical
        timestamp order AGREE — against a STRING column Spark compares
        raw ('2024-01-01 12:00' < '2024-01-01T05:00' because space <
        'T'), against a TIMESTAMP column chronologically; an ambiguous
        pair must fall through to the type-aware planner, never
        silently no-op a delete that matches rows."""
        if self.lo is None or self.hi is None:
            return False

        def empty(lo, hi) -> bool:
            if lo > hi:
                return True
            return lo == hi and not (self.lo_inc and self.hi_inc)

        try:
            lo, hi = _stat_norm(self.lo), _stat_norm(self.hi)
            raw = empty(lo, hi)
            clo = _ts_canon(lo) if isinstance(lo, str) else None
            chi = _ts_canon(hi) if isinstance(hi, str) else None
            if clo is not None or chi is not None:
                return raw and empty(
                    clo if clo is not None else lo,
                    chi if chi is not None else hi,
                )
            return raw
        except TypeError:
            return False


class _NullTest:
    """``IS NULL`` / ``IS NOT NULL`` predicate value — the third value
    shape a ``{col: ...}`` predicate entry accepts, next to value
    lists and ``Range``. Use the module singletons ``IS_NULL`` and
    ``IS_NOT_NULL``.

    The planner (``_plan``) answers both from the null counts the
    stats already record (``collect_file_stats``: ``{col: [min, max,
    nulls]}``) plus the manifest's per-file row counts:

    - ``IS NULL`` victims: a file with a recorded ``nulls == 0`` for
      the column provably contains no match and carries by reference;
      whole-file proof when ``nulls == rows`` (every row null).
    - ``IS NOT NULL`` victims: excluded only when ``nulls == rows``
      (all-null file); whole-file proof when ``nulls == 0``.
    - Files without a recorded null count (legacy two-element stats,
      un-statted columns, files that may not physically encode the
      column — initial-default fills) stay victims and prove nothing:
      conservative, never a false negative. Partition columns have no
      in-file stats, so null tests on them scan their victims with
      the exact residual (a null partition value's directory encoding
      is writer-specific — guessing it could silently miss rows).

    The GDPR/completeness sweep shape: ``DELETE FROM t WHERE email IS
    NULL`` on a mostly-complete 100 TB table rewrites only the files
    that actually recorded nulls."""

    __slots__ = ("negate",)

    def __init__(self, negate: bool):
        self.negate = bool(negate)

    def __repr__(self):
        return "IS_NOT_NULL" if self.negate else "IS_NULL"

    def __eq__(self, other):
        return isinstance(other, _NullTest) and self.negate == other.negate

    def __hash__(self):
        return hash(("_NullTest", self.negate))


IS_NULL = _NullTest(False)
IS_NOT_NULL = _NullTest(True)


# timestamp-shaped string: date, optional [T or space] time, optional
# fractional seconds — the forms both SQL users and isoformat produce
_TS_SHAPE_RE = re.compile(
    r"^(\d{4}-\d{2}-\d{2})(?:[T ](\d{2}:\d{2}:\d{2})(\.\d{1,9})?)?$"
)
# Spark's string→date cast shape: yyyy-[m]m-[d]d then end or a T/space
# separator (anything else nulls the cast — see _range_bounds_for_col)
_DATE_CAST_RE = re.compile(r"^(\d{4})-(\d{1,2})-(\d{1,2})(?:$|[T ])")


def _ts_canon(s: str) -> str | None:
    """Canonical, order-preserving form of a timestamp-shaped string:
    ``YYYY-MM-DDTHH:MM:SS.ffffff`` (T separator, fraction padded to
    exactly 6 digits). Lexicographic order on canonical forms ==
    chronological order — which is NOT true across the mixed forms
    users and ``isoformat`` produce ('2024-01-01 12:00' sorts before
    '2024-01-01T05:00' because space < 'T'; '.1' sorts before
    '.050000'). Returns None for non-timestamp-shaped or
    calendar-invalid strings — callers then refuse to prune on the
    bound (conservative, never wrong)."""
    import datetime

    m = _TS_SHAPE_RE.match(s)
    if m is None:
        return None
    d, t, f = m.groups()
    t = t or "00:00:00"
    frac = ((f or ".")[1:] + "000000")[:6]
    try:  # calendar validity: an invalid literal casts to NULL in
        # Spark (matches nothing) — a lexicographic 'proof' against it
        # would drop files whose rows don't match
        datetime.datetime.fromisoformat(f"{d}T{t}")
    except ValueError:
        return None
    return f"{d}T{t}.{frac}"


def _col_dtype(man: dict, col: str) -> str | None:
    """The column's declared simpleString type from the manifest
    schema — None when absent (planner then refuses to prune)."""
    try:
        sch = StructType.fromJson(man["schema"])
        return sch[col].dataType.simpleString()
    except Exception:
        return None


_NUM_DTYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _range_bounds_for_col(man: dict, col: str, rng: Range, for_proof: bool):
    """Normalize a Range's endpoints against the COLUMN'S DECLARED
    TYPE so stat/directory comparisons reproduce exactly the coercion
    Spark applies to the row-level predicate — or return None when the
    bound/type combination cannot be compared without guessing
    (planner then keeps every file a victim and proves nothing).

    Returns ``(lo, hi, statcanon, dircanon)``: comparison-ready
    endpoints (None = unbounded), a canonicalizer for recorded stat
    values, and a parser for partition-directory strings (either may
    return None = not comparable for that value).

    Exactness notes, per kind:
    - numeric: Decimal endpoints widen OUTWARD for victim planning and
      INWARD for proofs (mirroring ``_stat_norm``'s widened stat
      endpoints), so float rounding can never exclude a matching file
      or prove a non-matching one;
    - date: Spark casts a string literal to DATE by truncating AT A
      'T'/SPACE SEPARATOR ONLY — any other trailing character nulls
      the whole cast (probed: '2024-01-153', '2024-01-15x'), so the
      bound parses against ``_DATE_CAST_RE`` and refuses anything
      Spark would refuse. A datetime endpoint also refuses (Spark
      coerces the DATE COLUMN up to timestamp there — truncating the
      bound would flip boundary semantics);
    - timestamp: everything canonicalizes through ``_ts_canon``
      (date endpoints = midnight); tz-aware datetimes refuse;
    - string: str endpoints compare verbatim (UTF-8 byte order ==
      code-point order, matching Spark); non-str endpoints refuse
      (Spark would cast the COLUMN, not the literal)."""
    import datetime
    import decimal

    dtype = _col_dtype(man, col)
    if dtype is None:
        return None
    ident = lambda v: v  # noqa: E731

    def _norm2(kindcheck, conv):
        out = []
        for v, widen in ((rng.lo, 1 if for_proof else -1),
                         (rng.hi, -1 if for_proof else 1)):
            if v is None:
                out.append(None)
            else:
                c = conv(v, widen) if kindcheck(v) else None
                if c is None:
                    return None
                out.append(c)
        return out

    if dtype in _NUM_DTYPES or dtype.startswith("decimal"):
        def is_num(v):
            return isinstance(v, (int, float, decimal.Decimal)) and not (
                isinstance(v, bool)
            )

        b = _norm2(is_num, lambda v, w: _stat_norm(v, widen=w))
        if b is None:
            return None

        def dirparse(s):
            try:
                return int(s)
            except ValueError:
                try:
                    return float(s)
                except ValueError:
                    return None

        return b[0], b[1], ident, dirparse
    if dtype == "string" or dtype.startswith(("varchar", "char")):
        b = _norm2(lambda v: isinstance(v, str), lambda v, w: v)
        if b is None:
            return None
        return b[0], b[1], ident, ident
    if dtype == "date":
        def dconv(v, _w):
            if isinstance(v, datetime.datetime):
                return None  # Spark coerces the COLUMN to timestamp
            if isinstance(v, datetime.date):
                return v.isoformat()
            if isinstance(v, str):
                # reproduce Spark's string→date cast EXACTLY or refuse:
                # Spark accepts yyyy-[m]m-[d]d, truncating only at a
                # 'T'/space separator — ANY other trailing character
                # (probed: '2024-01-153', '2024-01-15x') nulls the whole
                # cast, matching NOTHING. A naive [:10] slice would
                # accept those and let the whole-file proof drop files
                # whose rows don't match. Shorthand forms ('2024',
                # '2024-01') refuse → conservative, no pruning.
                m = _DATE_CAST_RE.match(v.strip())
                if m is None:
                    return None
                try:
                    return datetime.date(
                        int(m[1]), int(m[2]), int(m[3])
                    ).isoformat()
                except ValueError:
                    return None
            return None

        b = _norm2(lambda v: True, dconv)
        if b is None:
            return None
        return b[0], b[1], ident, lambda s: dconv(s, 0)
    if dtype in ("timestamp", "timestamp_ntz"):
        def tconv(v, _w):
            if isinstance(v, datetime.datetime):
                if v.tzinfo is not None:
                    return None
                return _ts_canon(v.isoformat())
            if isinstance(v, datetime.date):
                return f"{v.isoformat()}T00:00:00.000000"
            if isinstance(v, str):
                return _ts_canon(v)
            return None

        b = _norm2(lambda v: True, tconv)
        if b is None:
            return None

        def tcanon(v):
            return _ts_canon(v) if isinstance(v, str) else None

        return b[0], b[1], tcanon, tcanon
    return None  # boolean / complex types: no range pruning


def _in_range(v, lo, hi, rng: Range) -> bool:
    return (lo is None or v > lo or (v == lo and rng.lo_inc)) and (
        hi is None or v < hi or (v == hi and rng.hi_inc)
    )


def _sanitize_predicates(predicates) -> dict | list:
    """{col: values} with scalars normalized to one-element lists and
    None values stripped per column (NULL never matches an IN list,
    and a null inside the list poisons ``~isin`` to NULL). Scalar
    normalization matters for STRINGS especially: naively iterating
    ``{"tenant": "acme"}`` would explode into the characters
    ``["a","c","m","e"]`` — a silently WRONG delete. A column whose
    list empties means the conjunction can match NOTHING — callers
    short-circuit to a no-op on {}. A ``Range`` value passes through
    (a provably-empty range — lo > hi — short-circuits the same
    way).

    DISJUNCTIONS: a list/tuple of {col: values} dicts is a DNF
    predicate — OR over the branches, AND within each (``DELETE ...
    WHERE (a = 1 AND b = 2) OR c > 9``). Each branch sanitizes by the
    conjunctive rules above; a provably-empty branch drops from the
    disjunction (x OR false ≡ x); all branches empty → [] (callers
    no-op, same as {}); exactly one branch left → that plain dict, so
    single-branch DNF takes every conjunctive fast path (partition
    drops included). The sanitized form is what the file planner
    (``_plan``) and the row predicate (``_match_expr``) take."""
    if isinstance(predicates, (list, tuple)):
        if not predicates:
            raise ValueError(
                "DNF predicates must contain at least one branch"
            )
        branches = []
        for b in predicates:
            if not isinstance(b, dict):
                raise ValueError(
                    "DNF predicates must be a list of {col: values} "
                    f"dicts; got a {type(b).__name__} branch"
                )
            sb = _sanitize_predicates(b)
            if sb:
                branches.append(sb)
        if len(branches) == 1:
            return branches[0]
        return branches
    if not predicates:
        raise ValueError("predicates must name at least one column")
    out = {}
    for c, vals in predicates.items():
        if isinstance(vals, _NullTest):
            out[c] = vals
            continue
        if isinstance(vals, Range):
            if vals.is_empty():
                return {}
            out[c] = vals
            continue
        if not isinstance(vals, (list, tuple, set, frozenset)):
            vals = [vals]
        vals = [v for v in vals if v is not None]
        if not vals:
            return {}
        out[c] = list(vals)
    return out


def _canonical_partition_values(man: dict, col: str, vals: list) -> bool:
    """Whether ``col IN vals`` can be answered EXACTLY from partition
    directories: ``col`` is a partition column and every value has one
    canonical directory-string form (int/str/bool — a float like 5.0
    renders '5.0' against an int column's 'month=5' dir and would
    falsely exclude files Spark-typed equality matches)."""
    return _phys(man, col) in set(
        _manifest_partition_cols(man) or ()
    ) and all(type(v) in (int, str, bool) for v in vals)


# A file's verdict under a predicate, ordered so that a conjunction
# takes the lowest of its leaves' verdicts and a disjunction the highest
_NO_ROW, _SOME_ROWS, _EVERY_ROW = 0, 1, 2


def _leaf_verdicts(man: dict, col: str, vals) -> list[int]:
    """One predicate leaf's verdict on every file of ``man`` (aligned
    with ``man["files"]``): ``_NO_ROW`` when metadata proves no row
    matches, ``_EVERY_ROW`` when it proves every row matches (nulls
    included — a whole-file proof), ``_SOME_ROWS`` otherwise. Files
    metadata cannot judge (no stats entry, un-statted column, a value
    or bound that does not compare with the recorded ones) are
    ``_SOME_ROWS``: never a false exclusion, never a false proof. A
    file both proofs fit (a 0-row file under a null test) is
    ``_NO_ROW``. Stats and directories are keyed by physical names.

    - ``IS [NOT] NULL``: the recorded null count against the recorded
      row count (legacy two-element stats have no null count).
      Partition columns have no in-file stats, so they stay
      ``_SOME_ROWS`` (a null partition value's directory encoding is
      writer-specific).
    - ``Range`` on a partition column: the directory value, typed by
      the column's declared type (``_range_bounds_for_col``; int dirs
      compare numerically); the Hive null partition never matches.
    - ``Range`` on a data column: the recorded [min, max] against the
      bounds widened outward (exclusion) or inward (proof, which also
      needs a null count of 0) — Decimal stats are stored widened, so
      the proof can only under-fire. An only-null file never matches.
    - values on a partition column with canonical directory strings
      (``_canonical_partition_values``): the directory value is the
      value of every row.
    - values on a data column: excluded when no value falls in the
      recorded [min, max]; proven when ``min == max == a value`` with
      a null count of 0 (never for Decimal: its widened endpoints
      differ).

    A file whose directories do not carry a partition column
    (written before ``snapshot_set_layout``) holds the value as data:
    ``_SOME_ROWS``."""
    files = man["files"]
    stats = man.get("stats") or {}
    pcol = _phys(man, col)
    part = pcol in set(_manifest_partition_cols(man) or ())
    if isinstance(vals, _NullTest):
        rows = man.get("rows") or {}
        out = []
        for f in files:
            ent = stats.get(f, {}).get(pcol)
            nulls = ent[2] if ent is not None and len(ent) >= 3 else None
            if nulls is None:
                out.append(_SOME_ROWS)
                continue
            all_null = f in rows and nulls == rows[f]
            none_, every = (
                (all_null, nulls == 0) if vals.negate
                else (nulls == 0, all_null)
            )
            out.append(
                _NO_ROW if none_ else _EVERY_ROW if every else _SOME_ROWS
            )
        return out
    if isinstance(vals, Range):
        outer = _range_bounds_for_col(man, col, vals, for_proof=False)
        inner = _range_bounds_for_col(man, col, vals, for_proof=True)
        if part:
            def dir_in(s, b):  # None: not comparable
                if b is None:
                    return None
                try:
                    cv = b[3](s)
                    return None if cv is None else _in_range(
                        cv, b[0], b[1], vals
                    )
                except (TypeError, ValueError):
                    return None

            out = []
            for f in files:
                dvals = partition_values(f)
                if pcol not in dvals:
                    out.append(_SOME_ROWS)
                elif (
                    dvals[pcol] is None  # a range never matches NULL
                    or dir_in(dvals[pcol], outer) is False
                ):
                    out.append(_NO_ROW)
                elif dir_in(dvals[pcol], inner):
                    out.append(_EVERY_ROW)
                else:
                    out.append(_SOME_ROWS)
            return out

        def excludes(st) -> bool:
            if outer is None or st is None:
                return False
            if st[0] is None or st[1] is None:
                return True  # only-null column values
            lo, hi, canon, _dp = outer
            try:
                mn, mx = canon(st[0]), canon(st[1])
                if mn is None or mx is None:
                    return False
                return (hi is not None and (
                    mn > hi or (mn == hi and not vals.hi_inc)
                )) or (lo is not None and (
                    mx < lo or (mx == lo and not vals.lo_inc)
                ))
            except TypeError:
                return False

        def proves(st) -> bool:
            if (
                inner is None or st is None or len(st) < 3 or st[2] != 0
                or st[0] is None or st[1] is None
            ):
                return False
            lo, hi, canon, _dp = inner
            try:
                mn, mx = canon(st[0]), canon(st[1])
                if mn is None or mx is None:
                    return False
                return not (lo is not None and (
                    mn < lo or (mn == lo and not vals.lo_inc)
                )) and not (hi is not None and (
                    mx > hi or (mx == hi and not vals.hi_inc)
                ))
            except TypeError:
                return False

        out = []
        for f in files:
            st = stats.get(f, {}).get(pcol)
            out.append(
                _NO_ROW if excludes(st)
                else _EVERY_ROW if proves(st) else _SOME_ROWS
            )
        return out
    if _canonical_partition_values(man, col, vals):
        want = {_norm_partition_value(v) for v in vals}
        out = []
        for f in files:
            dvals = partition_values(f)
            out.append(
                _SOME_ROWS if pcol not in dvals
                else _EVERY_ROW if dvals[pcol] in want else _NO_ROW
            )
        return out
    # NULL never matches an IN list
    norm = sorted(_stat_norm(v, widen=0) for v in vals if v is not None)
    if not norm:
        return [_NO_ROW] * len(files)
    lo, hi, want = norm[0], norm[-1], set(norm)
    out = []
    for f in files:
        st = stats.get(f, {}).get(pcol)
        if st is None:
            out.append(_SOME_ROWS)
        elif (
            st[0] is None or st[1] is None  # only-null column values
            or st[1] < lo or st[0] > hi
            or not any(st[0] <= v <= st[1] for v in norm)
        ):
            out.append(_NO_ROW)
        elif (
            len(st) >= 3 and st[2] == 0 and st[0] == st[1] and st[0] in want
        ):
            out.append(_EVERY_ROW)
        else:
            out.append(_SOME_ROWS)
    return out


def _plan(man: dict, preds) -> tuple[list[str], list[str]]:
    """The file planner for every predicate surface (reads, aggregates,
    DML): ``(admitted, proven)`` over ``man``'s files, both in manifest
    order, for a sanitized, non-empty predicate
    (``_sanitize_predicates``). ``admitted`` holds every file that MAY
    hold a matching row — every other file provably holds none;
    ``proven`` (a subset) holds the files every row of which provably
    matches — deletes drop them by reference, aggregates answer them
    from metadata. Metadata only: no file is opened.

    Each leaf gives each file a verdict (``_leaf_verdicts``); a
    conjunction takes the lowest verdict of its leaves (excludable by
    any one column carries the file; proven only when every column
    proves it) and a DNF the highest of its branches. So a DNF admits
    what some branch admits and proves what some single branch proves
    whole — a file whose rows split across branches stays a boundary
    file: sound, not complete."""
    files = man["files"]
    best = None
    for branch in preds if isinstance(preds, (list, tuple)) else [preds]:
        verdict = None
        for col, vals in branch.items():
            leaf = _leaf_verdicts(man, col, vals)
            verdict = (
                leaf if verdict is None else list(map(min, verdict, leaf))
            )
        best = verdict if best is None else list(map(max, best, verdict))
    return (
        [f for f, v in zip(files, best) if v != _NO_ROW],
        [f for f, v in zip(files, best) if v == _EVERY_ROW],
    )


def _match_expr(predicates: dict):
    """The conjunctive row-match Column: AND over columns of
    (isNotNull AND isin) — never NULL (each conjunct's isNotNull guard
    collapses SQL three-valued logic to plain booleans), so both
    ``where(match)`` and ``where(~match)`` partition rows exactly.
    ``Range`` values compile to null-guarded bound comparisons with
    Spark's own literal coercion — the planner's stat/directory
    pruning is calibrated to reproduce exactly these semantics.

    DNF (list of branch dicts): OR over the branch expressions. Each
    branch is never-NULL (per the guard above), so the disjunction is
    never NULL either and ``where(~match)`` still partitions rows
    exactly — the property every delete path's survivor scan relies
    on."""
    if isinstance(predicates, (list, tuple)):
        expr = None
        for branch in predicates:
            term = _match_expr(branch)
            expr = term if expr is None else (expr | term)
        return expr
    expr = None
    for c, vals in predicates.items():
        if isinstance(vals, _NullTest):
            term = (
                F.col(c).isNotNull() if vals.negate else F.col(c).isNull()
            )
        elif isinstance(vals, Range):
            term = F.col(c).isNotNull()
            if vals.lo is not None:
                lit = F.lit(vals.lo)
                term = term & (
                    F.col(c) >= lit if vals.lo_inc else F.col(c) > lit
                )
            if vals.hi is not None:
                lit = F.lit(vals.hi)
                term = term & (
                    F.col(c) <= lit if vals.hi_inc else F.col(c) < lit
                )
        else:
            term = F.col(c).isNotNull() & F.col(c).isin(vals)
        expr = term if expr is None else (expr & term)
    return expr


def _rewrite_matching_files(
    spark: SparkSession,
    path: str,
    latest: int,
    man: dict,
    plan: tuple[list[str], list[str]],
    fn,
    op: str,
    full_drop: bool = False,
) -> tuple[int, int]:
    """Shared DML rewrite over the statement's head (``latest``,
    ``man``; equality deletes resolved) and its ``_plan``: apply ``fn``
    to the rows of every admitted file; carry every other file by
    reference; publish as one commit. Returns ``(new_version,
    rows_affected)`` where rows_affected = live victim rows before -
    surviving rows after for a delete, and matching rows for an update
    (fn reports via the returned frame's ``_matched`` column when
    present). Both counts are observed by the write job itself, so the
    victims are read once, by the job that writes their replacement.

    ``full_drop=True`` (delete semantics only): the plan's proven files
    — every row provably matches — are dropped from the manifest by
    reference, never read, never rewritten. A delete keyed on a
    well-clustered column (the common retire-a-key case after a
    cluster_by compact) then rewrites only the boundary files where
    matches mix with survivors; the bulk of the victim bytes move
    nowhere. Their deleted-row count comes from recorded footer counts
    minus live tombstones — exact, metadata-only."""
    # stats proofs and row accounting below are position-exact
    assert not man.get("eqs"), "equality deletes must be resolved first"
    admitted, proven = plan
    dropped = proven if full_drop else []
    dset = set(dropped)
    victims = [f for f in admitted if f not in dset]
    if not victims and not dropped:
        return latest, 0
    aset = set(admitted)
    carried = [f for f in man["files"] if f not in aset]
    drop_rows = _live_row_total(spark, path, man, dropped) if dropped else 0
    # rewrite in the TABLE'S layout: an unpartitioned rewrite would
    # leave files without partition directories, which
    # replace_partitions/merge would then always carry — stale rows
    pc = _manifest_partition_cols(man)
    new_files, affected = [], 0
    if victims:
        # merge-on-read: already-tombstoned rows must not resurrect
        # into the rewritten files (the carried DV entries for the
        # rewritten victims become inert once their files drop out).
        # Both counts ride on the write job: the live rows above the
        # masks, and the rows fn keeps (or marks ``_matched``) above
        # its filter — Spark pushes no filter below an observation
        live, kept = Observation(), Observation()
        rewritten = fn(
            _scan_live(spark, path, man, victims).observe(
                live, F.count(F.lit(1)).alias("n")
            )
        )
        matched = "_matched" in rewritten.columns
        rewritten = rewritten.observe(
            kept,
            (F.count_if("_matched") if matched else F.count(F.lit(1))).alias(
                "n"
            ),
        )
        _, new_files = _write_commit_files(
            rewritten.drop("_matched") if matched else rewritten,
            path, pc, colmap=_colmap(man) or None,
        )
        affected = _observed(kept, n=0)["n"]
        if not matched:
            affected = _observed(live, n=0)["n"] - affected
    version = _commit(
        spark,
        path,
        sorted(carried + new_files),
        StructType.fromJson(man["schema"]),
        op,
        latest,
        extra={"files_dropped_by_stats": len(dropped)} if dropped else None,
        partition_cols=pc,
    )
    return version, affected + drop_rows


def _check_update_targets(man: dict, set_values: dict) -> StructType:
    """Shared validation for BOTH update engines (CoW and
    merge-on-read — one copy, so a validation fix can never apply to
    one physical path and not the other): ``set_values`` columns must
    exist, and partition columns refuse (rows would have to MOVE
    directories; ``eqdeletes.snapshot_append_upsert`` — what SQL
    ``MERGE INTO`` lowers to — moves a keyed row to a new partition).
    Returns the table schema."""
    schema = StructType.fromJson(man["schema"])
    fields = {f.name: f.dataType for f in schema.fields}
    unknown = set(set_values) - set(fields)
    if unknown:
        raise ValueError(f"update targets unknown columns {sorted(unknown)}")
    pc = _manifest_partition_cols(man) or []
    touched_pc = set(set_values) & set(pc)
    if touched_pc:
        raise ValueError(
            f"cannot update partition column(s) {sorted(touched_pc)} — "
            "rows would have to MOVE directories; upsert the changed "
            "rows by key with snapshot_append_upsert (SQL MERGE INTO) "
            "to move them between partitions"
        )
    return schema


def _set_value_expr(v, dtype):
    """The RHS expression for one updated column: a literal (None
    nulls it) or a ``pyspark.sql.Column`` evaluated per row, cast to
    the column's EXISTING type — shared by both update engines so the
    cast/expression semantics cannot diverge."""
    from pyspark.sql import Column

    expr = v if isinstance(v, Column) else F.lit(v)
    return expr.cast(dtype)


def _update_rows_dv_where(
    spark: SparkSession,
    path: str,
    latest: int,
    man: dict,
    predicates,
    plan: tuple[list[str], list[str]],
    set_values: dict,
) -> tuple[int, int]:
    """Merge-on-read update — the engine behind
    ``snapshot_update(mode="dv")``, over the statement's head
    (``latest``, ``man``; equality deletes resolved) and its
    ``_plan``."""
    # stats proofs and row accounting below are position-exact
    assert not man.get("eqs"), "equality deletes must be resolved first"
    victims, _proven = plan
    if not victims:
        return latest, 0
    matched_rows = (
        _scan_live(spark, path, man, victims, row_ids=True)
        .where(_match_expr(predicates))
        .localCheckpoint(eager=True)  # one scan feeds 2 writes
    )
    n, new_dvs, new_tgts = _write_tombstones(matched_rows, path)
    if n == 0:
        return latest, 0
    schema = StructType.fromJson(man["schema"])
    pc = _manifest_partition_cols(man)
    out_cols = []
    for f in schema.fields:
        if f.name in set_values:
            out_cols.append(
                _set_value_expr(set_values[f.name], f.dataType).alias(f.name)
            )
        else:
            out_cols.append(F.col(f.name))
    _, new_files = _write_commit_files(
        matched_rows.select(*out_cols), path, pc,
        colmap=_colmap(man) or None,
    )
    version = _commit(
        spark,
        path,
        sorted(man["files"] + new_files),
        schema,
        "update_rows_dv",
        latest,
        extra={"dv_added": new_dvs, "dv_rows_added": n},
        partition_cols=pc,
        dv_files=sorted((man.get("dv_files") or []) + new_dvs),
        dv_targets=_dv_targets_for(man, new_tgts),
    )
    return version, n


def snapshot_compact_dvs(
    spark: SparkSession,
    path: str,
    target_mb: int = 64,
    min_dead_fraction: float = 0.25,
) -> int:
    """Consolidate a table's deletion-vector sidecars into one compact
    set WITHOUT touching data files: read every live tombstone (inert
    entries for since-rewritten files are dropped), rewrite them as one
    right-sized sidecar, publish as a metadata+sidecar commit. Use when
    many small DV deletes have accumulated and full ``snapshot_compact``
    (which folds tombstones into data rewrites) is not worth the IO
    yet. Row-neutral by construction — the commit records live-entry
    counts on both sides so the feed's verify gate can pass it, like a
    data compaction. Returns the new version (or the current one when
    there is nothing to consolidate).

    A SINGLE sidecar is still a candidate when a material fraction of
    its entries has gone inert (their target files since rewritten
    away — e.g. a partition purge after a scattered DV delete): the
    dead weight is re-read by every DV-masked scan until shed.
    ``min_dead_fraction`` gates that case (footer row total vs live
    semi-join count) so a fully-live sidecar is never pointlessly
    rewritten — the gate is a COUNT-only scan, nothing materializes
    on a stand-down. The consolidated output is sized by LIVE bytes
    (raw bytes × live fraction), never dead-inclusive raw bytes — a
    mostly-inert set must shrink to its live footprint, not
    re-fragment at its old size."""
    latest, man = _manifest_at(path)
    dvs = man.get("dv_files") or []
    root = _root(path)
    if not dvs:
        return latest
    live = F.broadcast(
        local_frame(spark, [(f,) for f in man["files"]], "_dv_file string")
    )
    entries_plan = (
        _read_files(spark, [f"{root}/{p}" for p in dvs])
        .select("_dv_file", "_dv_pos")
        .join(live, "_dv_file", "left_semi")
    )
    total_entries = _footer_row_total(spark, root, dvs)
    n = entries_plan.count()
    if len(dvs) == 1:
        # single sidecar: consolidate only when materially inert
        if total_entries == 0 or (
            (total_entries - n) / total_entries < min_dead_fraction
        ):
            return latest
    if n == 0:
        # every entry was inert: the table has NO live tombstones —
        # publish a DV-free manifest instead of an empty sidecar
        new_dvs, n_after, new_tgts = None, 0, None
    else:
        # one scan feeds the write AND the distinct-target collect
        entries = entries_plan.localCheckpoint(eager=True)
        total = _file_bytes_total(spark, root, dvs)
        live_bytes = total * n / max(1, total_entries)
        n_out = max(1, -(-int(live_bytes) // (target_mb * 1024 * 1024)))
        _, new_dvs = _write_commit_files(
            entries.repartition(n_out), path, None
        )
        # count the REWRITTEN sidecars from disk: equality with the
        # live entries of the old set proves the consolidation lost
        # nothing
        n_after = _dv_entry_count(spark, root, new_dvs, man["files"])
        if n_after != n:
            raise RuntimeError(
                f"DV consolidation wrote {n_after} live tombstones, "
                f"expected {n} — aborting before the commit"
            )
        # the consolidated sidecars' footprint, from the same scan
        new_tgts = sorted(
            r[0] for r in entries.select("_dv_file").distinct().collect()
        )
    return _commit(
        spark,
        path,
        man["files"],
        StructType.fromJson(man["schema"]),
        "compact_dvs",
        latest,
        extra={"dv_rows_before": n, "dv_rows_after": n_after},
        partition_cols=_manifest_partition_cols(man),
        dv_files=new_dvs,
        dv_targets=new_tgts,
    )


def snapshot_resolve_eq(spark: SparkSession, path: str) -> tuple[int, int]:
    """Fold every outstanding EQUALITY-DELETE entry into position
    deletion vectors: scan only the files the entries apply to, find
    the matching (still-live) rows, tombstone their (file, position)
    identities, and publish one ``resolve_eq`` commit that drops the
    entries — row visibility unchanged by construction. Returns
    ``(version, rows_resolved)`` (the current version when nothing is
    outstanding).

    This is the maintenance step that keeps the equality-delete read
    tax bounded: upsert writers land O(batch) commits with zero table
    reads, and the resolver periodically converts the accumulated key
    masks into the position form every read/count/plan path handles at
    full speed (then ``snapshot_compact_dvs``/``snapshot_compact``
    take over as usual). DML mutators call it implicitly — their
    stats proofs and row accounting are position-exact only.
    ``snapshot_compact`` does not: it rewrites through the masks."""
    latest, man = _manifest_at(path)
    entries = _eq_entries(man)
    if not entries:
        return latest, 0
    schema = StructType.fromJson(man["schema"])
    seq_map = man.get("seq") or {}
    affected = _eq_affected_files(man)
    # group affected files by WHICH entries apply (suffixes of the
    # seq-sorted entry list — see _read_file_list) and semi-join each
    # group's rows against its applicable key sidecars; rows already
    # position-tombstoned are masked out (never tombstone twice)
    from bisect import bisect_right

    entries = sorted(entries, key=lambda e: (e["seq"], e["path"]))
    seqs = [e["seq"] for e in entries]
    groups: dict[int, list[str]] = {}
    for f in affected:
        groups.setdefault(bisect_right(seqs, seq_map.get(f, 0)), []).append(f)
    matched_parts = []
    # resolve works entirely in the PHYSICAL namespace: entry keys and
    # sidecar columns are on-disk names, and only (_dv_file, _dv_pos)
    # leave this function — no logical aliasing needed or wanted
    pschema = _phys_fields(schema, _colmap(man))
    for idx, flist in sorted(groups.items()):
        df = _read_file_list(
            spark, path, flist, pschema,
            partition_cols=_manifest_partition_cols(man),
            dv_files=man.get("dv_files"),
            row_ids=True,
            dv_targets=man.get("dv_targets"),
            defaults=man.get("defaults"),
        )
        by_keys: dict[tuple, list[str]] = {}
        for e in entries[idx:]:
            by_keys.setdefault(tuple(e["keys"]), []).append(e["path"])
        for keys, paths in sorted(by_keys.items()):
            keycols = list(keys)
            matched_parts.append(
                df.join(
                    _sidecar_df(spark, path, paths, keycols),
                    keycols,
                    "left_semi",
                ).select(*_DV_COLS)
            )
    matched = matched_parts[0]
    for p in matched_parts[1:]:
        matched = matched.unionByName(p)
    if len(matched_parts) > 1:
        # a row matching entries from two different key sets (or two
        # seq groups' unions) must produce ONE tombstone — duplicate
        # (file, pos) entries would inflate every count correction
        matched = matched.distinct()
    n, new_dvs, new_tgts = _write_tombstones(matched, path)
    extra: dict = {
        "eq_resolved": [e["path"] for e in entries],
        "eq_rows_resolved": n,
        "dv_added": new_dvs,
        "dv_rows_added": n,
    }
    version = _commit(
        spark,
        path,
        man["files"],
        schema,
        "resolve_eq",
        latest,
        extra=extra,
        partition_cols=_manifest_partition_cols(man),
        dv_files=sorted((man.get("dv_files") or []) + new_dvs) or None,
        dv_targets=_dv_targets_for(man, new_tgts),
        eq_files=None,
    )
    return version, n


def _eq_resolved_head(
    spark: SparkSession, path: str, latest: int, man: dict
) -> tuple[int, dict]:
    """DML entry guard: resolve outstanding equality deletes before
    DELETE/UPDATE/MERGE — their stats proofs ("every row of this file
    matches") and victim row accounting are POSITION-exact and would
    otherwise overcount key-masked rows. Compaction needs no guard: it
    rewrites from the masked read. No-op (no extra I/O) when nothing
    is outstanding, which is the steady state."""
    if not man.get("eqs"):
        return latest, man
    v, _ = snapshot_resolve_eq(spark, path)
    return v, load_manifest(path, v)


def _maybe_auto_compact_dvs(
    spark: SparkSession,
    path: str,
    auto_compact_files: int | None,
    target_mb: int = 64,
) -> None:
    """Opportunistic sidecar consolidation after a DV-writing commit:
    once ``auto_compact_files`` sidecars have accumulated, fold them
    into a right-sized set so read-side tombstone merging never
    degrades unbounded under a stream of small DML commits. The
    COUNT trigger (not bytes) bounds amortized maintenance cost: a
    consolidation re-reads every live tombstone, so firing it per
    commit would make each DML ∝ total tombstones — at every N
    commits the re-read amortizes to 1/N per commit, the standard
    log-structured-merge tradeoff.

    The amortization guarantee is CADENCE-based, not count-based
    alone: when live tombstones exceed ``auto_compact_files ×
    (rows per right-sized sidecar)`` the consolidated output itself
    stays at or above the trigger count, and a count-only trigger
    would then re-read the whole tombstone set on EVERY subsequent
    DML — the exact per-commit blowup the trigger exists to avoid.
    So the gate also stands down whenever a ``compact_dvs`` commit
    already sits within the last ``auto_compact_files`` versions:
    consolidations are at least N commits apart, re-read cost
    amortizes to 1/N per commit regardless of the live floor, and
    (unlike a predicted-reduction gate on raw bytes) a mostly-INERT
    sidecar set still consolidates and sheds its dead weight.
    Failures (a concurrent writer winning the version) are swallowed:
    the DML already committed, and the next DV commit re-triggers."""
    if not auto_compact_files:
        return
    versions = list_versions(path)
    man = load_manifest(path, versions[-1])
    dvs = man.get("dv_files") or []
    if len(dvs) < auto_compact_files:
        return
    # scalar-doc walk (cached): recent consolidation -> stand down
    for v in versions[-auto_compact_files:]:
        doc = read_doc(path, v)
        if doc is not None and doc.get("op") == "compact_dvs":
            return
    try:
        snapshot_compact_dvs(spark, path, target_mb=target_mb)
    except SnapshotConflict:
        pass


def _maybe_auto_compact_small(
    spark: SparkSession,
    path: str,
    min_file_rows: int | None,
    trigger_files: int = 16,
    target_mb: int = 256,
) -> None:
    """Opportunistic small-file maintenance after an append: once
    ``trigger_files`` bin-packable fragments (recorded row count under
    ``min_file_rows``, in partitions holding >= 2 of them) have
    accumulated, fold them with a TARGETED compaction — rewrite cost
    ∝ fragment bytes, carried files untouched. The whole trigger
    evaluates from the manifest's recorded per-file row counts: zero
    filesystem stats per commit, so a streaming ingest can afford it
    per micro-batch. Cadence stand-down mirrors
    ``_maybe_auto_compact_dvs``: never within ``trigger_files``
    versions of the last compact commit, bounding maintenance to 1/N
    per commit even when the ingest rate outruns packing. Conflicts
    are swallowed — the append already committed; the next batch
    re-triggers."""
    if not min_file_rows:
        return
    versions = list_versions(path)
    man = load_manifest(path, versions[-1])
    frows = man.get("rows") or {}
    victims = _fragment_victims(
        man["files"], lambda f: f in frows and frows[f] < min_file_rows
    )
    if len(victims) < trigger_files:
        return
    for v in versions[-trigger_files:]:
        doc = read_doc(path, v)
        if doc is not None and doc.get("op") == "compact":
            return
    try:
        snapshot_compact(
            spark, path, target_mb=target_mb, min_file_rows=min_file_rows
        )
    except SnapshotConflict:
        pass


def snapshot_drop_partitions(
    spark: SparkSession,
    path: str,
    partitions: dict,
    retries: int = 0,
) -> tuple[int, int]:
    """METADATA-ONLY partition delete: remove every live file whose
    partition-directory values match ``partitions`` ({col: value |
    list-of-values}, conjunctive across columns, ``None`` = the Hive
    null partition — the same contract as ``read_snapshot``'s
    pruning). Returns ``(new_version, rows_deleted)``.

    This is the ``DELETE WHERE month = 5`` every warehouse retires
    data with, and it must move zero data bytes at any table size: a
    partition directory's value IS the column value for every row in
    it (nulls included — they land in the null partition), so file
    membership proves the predicate row-exactly with no read, no
    rewrite, no tombstones. The commit is a pure manifest edit —
    carried files by reference, dropped files' stats/row entries fall
    away, deletion-vector entries targeting dropped files go inert
    (recorded ``dv_targets`` shrink to the carried intersection; a
    sidecar set gone fully inert drops entirely, restoring clean
    scans). ``rows_deleted`` is exact and metadata-only: recorded
    per-file counts (footers read only for legacy gaps — O(change))
    minus the live tombstones already masking rows in the dropped
    files.

    Non-partition columns refuse (``_partition_pruned_files``) — a
    typo'd column must never read as "empty partition, 0 rows". The
    change feed emits the dropped rows as deletes (file-diff
    semantics, cost ∝ dropped bytes, only when a consumer asks);
    streaming feeds classify it like any other delete commit
    (out-of-scope drops pass a partition-scoped feed untouched).
    Erasure caveat as every manifest-log design: older versions still
    reference the files until ``vacuum_snapshots``.

    ``retries``: on a lost commit race the WHOLE computation reruns
    against the new head — it is metadata-only (no data written, no
    orphans possible), so a retry is a clean re-serialization: the
    drop simply lands after the racer, deleting whatever the matching
    partitions hold THEN (an append racing into a matched partition is
    the append-then-delete ordering, exactly what retrying a DELETE
    means)."""
    for attempt in range(retries + 1):
        try:
            return _drop_partitions_once(
                spark, path, partitions, *_manifest_at(path)
            )
        except SnapshotConflict:
            if attempt == retries:
                raise


def _drop_partitions_once(
    spark: SparkSession, path: str, partitions: dict, latest: int, man: dict
) -> tuple[int, int]:
    """One ``snapshot_drop_partitions`` attempt against the head
    (``latest``, ``man``)."""
    latest, man = _eq_resolved_head(spark, path, latest, man)
    matched = _partition_pruned_files(man, partitions)
    if not matched:
        return latest, 0
    dropped = set(matched)
    rows_deleted = _live_row_total(spark, path, man, matched)
    version = _commit(
        spark,
        path,
        [f for f in man["files"] if f not in dropped],
        StructType.fromJson(man["schema"]),
        "drop_partitions",
        latest,
        extra={
            # provenance, values verbatim (primitives — JSON-clean)
            "dropped_partitions": {
                k: sorted(v, key=lambda x: (x is None, str(x)))
                if isinstance(v, (list, tuple, set, frozenset))
                else v
                for k, v in partitions.items()
            },
            "rows_deleted": rows_deleted,
            "files_removed": len(matched),
        },
        partition_cols=_manifest_partition_cols(man),
    )
    return version, rows_deleted


# ``mode="auto"`` picks deletion vectors once the copy-on-write victim
# bytes exceed this many MB; below it the join-free rewrite wins
DV_THRESHOLD_MB = 64
# DV-writing DML consolidates sidecars once this many have accumulated
# (``_maybe_auto_compact_dvs``; None or 0 turns it off)
AUTO_COMPACT_FILES = 12


def _auto_mode(
    spark: SparkSession, path: str, plan: tuple[list[str], list[str]]
) -> str:
    """``mode="auto"``'s DML strategy from the statement's ``_plan``:
    ``dv`` once the on-disk bytes of the admitted files a rewrite would
    copy exceed ``DV_THRESHOLD_MB``, else the join-free ``rewrite``.
    Proven files are discounted: a delete drops them by reference for
    free, and an update needs a new image of every row under both
    strategies (merge-on-read adds a tombstone per row), so counting
    them would tip a clustered-key mass update onto the worse DV path.
    Only boundary files, where matches mix with rows DV avoids
    rewriting, tell the strategies apart. Metadata-only; file sizes fan
    out to executors past a small count (``_file_bytes_total``)."""
    admitted, proven = plan
    pset = set(proven)
    cost = _file_bytes_total(
        spark, _root(path), [f for f in admitted if f not in pset]
    )
    return "dv" if cost > DV_THRESHOLD_MB * 1024 * 1024 else "rewrite"


def snapshot_delete(
    spark: SparkSession,
    path: str,
    where: dict | list,
    mode: str = "auto",
) -> tuple[int, int]:
    """DELETE WHERE ``where`` — the one delete entry point; returns
    ``(version, rows_deleted)``. ``where`` is ``{col: values | Range |
    IS_NULL | IS_NOT_NULL}`` (AND across columns; a scalar means a
    one-value list) or a list of such dicts (DNF: OR across branches)
    — the form the SQL front door lowers every WHERE to. NULL
    semantics are SQL's: a None value matches nothing, and a column
    whose list is all-None (or a provably-empty ``Range``) makes the
    statement a no-op.

    Only files whose per-file stats or partition directories admit a
    match are touched; every other file carries by reference. Files
    whose stats/directories PROVE every row matches drop from the
    manifest by reference (no read, no rewrite, no tombstones), so a
    delete keyed on a clustered column moves only boundary files.

    - ``mode="rewrite"``: copy-on-write (op ``delete_rows``) — boundary
      files rewritten whole; no tombstone debt, no read-side join.
    - ``mode="dv"``: merge-on-read (op ``delete_rows_dv``) — writes only
      the matched rows' (file, row position) tombstones as a sidecar;
      write cost ∝ deleted rows. Readers anti-join the tombstones
      (``_read_file_list``); ``snapshot_compact`` folds them back.
      Sidecars consolidate past ``AUTO_COMPACT_FILES``.
    - ``mode="auto"``: when every predicate column is a partition
      column with canonical int/str/bool values, the delete is a
      metadata-only ``snapshot_drop_partitions`` (op
      ``drop_partitions``; the directory value IS the column value).
      Otherwise it weighs the rewrite's victim bytes (stats-selected,
      minus whole-file drops) against ``DV_THRESHOLD_MB``: above it
      tombstones win, below it the rewrite. The decision is
      metadata-only. Explicit ``dv``/``rewrite`` always honor the
      requested strategy.

    Erasure caveat shared with every manifest-log design: the deleted
    rows still exist in OLDER versions' files (and, under ``dv``, in
    the current files' bytes until a compact) until
    ``vacuum_snapshots`` drops those versions."""
    if mode not in ("auto", "dv", "rewrite"):
        raise ValueError(f"mode must be auto|dv|rewrite; got {mode!r}")
    preds = _sanitize_predicates(where)
    latest, man = _manifest_at(path)
    if not preds:
        return latest, 0
    latest, man = _eq_resolved_head(spark, path, latest, man)
    if mode == "auto":
        pc = set(_manifest_partition_cols(man) or ())
        if (
            # DNF (multi-branch OR) takes the data paths: per-branch
            # directory whole-file proofs still drop whole partitions
            # by reference, just through one data-path commit instead
            # of n non-atomic partition-drop commits
            isinstance(preds, dict)
            and set(preds) <= pc
            # Range and null-test predicates take the data paths:
            # ranges' directory whole-file proofs already drop whole
            # partitions by reference through a data-path commit, and
            # a null partition value's directory encoding is
            # writer-specific (see _NullTest)
            and not any(
                isinstance(v, (Range, _NullTest)) for v in preds.values()
            )
            # one canonical directory-string form only: 5.0 against an
            # int month renders "5.0" != "5" and would silently no-op
            and all(
                type(v) in (int, str, bool) for vals in preds.values()
                for v in vals
            )
            # files predating a layout evolution may hold matching
            # rows as DATA — a directory-proof drop would silently
            # miss them, so such tables fall through to the data paths
            # until a compact migrates the old files
            and not _files_not_encoding(man, preds)
        ):
            return _drop_partitions_once(spark, path, preds, latest, man)
    plan = _plan(man, preds)
    if mode == "auto":
        mode = _auto_mode(spark, path, plan)
    if mode == "rewrite":
        return _rewrite_matching_files(
            spark, path, latest, man, plan,
            lambda df: df.where(~_match_expr(preds)),
            "delete_rows", full_drop=True,
        )
    out = _delete_rows_dv_where(spark, path, latest, man, preds, plan)
    _maybe_auto_compact_dvs(spark, path, AUTO_COMPACT_FILES)
    return out


def snapshot_update(
    spark: SparkSession,
    path: str,
    where: dict | list,
    set_values: dict,
    mode: str = "auto",
) -> tuple[int, int]:
    """UPDATE ... SET ``set_values`` WHERE ``where`` — the one update
    entry point; returns ``(version, rows_updated)``. ``where`` takes
    the same predicate form as ``snapshot_delete``. ``set_values`` maps
    column → a literal (None nulls it) or a ``pyspark.sql.Column``
    evaluated per row against the PRE-update row (e.g.
    ``F.sha2(F.col("email"), 256)``), cast to the column's type.
    Unknown and partition columns refuse (rows would have to move
    directories).

    - ``mode="rewrite"`` (op ``update_rows``): victim files rewritten
      whole; non-matching rows come back byte-for-byte equal.
    - ``mode="dv"`` (op ``update_rows_dv``): ONE commit tombstones the
      matched rows' old images and appends only the patched images —
      write cost ∝ matched rows. The change feed reports either as
      delete(old image) + insert(new image).
    - ``mode="auto"``: ``dv`` when the victim bytes exceed
      ``DV_THRESHOLD_MB``, else ``rewrite``. Files whose every row
      provably matches are discounted: they cost the same under both
      strategies, so only boundary files tip the scale.

    There is no metadata-only path (rows change, bytes must move), but
    partition-column predicates still prune victims from directory
    values. Old versions keep the pre-update rows until
    ``vacuum_snapshots``."""
    if mode not in ("auto", "dv", "rewrite"):
        raise ValueError(f"mode must be auto|dv|rewrite; got {mode!r}")
    preds = _sanitize_predicates(where)
    latest, man = _manifest_at(path)
    schema = _check_update_targets(man, set_values)
    if not preds:
        return latest, 0
    latest, man = _eq_resolved_head(spark, path, latest, man)
    plan = _plan(man, preds)
    if mode == "auto":
        mode = _auto_mode(spark, path, plan)
    if mode == "dv":
        out = _update_rows_dv_where(
            spark, path, latest, man, preds, plan, set_values
        )
        _maybe_auto_compact_dvs(spark, path, AUTO_COMPACT_FILES)
        return out

    def fn(df):
        matched = _match_expr(preds)
        # ONE select, every RHS resolved against the PRE-update row
        # image (SQL UPDATE semantics): a sequential withColumn chain
        # would let {'email': None, 'email_hash': sha2(col('email'))}
        # hash the already-nulled value, silently dict-order dependent.
        cols = []
        for f in schema.fields:
            if f.name in set_values:
                cols.append(
                    F.when(
                        matched,
                        _set_value_expr(set_values[f.name], f.dataType),
                    )
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                )
            else:
                cols.append(F.col(f.name))
        return df.select(*cols, matched.alias("_matched"))

    return _rewrite_matching_files(
        spark, path, latest, man, plan, fn, "update_rows"
    )


def snapshot_add_column(
    spark: SparkSession, path: str, name: str, dtype, default=None
) -> int:
    """METADATA-ONLY ``ALTER TABLE ADD COLUMN``: publish a new version
    with the same files and a widened schema — zero data bytes move at
    any table size. Existing rows surface the column as NULL (the
    explicit-list readers null-fill manifest columns absent from a
    file); subsequent writers include it like any other column.
    ``dtype`` is a DataType or a DDL string (``"int"``,
    ``"array<double>"``). Returns the new version.

    ``default``: an INITIAL default (Iceberg-v3 semantics) — rows of
    files written BEFORE the add read this value instead of NULL,
    while rows written after the add keep whatever they stored,
    including genuine NULLs. Physical column absence is the per-file
    marker, so the default costs zero data movement and zero per-row
    bookkeeping; it fills at the read boundary, flows through DML
    predicates, metadata MIN/MAX/COUNT(col), the change feed and the
    streaming source. Scalars only (bool/int/float/str), castable to
    ``dtype``. A Bloom index refuses such columns (pre-add rows have
    no physical values to index — candidate lists would silently miss
    them)."""
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(dtype, str):
        dtype = _parse_datatype_string(dtype)
    if default is not None:
        if not isinstance(default, (bool, int, float, str)):
            raise ValueError(
                "default must be a plain scalar (bool/int/float/str); "
                f"got {type(default).__name__}"
            )
        # try_cast: under ANSI mode a malformed literal THROWS at the
        # cast — the probe must turn that into this front door's error
        probe = local_frame(spark, [(1,)], "x int").select(
            F.lit(default).try_cast(dtype).alias("d")
        )
        normalized = probe.first()["d"]
        if normalized is None:
            raise ValueError(
                f"default {default!r} does not cast to "
                f"{dtype.simpleString()}"
            )
        # persist the CAST-NORMALIZED value, not the raw input: the
        # streaming source fills with pyarrow, whose stricter casts
        # reject values Spark coerced (7.5 → int 7; 'yes' → bool) —
        # batch and stream must fill the same bytes. Types whose
        # normalized form isn't a JSON scalar (decimal, date) refuse:
        # the manifest is JSON and the fill must round-trip exactly.
        if not isinstance(normalized, (bool, int, float, str)):
            raise ValueError(
                f"defaults are unsupported for {dtype.simpleString()} "
                "(normalized value is not a JSON scalar)"
            )
        default = normalized
    if name in _DV_COLS:
        raise ValueError(
            f"column name {name!r} is reserved for the deletion-vector "
            "row identity"
        )
    latest, man = _manifest_at(path)
    schema = StructType.fromJson(man["schema"])
    if name in {f.name for f in schema.fields}:
        raise ValueError(f"column {name!r} already exists at {path}")
    # the new column's PHYSICAL name equals its logical name; refuse if
    # a renamed column still occupies that physical slot — two logical
    # columns must never share an on-disk column (see _colmap)
    taken = {p: l for l, p in _colmap(man).items()}
    if name in taken:
        raise ValueError(
            f"column name {name!r} is the on-disk (physical) name of "
            f"renamed column {taken[name]!r} — pick a different name, "
            "or rewrite the table (snapshot_write overwrite) to shed "
            "the rename history"
        )
    from pyspark.sql.types import StructField

    new_schema = StructType(list(schema.fields) + [StructField(name, dtype)])
    new_defaults = dict(man.get("defaults") or {})
    if default is not None:
        # keyed by the PHYSICAL name (= the logical one at add time,
        # frozen forever) — a later rename never detaches the default
        new_defaults[name] = default
    return _commit(
        spark,
        path,
        man["files"],
        new_schema,
        "add_column",
        latest,
        defaults=new_defaults or None,
        extra={
            "altered_column": name,
            **({"default": default} if default is not None else {}),
        },
        partition_cols=_manifest_partition_cols(man),
    )


def snapshot_drop_column(
    spark: SparkSession, path: str, name: str
) -> int:
    """METADATA-ONLY ``ALTER TABLE DROP COLUMN``: publish a new version
    with the same files and a narrowed schema. The column's bytes stay
    in the files (readers project them away — the explicit-list scan
    selects exactly the manifest schema) until the next
    ``snapshot_compact`` physically rewrites; time travel below the
    drop still reads it. Partition columns refuse (their values ARE
    the directory layout); the column's per-file stats entries drop
    with it. Returns the new version."""
    latest, man = _manifest_at(path)
    schema = StructType.fromJson(man["schema"])
    if name not in {f.name for f in schema.fields}:
        raise ValueError(f"column {name!r} does not exist at {path}")
    pc = _manifest_partition_cols(man) or []
    if name in pc:
        raise ValueError(
            f"cannot drop partition column {name!r} — its values are "
            "the directory layout; rewrite the table with a new layout "
            "(snapshot_compact) first"
        )
    new_schema = StructType([f for f in schema.fields if f.name != name])
    if not new_schema.fields:
        raise ValueError("cannot drop the last column")
    # a CHECK constraint referencing the dropped column would pass the
    # alter (no new files to scan) and then fail every future append
    # with an unresolved-column error — refuse up front instead, by
    # analyzing each constraint against the NARROWED schema
    for cname, cexpr in sorted(
        _constraint_exprs(man.get("props")).items()
    ):
        probe = local_frame(spark, [], new_schema)
        try:
            probe.select(F.expr(cexpr))  # analysis-only, no job
        except Exception:
            raise ValueError(
                f"cannot drop column {name!r}: CHECK constraint "
                f"{cname!r} ({cexpr}) references it — drop the "
                "constraint first"
            ) from None
    # an equality delete KEYED on the column anywhere in RETAINED
    # history blocks the drop: an outstanding entry would lose its
    # join column at read time (silent resurrection), and even a
    # resolved one is re-joined by the change feed's eq legs (and can
    # come back outstanding via restore) — the feed contract is that
    # any fully-retained range replays, which a missing key column
    # would break with an AnalysisException. Resolve + vacuum the eq
    # history first, or use the documented add+backfill pattern.
    # Metadata-only: one cached state fold per retained version.
    pname = _phys(man, name)  # entry keys are on-disk names (stable)
    for hv in list_versions(path):
        hman = load_manifest(path, hv)
        for e in _eq_entries(hman):
            if pname in e["keys"]:
                raise ValueError(
                    f"cannot drop column {name!r}: equality delete "
                    f"{e['path']!r} (version {hv}) keys on it — "
                    "resolve (snapshot_resolve_eq) and vacuum that "
                    "history first"
                )
    # _commit prunes the column's rename mapping, default and stats
    # with it. Re-adding a column under the freed physical name then
    # shares drop+re-add's documented semantics: pre-drop files still
    # physically hold the old bytes until a compact rewrites them
    return _commit(
        spark,
        path,
        man["files"],
        new_schema,
        "drop_column",
        latest,
        extra={"altered_column": name},
        partition_cols=_manifest_partition_cols(man),
    )


def snapshot_rename_column(
    spark: SparkSession, path: str, old: str, new: str
) -> int:
    """METADATA-ONLY ``ALTER TABLE RENAME COLUMN``: publish the same
    files under a schema whose field ``old`` is now called ``new``.
    Safe because physical (on-disk) column names are FROZEN at add
    time (see ``_colmap``): every file — written before or after the
    rename — stores the column under its original physical name, the
    manifest records the logical→physical mapping, and readers alias
    once at the read boundary. No per-file name resolution, no
    silent-null hazard, zero data movement; time travel below the
    rename still reads the old name. Stats, partition directories and
    equality-delete sidecars stay keyed physical, so planning and
    masking are untouched.

    Refusals: ``old`` missing / ``new`` already present; partition
    columns (their names ARE the directory layout and every partition
    predicate surface); reserved ``_dv_*`` names; a CHECK constraint
    referencing ``old`` (drop + re-add the constraint against the new
    name). ``new`` MAY be another column's physical slot — a rename
    never mints a physical name, so the map stays injective (this is
    what keeps the classic a→tmp, b→a, tmp→b swap legal). Returns the
    new version."""
    latest, man = _manifest_at(path)
    schema = StructType.fromJson(man["schema"])
    names = {f.name for f in schema.fields}
    if old not in names:
        raise ValueError(f"column {old!r} does not exist at {path}")
    if new in names:
        raise ValueError(f"column {new!r} already exists at {path}")
    if new in _DV_COLS:
        raise ValueError(
            f"column name {new!r} is reserved for the deletion-vector "
            "row identity"
        )
    pc = _manifest_partition_cols(man) or []
    if old in pc:
        raise ValueError(
            f"cannot rename partition column {old!r} — its name is the "
            "directory layout; rewrite the table with a new layout "
            "(snapshot_compact) first"
        )
    cmap = dict(_colmap(man))
    # No physical-slot check here (unlike add_column): a rename never
    # mints a physical name — it re-labels an existing frozen one, so
    # the logical→physical map stays injective by construction (each
    # physical was minted once by an add that refused taken slots).
    # This is what keeps the classic swap (a→tmp, b→a, tmp→b) legal.
    # a CHECK constraint referencing the old name would fail analysis
    # on every future commit — refuse up front (same probe as drop)
    from pyspark.sql.types import StructField

    new_schema = StructType(
        [
            StructField(new, f.dataType, f.nullable)
            if f.name == old
            else f
            for f in schema.fields
        ]
    )
    for cname, cexpr in sorted(
        _constraint_exprs(man.get("props")).items()
    ):
        probe = local_frame(spark, [], new_schema)
        try:
            probe.select(F.expr(cexpr))  # analysis-only, no job
        except Exception:
            raise ValueError(
                f"cannot rename column {old!r}: CHECK constraint "
                f"{cname!r} ({cexpr}) references it — drop the "
                "constraint and re-add it against the new name"
            ) from None
    # the frozen physical name: whatever ``old`` already mapped to
    # (identity if never renamed). A rename chain a→b→c keeps ONE
    # mapping c→a; renaming back to the physical name erases it.
    phys = cmap.pop(old, old)
    if new != phys:
        cmap[new] = phys
    return _commit(
        spark,
        path,
        man["files"],
        new_schema,
        "rename_column",
        latest,
        extra={"altered_column": new, "renamed_from": old},
        partition_cols=_manifest_partition_cols(man),
        colmap=cmap or None,
    )


def _is_widening(cur, new) -> bool:
    """Whether every value of type ``cur`` is exactly representable as
    ``new`` — the lossless type promotions (the Iceberg v2 set):
    integer chain byte→short→int→long, float→double, and decimal
    precision growth at the SAME scale. Anything else (narrowing,
    cross-family, scale changes, string↔numeric) refuses — the read
    path pins the MANIFEST's types, so a non-widening alter would
    silently corrupt or null old files' values at scan time."""
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    ints = [ByteType(), ShortType(), IntegerType(), LongType()]
    if cur in ints and new in ints:
        return ints.index(cur) < ints.index(new)
    if cur == FloatType() and new == DoubleType():
        return True
    if isinstance(cur, DecimalType) and isinstance(new, DecimalType):
        return new.scale == cur.scale and new.precision > cur.precision
    return False


def snapshot_widen_column(
    spark: SparkSession, path: str, name: str, new_type
) -> int:
    """METADATA-ONLY ``ALTER TABLE ALTER COLUMN TYPE`` for LOSSLESS
    promotions (``_is_widening``): publish the same files under a
    schema whose field ``name`` has the wider type — zero data bytes
    move at any table size. Safe because every explicit-list reader
    casts scans to the MANIFEST's types already (the documented
    widened-history path; long-history flat reads detect the mixed
    footers and keep the per-commit cast): old files' narrow values
    read back widened, new writers store the wide type natively.
    Recorded min/max stats stay valid verbatim (numbers compare
    numerically in the stats image); equality-delete sidecars keyed on
    the column keep matching (the read-side key join upcasts the
    narrow sidecar). Partition columns widen too — their values are
    directory strings cast at read. Time travel below the alter reads
    the narrow type. Returns the new version.

    Caveat shared with every engine's type promotion: a SATELLITE
    index that recorded the narrow key type (Bloom ``key_type``)
    fails loudly on its next sync over wide-typed files — rebuild it.
    """
    from pyspark.sql.types import StructField, _parse_datatype_string

    if isinstance(new_type, str):
        new_type = _parse_datatype_string(new_type)
    latest, man = _manifest_at(path)
    schema = StructType.fromJson(man["schema"])
    fields = {f.name: f for f in schema.fields}
    if name not in fields:
        raise ValueError(f"column {name!r} does not exist at {path}")
    cur = fields[name].dataType
    if cur == new_type:
        raise ValueError(
            f"column {name!r} already has type {cur.simpleString()}"
        )
    if not _is_widening(cur, new_type):
        raise ValueError(
            f"cannot alter column {name!r} from {cur.simpleString()} to "
            f"{new_type.simpleString()} — only lossless widenings are "
            "metadata-only (byte→short→int→long, float→double, decimal "
            "precision growth at the same scale); anything else needs "
            "a rewrite (add + backfill + drop, or snapshot_write "
            "overwrite)"
        )
    new_schema = StructType(
        [
            StructField(name, new_type, f.nullable)
            if f.name == name
            else f
            for f in schema.fields
        ]
    )
    # CHECK constraints must still analyze against the widened schema
    # (type-specific expressions can break — refuse up front, like the
    # other alters)
    for cname, cexpr in sorted(
        _constraint_exprs(man.get("props")).items()
    ):
        probe = local_frame(spark, [], new_schema)
        try:
            probe.select(F.expr(cexpr))  # analysis-only, no job
        except Exception:
            raise ValueError(
                f"cannot widen column {name!r}: CHECK constraint "
                f"{cname!r} ({cexpr}) does not analyze against the "
                "widened schema — drop and re-add it first"
            ) from None
    return _commit(
        spark,
        path,
        man["files"],
        new_schema,
        "widen_column",
        latest,
        extra={
            "altered_column": name,
            "widened_from": cur.simpleString(),
            "widened_to": new_type.simpleString(),
        },
        partition_cols=_manifest_partition_cols(man),
    )


def snapshot_set_layout(
    spark: SparkSession, path: str, partition_cols: list[str] | None
) -> int:
    """METADATA-ONLY PARTITION EVOLUTION (the Iceberg partition-spec-
    evolution idea, re-expressed for this manifest log): publish the
    same files under a NEW partition layout that applies to FUTURE
    commits only — zero data bytes move at any table size, where a
    repartition-by-rewrite of a 100 TB table would copy all of it.
    Returns the new version.

    Existing files keep their directory layout and stay readable
    forever: the explicit-list reader groups files per commit dir with
    its own ``basePath``, so heterogeneous layouts union cleanly (an
    old file surfaces the new layout's column from its DATA pages, a
    new file from its directories). ``snapshot_compact`` migrates old
    files physically whenever wanted — full compaction restores a
    single-layout table.

    While layouts are mixed (old files not yet compacted), every
    surface stays EXACT, never silently partial:

    - partition-scoped reads / counts split the file list — directory-
      encoded files prune as always, unmigrated files read with a
      row-level residual filter (``_partition_residual_cond``);
    - metadata-only ops that must PROVE predicates from directories
      alone refuse loudly (``snapshot_drop_partitions``,
      partition-scoped feeds — ``_partition_pruned_files`` mode
      "raise") or fall back automatically (the DELETE front door's
      partition fast path steps aside to the data paths);
    - ``snapshot_replace_partitions`` keeps its existing fail-fast
      (carried files are classified by directory, unclassifiable files
      raise with a compact-first message);
    - the file planner (``_plan``) keeps its no-false-negatives
      contract: unmigrated files stay candidates and are never proven
      from a directory they lack.

    Refusals: unknown columns; renamed columns or physical slots of
    renames (partition directories are physical names — the
    logical==physical invariant for layout columns is what keeps every
    predicate surface simple); columns with an INITIAL default (an
    old file has no physical values to prune by, and the write path's
    dir values would disagree with the read-time fill); reserved
    ``_dv_*`` names; a no-op layout."""
    latest, man = _manifest_at(path)
    schema = StructType.fromJson(man["schema"])
    names = {f.name for f in schema.fields}
    want = list(partition_cols) if partition_cols else None
    if want is not None:
        if len(set(want)) != len(want):
            raise ValueError(f"duplicate layout column in {want}")
        unknown = [c for c in want if c not in names]
        if unknown:
            raise ValueError(
                f"layout column(s) {unknown} not in table schema"
            )
        bad_dv = [c for c in want if c in _DV_COLS]
        if bad_dv:
            raise ValueError(f"column name(s) {bad_dv} are reserved")
        cmap = _colmap(man)
        taken = {p: l for l, p in cmap.items()}
        renamed = [
            c for c in want if cmap.get(c, c) != c or c in taken
        ]
        if renamed:
            raise ValueError(
                f"layout column(s) {renamed} carry rename history "
                "(partition directories are physical names) — rewrite "
                "the table (snapshot_write overwrite / snapshot_compact)"
                " to shed the rename first"
            )
        dflts = man.get("defaults") or {}
        defaulted = [c for c in want if c in dflts]
        if defaulted:
            raise ValueError(
                f"layout column(s) {defaulted} have an INITIAL default "
                "— pre-add files have no physical values to lay out or "
                "prune by; compact first to materialize the default"
            )
    if (_manifest_partition_cols(man) or None) == (want or None):
        raise ValueError(
            f"layout is already {want or 'unpartitioned'} at {path}"
        )
    return _commit(
        spark,
        path,
        man["files"],
        schema,
        "set_layout",
        latest,
        extra={
            "layout_from": _manifest_partition_cols(man),
            "layout_to": want,
        },
        partition_cols=want,
    )
