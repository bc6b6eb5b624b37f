"""Equality-delete writers: zero-table-read upserts and key deletes.

The merge-on-read DML in ``snapshots.py`` (deletion vectors) made
WRITE bytes proportional to the change — but a keyed upsert still has
to READ the touched partitions to find which rows it supersedes
(``snapshot_merge(mode="dv")`` scans them for (file, position)
tombstones). On a 100 TB table fed by a CDC stream whose keys scatter
across partitions, every micro-batch pays a table-read tax that has
nothing to do with the batch's size.

EQUALITY DELETES remove that read entirely — the public Iceberg-v2
design (format spec, "equality delete files"), re-expressed on this
repo's manifest log:

- ``snapshot_append_upsert`` writes the batch's images plus ONE key
  sidecar and commits; the manifest entry records the sidecar path,
  the key columns, and the commit's sequence number. Cost: O(batch),
  zero reads of the table. Matched old rows aren't located — they are
  masked at read time by a key anti-join over exactly the files that
  predate the entry (per-file sequence numbers; see
  ``snapshots._read_file_list``).
- ``snapshot_delete_keys`` is the delete-only form (takedown feeds).
- ``snapshots.snapshot_resolve_eq`` folds accumulated entries into
  position deletion vectors (reading only the applicable files), so
  the read-side anti-join tax never accretes: upserts land at write
  speed, maintenance converts at its own pace, reads stay fast.
  DML mutators resolve implicitly; compaction reads through the masks.
- ``stream_snapshot_upsert`` is the Structured Streaming wrapper:
  foreachBatch + checkpoint, exactly-once via the same
  (stream_id, epoch) manifest-replay guard as
  ``stream_snapshot_append``, with an auto-resolve cadence.

Semantics: LAST WRITER WINS by commit order — an upsert's images
replace every earlier row with the same key (including earlier
upserts', whose files predate the new entry). Out-of-order CDC feeds
that need max-version-wins reconciliation against the TARGET must use
``snapshot_merge(mode="dv")`` (which reads the table precisely because
that comparison requires it); within one batch, ``version_col`` picks
each key's newest image. Reference: the reference pipeline has no
upsert at all (append-only S3 prefixes —
/root/reference/data/airflow/dags/save_nyc_data_to_s3.py); this
module is engine-native.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .manifestlog import list_versions, load_manifest
from .snapshots import (
    SnapshotConflict,
    _colmap,
    _commit,
    _epoch_already_applied,
    _eq_entries,
    _manifest_at,
    _manifest_partition_cols,
    _require_same_layout,
    _write_commit_files,
    snapshot_resolve_eq,
)


def _pick_newest(
    updates: DataFrame, keys: list[str], version_col: str
) -> DataFrame:
    """One image per key within the batch — the newest by
    ``version_col`` wins (ties broken arbitrarily but deterministically
    by the window's ordering)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _null_key_cond(keys: list[str]):
    cond = F.col(keys[0]).isNull()
    for k in keys[1:]:
        cond = cond | F.col(k).isNull()
    return cond


def _validate_eq_batch(
    batch: DataFrame, keys: list[str], allow_dups: bool
) -> int:
    """ONE aggregation job over the (checkpointed) batch computes
    everything the refusal probes used to need separate driver actions
    for — NULL keys, duplicate keys, and the row/key counts. On a
    high-frequency CDC stream the old shape (a NULL-key ``limit(1)``
    probe, a duplicate-key ``limit(1)`` probe, then a ``count()``) was
    three jobs per micro-batch; this is one. Offender examples for the
    error messages are fetched lazily ONLY on the failure path.

    Returns the number of images the upsert will append: total rows
    when duplicates refuse, distinct keys when ``allow_dups`` (a
    version column picks a winner per key downstream)."""
    null_cond = _null_key_cond(keys)
    per_key = batch.groupBy(*keys).agg(F.count(F.lit(1)).alias("_c"))
    row = per_key.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("n_keys"),
        F.coalesce(F.sum("_c"), F.lit(0)).alias("n_rows"),
        F.coalesce(F.max("_c"), F.lit(0)).alias("max_dup"),
        F.coalesce(
            F.sum(F.when(null_cond, F.col("_c"))), F.lit(0)
        ).alias("null_rows"),
    ).collect()[0]
    if row["null_rows"]:
        bad = batch.where(null_cond).limit(1).collect()  # failure path
        raise ValueError(
            "NULL key in upsert batch: equality deletes match with "
            "plain (non-null-safe) equality, so a NULL-keyed image "
            f"could never supersede anything; offender: "
            f"{bad[0].asDict()}"
        )
    if not allow_dups and row["max_dup"] > 1:
        dup = (
            per_key.where(F.col("_c") > 1).limit(1).collect()
        )  # failure path
        raise ValueError(
            f"duplicate key {dup[0].asDict()} in upsert batch — pass "
            "version_col to pick a winner, or dedupe upstream"
        )
    return int(row["n_keys"] if allow_dups else row["n_rows"])


def snapshot_append_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    version_col: str | None = None,
    retries: int = 0,
    extra: dict | None = None,
) -> tuple[int, int]:
    """Keyed upsert with ZERO reads of the table: append the batch's
    images and one equality-delete sidecar masking every older row
    with the same keys. Returns ``(new_version, rows_appended)``.
    Last-writer-wins by commit order (see module docstring); the
    batch's own images are never self-masked (files appended by the
    commit carry the commit's sequence, the entry applies strictly
    below it).

    ``retries``: conflict retries, metadata-only — the images and the
    sidecar are written once, each retry re-derives the head and
    recommits (the streaming wrapper's normal-case path). When
    ``extra`` carries ``(stream_id, epoch)`` provenance, every retry
    re-checks the history for a commit that already applied this
    epoch — a zombie replay of the same stream may land it while this
    instance is retrying, and recommitting would double the batch
    (the same recheck ``stream_snapshot_append`` does)."""
    head, man = _manifest_at(path)
    partition_cols = _manifest_partition_cols(man)
    schema = StructType.fromJson(man["schema"])
    cols = [f.name for f in schema.fields]
    missing = [c for c in cols if c not in updates.columns]
    if missing:
        raise ValueError(f"updates missing table column(s) {missing}")
    # cast to the TABLE's types BEFORE the NULL-key check: a key value
    # that casts to NULL ('abc' into a long column under a permissive
    # caller session) must refuse like any other NULL key — checked
    # pre-cast it would slip through as an un-supersedable NULL-keyed
    # image that masks nothing
    casted = updates.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
    missing_k = [k for k in keys if k not in casted.columns]
    if missing_k:
        raise ValueError(f"key column(s) {missing_k} not in updates")
    # checkpoint FIRST (one materialization of the incoming plan),
    # then validate + count in a single aggregation job — the old
    # probe-then-checkpoint-then-count shape was 3 driver actions per
    # CDC micro-batch, each re-executing the upstream plan
    batch = casted.localCheckpoint(eager=True)
    n = _validate_eq_batch(batch, keys, allow_dups=version_col is not None)
    if n == 0:
        return head, 0
    if version_col is not None:
        # the winner-picking window feeds two write jobs below —
        # checkpoint it so it executes once, like the old shape
        batch = _pick_newest(batch, keys, version_col).localCheckpoint(
            eager=True
        )
    cmap = _colmap(man)
    dflts = man.get("defaults")  # captured with the schema (tuple rule)
    _, new_files = _write_commit_files(
        batch, path, partition_cols, colmap=cmap or None
    )
    # the key sidecar: one row per distinct key tuple, one file (keys
    # are batch-sized — the whole point is that this is tiny). Sidecar
    # columns and the entry's recorded keys are PHYSICAL names, like
    # the file columns they mask (see _colmap) — stable across renames
    pkeys = [cmap.get(k, k) for k in keys]
    _, eq_files = _write_commit_files(
        batch.select(
            *[F.col(k).alias(cmap.get(k, k)) for k in keys]
        )
        .distinct()
        .coalesce(1),
        path,
        None,
    )
    entry = {"path": eq_files[0], "seq": None, "keys": pkeys}
    extra = dict(extra or {})
    extra.update({"rows_appended": n, "eq_added": eq_files})
    checked: set[int] = set()
    for attempt in range(retries + 1):
        versions = list_versions(path)
        dup = _epoch_already_applied(path, versions, extra, checked)
        if dup is not None:
            return dup, 0
        latest = versions[-1]
        man = load_manifest(path, latest)
        _require_same_layout(man, partition_cols, "append_upsert")
        try:
            version = _commit(
                spark,
                path,
                sorted(man["files"] + new_files),
                schema,
                "upsert_eq",
                latest,
                extra=extra,
                partition_cols=partition_cols,
                eq_files=_eq_entries(man) + [entry],
                # the (schema, colmap) PAIR captured when the images
                # were written: inheriting the retry-time head's map
                # under this captured schema would let _commit's
                # pruning destroy a concurrent rename's mapping —
                # permanent silent nulls (snapshot_write passes its
                # captured pair for the same reason)
                colmap=cmap or None,
                defaults=dflts,
            )
            return version, n
        except SnapshotConflict:
            if attempt == retries:
                raise


def snapshot_delete_keys(
    spark: SparkSession,
    path: str,
    deletes: DataFrame,
    retries: int = 0,
    extra: dict | None = None,
) -> tuple[int, int]:
    """DELETE by key with zero reads AND zero data writes beyond the
    key sidecar itself — the takedown-stream primitive (``deletes``'s
    columns are the key; each distinct tuple masks every matching row
    currently in the table). Returns ``(new_version, n_keys)``. How
    many rows actually die is deliberately not computed here (that
    would be the table read this exists to avoid) —
    ``snapshot_resolve_eq`` / ``snapshot_agg`` COUNT(*) answer it exactly
    when someone needs the number."""
    head, man = _manifest_at(path)
    schema = StructType.fromJson(man["schema"])
    fields = {f.name: f for f in schema.fields}
    keys = list(deletes.columns)
    unknown = [k for k in keys if k not in fields]
    if unknown:
        raise ValueError(f"key column(s) {unknown} not in table schema")
    # cast first, NULL-check after — a value that casts to NULL is a
    # silently-lost delete, exactly what the check exists to refuse
    casted = deletes.select(
        *[F.col(k).cast(fields[k].dataType).alias(k) for k in keys]
    )
    cmap = _colmap(man)
    pkeys = [cmap.get(k, k) for k in keys]
    dele = (
        casted.select(*[F.col(k).alias(cmap.get(k, k)) for k in keys])
        .distinct()
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    # NULL keys survive distinct, so validating the checkpointed frame
    # refuses exactly what the old pre-checkpoint probe did — in the
    # same single aggregation job that produces the key count (one
    # driver action instead of two per takedown batch)
    n = _validate_eq_batch(dele, pkeys, allow_dups=True)
    if n == 0:
        return head, 0
    _, eq_files = _write_commit_files(dele, path, None)
    # sidecar columns / entry keys in PHYSICAL names (see _colmap)
    entry = {"path": eq_files[0], "seq": None, "keys": [cmap.get(k, k) for k in keys]}
    extra = dict(extra or {})
    extra.update({"eq_added": eq_files, "eq_key_count": n})
    checked: set[int] = set()
    for attempt in range(retries + 1):
        versions = list_versions(path)
        dup = _epoch_already_applied(path, versions, extra, checked)
        if dup is not None:
            return dup, 0
        latest = versions[-1]
        man = load_manifest(path, latest)
        try:
            version = _commit(
                spark,
                path,
                man["files"],
                StructType.fromJson(man["schema"]),
                "delete_eq",
                latest,
                extra=extra,
                partition_cols=_manifest_partition_cols(man),
                eq_files=_eq_entries(man) + [entry],
            )
            return version, n
        except SnapshotConflict:
            if attempt == retries:
                raise


def maybe_resolve_eq(
    spark: SparkSession, path: str, max_entries: int
) -> int | None:
    """Opportunistic resolve: fold entries into position DVs once
    ``max_entries`` are outstanding. Conflict-tolerant (a racing
    writer skips this run — the next one retries), like every other
    auto-maintenance hook. Returns the resolve's version or None."""
    versions = list_versions(path)
    if not versions:
        return None
    man = load_manifest(path, versions[-1])
    if len(_eq_entries(man)) < max_entries:
        return None
    try:
        v, _ = snapshot_resolve_eq(spark, path)
        return v
    except SnapshotConflict:
        return None


def stream_snapshot_upsert(
    spark: SparkSession,
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    stream_id: str,
    keys: list[str],
    version_col: str | None = None,
    retries: int = 3,
    auto_resolve_entries: int | None = 8,
) -> None:
    """Land a CDC stream as keyed upserts, one ``upsert_eq`` version
    per micro-batch, exactly once across checkpoint replays — the
    upsert sibling of ``stream_snapshot_append``, with the same
    idempotent-apply composition: every commit records
    ``(stream_id, epoch)``, and a replayed epoch already in the
    version history is skipped (its files are already published; the
    replay's orphans are invisible to readers and GC'd later).

    Each batch costs O(batch) — images + one key sidecar — with zero
    table reads; ``auto_resolve_entries`` bounds the read-side key
    masks by folding them into position deletion vectors every N
    batches (conflict-tolerant, skipped when a concurrent writer
    wins). Downstream: batch readers are exact immediately;
    insert-only feed consumers must use ``onNonAppend=skip`` or the
    row-level ``snapshot_changes`` (an upsert is not an append — it
    deletes rows it never located)."""

    def apply_batch(batch: DataFrame, epoch: int) -> None:
        if batch.isEmpty():
            return
        prov = {"stream_id": stream_id, "epoch": epoch}
        if _epoch_already_applied(path, list_versions(path), prov, set()):
            return
        snapshot_append_upsert(
            spark, path, batch, keys,
            version_col=version_col,
            retries=retries,
            extra=prov,
        )
        if auto_resolve_entries is not None:
            maybe_resolve_eq(spark, path, auto_resolve_entries)

    (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
