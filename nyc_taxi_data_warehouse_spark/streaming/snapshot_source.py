"""Structured-Streaming SOURCE over snapshot-table commits.

``warehouse/snapshots.py`` gives tables an append-only commit log
(numbered JSON manifests listing immutable data files). That log is
exactly the shape a streaming source needs: the OFFSET is a manifest
version, a micro-batch is "the files added by versions (start, end]",
and replays are trivially deterministic because manifests never change.
This module turns any snapshot table into a first-class streaming
input using the Spark 4 Python Data Source API
(`pyspark.sql.datasource`) — the idiomatic way to add a custom source
without JVM code:

    spark.dataSource.register(SnapshotFeedDataSource)
    df = (spark.readStream.format("snapshot_feed")
          .option("path", table_path).load())

or via the `read_snapshot_stream` convenience wrapper. Downstream the
feed composes with everything Structured Streaming offers (watermarks,
stateful ops, `stream_snapshot_append` back into another snapshot
table = an incremental materialized-view pipeline with exactly-once
ends on both sides).

Scale design:
- Planning (`partitions`) touches ONLY manifests — metadata reads
  bounded by commits per batch, never data size. One input partition
  per added file preserves the table's write parallelism.
- Reading happens executor-side as Arrow RecordBatches straight from
  the parquet file (pyarrow), so rows never funnel through the driver
  and never pass through per-row Python objects.
- Commit classification is structural: a commit that removes no files
  is a pure append and streams through; rewrite commits (compaction,
  delete, partition replacement) are not expressible as an insert-only
  feed — `onNonAppend=fail` (default) stops the stream loudly,
  `onNonAppend=skip` ignores them (correct for compaction, which
  changes no rows; lossy for deletes — caller's explicit choice),
  `onNonAppend=verify` streams zero rows from a commit PROVEN
  row-neutral (op == "compact" and removed-file row totals equal
  added-file row totals, read from parquet footers — metadata-only)
  and still fails loudly on anything else. `verify` is what the
  materialized views use: routine compaction of the source no longer
  breaks every derived view, while a genuine delete/update still does.

All metadata reads here (version listing, manifest reconstruction,
partition-directory values, footer row counts) go through
``warehouse.manifestlog``, the same JVM-free reader the batch engine
uses, over ``pyarrow.fs`` (local, ``file:``, HDFS, S3, GCS): data-source
code runs in plain Python workers with no JVM/Hadoop `FileSystem`
handle. The planner asks for stats-stripped manifests
(``want_stats=False``), which never share a cache entry with the
batch engine's full ones.

Known engine caveat: Python micro-batch streams don't yet implement
`SupportsTriggerAvailableNow`, so `Trigger.AvailableNow` falls back to
single-batch execution (one batch from the checkpointed offset to
`latestOffset`, then stop). Offsets are still checkpointed, so the
repeated drain-restart pattern remains exactly-once — proven by
`tests/test_snapshot_feed.py::test_stream_incremental_exactly_once`.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..warehouse.manifestlog import (
    list_versions,
    load_manifest,
    pa_fs,
    parquet_num_rows,
    partition_values,
    ship_by_value,
    split_ref,
)


# By-value shipping: the registered DataSource class is cloudpickled at
# plan time and unpickled inside Spark's python_streaming_source_runner
# subprocess. Pickled by REFERENCE (the default for module-level
# classes), that subprocess must be able to ``import
# nyc_taxi_data_warehouse_spark`` — true only when the driver ran from
# the repo root or the package is installed, and NOT fixed by
# ``addPyFile`` (which covers task workers, not the source-runner).
# By value, the class and the module globals it uses ride in the pickle
# itself, so planning works from any cwd with zero install — the same
# self-containedness bar the Pandas-UDF paths meet via
# ``session._ship_package``. ``manifestlog`` ships itself the same way.
ship_by_value(sys.modules[__name__])


class _FilePartition(InputPartition):
    def __init__(
        self,
        file_uri: str,
        part_values: dict,
        version: int,
        defaults: dict | None = None,
    ):
        self.file_uri = file_uri
        self.part_values = part_values
        self.version = version
        # the ADDING version's initial-defaults map ({physical col:
        # scalar}): resolved PER VERSION at plan time — a later
        # materializing compact sheds the head's entries while
        # replayed history must still fill what its version showed
        self.defaults = defaults or {}


class SnapshotFeedStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._path = options["path"]
        self._root = split_ref(self._path)[0]  # data files live here
        self._dv_targets: dict[str, frozenset] = {}  # sidecar -> files
        self._on_non_append = options.get("onnonappend", "fail").lower()
        if self._on_non_append not in ("fail", "skip", "verify"):
            raise ValueError(
                "onNonAppend must be fail|skip|verify; got "
                f"{self._on_non_append!r}"
            )
        start = str(options.get("startingversion", "0")).lower()
        vs = list_versions(self._path)  # one LIST serves start + colmap
        if start == "latest":
            self._start = vs[-1] if vs else 0
        else:
            self._start = int(start)
        # logical→physical column map captured WITH the stream schema
        # (RENAME support): files store frozen physical names, the
        # stream's output schema is the head's logical one, and this
        # map — immutable for the reader's lifetime, like the schema —
        # is the correct translation for every in-lineage file however
        # old (see warehouse.snapshots._colmap). A restart re-captures
        # both together; a mid-stream identity RESET (full overwrite)
        # or a stale capture is caught loudly at plan time by
        # _check_identity below, never read as silent nulls.
        head_man = (
            load_manifest(self._path, vs[-1], want_stats=False) if vs else {}
        )
        self._cmap: dict = head_man.get("colmap") or {}
        self._cap_ver: int = vs[-1] if vs else 0  # capture head
        self._identity_ok: set = set()  # manifest_ids already checked
        # partition scope: the consumer sees ONLY matching partition
        # directories — appends elsewhere stream nothing, and (the real
        # win) rewrites confined elsewhere pass even under
        # onNonAppend=fail, because the scoped file delta is empty.
        raw_scope = options.get("partitions")
        self._scope: dict[str, set] | None = None
        if raw_scope:
            def _norm(v):
                if v is None:
                    return None
                if isinstance(v, bool):  # Spark writes 'true'/'false'
                    return "true" if v else "false"
                return str(v)

            parsed = json.loads(raw_scope)
            if not isinstance(parsed, dict) or not parsed:
                raise ValueError(
                    "partitions option must be a non-empty JSON object "
                    "of {column: value | [values]}"
                )
            self._scope = {
                # partition directories carry PHYSICAL names
                self._cmap.get(k, k): {
                    _norm(x)
                    for x in (v if isinstance(v, list) else [v])
                }
                for k, v in parsed.items()
            }

    def _check_identity(self, man: dict) -> None:
        """Refuse — at PLAN time — any version whose schema holds a
        column with a stream field's NAME but a different on-disk
        identity: the captured map would read the wrong (usually
        absent) physical column and the field would stream as silent
        NULLs. Reachable via a full overwrite slipping past
        ``onNonAppend=skip`` (fresh column identities under reused
        names) or a rename landing between the source's two head
        reads. Restarting the stream re-captures schema + map
        together and clears the condition. Fields genuinely absent
        from a version (pre-add history, post-drop) still null-fill —
        that is the documented add/drop contract, not an identity
        break. Only versions committed AFTER the capture are checked:
        history BELOW it belongs to identities the capture already
        reflects — pre-reset files there null-fill by the same
        field-identity contract the batch feed documents."""
        if int(man.get("version") or 0) <= self._cap_ver:
            return
        mid = man.get("manifest_id")
        if mid is not None and mid in self._identity_ok:
            return
        vmap = man.get("colmap") or {}
        vnames = {f["name"] for f in man["schema"]["fields"]}
        for f in self._schema.fieldNames():
            if f in vnames and vmap.get(f, f) != self._cmap.get(f, f):
                raise ValueError(
                    f"stream column {f!r} resolves to on-disk column "
                    f"{self._cmap.get(f, f)!r} as captured at stream "
                    f"start, but version {man.get('version')} stores "
                    f"it as {vmap.get(f, f)!r} — the column's identity "
                    "changed mid-stream (overwrite or a rename race); "
                    "restart the stream to re-capture the schema"
                )
        if mid is not None:
            self._identity_ok.add(mid)

    def _in_scope(self, rel_file: str) -> bool:
        if self._scope is None:
            return True
        pv = partition_values(rel_file)
        missing = [k for k in self._scope if k not in pv]
        if missing:
            # a file predating a layout evolution (snapshot_set_layout)
            # stores the scope column as DATA — membership is not
            # directory-provable, and silently treating it as
            # out-of-scope would drop matching rows from the feed
            raise ValueError(
                f"file {rel_file} does not encode partition column(s) "
                f"{missing} in its directories — the table's layout "
                "evolved; a partition-scoped feed needs directory-"
                "provable values (snapshot_compact migrates old files)"
            )
        return all(pv.get(k) in vs for k, vs in self._scope.items())

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        # No per-batch version cap on purpose: ``latestOffset`` in the
        # Python Data Source API receives no checkpointed position, so
        # a "latest = committed + N" rate limit tracked process-locally
        # either stalls (a restarted drain re-caps from startingVersion
        # and equals the checkpoint → "no new data" forever) or
        # regresses offsets (re-delivery). Backlog size is instead
        # bounded upstream: commit cadence on the source table.
        # The cost of the unbounded first drain is MEASURED, not
        # guessed: tests/test_feed_backlog.py pins a 200-commit
        # backlog to one partition per added file and < 64 MiB of
        # planning heap, draining in exactly one availableNow batch.
        vs = list_versions(self._path)
        return {"version": vs[-1] if vs else self._start}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        parts: list[_FilePartition] = []
        if hi <= lo:
            return [p for p in parts]
        have = set(list_versions(self._path))
        prev_files: set[str] | None = None
        prev_dvs: set[str] = set()
        prev_tgts: set[str] = set()
        prev_eqs: list[dict] = []
        prev_defaults: dict = {}
        for v in range(lo + 1, hi + 1):
            if v not in have:
                raise FileNotFoundError(
                    f"snapshot version {v} missing at {self._path} — "
                    "vacuumed past the stream's offset; restart with "
                    "startingVersion=latest or retain more history"
                )
            man = load_manifest(self._path, v, want_stats=False)
            self._check_identity(man)
            if prev_files is None:
                parent = man["parent"]
                if parent is None:
                    prev_files = set()
                else:
                    # the offset version itself is the first diff's
                    # parent; vacuum may have dropped exactly it
                    try:
                        pman = load_manifest(
                            self._path, parent, want_stats=False
                        )
                        prev_files = {
                            f for f in pman["files"] if self._in_scope(f)
                        }
                        prev_dvs = set(pman.get("dv_files") or [])
                        prev_eqs = pman.get("eqs") or []
                        prev_defaults = pman.get("defaults") or {}
                        if self._scope is not None:
                            prev_tgts = self._targets_of(pman, prev_dvs)
                    except OSError:  # FileNotFoundError locally; plain
                        # OSError from object-store pyarrow filesystems
                        raise FileNotFoundError(
                            f"snapshot version {parent} missing at "
                            f"{self._path} — vacuumed past the stream's "
                            "offset; restart with startingVersion=latest "
                            "or retain more history"
                        ) from None
            files = {f for f in man["files"] if self._in_scope(f)}
            dvs = set(man.get("dv_files") or [])
            eqs = man.get("eqs") or []
            eq_changed = {e["path"] for e in eqs} != {
                e["path"] for e in prev_eqs
            }
            removed = prev_files - files
            new_dflt = sorted(
                set(man.get("defaults") or {}) - set(prev_defaults)
            )
            if new_dflt and prev_files:
                # ADD COLUMN WITH DEFAULT retroactively changes every
                # pre-existing row of the column (NULL → default) while
                # moving no files — invisible to file diffing, never
                # row-neutral, not expressible on an insert-only feed.
                # Classify it like the dv/eq deltas; empty tables pass
                # (nothing to change retroactively).
                if self._on_non_append != "skip":
                    raise ValueError(
                        f"version {v} ({man.get('op')}) adds column "
                        f"default(s) {new_dflt} — this retroactively "
                        "changes pre-existing rows, which cannot "
                        "stream through an insert-only feed; consume "
                        "row-level changes with snapshot_changes() or "
                        "set onNonAppend=skip (already-streamed rows "
                        "then keep their streamed fill)"
                    )
            if removed:
                if self._on_non_append == "fail":
                    raise ValueError(
                        f"version {v} ({man.get('op')}) removes "
                        f"{len(removed)} file(s) — not an append; set "
                        "onNonAppend=verify to pass row-neutral rewrites "
                        "(compaction), onNonAppend=skip to ignore all "
                        "rewrite commits, or consume row-level changes "
                        "with snapshot_changes()"
                    )
                if self._on_non_append == "verify":
                    self._verify_row_neutral(
                        man, v, removed, files - prev_files,
                        prev_dvs=prev_dvs, new_dvs=dvs,
                        prev_eqs=prev_eqs,
                    )
                # verified or skipped rewrite: stream zero rows from it
            elif dvs != prev_dvs and not self._dv_delta_out_of_scope(
                man, dvs, prev_tgts
            ):
                # deletion-vector delta with no file changes: added
                # tombstones are row DELETES (delete_rows_dv), removed
                # tombstones are row RESURRECTIONS (a restore past the
                # delete) — neither is expressible on an insert-only
                # feed, and unlike a compaction they are never
                # row-neutral, so 'verify' must fail too. The ONE
                # neutral case is a declared sidecar CONSOLIDATION
                # (op == "compact_dvs") whose recorded live-tombstone
                # counts match on both sides — same trust model as the
                # data compaction's recorded row totals.
                if (
                    self._on_non_append == "verify"
                    and man.get("op") == "compact_dvs"
                    and man.get("dv_rows_before") is not None
                    and man.get("dv_rows_before") == man.get("dv_rows_after")
                ):
                    pass  # verified tombstone-set swap: zero rows
                elif (
                    self._on_non_append == "verify"
                    and man.get("op") == "resolve_eq"
                    and man.get("eq_rows_resolved") is not None
                    and man.get("eq_rows_resolved")
                    == man.get("dv_rows_added")
                ):
                    # equality-deletes folded into position tombstones
                    # for the SAME rows: visibility unchanged by
                    # construction, recorded counts pin it — the same
                    # trust model as compact_dvs' entry counts
                    pass
                elif self._on_non_append != "skip":
                    raise ValueError(
                        f"version {v} ({man.get('op')}) changes deletion "
                        "vectors — row deletes/resurrections cannot "
                        "stream through an insert-only feed; consume "
                        "row-level changes with snapshot_changes() or "
                        "set onNonAppend=skip to ignore rewrites"
                    )
            elif eq_changed and not self._eq_delta_out_of_scope(
                man, eqs, prev_eqs, files, prev_files
            ):
                # equality-delete delta (upsert_eq / delete_eq, or a
                # restore across one): key-masked row deletes (or
                # resurrections) with no position to verify against —
                # never expressible on an insert-only feed, and never
                # row-neutral (except a zero-row resolve, accepted
                # under verify like its dv-writing sibling above).
                if (
                    self._on_non_append == "verify"
                    and man.get("op") == "resolve_eq"
                    and man.get("eq_rows_resolved") == 0
                ):
                    pass
                elif self._on_non_append != "skip":
                    raise ValueError(
                        f"version {v} ({man.get('op')}) changes "
                        "equality deletes — key-masked row deletes/"
                        "resurrections cannot stream through an "
                        "insert-only feed; consume row-level changes "
                        "with snapshot_changes() or set "
                        "onNonAppend=skip to ignore them"
                    )
                else:
                    # skip mode: the commit's genuine inserts still
                    # stream — an upsert's fresh images carry the
                    # commit's own sequence, so no entry (its own
                    # included) can mask them; re-added OLD files an
                    # entry applies to are rewrites and stay skipped.
                    # The DV re-add guard applies here exactly as in
                    # the normal branch: a restore that changes the eq
                    # set can simultaneously re-add a file carried
                    # position tombstones target — streaming it whole
                    # would deliver its dead rows.
                    seqmap = man.get("seq") or {}
                    added_now = files - prev_files
                    hit = {
                        f
                        for f in added_now
                        if any(
                            e["seq"] > seqmap.get(f, 0) for e in eqs
                        )
                    }
                    if dvs and added_now:
                        tgts = man.get("dv_targets")
                        hit |= added_now & (
                            set(tgts)
                            if tgts is not None
                            else self._dv_target_files(dvs)
                        )
                    for f in sorted(added_now - hit):
                        parts.append(
                            _FilePartition(
                                f"{self._root}/{f}",
                                partition_values(f),
                                v,
                                defaults=man.get("defaults"),
                            )
                        )
            else:
                added_now = files - prev_files
                if eqs and added_now:
                    # eq set unchanged, but a restore can re-add an
                    # OLD file a carried entry applies to — streaming
                    # it whole would deliver its key-masked rows (the
                    # eq analog of the DV re-add guard below). Fresh
                    # appends carry the commit's sequence: never hit.
                    seqmap = man.get("seq") or {}
                    eq_hit = {
                        f
                        for f in added_now
                        if any(
                            e["seq"] > seqmap.get(f, 0) for e in eqs
                        )
                    }
                    if eq_hit and self._on_non_append != "skip":
                        raise ValueError(
                            f"version {v} ({man.get('op')}) re-adds "
                            f"{len(eq_hit)} file(s) subject to "
                            "equality deletes — their key-masked rows "
                            "cannot stream through an insert-only "
                            "feed; consume row-level changes with "
                            "snapshot_changes() or set "
                            "onNonAppend=skip"
                        )
                    added_now = added_now - eq_hit
                if dvs and added_now:
                    # a restore can RE-ADD an old file some carried
                    # sidecar targets; streaming it whole would deliver
                    # its tombstoned rows. Fresh appends (new uuid
                    # commit dirs) can never be targeted. The target
                    # set comes from the MANIFEST's dv_targets (∝
                    # targeted files, recorded at DV-commit time — a
                    # legal superset of the live targets: uuid dirs
                    # make relpath reuse impossible, so it can never
                    # claim a fresh file); opening sidecars is only the
                    # legacy-manifest fallback.
                    tgts = man.get("dv_targets")
                    hit = added_now & (
                        set(tgts)
                        if tgts is not None
                        else self._dv_target_files(dvs)
                    )
                    if hit and self._on_non_append != "skip":
                        raise ValueError(
                            f"version {v} ({man.get('op')}) re-adds "
                            f"{len(hit)} file(s) carrying deletion-"
                            "vector tombstones — their dead rows cannot "
                            "stream through an insert-only feed; consume "
                            "row-level changes with snapshot_changes() "
                            "or set onNonAppend=skip"
                        )
                    # skip mode drops ONLY the tombstone-targeted
                    # re-adds; fresh untargeted appends in the same
                    # commit still stream (the skip contract is
                    # "ignore rewrites", not "ignore the commit")
                    for f in sorted(added_now - hit):
                        parts.append(
                            _FilePartition(
                                f"{self._root}/{f}",
                                partition_values(f),
                                v,
                                defaults=man.get("defaults"),
                            )
                        )
                else:
                    for f in sorted(added_now):
                        parts.append(
                            _FilePartition(
                                f"{self._root}/{f}",
                                partition_values(f),
                                v,
                                defaults=man.get("defaults"),
                            )
                        )
            prev_files = files
            prev_dvs = dvs
            prev_eqs = eqs
            prev_defaults = man.get("defaults") or {}
            if self._scope is not None:
                prev_tgts = self._targets_of(man, dvs)
        return parts

    def _eq_delta_out_of_scope(
        self,
        man: dict,
        eqs: list[dict],
        prev_eqs: list[dict],
        files: set,
        prev_files: set,
    ) -> bool:
        """True when this reader is partition-scoped and the
        equality-delete delta cannot touch any in-scope row: no
        in-scope file (either side) is subject to any CHANGED entry —
        applicability is the per-file sequence comparison, pure
        manifest metadata."""
        if self._scope is None:
            return False
        cpaths = {e["path"] for e in eqs}
        ppaths = {e["path"] for e in prev_eqs}
        changed = [e for e in eqs if e["path"] not in ppaths] + [
            e for e in prev_eqs if e["path"] not in cpaths
        ]
        seqmap = man.get("seq") or {}
        for f in files | prev_files:
            s = seqmap.get(f, 0)
            if any(e["seq"] > s for e in changed):
                return False
        return True

    def _targets_of(self, man: dict, dvs: set) -> set:
        """The data files ``man``'s sidecars tombstone — recorded
        dv_targets when present (∝ targeted files), sidecar-derived
        (cached) for legacy manifests."""
        if not dvs:
            return set()
        tgts = man.get("dv_targets")
        return set(tgts) if tgts is not None else set(
            self._dv_target_files(dvs)
        )

    def _dv_delta_out_of_scope(
        self, man: dict, dvs: set, prev_tgts: set
    ) -> bool:
        """True when this reader is partition-scoped and a deletion-
        vector delta cannot touch any in-scope file: every target of
        the old AND new sidecar sets lies outside the scope, so the
        consumer's rows are untouched and the commit needs no
        fail/verify/skip treatment (its in-scope additions still
        stream through the normal append path)."""
        if self._scope is None:
            return False
        now = self._targets_of(man, dvs)
        return not any(self._in_scope(t) for t in (prev_tgts | now))

    def _dv_entries_for(self, dvs: set, files: set) -> int:
        """Tombstone rows in ``dvs`` that target one of ``files`` —
        planner-side pyarrow, per row group, only the ``_dv_file``
        column ever materializes."""
        if not dvs or not files:
            return 0
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        value_set = pa.array(sorted(files))
        total = 0
        for rel in sorted(dvs):
            fs, p = pa_fs(f"{self._root}/{rel}")
            with fs.open_input_file(p) as f:
                pf = pq.ParquetFile(f)
                for i in range(pf.metadata.num_row_groups):
                    col = pf.read_row_group(
                        i, columns=["_dv_file"]
                    ).column("_dv_file")
                    total += (
                        pc.sum(
                            pc.is_in(col, value_set=value_set)
                        ).as_py()
                        or 0
                    )
        return total

    def _eq_masked(
        self, files: set, dvs: set, eqs: list, seqmap: dict
    ) -> int:
        """Rows of ``files`` that no tombstone in ``dvs`` deletes but an
        applicable equality-delete entry of ``eqs`` masks — planner-side
        pyarrow over each subject file's key columns only. A key column
        the file does not store comes from its partition directory (or
        stays NULL, which no entry matches: plain equality)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        def read(rel, cols):
            fs, p = pa_fs(f"{self._root}/{rel}")
            with fs.open_input_file(p) as fh:
                return pq.read_table(fh, columns=cols)

        subject = {
            f: app
            for f in sorted(files)
            if (app := [e for e in eqs if e["seq"] > seqmap.get(f, 0)])
        }
        if not subject:
            return 0
        tombs = [read(rel, ["_dv_file", "_dv_pos"]) for rel in sorted(dvs)]
        total = 0
        for f, app in subject.items():
            keys = sorted({k for e in app for k in e["keys"]})
            fs, p = pa_fs(f"{self._root}/{f}")
            with fs.open_input_file(p) as fh:
                pf = pq.ParquetFile(fh)
                stored = set(pf.schema_arrow.names)
                tbl = pf.read(columns=[k for k in keys if k in stored])
                n = pf.metadata.num_rows
            by_keys: dict[tuple, list[str]] = {}
            for e in app:
                by_keys.setdefault(tuple(e["keys"]), []).append(e["path"])
            hits = []
            for kt, paths in sorted(by_keys.items()):
                side = pa.concat_tables([read(r, list(kt)) for r in paths])
                cols = [pa.array(range(n), pa.int64())]
                for k in kt:
                    typ = side.schema.field(k).type
                    if k in stored:
                        cols.append(tbl.column(k).cast(typ))
                    else:
                        raw = partition_values(f).get(k)
                        cols.append(pa.array([raw] * n, pa.string()).cast(typ))
                left = pa.table(cols, names=["_pos", *kt])
                hit = left.join(side, list(kt), join_type="left semi")
                hits.extend(hit.column("_pos").chunks)
            masked = pc.unique(pa.chunked_array(hits, pa.int64()))
            dead = pa.chunked_array(
                [
                    t.filter(pc.equal(t.column("_dv_file"), f))
                    .column("_dv_pos")
                    .combine_chunks()
                    for t in tombs
                ],
                pa.int64(),
            ).combine_chunks()
            total += len(masked) - (
                pc.sum(pc.is_in(masked, value_set=dead)).as_py() or 0
            )
        return total

    def _dv_target_files(self, dvs: set) -> set:
        """Union of data-file relpaths the given sidecars tombstone —
        LEGACY fallback for manifests predating the recorded
        ``dv_targets`` list. Sidecars are immutable, so each is read
        ONCE per reader and cached. Deduplication happens per ROW
        GROUP inside Arrow (``unique()``): only the distinct target
        relpaths ever materialize as Python strings, never one string
        per tombstone row — planning stays ∝ targeted FILES."""
        import pyarrow.parquet as pq

        out: set = set()
        for rel in sorted(dvs):
            if rel not in self._dv_targets:
                vals: set = set()
                fs, p = pa_fs(f"{self._root}/{rel}")
                with fs.open_input_file(p) as f:
                    pf = pq.ParquetFile(f)
                    for i in range(pf.metadata.num_row_groups):
                        col = pf.read_row_group(
                            i, columns=["_dv_file"]
                        ).column("_dv_file")
                        vals.update(col.unique().to_pylist())
                self._dv_targets[rel] = frozenset(vals)
            out |= self._dv_targets[rel]
        return out

    def _verify_row_neutral(
        self,
        man: dict,
        v: int,
        removed: set,
        added: set,
        prev_dvs: set = frozenset(),
        new_dvs: set = frozenset(),
        prev_eqs: list = (),
    ) -> None:
        """Prove a file-removing commit changed no rows before letting
        the feed pass it silently. Two gates, both required:

        - the commit DECLARES itself a rewrite (``op == "compact"``) —
          delete/update/replace/restore commits are row-changing by
          intent and must keep failing loudly, even in the (common!)
          case where an update's rewrite happens to preserve row counts;
        - the removed files' row totals equal the added files'. Counts
          come from the commit's own recorded ``rows_removed``/
          ``rows_added`` when present (``snapshot_compact`` writes them
          at commit time — essential once ``vacuum_snapshots`` has
          deleted the superseded files this gate would otherwise
          re-read: a lagging feed must still pass a legitimate
          compaction); parquet footers are the fallback for older
          commits without recorded totals. Recorded-total equality is
          exactly diff-neutrality even if files carry over: carried
          rows appear in both totals.

        A "compact" whose counts DON'T match is a corrupted/mislabeled
        rewrite — that is exactly the case the fail-loud contract
        exists for."""
        op = man.get("op")
        if op != "compact":
            raise ValueError(
                f"version {v} ({op}) removes {len(removed)} file(s) and "
                "is not a compaction — row changes cannot stream through "
                "an insert-only feed; rebuild the derived table or "
                "consume row-level changes with snapshot_changes()"
            )
        if self._scope is not None:
            # recorded totals are TABLE-global — a scoped consumer
            # needs this commit row-neutral WITHIN its scope, so count
            # live rows of exactly the scoped removed/added files:
            # footers minus the tombstones targeting them under each
            # side's sidecar set (a targeted compact folds victims'
            # tombstones — live-for-live is the honest comparison), and
            # minus the rows each side's equality deletes mask (a
            # compaction reads through outstanding entries and drops
            # them). Requires superseded footers to still exist: a
            # scoped verify feed must not lag behind compact + vacuum.
            pseq = {}
            if prev_eqs:  # the removed files' sequences: the parent's
                pseq = load_manifest(
                    self._path, man["parent"], want_stats=False
                ).get("seq") or {}
            n_removed = sum(
                parquet_num_rows(f"{self._root}/{f}") for f in removed
            ) - self._dv_entries_for(prev_dvs, removed) - self._eq_masked(
                removed, prev_dvs, prev_eqs, pseq
            )
            n_added = sum(
                parquet_num_rows(f"{self._root}/{f}") for f in added
            ) - self._dv_entries_for(new_dvs, added) - self._eq_masked(
                added, new_dvs, man.get("eqs") or [], man.get("seq") or {}
            )
        elif (
            man.get("rows_removed") is not None
            and man.get("rows_added") is not None
        ):
            n_removed = man["rows_removed"]
            n_added = man["rows_added"]
        else:
            n_removed = sum(
                parquet_num_rows(f"{self._root}/{f}") for f in removed
            )
            n_added = sum(
                parquet_num_rows(f"{self._root}/{f}") for f in added
            )
        if n_removed != n_added:
            raise ValueError(
                f"version {v} (compact) is not row-neutral: removed "
                f"files hold {n_removed} rows but added files hold "
                f"{n_added} — refusing to skip a row-changing rewrite"
            )

    def read(self, partition: _FilePartition):
        """Executor-side: stream the file's Arrow batches, appending
        partition-directory values as constant columns, cast to the
        table schema. Yields `pyarrow.RecordBatch` (zero per-row
        Python)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self._schema)
        fs, fpath = pa_fs(partition.file_uri)
        with pq.ParquetFile(fs.open_input_file(fpath)) as pf:
            for batch in pf.iter_batches():
                tbl = pa.Table.from_batches([batch])
                cols = []
                for field in target:
                    # files + partition dirs store PHYSICAL names
                    phys = self._cmap.get(field.name, field.name)
                    if phys in tbl.column_names:
                        cols.append(tbl[phys].cast(field.type))
                    elif phys in partition.part_values:
                        raw = partition.part_values[phys]
                        cols.append(
                            pa.array([raw] * len(tbl), type=pa.string()).cast(
                                field.type
                            )
                        )
                    elif phys in partition.defaults:
                        # INITIAL default: this file predates the add
                        # (filled under the ADDING version's map — see
                        # _FilePartition.defaults)
                        cols.append(
                            pa.array(
                                [partition.defaults[phys]] * len(tbl)
                            ).cast(field.type)
                        )
                    else:
                        cols.append(pa.nulls(len(tbl), type=field.type))
                out = pa.Table.from_arrays(cols, schema=target)
                yield from out.to_batches()

    def commit(self, end: dict) -> None:
        pass


class SnapshotFeedDataSource(DataSource):
    """``spark.readStream.format("snapshot_feed")`` — options:

    - ``path`` (required): snapshot table root
    - ``startingVersion``: int (exclusive; 0 = full retained history)
      or ``latest`` (tail only); default 0
    - ``onNonAppend``: ``fail`` (default) | ``skip`` | ``verify``
      (pass PROVEN row-neutral compactions, fail everything else)
    - ``partitions``: JSON object ``{col: value | [values]}`` scoping
      the feed to matching partition directories; out-of-scope
      rewrites and DV churn pass silently (see
      ``read_snapshot_stream``)
    """

    @classmethod
    def name(cls) -> str:
        return "snapshot_feed"

    def schema(self) -> StructType:
        path = self.options["path"]
        versions = list_versions(path)
        if not versions:
            raise FileNotFoundError(f"no snapshot versions at {path}")
        man = load_manifest(path, versions[-1], want_stats=False)
        return StructType.fromJson(man["schema"])

    def streamReader(self, schema: StructType) -> SnapshotFeedStreamReader:
        return SnapshotFeedStreamReader(schema, self.options)


def read_snapshot_stream(
    spark,
    path: str,
    starting_version: int | str = 0,
    on_non_append: str = "fail",
    starting_timestamp=None,
    partitions: dict | None = None,
):
    """Register the source (idempotent) and open the stream.

    ``starting_timestamp`` ("changes since yesterday 09:00") resolves
    ONCE, here at stream definition, to the version live at that time
    via ``snapshot_version_at`` — which then acts as the usual
    exclusive ``startingVersion``. Resolution inherits the
    retention-gap refusal; pass it instead of (not alongside) an
    explicit ``starting_version``.

    ``partitions`` ({col: value | [values]}) scopes the feed to
    matching partition directories: appends elsewhere stream nothing,
    and rewrites / DV churn confined elsewhere PASS even under
    ``onNonAppend="fail"`` (the scoped file delta is empty) — one
    consumer per tenant/shard survives global table maintenance.
    Scoped ``verify`` counts live rows of the scoped removed/added
    files from footers + sidecars (recorded totals are table-global),
    so it must not lag behind compact + vacuum."""
    if starting_timestamp is not None:
        from ..warehouse.snapshots import snapshot_version_at

        if starting_version not in (0, "0"):
            raise ValueError(
                "starting_version and starting_timestamp are mutually "
                "exclusive"
            )
        starting_version = snapshot_version_at(spark, path, starting_timestamp)
    spark.dataSource.register(SnapshotFeedDataSource)
    reader = (
        spark.readStream.format("snapshot_feed")
        .option("path", path)
        .option("startingVersion", str(starting_version))
        .option("onNonAppend", on_non_append)
    )
    if partitions is not None:
        reader = reader.option("partitions", json.dumps(partitions))
    return reader.load()
