"""Engine CLI — the replacement for the reference's whole dispatch layer.

The reference ships its job to EMR via an Airflow-built spark-submit step
with 11 CLI args including credentials (``/root/reference/data/airflow/
dags/save_nyc_data_to_s3.py:149-202``) and polls a step sensor. Here the
engine is a library + CLI: any scheduler (cron, Airflow, nothing) calls
an idempotent subcommand and gets a synchronous exit code.

    python -m nyc_taxi_data_warehouse_spark init
    python -m nyc_taxi_data_warehouse_spark load-month --path f.parquet --year 2025 --month 1
    python -m nyc_taxi_data_warehouse_spark backfill --raw-root /data/raw
    python -m nyc_taxi_data_warehouse_spark sql "SELECT count(*) FROM fhvhv_tripdata"
    python -m nyc_taxi_data_warehouse_spark sql "OPTIMIZE fhvhv_tripdata"
"""

from __future__ import annotations

import argparse
import json
import sys


def _dml_where(args, cmd: str):
    """The engine predicate of a DML subcommand: ``--col/--values``
    lowers to ``{col: values}``, ``--where`` decodes as JSON. One copy
    for snapshot-delete and snapshot-update, so a validation fix can
    never land in one and miss the other."""
    if (args.where is None) == (args.col is None) or (
        args.col is not None and args.values is None
    ):
        raise SystemExit(f"{cmd} wants --col/--values OR --where")
    if args.where is not None and args.values is not None:
        raise SystemExit(
            "--values belongs to --col; with --where, put the "
            "values in the JSON predicates"
        )
    if args.where is not None:
        return _decode_where(args.where)
    return {args.col: json.loads(args.values)}


def _decode_where(text: str):
    """``--where`` JSON → engine predicates, one decoder for every
    subcommand that takes predicates (count/delete/update — a decode
    fix can never land in one and miss the others). Accepts:

    - a JSON object ``{col: value | [values] | {lo, hi, lo_inc,
      hi_inc} | {"is_null": true|false}}`` — a conjunction; the
      object forms are a ``Range`` and a null test (true = IS NULL,
      false = IS NOT NULL);
    - a JSON ARRAY of such objects — a disjunction (OR of the
      branches), executed as ONE commit through the DNF planner.
    """
    import json

    from .warehouse.snapshots import IS_NOT_NULL, IS_NULL, Range

    obj = json.loads(text)

    def branch(d):
        if not isinstance(d, dict):
            raise SystemExit(
                "--where wants a JSON object {col: ...} or an array "
                "of such objects (OR of branches)"
            )
        out = {}
        for c, v in d.items():
            if isinstance(v, dict):
                if set(v) == {"is_null"}:
                    out[c] = IS_NULL if v["is_null"] else IS_NOT_NULL
                    continue
                try:
                    out[c] = Range(**v)
                except (TypeError, ValueError) as e:
                    raise SystemExit(
                        f"--where range spec: {e} "
                        "(range keys: lo, hi, lo_inc, hi_inc; "
                        'null test: {"is_null": true|false})'
                    ) from None
            else:
                out[c] = v
        return out

    if isinstance(obj, list):
        if not obj:
            raise SystemExit("--where array needs at least one branch")
        return [branch(b) for b in obj]
    return branch(obj)


def _cli_timestamp(text: str | None):
    """``--at-timestamp`` → epoch seconds when numeric, else the ISO
    string as given (``snapshot_version_at`` parses it)."""
    if text is None:
        return None
    try:
        return float(text)
    except ValueError:
        return text


def main(argv: list[str] | None = None, spark=None) -> int:
    p = argparse.ArgumentParser(prog="nyc_taxi_data_warehouse_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser(
        "init",
        help="create the fact table and bind the name fhvhv_tripdata",
    )

    lm = sub.add_parser("load-month", help="idempotently load one monthly file")
    lm.add_argument("--path", required=True)
    lm.add_argument("--year", type=int, required=True)
    lm.add_argument("--month", type=int, required=True)
    lm.add_argument("--force", action="store_true", help="re-overwrite the partition")
    lm.add_argument(
        "--wap",
        action="store_true",
        help="write-audit-publish: land the month on an isolated branch, "
        "audit schema + row count, publish only on approval",
    )

    bf = sub.add_parser("backfill", help="load every undiscovered month under a root")
    bf.add_argument("--raw-root", required=True)
    for sp in (lm, bf):
        sp.add_argument(
            "--snapshot-path",
            help="fact table path (default: <warehouse root>/fhvhv_tripdata)",
        )

    q = sub.add_parser("sql", help="run a SQL statement and print JSON rows")
    q.add_argument("statement")
    q.add_argument("--limit", type=int, default=100)
    q.add_argument(
        "--snapshot", action="append", default=[], metavar="NAME=PATH[@V]",
        help="register a snapshot table as a temp view before running "
        "(repeatable); @V pins a version, e.g. trips=/wh/trips@7 — "
        "names in the durable catalog (see 'catalog add') need no flag",
    )

    ca = sub.add_parser(
        "catalog",
        help="durable table-name catalog: bind snapshot-table names "
        "that survive the session, so 'sql \"SELECT ... FROM trips\"' "
        "resolves tomorrow with no --snapshot flag",
    )
    ca.add_argument("action", choices=["add", "list", "drop"])
    ca.add_argument(
        "spec", nargs="?",
        help="add: NAME=PATH[@V] (@V pins a version — pinned names "
        "refuse mutation); drop: NAME",
    )
    ca.add_argument(
        "--root",
        help="catalog root directory (default: $SPARK_GRAFT_CATALOG_ROOT "
        "or the session's spark.sql.warehouse.dir)",
    )

    di = sub.add_parser(
        "dedup-ingest",
        help="stream new document files into a kept corpus, near-dup-"
        "filtered against everything already kept (persisted MinHash "
        "index; re-runnable — the checkpoint skips processed files)",
    )
    di.add_argument("--src", required=True, help="watched parquet directory")
    di.add_argument("--index", required=True, help="MinHash index path")
    di.add_argument("--kept", required=True, help="kept-corpus output path")
    di.add_argument("--checkpoint", required=True)
    di.add_argument("--text-col", default="text")
    di.add_argument("--id-col", default="doc_id")
    di.add_argument("--threshold", type=float, default=0.5)

    sm = sub.add_parser(
        "sample",
        help="materialize an exact-count, deterministic domain-mixture "
        "sample (same rows on any cluster shape)",
    )
    sm.add_argument("--src", required=True, help="input parquet path")
    sm.add_argument("--out", required=True, help="output parquet path")
    sm.add_argument("--domain-col", required=True)
    sm.add_argument(
        "--weights", required=True, help='JSON domain weights, e.g. {"en":6,"es":3}'
    )
    sm.add_argument("--n", type=int, required=True, help="total rows to sample")
    sm.add_argument("--id-col", required=True)
    sm.add_argument("--seed", type=int, default=0)

    zo = sub.add_parser(
        "zorder",
        help="rewrite a parquet path clustered on a Morton interleave "
        "of the given keys, so range predicates on ANY key skip files",
    )
    zo.add_argument("--src", required=True)
    zo.add_argument("--out", required=True)
    zo.add_argument("--keys", required=True, help="comma-separated columns")
    zo.add_argument("--files", type=int, default=8)

    dr = sub.add_parser(
        "drift",
        help="PSI drift report between two parquet snapshots "
        "(reference-quantile buckets; psi > 0.25 = shifted)",
    )
    dr.add_argument("--reference", required=True)
    dr.add_argument("--current", required=True)
    dr.add_argument("--columns", required=True, help="comma-separated numeric columns")
    dr.add_argument("--buckets", type=int, default=10)

    pr = sub.add_parser(
        "profile",
        help="one-pass per-column profile of a parquet table "
        "(nulls, ndv, ranges, top values)",
    )
    pr.add_argument("--src", required=True)
    pr.add_argument("--columns", help="comma-separated subset (default: all)")
    pr.add_argument("--top-k", type=int, default=5)

    bi = sub.add_parser(
        "bloom-index",
        help="build or incrementally extend a per-file Bloom skipping "
        "index for point lookups on a non-layout column",
    )
    bi.add_argument("--table-path", required=True)
    bi.add_argument("--index-path", required=True)
    bi.add_argument("--key-col", required=True)
    bi.add_argument("--m-bits", type=int, default=65536)
    bi.add_argument("--k", type=int, default=7)
    bi.add_argument(
        "--append", action="store_true",
        help="index only files not already indexed (incremental)",
    )
    bi.add_argument(
        "--snapshot", action="store_true",
        help="table-path is a SNAPSHOT table: index/reconcile against "
        "the latest manifest's live files (--append = sync)",
    )

    sh = sub.add_parser(
        "snapshot-history",
        help="list a snapshot table's versions (op, parent, file count)",
    )
    sh.add_argument("--table-path", required=True)

    spt = sub.add_parser(
        "snapshot-partitions",
        help="partition-level metadata (SHOW PARTITIONS): files/rows/"
        "bytes per partition-directory tuple; files predating a layout"
        " evolution surface as encodes_layout=false",
    )
    spt.add_argument("--table-path", required=True)

    scp = sub.add_parser(
        "snapshot-compact",
        help="compact a snapshot table as a new commit (stats-preserving; "
        "--cluster-by turns it into OPTIMIZE-with-clustering)",
    )
    scp.add_argument("--table-path", required=True)
    scp.add_argument("--target-mb", type=int, default=256)
    scp.add_argument(
        "--cluster-by", nargs="+", default=None,
        help="cluster output files on these columns (1 = range sort, "
        "2+ = z-order) so recomputed stats prune tightly",
    )
    scp.add_argument("--n-files", type=int, default=None)
    scp.add_argument(
        "--min-file-mb", type=float, default=None,
        help="targeted mode: bin-pack ONLY files smaller than this; "
        "right-sized files are carried by reference untouched "
        "(rewrite cost ∝ fragmented bytes, never the table)",
    )
    scp.add_argument(
        "--dv-only", action="store_true",
        help="consolidate deletion-vector sidecars only (metadata + "
        "sidecar commit; data files untouched)",
    )

    sv = sub.add_parser(
        "snapshot-vacuum",
        help="drop old snapshot versions and delete unreferenced files",
    )
    sv.add_argument("--table-path", required=True)
    sv.add_argument(
        "--keep-last", type=int, default=None,
        help="versions to retain; default resolves the table's "
        "retention.keep_last property, else 2",
    )
    sv.add_argument(
        "--older-than", default=None,
        help="age floor (ISO timestamp or epoch seconds): only "
        "versions committed before it drop; default resolves the "
        "table's retention.max_age_hours property when set",
    )
    sv.add_argument(
        "--sweep-orphans", action="store_true",
        help="also delete data files no retained manifest references "
        "(crashed-commit debris), age-gated by --orphan-grace-seconds",
    )
    sv.add_argument(
        "--orphan-grace-seconds", type=float, default=7 * 24 * 3600,
        help="minimum age before an unreferenced file is deletable; "
        "must exceed the longest write-to-manifest-claim window",
    )

    sp = sub.add_parser(
        "snapshot-props",
        help="show or alter table properties (metadata-only commits); "
        "CHECK constraints ride properties via --add-constraint "
        "NAME 'SQL expr' (validates existing data once, then every "
        "commit validates its added files) / --drop-constraint NAME",
    )
    sp.add_argument("--table-path", required=True)
    sp.add_argument(
        "--set", nargs="+", default=None, metavar="K=V",
        help="set properties, e.g. --set owner=etl retention.days=30",
    )
    sp.add_argument("--unset", nargs="+", default=None, metavar="K")
    sp.add_argument(
        "--add-constraint", nargs=2, default=None,
        metavar=("NAME", "EXPR"),
    )
    sp.add_argument("--drop-constraint", default=None, metavar="NAME")

    sn = sub.add_parser(
        "snapshot-count",
        help="exact live row count from manifest metadata (per-file "
        "footer counts recorded at commit time, DV-corrected) — no "
        "data pages scanned",
    )
    sn.add_argument("--table-path", required=True)
    sn.add_argument("--version", type=int, default=None)
    sn.add_argument(
        "--at-timestamp", default=None,
        help="count as of this time (ISO string or epoch seconds)",
    )
    sn.add_argument(
        "--col", default=None,
        help="count non-null rows of this column (COUNT(col)) from "
        "recorded row + null counts, scanning only unprovable files",
    )
    sn.add_argument(
        "--where", default=None,
        help="predicate COUNT from the same stats planner the DML "
        "uses (only boundary files scanned): a JSON object of "
        "{col: value | [values] | {lo, hi, lo_inc, hi_inc} | "
        '{"is_null": true|false}} — the object forms are a range, '
        'e.g. \'{"ts": {"hi": "2024-01-01", "hi_inc": false}}\', '
        "and a null test; a JSON ARRAY of such objects is an OR of "
        "branches",
    )

    sg = sub.add_parser(
        "snapshot-agg",
        help="exact MIN/MAX/SUM/COUNT from manifest metadata wherever "
        "provable (recorded endpoints, exact per-file sums, row/null "
        "counts), scanning only boundary or unprovable files",
    )
    sg.add_argument("--table-path", required=True)
    sg.add_argument("--version", type=int, default=None)
    sg.add_argument(
        "--at-timestamp", default=None,
        help="answer as of this time (ISO string or epoch seconds)",
    )
    sg.add_argument(
        "--aggs", required=True,
        help="comma-separated func:col pairs, func in "
        "min|max|sum|count, col '*' for count — e.g. "
        "'min:ts,max:ts,sum:fare,count:*'",
    )
    sg.add_argument(
        "--where", default=None,
        help="same predicate JSON as snapshot-count --where",
    )
    sg.add_argument(
        "--by", default=None,
        help="comma-separated PARTITION columns to group by: prints "
        "one JSON line per live group (metadata-planned like the "
        "flat form — only unprovable files scan)",
    )

    sd = sub.add_parser(
        "snapshot-delete",
        help="targeted row erasure on a snapshot table (col IN values); "
        "stats-selected victim files only; complete after vacuum",
    )
    sd.add_argument("--table-path", required=True)
    sd.add_argument("--col")
    sd.add_argument(
        "--values",
        help="JSON array of values, e.g. '[11,42]' or '[\"a\"]'",
    )
    sd.add_argument(
        "--where",
        help="JSON predicates {col: value | [values] | {lo, hi, "
        'lo_inc, hi_inc} | {"is_null": true|false}} — composite-key / '
        "range / null-test DELETE; a JSON array of such objects is an "
        "OR of branches (one commit); alternative to --col/--values",
    )
    sd.add_argument(
        "--mode", choices=["auto", "dv", "rewrite"], default="auto",
        help="strategy: rewrite copies victim files; dv commits (file, "
        "row) tombstones, folded away later by snapshot-compact; auto "
        "drops whole partitions when it can, else picks DV when the "
        "stats-selected victim files exceed the rewrite threshold",
    )

    smt = sub.add_parser(
        "snapshot-maintain",
        help="run the table's DECLARED maintenance policy: targeted "
        "compaction, DV consolidation, vacuum, orphan sweep — each "
        "only when its table property is set (maintain.min_file_mb, "
        "maintain.dv_compact_files, retention.keep_last, "
        "maintain.orphan_grace_hours)",
    )
    smt.add_argument("--table-path", required=True)

    sre = sub.add_parser(
        "snapshot-resolve-eq",
        help="fold outstanding equality-delete entries (streaming "
        "upserts / key takedowns) into position deletion vectors — "
        "reads only the applicable files, row visibility unchanged; "
        "restores metadata-only COUNT/MIN/MAX and clean scans",
    )
    sre.add_argument("--table-path", required=True)

    sdk = sub.add_parser(
        "snapshot-delete-keys",
        help="equality DELETE by key: mask every row matching the "
        "given key values with one key sidecar — zero reads, zero "
        "data rewrites at any table size (resolve/compact later "
        "physically erases)",
    )
    sdk.add_argument("--table-path", required=True)
    sdk.add_argument(
        "--keys", required=True,
        help="JSON list of key objects, e.g. "
        '\'[{"id": 5}, {"id": 9}]\' — each object is one deleted key '
        "tuple (every object must name the same columns)",
    )

    rpl = sub.add_parser(
        "replicate",
        help="one incremental refresh of a keyed replica: apply the "
        "source table's row-level change feed since the replica's "
        "cursor via the equality-delete writers — reads the source's "
        "changed files, writes the net changed keys, never touches "
        "the replica's data (first run bootstraps)",
    )
    rpl.add_argument("--src-path", required=True)
    rpl.add_argument("--dst-path", required=True)
    rpl.add_argument(
        "--keys", required=True,
        help="comma-separated key column names",
    )
    rpl.add_argument(
        "--partition-by", default=None,
        help="comma-separated partition columns for the bootstrap",
    )

    sdp = sub.add_parser(
        "snapshot-drop-partitions",
        help="metadata-only partition delete: drop every file in the "
        "matching partition directories — zero data bytes move; "
        "rows_deleted exact from recorded footer counts minus live "
        "tombstones; complete after vacuum",
    )
    sdp.add_argument("--table-path", required=True)
    sdp.add_argument(
        "--partitions", required=True,
        help="JSON object {col: value | [values]}, conjunctive across "
        "columns; null selects the Hive null partition, "
        "e.g. '{\"month\": [1, 2]}'",
    )

    sa = sub.add_parser(
        "snapshot-alter",
        help="metadata-only schema DDL on a snapshot table: add, drop "
        "or rename a column (zero data movement; dropped bytes shed at "
        "the next snapshot-compact; renames keep frozen on-disk names)",
    )
    sa.add_argument("--table-path", required=True)
    g = sa.add_mutually_exclusive_group(required=True)
    g.add_argument(
        "--add", metavar="NAME:TYPE",
        help="add a column, e.g. score:double or tags:array<string>",
    )
    g.add_argument("--drop", metavar="NAME", help="drop a column")
    g.add_argument(
        "--rename", metavar="OLD:NEW",
        help="rename a column, e.g. amt:amount",
    )
    g.add_argument(
        "--widen", metavar="NAME:TYPE",
        help="losslessly widen a column's type, e.g. amt:bigint",
    )
    g.add_argument(
        "--set-layout", metavar="COLS", dest="set_layout",
        help="PARTITION EVOLUTION: comma-separated partition columns "
        "for FUTURE commits (metadata-only; existing files keep their "
        "dirs until snapshot-compact migrates them); 'none' = "
        "unpartitioned",
    )
    sa.add_argument(
        "--default", default=None, dest="col_default",
        help="with --add: INITIAL default — pre-existing rows read "
        'this value instead of NULL (JSON scalar, e.g. 0 or \'"en"\')',
    )

    ci = sub.add_parser(
        "compact-index",
        help="defragment a persisted index (ANN/IVF/postings/bloom/"
        "minhash) in place, sidecar preserved — the standing repair "
        "after N incremental ingest cycles",
    )
    ci.add_argument("--index-path", required=True)
    ci.add_argument("--target-mb", type=int, default=64)

    sc = sub.add_parser(
        "snapshot-changes",
        help="print the row-level change feed between two versions as "
        "JSON rows (_change_type insert|delete, _commit_version)",
    )
    sc.add_argument("--table-path", required=True)
    sc.add_argument("--from-version", type=int, default=None)
    sc.add_argument("--to-version", type=int, default=None)
    sc.add_argument(
        "--from-timestamp",
        default=None,
        help="changes since the state live at this time (ISO-8601 or "
        "epoch seconds) — alternative to --from-version",
    )
    sc.add_argument(
        "--to-timestamp",
        default=None,
        help="upper bound as a timestamp — alternative to --to-version",
    )
    sc.add_argument("--limit", type=int, default=1000)

    sr = sub.add_parser(
        "snapshot-restore",
        help="roll a snapshot table back to an older version, published "
        "as a new versioned commit (zero data movement)",
    )
    sr.add_argument("--table-path", required=True)
    sr.add_argument("--version", required=True, type=int)

    su = sub.add_parser(
        "snapshot-update",
        help="targeted redaction on a snapshot table: set columns to "
        "literal values on rows where col IN values (null a value to "
        "erase the field, keep the row)",
    )
    su.add_argument("--table-path", required=True)
    su.add_argument("--col")
    su.add_argument(
        "--values",
        help="JSON array of matching key values",
    )
    su.add_argument(
        "--where",
        help="JSON predicates {col: value | [values] | {lo, hi, "
        'lo_inc, hi_inc} | {"is_null": true|false}} — composite-key / '
        "range / null-test UPDATE; a JSON array of such objects is an "
        "OR of branches (one commit); alternative to --col/--values",
    )
    su.add_argument(
        "--set", required=True, dest="set_json",
        help='JSON object column->literal, e.g. \'{"email": null}\'',
    )
    su.add_argument(
        "--mode", choices=["auto", "dv", "rewrite"], default="auto",
        help="strategy: rewrite copies victim files; dv tombstones old "
        "images and appends patched ones; auto picks DV when the "
        "stats-selected victim files exceed the rewrite threshold",
    )

    br = sub.add_parser(
        "branch",
        help="branch/tag lifecycle on a snapshot table: create/list/"
        "publish/drop branches, create/list/delete tags — all "
        "metadata-only (zero data movement at any table size)",
    )
    br.add_argument("--table-path", required=True)
    br.add_argument(
        "--action", required=True,
        choices=[
            "create", "list", "publish", "drop",
            "tag", "tags", "untag",
        ],
    )
    br.add_argument("--name", help="branch or tag name")
    br.add_argument(
        "--at-version", type=int, default=None,
        help="fork/pin point (default: latest)",
    )
    br.add_argument(
        "--force", action="store_true",
        help="publish even when main diverged (last-writer-wins)",
    )
    br.add_argument(
        "--reclaim", action="store_true",
        help="on drop: also delete data files only this branch references",
    )

    args = p.parse_args(argv)

    from .session import get_spark
    from .warehouse import backfill, init_warehouse, load_month
    from .warehouse.catalog import fact_path
    from .warehouse.sqlfront import _refresh_views

    owns_session = spark is None
    if owns_session:
        spark = get_spark(app_name=f"nyc-taxi-{args.cmd}")
    try:
        if args.cmd == "init":
            path = init_warehouse(spark)
            print(json.dumps({"status": "ok", "path": path}))
        elif args.cmd == "load-month":
            from .warehouse.branching import AuditFailed

            path = fact_path(spark, args.snapshot_path)
            try:
                r = load_month(
                    spark, args.path, args.year, args.month,
                    force=args.force, snapshot_path=path, wap=args.wap,
                )
            except AuditFailed as e:
                print(json.dumps({"status": "audit_failed", "error": str(e)}))
                return 1
            # a registered view pins the head it was registered at
            _refresh_views(spark, path)
            print(json.dumps(r.__dict__))
            return 0 if (r.rows > 0 or r.skipped) else 1
        elif args.cmd == "backfill":
            from .sources.discovery import discover_local

            path = fact_path(spark, args.snapshot_path)
            results = backfill(
                spark, discover_local(args.raw_root), snapshot_path=path
            )
            _refresh_views(spark, path)
            print(json.dumps([r.__dict__ for r in results]))
        elif args.cmd == "catalog":
            from .warehouse.namecatalog import (
                catalog_add,
                catalog_drop,
                catalog_entries,
            )

            if args.action == "list":
                for k, rec in sorted(
                    catalog_entries(spark, root=args.root).items()
                ):
                    print(json.dumps(rec, sort_keys=True))
            elif args.action == "drop":
                if not args.spec:
                    raise SystemExit("catalog drop wants NAME")
                print(json.dumps({
                    "name": args.spec,
                    "dropped": catalog_drop(
                        spark, args.spec, root=args.root
                    ),
                }))
            else:  # add
                name, _, ref = (args.spec or "").partition("=")
                if not name or not ref:
                    raise SystemExit(
                        f"catalog add wants NAME=PATH[@V]; got {args.spec!r}"
                    )
                # literal path wins over the @V reading, same rule as
                # sql --snapshot: a directory ending in '@digits' must
                # never silently become a version pin
                try:
                    catalog_add(spark, name, ref, root=args.root)
                except FileNotFoundError:
                    tpath, at, ver = ref.rpartition("@")
                    if not (at and ver.isdigit()):
                        raise
                    catalog_add(
                        spark, name, tpath, version=int(ver),
                        root=args.root,
                    )
                print(json.dumps({"added": name}))
        elif args.cmd == "sql":
            for spec in args.snapshot:
                from .warehouse.snapshots import snapshot_register

                name, _, ref = spec.partition("=")
                if not name or not ref:
                    raise SystemExit(
                        f"--snapshot wants NAME=PATH[@V]; got {spec!r}"
                    )
                # a literal path wins over the @V reading: a real
                # table directory that happens to end in '@digits'
                # must never be silently reinterpreted as a version
                # pin of a different table
                try:
                    snapshot_register(spark, ref, name)
                except FileNotFoundError:
                    tpath, at, ver = ref.rpartition("@")
                    if not (at and ver.isdigit()):
                        raise
                    snapshot_register(spark, tpath, name, version=int(ver))
            # the statement front door: snapshot DML/DDL (DELETE /
            # UPDATE / MERGE / ALTER / VACUUM / DESCRIBE HISTORY /
            # RESTORE / OPTIMIZE) dispatches to the manifest-commit
            # engine; plain SELECT/SHOW/EXPLAIN passes through to
            # spark.sql untouched
            from .warehouse.sqlfront import SqlFrontError, snapshot_sql

            try:
                df = snapshot_sql(spark, args.statement)
            except SqlFrontError as e:
                raise SystemExit(str(e)) from None
            rows = df.limit(args.limit).collect()
            for r in rows:
                print(json.dumps(r.asDict(), default=str))
        elif args.cmd == "dedup-ingest":
            from .operators.indexmeta import read_index_meta
            from .streaming.dedup_ingest import init_dedup_index, stream_dedup_ingest

            if read_index_meta(spark, args.index) is None:
                init_dedup_index(spark, args.index, args.text_col, args.id_col)
            schema = spark.read.parquet(args.src).schema
            docs = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(args.src)
            )
            stream_dedup_ingest(
                spark, docs, args.index, args.kept, args.text_col, args.id_col,
                jaccard_threshold=args.threshold, checkpoint=args.checkpoint,
            )
            n_kept = spark.read.parquet(f"{args.index}/shingles").count()
            print(json.dumps({"status": "ok", "corpus_docs": n_kept}))
        elif args.cmd == "drift":
            from .operators.drift import drift_report

            cols = [c.strip() for c in args.columns.split(",") if c.strip()]
            rep = drift_report(
                spark.read.parquet(args.reference),
                spark.read.parquet(args.current),
                cols,
                n_buckets=args.buckets,
            )
            print(json.dumps(rep))
            return 0 if all(r["psi"] <= 0.25 for r in rep) else 1
        elif args.cmd == "zorder":
            from .warehouse.layout import write_zordered

            df = spark.read.parquet(args.src)
            keys = [k.strip() for k in args.keys.split(",") if k.strip()]
            write_zordered(df, args.out, keys, n_files=args.files)
            n = spark.read.parquet(args.out).count()
            print(json.dumps({"status": "ok", "rows": n, "keys": keys}))
        elif args.cmd == "profile":
            from .operators.profile import profile_table, top_values

            src = spark.read.parquet(args.src)
            cols = args.columns.split(",") if args.columns else None
            for r in profile_table(src, cols).collect():
                print(json.dumps(r.asDict(), default=str))
            for r in top_values(src, cols, k=args.top_k).collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.cmd == "bloom-index":
            from .warehouse.bloomindex import (
                append_to_bloom_index,
                build_bloom_index,
                build_snapshot_bloom_index,
                sync_bloom_with_snapshot,
            )

            if args.snapshot and args.append:
                res = sync_bloom_with_snapshot(
                    spark, args.table_path, args.index_path
                )
                n = res["files_added"] + res["files_removed"]
            elif args.snapshot:
                n = build_snapshot_bloom_index(
                    spark,
                    args.table_path,
                    key_col=args.key_col,
                    index_path=args.index_path,
                    m_bits=args.m_bits,
                    k=args.k,
                )
            else:
                fn = append_to_bloom_index if args.append else build_bloom_index
                n = fn(
                    spark,
                    args.table_path,
                    index_path=args.index_path,
                    key_col=args.key_col,
                    m_bits=args.m_bits,
                    k=args.k,
                )
            print(json.dumps({"status": "ok", "files_indexed": n}))
        elif args.cmd == "snapshot-history":
            from .warehouse.snapshots import snapshot_versions

            print(json.dumps(snapshot_versions(spark, args.table_path)))
        elif args.cmd == "snapshot-partitions":
            from .warehouse.snapshots import snapshot_partitions

            for r in snapshot_partitions(spark, args.table_path).collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.cmd == "snapshot-compact":
            from .warehouse.snapshots import (
                snapshot_compact,
                snapshot_compact_dvs,
            )

            if args.dv_only:
                v = snapshot_compact_dvs(
                    spark, args.table_path, target_mb=args.target_mb
                )
            else:
                v = snapshot_compact(
                    spark,
                    args.table_path,
                    target_mb=args.target_mb,
                    cluster_by=args.cluster_by,
                    n_files=args.n_files,
                    min_file_mb=args.min_file_mb,
                )
            print(json.dumps({"version": v}))
        elif args.cmd == "snapshot-vacuum":
            from .warehouse.snapshots import sweep_orphans, vacuum_snapshots

            # raw string through: _to_epoch_ms tries ISO first (so a
            # basic-format date like 20260815 is a DATE, not epoch
            # seconds), falling back to numeric epoch
            out = vacuum_snapshots(
                spark, args.table_path, keep_last=args.keep_last,
                older_than=args.older_than,
            )
            if args.sweep_orphans:
                sw = sweep_orphans(
                    spark,
                    args.table_path,
                    grace_seconds=args.orphan_grace_seconds,
                )
                out.update({f"orphan_{k}": v for k, v in sw.items()})
            print(json.dumps(out))
        elif args.cmd == "snapshot-props":
            from .warehouse.snapshots import (
                snapshot_add_constraint,
                snapshot_drop_constraint,
                snapshot_properties,
                snapshot_set_properties,
            )

            if (args.add_constraint or args.drop_constraint) and (
                args.set or args.unset
            ):
                raise SystemExit(
                    "--set/--unset cannot combine with a constraint op "
                    "in one call (each is its own commit) — run them "
                    "separately"
                )
            out = {}
            if args.add_constraint:
                out["version"] = snapshot_add_constraint(
                    spark, args.table_path, *args.add_constraint
                )
            elif args.drop_constraint:
                out["version"] = snapshot_drop_constraint(
                    spark, args.table_path, args.drop_constraint
                )
            elif args.set or args.unset:
                kv = {}
                for item in args.set or []:
                    k, eq, v = item.partition("=")
                    if not eq:
                        raise SystemExit(f"--set needs K=V, got {item!r}")
                    kv[k] = v
                out["version"] = snapshot_set_properties(
                    spark, args.table_path, kv or None, args.unset
                )
            out["properties"] = snapshot_properties(spark, args.table_path)
            print(json.dumps(out, sort_keys=True))
        elif args.cmd == "snapshot-count":
            from .warehouse.snapshots import snapshot_agg

            if args.col is not None and args.where is not None:
                raise SystemExit("pass --col OR --where, not both")
            try:
                [(n,)] = snapshot_agg(
                    spark, args.table_path,
                    [("count", "*" if args.col is None else args.col)],
                    version=args.version,
                    at_timestamp=_cli_timestamp(args.at_timestamp),
                    where=(
                        None if args.where is None
                        else _decode_where(args.where)
                    ),
                )
            except ValueError as e:
                raise SystemExit(str(e))
            print(json.dumps({"rows": n}))
        elif args.cmd == "snapshot-agg":
            import datetime as _dt
            import decimal as _dec

            from .warehouse.snapshots import snapshot_agg

            aggs = []
            for item in args.aggs.split(","):
                func, sep, col = item.strip().partition(":")
                if not sep or not col:
                    raise SystemExit(
                        f"--aggs wants func:col pairs, got {item!r}"
                    )
                aggs.append((func.lower(), col))
            by = None
            if args.by is not None:
                by = [c.strip() for c in args.by.split(",") if c.strip()]
            try:
                rows = snapshot_agg(
                    spark, args.table_path, aggs, by=by,
                    version=args.version,
                    at_timestamp=_cli_timestamp(args.at_timestamp),
                    where=(
                        None if args.where is None
                        else _decode_where(args.where)
                    ),
                )
            except ValueError as e:
                raise SystemExit(str(e))

            def enc(v):
                if isinstance(v, _dec.Decimal):
                    return str(v)
                if isinstance(v, (_dt.datetime, _dt.date)):
                    return v.isoformat()
                return v

            nby = len(by or ())
            for r in sorted(rows, key=lambda t: str(t[:nby])):
                rec = {c: enc(r[i]) for i, c in enumerate(by or ())}
                rec.update(
                    {
                        f"{f}({c})": enc(r[nby + k])
                        for k, (f, c) in enumerate(aggs)
                    }
                )
                print(json.dumps(rec, sort_keys=True))
        elif args.cmd == "snapshot-delete":
            from .warehouse.snapshots import snapshot_delete

            v, n = snapshot_delete(
                spark, args.table_path, _dml_where(args, "snapshot-delete"),
                mode=args.mode,
            )
            print(json.dumps({"version": v, "rows_deleted": n}))
        elif args.cmd == "snapshot-maintain":
            from .warehouse.snapshots import snapshot_maintain

            print(json.dumps(snapshot_maintain(spark, args.table_path)))
        elif args.cmd == "snapshot-resolve-eq":
            from .warehouse.snapshots import snapshot_resolve_eq

            v, n = snapshot_resolve_eq(spark, args.table_path)
            print(json.dumps({"version": v, "rows_resolved": n}))
        elif args.cmd == "snapshot-delete-keys":
            from .warehouse.eqdeletes import snapshot_delete_keys

            tuples = json.loads(args.keys)
            if not isinstance(tuples, list) or not tuples:
                raise SystemExit(
                    "--keys must be a non-empty JSON list of objects"
                )
            cols = sorted(tuples[0])
            if any(sorted(t) != cols for t in tuples):
                raise SystemExit(
                    "--keys objects must all name the same columns"
                )
            dele = spark.createDataFrame(
                [tuple(t[c] for c in cols) for t in tuples], cols
            )
            v, n = snapshot_delete_keys(spark, args.table_path, dele)
            print(json.dumps({"version": v, "keys_deleted": n}))
        elif args.cmd == "replicate":
            from .warehouse.replicate import replicate_keyed

            rep = replicate_keyed(
                spark, args.src_path, args.dst_path,
                [k.strip() for k in args.keys.split(",") if k.strip()],
                partition_cols=(
                    [
                        c.strip()
                        for c in args.partition_by.split(",")
                        if c.strip()
                    ]
                    if args.partition_by
                    else None
                ),
            )
            print(json.dumps(rep))
        elif args.cmd == "snapshot-drop-partitions":
            from .warehouse.snapshots import snapshot_drop_partitions

            v, n = snapshot_drop_partitions(
                spark, args.table_path, json.loads(args.partitions)
            )
            print(json.dumps({"version": v, "rows_deleted": n}))
        elif args.cmd == "snapshot-alter":
            from .warehouse.snapshots import (
                snapshot_add_column,
                snapshot_drop_column,
            )

            if args.col_default is not None and args.add is None:
                raise SystemExit(
                    "--default only applies with --add"
                )
            if args.set_layout is not None:
                from .warehouse.snapshots import snapshot_set_layout

                cols = (
                    None
                    if args.set_layout.lower() in ("none", "")
                    else [
                        c.strip()
                        for c in args.set_layout.split(",")
                        if c.strip()
                    ]
                )
                v = snapshot_set_layout(spark, args.table_path, cols)
                print(json.dumps({"version": v, "layout": cols}))
                return 0
            if args.add is not None:
                name, _, dtype = args.add.partition(":")
                if not dtype:
                    raise SystemExit(
                        "--add needs NAME:TYPE (e.g. score:double)"
                    )
                dflt = None
                if args.col_default is not None:
                    try:
                        dflt = json.loads(args.col_default)
                    except ValueError:
                        raise SystemExit(
                            "--default must be a JSON scalar (0, 1.5, "
                            'true, "en"); got '
                            f"{args.col_default!r}"
                        ) from None
                    if dflt is None:
                        raise SystemExit(
                            "--default null is not a default — omit "
                            "the flag for a plain nullable add"
                        )
                v = snapshot_add_column(
                    spark, args.table_path, name, dtype, default=dflt
                )
                print(json.dumps({"version": v, "added": name}))
            elif args.widen is not None:
                from .warehouse.snapshots import snapshot_widen_column

                name, _, dtype = args.widen.partition(":")
                if not dtype:
                    raise SystemExit(
                        "--widen needs NAME:TYPE (e.g. amt:bigint)"
                    )
                v = snapshot_widen_column(spark, args.table_path, name, dtype)
                print(json.dumps({"version": v, "widened": name, "to": dtype}))
            elif args.rename is not None:
                from .warehouse.snapshots import snapshot_rename_column

                old_name, _, new_name = args.rename.partition(":")
                if not new_name:
                    raise SystemExit(
                        "--rename needs OLD:NEW (e.g. amt:amount)"
                    )
                v = snapshot_rename_column(
                    spark, args.table_path, old_name, new_name
                )
                print(
                    json.dumps(
                        {"version": v, "renamed": old_name, "to": new_name}
                    )
                )
            else:
                v = snapshot_drop_column(spark, args.table_path, args.drop)
                print(json.dumps({"version": v, "dropped": args.drop}))
        elif args.cmd == "compact-index":
            from .operators.indexmeta import compact_index

            print(
                json.dumps(
                    compact_index(
                        spark, args.index_path, target_mb=args.target_mb
                    )
                )
            )
        elif args.cmd == "snapshot-changes":
            from .warehouse.snapshots import snapshot_changes

            def _ts(s):
                if s is None:
                    return None
                # ISO first: '20240101' is a valid compact ISO date and
                # must not be misread as epoch seconds (~1970); real
                # epoch stamps (10 digits) don't parse as ISO and fall
                # through to float
                import datetime as _dt

                try:
                    _dt.datetime.fromisoformat(s)
                    return s
                except ValueError:
                    return float(s)  # epoch seconds

            ch = snapshot_changes(
                spark,
                args.table_path,
                args.from_version,
                args.to_version,
                from_timestamp=_ts(args.from_timestamp),
                to_timestamp=_ts(args.to_timestamp),
            )
            for r in ch.limit(args.limit).collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.cmd == "snapshot-restore":
            from .warehouse.snapshots import snapshot_restore

            v = snapshot_restore(spark, args.table_path, args.version)
            print(
                json.dumps(
                    {"version": v, "restored_from": args.version}
                )
            )
        elif args.cmd == "branch":
            from .warehouse import branching as B

            t = args.table_path
            if args.action == "create":
                ref = B.create_branch(
                    spark, t, args.name, at_version=args.at_version
                )
                print(json.dumps({"ref": ref}))
            elif args.action == "list":
                print(
                    json.dumps(
                        {
                            "branches": B.list_branches(spark, t),
                            "tags": B.list_tags(spark, t),
                        }
                    )
                )
            elif args.action == "publish":
                v = B.publish_branch(spark, t, args.name, force=args.force)
                print(json.dumps({"version": v, "from_branch": args.name}))
            elif args.action == "drop":
                n = B.drop_branch(spark, t, args.name, reclaim=args.reclaim)
                print(json.dumps({"dropped": args.name, "files_deleted": n}))
            elif args.action == "tag":
                v = B.create_tag(spark, t, args.name, version=args.at_version)
                print(json.dumps({"tag": args.name, "version": v}))
            elif args.action == "tags":
                print(json.dumps(B.list_tags(spark, t)))
            elif args.action == "untag":
                B.delete_tag(spark, t, args.name)
                print(json.dumps({"deleted_tag": args.name}))
        elif args.cmd == "snapshot-update":
            from .warehouse.snapshots import snapshot_update

            v, n = snapshot_update(
                spark, args.table_path, _dml_where(args, "snapshot-update"),
                json.loads(args.set_json), mode=args.mode,
            )
            print(json.dumps({"version": v, "rows_updated": n}))
        elif args.cmd == "sample":
            from .operators.sampling import mixture_sample

            weights = {k: float(v) for k, v in json.loads(args.weights).items()}
            out = mixture_sample(
                spark.read.parquet(args.src), args.domain_col, weights,
                args.n, args.id_col, seed=args.seed,
            )
            out.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(json.dumps({"status": "ok", "rows": n}))
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
