"""Measure a retention delete at bench scale — the artifact behind the
claim that a time-based ``DELETE WHERE ship_date < cutoff`` on a
clustered table moves ONLY boundary-file bytes (files wholly inside
the cutoff drop from the manifest by reference: no read, no write).

Usage:

    python tools/retention_meter.py [--sf-dir /root/testdata/sf0.1] \
        [--files 24] [--cutoff-frac 0.3] [--out RETENTION_SCALE.json]

Builds a snapshot table from ``lineitem`` range-clustered on
``l_shipdate`` (``repartitionByRange`` — the layout nightly
ingest-by-day or a cluster_by compaction produces), picks the cutoff at
the requested row fraction, then measures for the rewrite-strategy
delete:

- ``files_dropped_by_reference`` / ``bytes_dropped_by_reference``:
  whole-file proofs — manifest edit only;
- ``files_rewritten`` / ``bytes_rewritten_in`` (boundary victims read)
  and ``bytes_rewritten_out`` (survivor bytes written back);
- ``files_carried`` / ``bytes_carried``: untouched, carried by relpath;
- ``delete_wall_ms`` and the fraction of table bytes that physically
  moved vs the fraction of rows deleted (the headline ratio: rows_frac
  >> moved_frac on a clustered table);
- the read twins at the same cutoff: the metadata-planned
  ``snapshot_agg`` COUNT(*) wall (``count_where_ms``) and its planned
  boundary-file count vs a full-scan count wall.

The companion test (tests/test_retention_meter.py) pins the shape
(drops by reference fire; moved bytes bounded by boundary bytes; the
planned counts reconcile with the manifest diff); this artifact records
the measured numbers at sf0.1 for review.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_data_warehouse_spark.warehouse import snapshots as snap  # noqa: E402


def meter(
    spark,
    df,
    date_col: str,
    table_path: str,
    n_files: int = 24,
    cutoff_frac: float = 0.3,
) -> dict:
    """Cluster ``df`` on ``date_col`` into ``n_files`` files at
    ``table_path``, delete everything below the ``cutoff_frac`` row
    quantile, and return the measured byte/file movement."""
    from pyspark.sql import functions as F

    clustered = df.repartitionByRange(n_files, F.col(date_col))
    snap.snapshot_write(clustered, table_path, stats_cols=[date_col])

    _, man_pre = snap._manifest_at(table_path)
    pre_files = list(man_pre["files"])
    root = snap._root(table_path)
    sizes_pre = snap._file_sizes(spark, root, pre_files)
    total_bytes = sum(sizes_pre.values())
    [(total_rows,)] = snap.snapshot_agg(spark, table_path, [("count", "*")])

    # cutoff at the requested row fraction (exact: k-th ordered value)
    k = max(1, int(total_rows * cutoff_frac))
    cutoff = (
        snap.read_snapshot(spark, table_path)
        .select(date_col)
        .orderBy(date_col)
        .limit(k)
        .orderBy(F.col(date_col).desc())
        .first()[0]
    )
    rng = snap.Range(hi=cutoff, hi_inc=False)
    preds = {date_col: rng}

    # the planner's own pre-delete accounting (what the DML engine
    # will decide), reconciled against the manifest diff below
    victims, planned_drops = snap._plan(man_pre, preds)
    full = set(planned_drops)
    planned_boundary = [f for f in victims if f not in full]
    admitted = set(victims)
    carried = [f for f in pre_files if f not in admitted]

    # read twins first (pre-delete image): metadata-planned COUNT vs a
    # full scan of the same predicate
    t0 = time.monotonic()
    [(n_meta,)] = snap.snapshot_agg(
        spark, table_path, [("count", "*")], where=preds
    )
    count_where_ms = (time.monotonic() - t0) * 1000
    t0 = time.monotonic()
    n_scan = (
        snap.read_snapshot(spark, table_path)
        .where(F.col(date_col).isNotNull() & (F.col(date_col) < cutoff))
        .count()
    )
    full_scan_count_ms = (time.monotonic() - t0) * 1000
    assert n_meta == n_scan, (n_meta, n_scan)

    t0 = time.monotonic()
    _, rows_deleted = snap.snapshot_delete(
        spark, table_path, preds, mode="rewrite"
    )
    delete_wall_ms = (time.monotonic() - t0) * 1000

    _, man_post = snap._manifest_at(table_path)
    post_files = set(man_post["files"])
    removed = [f for f in pre_files if f not in post_files]
    written = [f for f in man_post["files"] if f not in set(pre_files)]
    carried_actual = [f for f in pre_files if f in post_files]
    sizes_post = snap._file_sizes(spark, root, written) if written else {}

    dropped_ref = [f for f in removed if f in full]
    rewritten_in = [f for f in removed if f not in full]
    bytes_dropped = sum(sizes_pre[f] for f in dropped_ref)
    bytes_rw_in = sum(sizes_pre[f] for f in rewritten_in)
    bytes_rw_out = sum(sizes_post.values())
    bytes_carried = sum(sizes_pre[f] for f in carried_actual)

    return {
        "table_files": len(pre_files),
        "table_bytes": total_bytes,
        "table_rows": total_rows,
        "cutoff": str(cutoff),
        "rows_deleted": rows_deleted,
        "rows_deleted_frac": round(rows_deleted / max(1, total_rows), 4),
        "planned_whole_file_drops": len(planned_drops),
        "planned_boundary_rewrites": len(planned_boundary),
        "planned_carried": len(carried),
        "files_dropped_by_reference": len(dropped_ref),
        "files_rewritten": len(rewritten_in),
        "files_written": len(written),
        "files_carried": len(carried_actual),
        "bytes_dropped_by_reference": bytes_dropped,
        "bytes_rewritten_in": bytes_rw_in,
        "bytes_rewritten_out": bytes_rw_out,
        "bytes_carried": bytes_carried,
        "bytes_moved_frac": round(
            (bytes_rw_in + bytes_rw_out) / max(1, total_bytes), 4
        ),
        "delete_wall_ms": round(delete_wall_ms, 2),
        "count_where_ms": round(count_where_ms, 2),
        "full_scan_count_ms": round(full_scan_count_ms, 2),
        "count_where_boundary_files": len(planned_boundary),
        "count_value": n_meta,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--files", type=int, default=24)
    ap.add_argument("--cutoff-frac", type=float, default=0.3)
    ap.add_argument("--out", default="RETENTION_SCALE.json")
    args = ap.parse_args()

    from nyc_taxi_data_warehouse_spark.session import get_spark
    from nyc_taxi_data_warehouse_spark.sources.registry import load_table

    spark = get_spark()
    work = tempfile.mkdtemp(prefix="retention_meter_")
    try:
        df = load_table(spark, args.sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "l_shipdate",
        )
        row = meter(
            spark,
            df,
            "l_shipdate",
            os.path.join(work, "t"),
            n_files=args.files,
            cutoff_frac=args.cutoff_frac,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    doc = {
        "sf_dir": args.sf_dir,
        "claim": {
            "rows_deleted_frac": row["rows_deleted_frac"],
            "bytes_moved_frac": row["bytes_moved_frac"],
            "whole_file_drop_share": round(
                row["bytes_dropped_by_reference"]
                / max(1, row["bytes_dropped_by_reference"]
                      + row["bytes_rewritten_in"]),
                4,
            ),
        },
        "row": row,
    }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), args.out
    ) if not os.path.isabs(args.out) else args.out
    with open(out, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(doc["claim"]))


if __name__ == "__main__":
    main()
