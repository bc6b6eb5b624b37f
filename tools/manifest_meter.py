"""Measure the metadata plane: bytes written and parsed per snapshot
commit as the TABLE grows — the artifact behind the claim that commit
metadata is O(change), not O(table). Usage:

    python tools/manifest_meter.py [--file-counts 2000,20000] \
        [--appends 8] [--out MANIFEST_SCALE.json]

For each table size F the meter builds a snapshot table whose current
version lists F (synthetic) data files with per-file min/max stats —
commits record relpaths, so no data bytes are needed to exercise the
metadata path — then measures:

- ``delta_bytes``: on-disk size of an APPEND commit's manifest JSON
  (the steady-state write; must be flat across F),
- ``ckpt_bytes``: the periodic checkpoint blob (zstd parquet; paid
  once per ``checkpoint_every`` commits → amortized column),
- ``legacy_bytes``: what the old full-JSON format would have written
  for EVERY commit at this size (the win factor),
- ``load_ms_cold`` / ``load_ms_warm``: wall time of
  ``manifestlog.load_manifest`` at the head with a cleared vs populated
  reconstruction cache.

The companion test (tests/test_manifestlog.py) pins the shape
(delta flat, legacy linear); this artifact records the measured
numbers for review.
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

from pyspark.sql.types import (  # noqa: E402
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from nyc_taxi_data_warehouse_spark.session import get_spark  # noqa: E402
from nyc_taxi_data_warehouse_spark.warehouse import manifestlog  # noqa: E402
from nyc_taxi_data_warehouse_spark.warehouse import snapshots as snap  # noqa: E402


def _fake_files(commit: str, n: int) -> list[str]:
    return [f"data/{commit}/part-{i:05d}.parquet" for i in range(n)]


def _fake_stats(files: list[str]) -> dict:
    return {f: {"id": [i * 100, i * 100 + 99]} for i, f in enumerate(files)}


def meter(spark, file_count: int, appends: int) -> dict:
    root = tempfile.mkdtemp(prefix="mlog_meter_")
    try:
        schema = StructType(
            [
                StructField("id", LongType()),
                StructField("month", IntegerType()),
            ]
        )
        base = _fake_files("0" * 32, file_count)
        snap._commit(
            spark, root, base, schema, "overwrite", None,
            extra={"stats": _fake_stats(base)},
            dv_files=None,
            stats_cols=["id"],
        )
        delta_sizes, append_wall = [], []
        files = list(base)
        parent = 1
        for k in range(appends):
            newf = _fake_files(f"{'a' * 24}{k:08x}", 2)
            files = sorted(files + newf)
            st = {
                **_fake_stats(base),
                **{f: {"id": [0, 9]} for f in newf},
            }
            t0 = time.perf_counter()
            parent = snap._commit(
                spark, root, files, schema, "append", parent,
                extra={"stats": st},
                stats_cols=["id"],
            )
            append_wall.append(time.perf_counter() - t0)
            doc = manifestlog.read_doc(root, parent)
            if not doc.get("ckpt"):
                delta_sizes.append(
                    os.path.getsize(
                        os.path.join(root, "_versions", f"{parent:08d}.json")
                    )
                )
        ckpts = [
            os.path.getsize(p)
            for p in (
                os.path.join(root, "_versions", n)
                for n in os.listdir(os.path.join(root, "_versions"))
            )
            if p.endswith(".ckpt.parquet")
        ]
        # the old format: the FULL manifest dict as one JSON, per commit
        head = manifestlog.load_manifest(root, parent)
        legacy_bytes = len(json.dumps(head, sort_keys=True).encode())
        manifestlog._STATE_CACHE.__setstate__({"maxsize": 256})
        t0 = time.perf_counter()
        manifestlog.load_manifest(root, parent)
        cold = (time.perf_counter() - t0) * 1000
        t0 = time.perf_counter()
        manifestlog.load_manifest(root, parent)
        warm = (time.perf_counter() - t0) * 1000
        return {
            "table_files": file_count,
            "delta_bytes_median": sorted(delta_sizes)[len(delta_sizes) // 2],
            "ckpt_bytes_max": max(ckpts) if ckpts else 0,
            "ckpt_every": manifestlog.checkpoint_every(),
            "legacy_bytes_per_commit": legacy_bytes,
            "append_commit_ms_median": round(
                sorted(append_wall)[len(append_wall) // 2] * 1000, 2
            ),
            "load_ms_cold": round(cold, 2),
            "load_ms_warm": round(warm, 2),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--file-counts", default="2000,20000")
    ap.add_argument("--appends", type=int, default=8)
    ap.add_argument("--out", default="MANIFEST_SCALE.json")
    args = ap.parse_args()
    counts = [int(c) for c in args.file_counts.split(",")]
    spark = get_spark(app_name="manifest_meter", master="local[4]",
                      shuffle_partitions=4)
    rows = [meter(spark, c, args.appends) for c in counts]
    lo, hi = rows[0], rows[-1]
    out = {
        "rows": rows,
        "claim": {
            "file_scale_factor": hi["table_files"] / lo["table_files"],
            "delta_bytes_ratio": round(
                hi["delta_bytes_median"] / max(1, lo["delta_bytes_median"]), 3
            ),
            "legacy_bytes_ratio": round(
                hi["legacy_bytes_per_commit"]
                / max(1, lo["legacy_bytes_per_commit"]),
                3,
            ),
            "steady_state_win_at_largest": round(
                hi["legacy_bytes_per_commit"]
                / max(1, hi["delta_bytes_median"]),
                1,
            ),
        },
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out["claim"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
