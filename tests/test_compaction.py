"""Small-file repair. Snapshot tables: a targeted compaction
(``snapshot_compact(min_file_rows=...)``, chosen from the manifest's
recorded row counts) packs each fragmented partition into
ceil(bytes/target) files with identical row content and carries every
healthy file by reference. Index tables: ``compact_index``.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
    list_versions,
    load_manifest,
)
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    snapshot_compact,
    snapshot_write,
)

# 10,000 rows per partition; a fragment holds about 400
FRAGMENT_ROWS = 500


def _build_fragmented(spark, path, fragmented, healthy=()):
    """Each ``fragmented`` part as 25 small files (one 25-task write),
    each ``healthy`` part as one file."""
    parts = len(fragmented) + len(healthy)
    df = spark.range(0, 10_000 * parts).select(
        F.col("id"),
        (F.col("id") % parts).cast("int").alias("part"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    snapshot_write(
        df.where(F.col("part").isin(list(fragmented))).repartition(25),
        path, partition_cols=["part"],
    )
    if healthy:
        snapshot_write(
            df.where(F.col("part").isin(list(healthy))).repartition("part"),
            path, mode="append", partition_cols=["part"],
        )


@pytest.fixture(scope="module")
def fragmented_table(spark, tmp_path_factory):
    """Part 1 fragmented, parts 0 and 2 one file each."""
    path = str(tmp_path_factory.mktemp("compact_probe") / "t")
    _build_fragmented(spark, path, fragmented=[1], healthy=[0, 2])
    return path


def _files(path, part=None):
    files = load_manifest(path, list_versions(path)[-1])["files"]
    return sorted(f for f in files if part is None or f"/part={part}/" in f)


def _bytes(path, files):
    return sum(os.path.getsize(f"{path}/{f}") for f in files)


def _content_digest(spark, path, pred: str = "true"):
    row = (
        read_snapshot(spark, path)
        .where(pred)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("id", "payload").cast("decimal(38,0)")).alias("digest"),
        )
        .collect()[0]
    )
    return row["n"], row["digest"]


def test_compact_partition_hits_target_and_preserves_content(
    spark, fragmented_table
):
    path = fragmented_table
    before = _files(path, 1)
    assert len(before) > 5, "fixture not fragmented"
    n_before, digest_before = _content_digest(spark, path, "part = 1")
    other_before = _content_digest(spark, path, "part != 1")
    healthy_before = _files(path, 0) + _files(path, 2)

    # Pick a target that forces a multi-file result strictly smaller
    # than the fragment count.
    target = _bytes(path, before) // 3 + 1
    expected = max(1, math.ceil(_bytes(path, before) / target))
    assert 1 < expected < len(before)

    snapshot_compact(
        spark, path, target_mb=target / 2**20, min_file_rows=FRAGMENT_ROWS
    )

    assert len(_files(path, 1)) == expected
    assert _content_digest(spark, path, "part = 1") == (n_before, digest_before)
    assert _content_digest(spark, path, "part != 1") == other_before
    # healthy partitions are carried by reference, never rewritten
    assert _files(path, 0) + _files(path, 2) == healthy_before


def test_compact_partition_single_file_noop(spark, fragmented_table):
    """Once no partition holds two fragments, compaction is a no-op:
    no read, no rewrite, no new version."""
    path = fragmented_table
    v1 = snapshot_compact(spark, path, min_file_rows=FRAGMENT_ROWS)
    files = _files(path)
    assert len(_files(path, 2)) == 1
    assert snapshot_compact(spark, path, min_file_rows=FRAGMENT_ROWS) == v1
    assert list_versions(path)[-1] == v1
    assert _files(path) == files


def test_compact_table_sweeps_only_fragmented_partitions(spark, tmp_path):
    """One targeted compaction finds every fragmented partition from
    manifest row counts alone and repairs each, carrying the healthy
    partition's file; a second sweep is a no-op (already healthy)."""
    path = str(tmp_path / "sweep")
    _build_fragmented(spark, path, fragmented=[0, 1, 2], healthy=[3])
    fragments = {p: _files(path, p) for p in range(3)}
    healthy = _files(path, 3)
    assert len(healthy) == 1
    target = _bytes(path, fragments[0]) // 3 + 1  # healthy ≈ 3 files per part
    before = _content_digest(spark, path)

    v = snapshot_compact(
        spark, path, target_mb=target / 2**20, min_file_rows=FRAGMENT_ROWS
    )
    man = load_manifest(path, v)
    assert man["files_compacted"] == sum(map(len, fragments.values()))
    assert man["files_carried"] == 1
    for p, frag in fragments.items():
        assert 1 < len(_files(path, p)) < len(frag)
    assert _files(path, 3) == healthy
    assert _content_digest(spark, path) == before

    assert snapshot_compact(
        spark, path, target_mb=target / 2**20, min_file_rows=FRAGMENT_ROWS
    ) == v
    assert _content_digest(spark, path) == before


def test_compact_index_minhash_two_subtables(spark, tmp_path):
    """compact_index on a minhash index must compact buckets/ and
    shingles/ INDEPENDENTLY — a root-level rewrite would merge the two
    schemas and flatten the layout. Lookups identical, sidecar intact,
    file counts drop."""
    from nyc_taxi_data_warehouse_spark.operators.dedup import (
        append_to_minhash_index,
        incremental_minhash_pairs,
        write_minhash_index,
    )
    from nyc_taxi_data_warehouse_spark.operators.indexmeta import (
        compact_index,
        read_index_meta,
    )
    from nyc_taxi_data_warehouse_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "mh_idx")
    write_minhash_index(
        spark, docs.where("doc_id % 4 = 0"), "text", "doc_id", idx
    )
    # fragment with several incremental appends
    for k in (1, 2, 3):
        append_to_minhash_index(
            spark, docs.where(f"doc_id % 4 = {k}"), "text", "doc_id", idx
        )
    probe = docs.limit(30).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    before = sorted(
        map(tuple, incremental_minhash_pairs(
            spark, probe, "text", "doc_id", idx, jaccard_threshold=0.3
        ).collect())
    )
    meta_before = read_index_meta(spark, idx)
    stats = compact_index(spark, idx, target_mb=64)
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 2  # one file per subtable at this size
    assert read_index_meta(spark, idx) == meta_before
    after = sorted(
        map(tuple, incremental_minhash_pairs(
            spark, probe, "text", "doc_id", idx, jaccard_threshold=0.3
        ).collect())
    )
    assert after == before and len(before) > 0


def test_compact_index_cli(spark, tmp_path, capsys):
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main
    from nyc_taxi_data_warehouse_spark.operators.similarity import (
        append_to_ann_index,
        write_ann_index,
    )
    from nyc_taxi_data_warehouse_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "cli_idx")
    write_ann_index(
        emb.where("vec_id < 300"), idx, n_planes=8, dim=64, n_tables=2
    )
    for lo in (300, 350, 400):
        append_to_ann_index(
            emb.where(f"vec_id >= {lo} and vec_id < {lo + 50}"), idx
        )
    assert main(
        ["compact-index", "--index-path", idx], spark=spark
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files_after"] < out["files_before"]
    assert spark.read.parquet(idx).count() == 2 * emb.where(
        "vec_id < 450"
    ).count()
