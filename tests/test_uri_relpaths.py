"""URI-encoded relpath handling (round-7 ADVICE closure).

``_metadata.file_path`` is URI-encoded (space → %20, literal % → %25,
while '+' and non-ASCII pass through raw — verified empirically on
pyspark 4.1.2), but manifests key files by their ON-DISK relpaths.
Every join between the two must go through ``_uri_encode_relpath`` or
rows under URI-escapable partition values silently vanish from:

- the flat long-history read (``_read_file_list_flat``),
- the change feed's batched-append path (``snapshot_changes``),
- per-file stats keying (``collect_file_stats`` → pruned reads),
- snapshot Bloom rows vs their manifest-relpath sentinels.

Partition VALUES chosen to cover each encoding class: space (encoded),
'+' (NOT encoded — url_decode would corrupt it), '%' (double-encoded
via Spark's escapePathName + URI), ':' (escapePathName-escaped on
disk, then %-encoded in the URI), non-ASCII (raw), and a plain control.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    _FLAT_READ_THRESHOLD,
    read_snapshot,
    Range,
    snapshot_changes,
    snapshot_compact,
    snapshot_write,
    sweep_orphans,
)

SPECIALS = ["a b", "a+b", "100%", "k:v", "héllo", "plain"]


def _sdf(spark, ids, names=SPECIALS):
    rows = [(i, names[i % len(names)]) for i in ids]
    return spark.createDataFrame(rows, "id long, name string")


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "uri_table")


def test_flat_read_survives_uri_partition_values(spark, table):
    """> _FLAT_READ_THRESHOLD same-schema commits trigger the single-
    scan flat read, whose lookup join must not drop encoded-dir files."""
    n_commits = _FLAT_READ_THRESHOLD + 2
    expect = set()
    for c in range(n_commits):
        ids = list(range(c * 10, c * 10 + 6))
        snapshot_write(
            _sdf(spark, ids), table,
            mode="append" if c else "overwrite",
            partition_cols=["name"],
        )
        expect |= set(ids)
    got = read_snapshot(spark, table)
    rows = {(r.id, r.name) for r in got.collect()}
    assert {i for i, _ in rows} == expect
    # every special value round-trips exactly (directory escaping undone)
    assert {n for _, n in rows} == set(SPECIALS)


def test_snapshot_changes_survive_uri_partition_values(spark, table):
    """The change feed's batched-append path uses the flat read
    unconditionally — encoded-dir inserts must all appear."""
    snapshot_write(_sdf(spark, range(6)), table, partition_cols=["name"])
    for c in range(1, 4):
        snapshot_write(
            _sdf(spark, range(c * 10, c * 10 + 6)), table,
            mode="append", partition_cols=["name"],
        )
    ch = snapshot_changes(spark, table, from_version=1)
    rows = [(r.id, r.name, r._change_type) for r in ch.collect()]
    assert len(rows) == 18 and all(t == "insert" for _, _, t in rows)
    assert {n for _, n, _ in rows} == set(SPECIALS)


def test_pruned_read_survives_uri_partition_values(spark, table):
    """collect_file_stats keys by relpath; a mis-keyed file would keep
    its [None, None] seed = 'provably excludable' and be silently
    pruned. All rows must survive a covering range predicate, and a
    selective one must still return exactly its matches."""
    snapshot_write(
        _sdf(spark, range(30)),
        table, partition_cols=["name"], stats_cols=["id"],
    )
    got = read_snapshot(spark, table, where={"id": Range(0, 29)})
    assert got.count() == 30
    sel = read_snapshot(spark, table, where={"id": Range(7, 9)})
    assert sorted(r.id for r in sel.collect()) == [7, 8, 9]
    assert {r.name for r in got.collect()} == set(SPECIALS)


def test_snapshot_bloom_survives_uri_partition_values(spark, table, tmp_path):
    """Bloom rows (scan-derived keys) must byte-match the manifest
    relpaths: lookups under encoded dirs hit, and a second sync is a
    strict no-op instead of perpetually re-indexing 'departed' files."""
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        build_snapshot_bloom_index,
        read_snapshot_with_bloom,
        sync_bloom_with_snapshot,
    )

    idx = str(tmp_path / "uri_bloom")
    snapshot_write(_sdf(spark, range(12)), table, partition_cols=["name"])
    build_snapshot_bloom_index(spark, table, "id", idx)
    got = read_snapshot_with_bloom(spark, table, idx, [0, 1, 2, 3, 4, 5])
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3, 4, 5]
    assert {r.name for r in got.collect()} == set(SPECIALS)
    # idempotent reconcile: nothing departed, nothing to add
    snapshot_write(_sdf(spark, [100]), table, mode="append",
                   partition_cols=["name"])
    first = sync_bloom_with_snapshot(spark, table, idx)
    assert first["files_added"] >= 1 and first["files_removed"] == 0
    second = sync_bloom_with_snapshot(spark, table, idx)
    assert second == {**second, "files_added": 0, "files_removed": 0}
    got2 = read_snapshot_with_bloom(spark, table, idx, [100])
    assert [(r.id, r.name) for r in got2.collect()] == [(100, "héllo")]


def test_plain_bloom_survives_uri_partition_values(spark, tmp_path):
    """Non-snapshot Bloom keys candidates by full _metadata.file_path
    (URI form); the final read must percent-decode before handing the
    paths back to Hadoop."""
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        build_bloom_index,
        read_with_bloom,
    )

    tbl = str(tmp_path / "plain_tbl")
    idx = str(tmp_path / "plain_bloom")
    _sdf(spark, range(12)).write.partitionBy("name").parquet(tbl)
    build_bloom_index(spark, tbl, "id", idx)
    got = read_with_bloom(spark, tbl, idx, "id", [0, 1, 2, 3, 4, 5])
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3, 4, 5]
    assert {r.name for r in got.collect()} == set(SPECIALS)


def test_uri_encode_matches_spark_metadata(spark, tmp_path):
    """Pin the encoder to Spark's actual _metadata.file_path encoding
    for every special class — if a Spark upgrade changes the grammar,
    this fails here instead of as silent row loss."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        _uri_encode_relpath,
    )

    tbl = str(tmp_path / "enc_probe")
    _sdf(spark, range(len(SPECIALS))).write.partitionBy("name").parquet(tbl)
    metas = {
        r[0]
        for r in spark.read.parquet(tbl)
        .select(F.col("_metadata.file_path"))
        .collect()
    }
    root_disk = {os.path.join(dp, f)[len(tbl) + 1 :]
                 for dp, _, fs in os.walk(tbl)
                 for f in fs if f.endswith(".parquet")}
    encoded = {_uri_encode_relpath(rel) for rel in root_disk}
    meta_rels = {m.split(tbl.rsplit("/", 1)[-1] + "/", 1)[1] for m in metas}
    assert encoded == meta_rels


# ------------------------------------------------ retry exactly-once


def test_stream_append_retry_rechecks_epoch(spark, tmp_path, monkeypatch):
    """A SnapshotConflict during the commit retry may BE this (stream,
    epoch), landed by a zombie instance — the retry must detect it and
    return instead of committing the batch twice."""
    import nyc_taxi_data_warehouse_spark.warehouse.snapshots as snap

    table = str(tmp_path / "retry_tbl")
    src = tmp_path / "src"
    src.mkdir()
    df = spark.createDataFrame([(1, 1, "a"), (2, 2, "b")],
                               "id long, month int, v string")
    df.write.mode("overwrite").parquet(str(src / "f1"))

    real_commit = snap._commit
    state = {"forged": False}

    def racing_commit(spark_, path, files, schema, op, parent, **kw):
        extra = kw.get("extra") or {}
        if (
            not state["forged"]
            and extra.get("stream_id") == "ingest-z"
        ):
            state["forged"] = True
            # the zombie lands the SAME epoch first...
            real_commit(spark_, path, files, schema, op, parent, **kw)
            # ...and our own attempt loses the race
            raise snap.SnapshotConflict("simulated concurrent commit")
        return real_commit(spark_, path, files, schema, op, parent, **kw)

    monkeypatch.setattr(snap, "_commit", racing_commit)
    stream = spark.readStream.schema(df.schema).parquet(f"{src}/*")
    snap.stream_snapshot_append(
        spark, stream, table, str(tmp_path / "ck"), "ingest-z",
        partition_cols=["month"],
    )
    monkeypatch.setattr(snap, "_commit", real_commit)
    got = read_snapshot(spark, table)
    assert sorted((r.id, r.v) for r in got.collect()) == [(1, "a"), (2, "b")]
    versions = snap.snapshot_versions(spark, table)
    assert len(versions) == 1  # zombie's commit only, no duplicate


# ------------------------------------------------ GC marker-only dirs


def test_sweep_orphans_reclaims_aged_marker_only_dir(spark, table):
    """An aged commit dir holding ONLY _/.-prefixed markers (a crashed
    commit whose data files never landed) must be swept; a young one
    must be kept."""
    snapshot_write(_sdf(spark, range(4)), table, partition_cols=["name"])
    old_dir = os.path.join(table, "data", "0" * 32)
    young_dir = os.path.join(table, "data", "f" * 32)
    for d in (old_dir, young_dir):
        os.makedirs(d)
        open(os.path.join(d, "_SUCCESS"), "w").close()
    past = time.time() - 3600
    os.utime(os.path.join(old_dir, "_SUCCESS"), (past, past))
    os.utime(old_dir, (past, past))
    out = sweep_orphans(spark, table, grace_seconds=600)
    assert not os.path.exists(old_dir)
    assert os.path.exists(young_dir)
    assert out["dirs_deleted"] == 1
    assert read_snapshot(spark, table).count() == 4


# ------------------------------------- verify-after-vacuum (metadata)


def test_compact_records_row_totals(spark, table):
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    snapshot_write(_sdf(spark, range(9)), table)
    snapshot_write(_sdf(spark, range(9, 12)), table, mode="append")
    v = snapshot_compact(spark, table)
    man = load_manifest(table, v)
    assert man["rows_removed"] == 12 and man["rows_added"] == 12
    assert v == list_versions(table)[-1]


def test_pa_fs_encodes_raw_relpaths_for_non_local_uris():
    """Relpaths are raw on-disk names. ``from_uri`` refuses a space and
    percent-decodes, so ``pa_fs`` encodes the path part first: every
    special partition value parses, and an on-disk ``%3A`` (Spark's
    escape of ':') stays literal. The batched sizer resolves through it
    too (a fresh mock filesystem is empty: not-found, not a parse
    error)."""
    import pyarrow.fs as pafs

    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import pa_fs
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        _make_batch_sizer,
    )

    with pytest.raises(Exception, match="Cannot parse URI"):
        pafs.FileSystem.from_uri("mock:///t/a b")
    assert pafs.FileSystem.from_uri("mock:///t/a%20b")[1] == "t/a b"
    for name in SPECIALS + ["k%3Av", "a#b?c"]:
        rel = f"t/data/c1/name={name}/part-0.parquet"
        assert pa_fs(f"mock:///{rel}")[1] == rel
        assert pa_fs(f"mock://host:9/{rel}")[1] == rel
    with pytest.raises(FileNotFoundError, match="cannot stat"):
        _make_batch_sizer()(["mock:///t/name=a b/p.parquet"])
