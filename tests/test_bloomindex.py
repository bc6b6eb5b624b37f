"""Per-file Bloom skipping index (warehouse/bloomindex.py): zero false
negatives vs a full scan, measured file pruning on selective keys,
dial-sidecar validation, and the empty-candidate short-circuit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.operators.indexmeta import IndexMetaError
from nyc_taxi_data_warehouse_spark.sources import load_table
from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
    bloom_candidate_files,
    build_bloom_index,
    read_with_bloom,
)

SF = "/root/testdata/sf0.001"
M, K = 8192, 5


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """events spread over many files keyed by time, so user_id (the
    lookup key) is scattered — the layout the index exists for."""
    d = str(tmp_path_factory.mktemp("bloom_tbl"))
    events = load_table(spark, SF, "events").withColumn(
        "day", F.dayofmonth("ts")
    )
    events.repartition(16, "day").write.mode("overwrite").parquet(d)
    return d


@pytest.fixture(scope="module")
def index(spark, table, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bloom_idx"))
    n = build_bloom_index(spark, table, "event_id", d, m_bits=M, k=K)
    assert n >= 8  # really indexed many files
    return d


def test_no_false_negatives_and_exact_rows(spark, table, index):
    full = spark.read.parquet(table)
    ids = [r.event_id for r in full.select("event_id").limit(5).collect()]
    got = read_with_bloom(spark, table, index, "event_id", ids, m_bits=M, k=K)
    want = full.where(F.col("event_id").isin(ids))
    assert got.count() == want.count()
    chk = lambda df: df.select(  # noqa: E731
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("h")
    ).collect()
    assert chk(got) == chk(want)


def test_candidate_files_actually_prune(spark, table, index):
    full = spark.read.parquet(table)
    n_files = full.select(F.col("_metadata.file_path")).distinct().count()
    one_id = [full.select("event_id").first().event_id]
    cand = bloom_candidate_files(spark, index, "event_id", one_id, m_bits=M, k=K)
    # a unique event lives in exactly one file; Bloom must prune to a
    # handful of candidates (false positives allowed), not everything
    assert 0 < len(cand) <= max(2, n_files // 4)
    true_files = {
        r.f
        for r in full.where(F.col("event_id").isin(one_id))
        .select(F.col("_metadata.file_path").alias("f"))
        .distinct()
        .collect()
    }
    assert true_files <= set(cand)  # NEVER misses a real file


def test_absent_key_short_circuits_empty(spark, table, index):
    got = read_with_bloom(
        spark, table, index, "event_id", [10_000_000_017], m_bits=M, k=K
    )
    assert got.count() == 0
    assert "event_id" in got.columns  # typed empty frame


def test_dial_mismatch_fails_fast(spark, table, index):
    with pytest.raises(IndexMetaError):
        bloom_candidate_files(
            spark, index, "event_id", [1], m_bits=M * 2, k=K
        )
    with pytest.raises(IndexMetaError):
        bloom_candidate_files(
            spark, index, "user_id", [1], m_bits=M, k=K
        )


def test_string_keys_supported(spark, tmp_path):
    tbl = str(tmp_path / "t")
    idx = str(tmp_path / "i")
    df = spark.createDataFrame(
        [(f"u{i % 7}", i) for i in range(200)], "name string, v long"
    )
    df.repartition(8, "v").write.parquet(tbl)
    build_bloom_index(spark, tbl, "name", idx, m_bits=1024, k=4)
    got = read_with_bloom(
        spark, tbl, idx, "name", ["u3"], m_bits=1024, k=4
    )
    assert got.count() == len([i for i in range(200) if i % 7 == 3])


def test_incremental_append_equals_rebuild(spark, tmp_path):
    tbl = str(tmp_path / "t")
    idx_inc = str(tmp_path / "inc")
    idx_full = str(tmp_path / "full")
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        append_to_bloom_index,
    )

    d1 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "id long, v string"
    )
    d1.repartition(4).write.mode("append").parquet(tbl)
    build_bloom_index(spark, tbl, "id", idx_inc, m_bits=1024, k=4)

    d2 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50, 90)], "id long, v string"
    )
    d2.repartition(3).write.mode("append").parquet(tbl)
    n_new = append_to_bloom_index(spark, tbl, idx_inc, "id", m_bits=1024, k=4)
    assert n_new == 3
    # idempotent: nothing new on a re-run (partial-failure recovery)
    assert append_to_bloom_index(spark, tbl, idx_inc, "id", m_bits=1024, k=4) == 0

    build_bloom_index(spark, tbl, "id", idx_full, m_bits=1024, k=4)
    inc = spark.read.parquet(idx_inc)
    full = spark.read.parquet(idx_full)
    diff = inc.join(full, ["file", "word"], "full").where(
        F.coalesce(inc.bits, F.lit(0)) != F.coalesce(full.bits, F.lit(0))
    )
    assert diff.count() == 0
    got = read_with_bloom(spark, tbl, idx_inc, "id", [75], m_bits=1024, k=4)
    assert [r.v for r in got.collect()] == ["v75"]


def test_bloom_cli_build_and_append(spark, tmp_path, capsys):
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main

    cli = lambda *a: main(list(a), spark=spark)  # noqa: E731
    tbl = str(tmp_path / "t")
    idx = str(tmp_path / "i")
    spark.range(100).withColumnRenamed("id", "k").repartition(4).write.parquet(tbl)
    assert cli(
        "bloom-index", "--table-path", tbl, "--index-path", idx,
        "--key-col", "k", "--m-bits", "1024", "--k", "4",
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files_indexed"] == 4
    spark.range(100, 150).withColumnRenamed("id", "k").repartition(2).write.mode(
        "append"
    ).parquet(tbl)
    assert cli(
        "bloom-index", "--table-path", tbl, "--index-path", idx,
        "--key-col", "k", "--m-bits", "1024", "--k", "4", "--append",
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files_indexed"] == 2
    got = read_with_bloom(spark, tbl, idx, "k", [120], m_bits=1024, k=4)
    assert got.count() == 1


def test_int_typed_key_probes_match(spark, tmp_path):
    """xxhash64 hashes int and long DIFFERENTLY, so the probe must cast
    to the indexed column's exact recorded type (ADVICE r4) — an
    int-keyed table probed with python ints must still find its rows."""
    d, x = str(tmp_path / "int_tbl"), str(tmp_path / "int_idx")
    spark.range(0, 500).select(
        F.col("id").cast("int").alias("key"),
        (F.col("id") % 7).alias("grp"),
    ).repartition(6).write.parquet(d)
    build_bloom_index(spark, d, "key", x, m_bits=M, k=K)
    got = read_with_bloom(spark, d, x, "key", [3, 250, 499], m_bits=M, k=K)
    assert sorted(r.key for r in got.collect()) == [3, 250, 499]
    # and candidate files are a real subset, not everything
    cand = bloom_candidate_files(spark, x, "key", [3], m_bits=M, k=K)
    assert 1 <= len(cand) < 6


def test_duplicate_probe_values_not_false_negative(spark, table, index):
    """Duplicated entries in values used to double the per-(file,key)
    probe rows and fail the n==k cover test (ADVICE r4): [v, v] must
    return the same candidates as [v]."""
    full = spark.read.parquet(table)
    v = full.select("event_id").first().event_id
    once = bloom_candidate_files(spark, index, "event_id", [v], m_bits=M, k=K)
    twice = bloom_candidate_files(
        spark, index, "event_id", [v, v], m_bits=M, k=K
    )
    assert once and once == twice


def test_probe_type_mismatch_fails_fast(spark, table, index):
    """A probe value that cannot cast to the recorded key type raises
    instead of silently returning no candidates."""
    with pytest.raises(Exception):
        bloom_candidate_files(
            spark, index, "event_id", ["not-a-number"], m_bits=M, k=K
        )


# ------------------------------------------- snapshot-aware variant


def _sdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, month int, text string")


@pytest.mark.slowproof
def test_snapshot_bloom_follows_dml(spark, tmp_path):
    """The snapshot variant keeps the no-false-negative contract under
    DML: appends make reads fail loudly until synced (a fresh file
    would otherwise be silently unsearchable), deletes stop returning
    rows after sync (removed files lose their Bloom rows — no
    resurrection), compaction reconciles cleanly, and a second sync is
    a no-op."""
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        build_snapshot_bloom_index,
        read_snapshot_with_bloom,
        sync_bloom_with_snapshot,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_compact,
        snapshot_delete,
        snapshot_write,
    )

    t = str(tmp_path / "sb_tbl")
    idx = str(tmp_path / "sb_idx")
    rows = [(i, i % 3, f"doc {i}") for i in range(30)]
    snapshot_write(
        _sdocs(spark, rows), t, partition_cols=["month"]
    )
    n = build_snapshot_bloom_index(spark, t, "doc_id", idx, m_bits=M, k=K)
    assert n >= 3
    got = read_snapshot_with_bloom(spark, t, idx, [7, 23]).collect()
    assert sorted(r["doc_id"] for r in got) == [7, 23]
    assert {r["text"] for r in got} == {"doc 7", "doc 23"}

    # append: reads refuse until the index covers the new file
    snapshot_write(
        _sdocs(spark, [(100, 1, "doc 100")]), t, mode="append",
        partition_cols=["month"],
    )
    with pytest.raises(ValueError, match="not in the Bloom index"):
        read_snapshot_with_bloom(spark, t, idx, [100])
    res = sync_bloom_with_snapshot(spark, t, idx)
    assert res["files_added"] >= 1 and res["files_removed"] == 0
    assert [
        r["doc_id"]
        for r in read_snapshot_with_bloom(spark, t, idx, [100]).collect()
    ] == [100]

    # delete: victim file rewritten; after sync the key is GONE
    snapshot_delete(spark, t, {"doc_id": [7]}, mode="rewrite")
    res = sync_bloom_with_snapshot(spark, t, idx)
    assert res["files_removed"] >= 1
    assert read_snapshot_with_bloom(spark, t, idx, [7]).count() == 0
    assert read_snapshot_with_bloom(spark, t, idx, [23]).count() == 1

    # compaction: full reconcile, lookups unchanged
    snapshot_compact(spark, t, partition_cols=["month"])
    res = sync_bloom_with_snapshot(spark, t, idx)
    assert res["files_added"] >= 1 and res["files_removed"] >= 1
    assert sorted(
        r["doc_id"]
        for r in read_snapshot_with_bloom(spark, t, idx, [23, 100]).collect()
    ) == [23, 100]
    # index file set == manifest file set; idempotent re-sync
    res2 = sync_bloom_with_snapshot(spark, t, idx)
    assert (res2["files_added"], res2["files_removed"]) == (0, 0)


def test_snapshot_bloom_allnull_key_file_converges(spark, tmp_path):
    """A commit whose rows all carry NULL keys contributes no real
    Bloom rows — the coverage SENTINEL must still mark its file as
    indexed, or sync re-adds it forever and the read path permanently
    raises 'run sync first' (review r6)."""
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        build_snapshot_bloom_index,
        read_snapshot_with_bloom,
        sync_bloom_with_snapshot,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_write,
    )

    t = str(tmp_path / "nk_tbl")
    idx = str(tmp_path / "nk_idx")
    snapshot_write(_sdocs(spark, [(i, 1, f"d{i}") for i in range(10)]), t)
    build_snapshot_bloom_index(spark, t, "doc_id", idx, m_bits=M, k=K)
    snapshot_write(
        _sdocs(spark, [(None, 1, "null-keyed")]), t, mode="append"
    )
    res = sync_bloom_with_snapshot(spark, t, idx)
    assert res["files_added"] >= 1
    # converged: the all-NULL file is covered, re-sync is a true no-op
    res2 = sync_bloom_with_snapshot(spark, t, idx)
    assert (res2["files_added"], res2["files_removed"]) == (0, 0)
    # and the read path works (NULL rows can never match a probe)
    assert read_snapshot_with_bloom(spark, t, idx, [3]).count() == 1


def test_snapshot_bloom_torn_prune_self_heals(spark, tmp_path):
    """The reconcile prune overwrites rows/ only — the root _meta.json
    is never in the blast radius, so a crash mid-prune (simulated by
    deleting rows/ outright) leaves an index the NEXT sync completes,
    not a sidecar-less directory every reader rejects (review r6)."""
    import shutil

    from nyc_taxi_data_warehouse_spark.operators.indexmeta import (
        read_index_meta,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        build_snapshot_bloom_index,
        read_snapshot_with_bloom,
        sync_bloom_with_snapshot,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
        snapshot_write,
    )

    t = str(tmp_path / "tp_tbl")
    idx = str(tmp_path / "tp_idx")
    snapshot_write(_sdocs(spark, [(i, i % 3, f"d{i}") for i in range(30)]), t)
    build_snapshot_bloom_index(spark, t, "doc_id", idx, m_bits=M, k=K)
    snapshot_delete(spark, t, {"doc_id": [7]}, mode="rewrite")
    # worst-case torn prune: the whole rows table is gone mid-rewrite
    shutil.rmtree(f"{idx}/rows")
    assert read_index_meta(spark, idx) is not None  # sidecar untouched
    res = sync_bloom_with_snapshot(spark, t, idx)  # completes, no crash
    assert res["files_added"] >= 1
    assert read_snapshot_with_bloom(spark, t, idx, [7]).count() == 0
    assert read_snapshot_with_bloom(spark, t, idx, [23]).count() == 1
    res2 = sync_bloom_with_snapshot(spark, t, idx)
    assert (res2["files_added"], res2["files_removed"]) == (0, 0)


def test_snapshot_bloom_bootstrap_from_empty_table(spark, tmp_path):
    """Build against an EMPTY snapshot table writes a zero-file rows
    layout; reads tolerate it (no UNABLE_TO_INFER_SCHEMA), and the
    first sync after data arrives brings the index up (review r6 — the
    same typed-empty contract the postings/IVF bootstrap got)."""
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        build_snapshot_bloom_index,
        read_snapshot_with_bloom,
        sync_bloom_with_snapshot,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_write,
    )

    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    t = str(tmp_path / "eb_tbl")
    idx = str(tmp_path / "eb_idx")
    snapshot_write(_sdocs(spark, []), t)
    n = build_snapshot_bloom_index(spark, t, "doc_id", idx, m_bits=M, k=K)
    # an empty table may still mint zero-row files; every live file is
    # covered (by sentinel if keyless), none invented
    man = load_manifest(t, list_versions(t)[-1])
    assert n == len(man["files"])
    # empty table, empty index: lookup answers empty, typed
    got = read_snapshot_with_bloom(spark, t, idx, [1])
    assert got.count() == 0 and "text" in got.columns
    snapshot_write(_sdocs(spark, [(1, 1, "one")]), t, mode="append")
    with pytest.raises(ValueError, match="not in the Bloom index"):
        read_snapshot_with_bloom(spark, t, idx, [1])
    assert sync_bloom_with_snapshot(spark, t, idx)["files_added"] >= 1
    assert read_snapshot_with_bloom(spark, t, idx, [1]).count() == 1


@pytest.mark.slowproof
def test_snapshot_bloom_compact_index_preserves_layout(spark, tmp_path):
    """compact_index on the snapshot variant compacts rows/ (not the
    root — a root rewrite would flatten the subdir layout) and lookups
    are unchanged."""
    from nyc_taxi_data_warehouse_spark.operators.indexmeta import (
        compact_index,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        build_snapshot_bloom_index,
        read_snapshot_with_bloom,
        sync_bloom_with_snapshot,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_write,
    )

    t = str(tmp_path / "ci_tbl")
    idx = str(tmp_path / "ci_idx")
    snapshot_write(_sdocs(spark, [(i, i % 3, f"d{i}") for i in range(30)]), t)
    build_snapshot_bloom_index(spark, t, "doc_id", idx, m_bits=M, k=K)
    for j in range(3):  # fragment the rows table with appends
        snapshot_write(
            _sdocs(spark, [(100 + j, 1, f"x{j}")]), t, mode="append"
        )
        sync_bloom_with_snapshot(spark, t, idx)
    r = compact_index(spark, idx, target_mb=64)
    assert r["files_after"] <= r["files_before"]
    assert read_snapshot_with_bloom(spark, t, idx, [101]).count() == 1
    assert read_snapshot_with_bloom(spark, t, idx, [7]).count() == 1
    res = sync_bloom_with_snapshot(spark, t, idx)
    assert (res["files_added"], res["files_removed"]) == (0, 0)


def test_snapshot_bloom_refuses_partition_key_and_prunes(spark, tmp_path):
    """Partition-column keys refuse (layout pruning already serves
    them); candidate scans touch a strict subset of live files on a
    selective key."""
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        bloom_candidate_files,
        build_snapshot_bloom_index,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    t = str(tmp_path / "sbp_tbl")
    idx = str(tmp_path / "sbp_idx")
    snapshot_write(
        _sdocs(spark, [(i, i % 5, f"d{i}") for i in range(50)]),
        t,
        partition_cols=["month"],
    )
    with pytest.raises(ValueError, match="partition column"):
        build_snapshot_bloom_index(spark, t, "month", idx)
    build_snapshot_bloom_index(spark, t, "doc_id", idx, m_bits=M, k=K)
    man = load_manifest(t, list_versions(t)[-1])
    cand = bloom_candidate_files(
        spark, idx, "doc_id", [13], m_bits=M, k=K
    )
    assert 0 < len(cand) < len(man["files"])
    assert all(f in set(man["files"]) for f in cand)


def test_snapshot_bloom_cli(spark, tmp_path, capsys):
    """CLI: `bloom-index --snapshot` builds against the latest
    manifest; `--snapshot --append` reconciles after DML."""
    from nyc_taxi_data_warehouse_spark.__main__ import main
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        read_snapshot_with_bloom,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
        snapshot_write,
    )

    t = str(tmp_path / "cli_tbl")
    idx = str(tmp_path / "cli_idx")
    snapshot_write(
        _sdocs(spark, [(i, i % 3, f"d{i}") for i in range(20)]), t
    )
    rc = main(
        [
            "bloom-index", "--snapshot", "--table-path", t,
            "--index-path", idx, "--key-col", "doc_id",
            "--m-bits", str(M), "--k", str(K),
        ],
        spark=spark,
    )
    assert rc == 0
    assert read_snapshot_with_bloom(spark, t, idx, [5]).count() == 1
    snapshot_delete(spark, t, {"doc_id": [5]}, mode="rewrite")
    rc = main(
        [
            "bloom-index", "--snapshot", "--append", "--table-path", t,
            "--index-path", idx, "--key-col", "doc_id",
        ],
        spark=spark,
    )
    assert rc == 0
    assert read_snapshot_with_bloom(spark, t, idx, [5]).count() == 0
