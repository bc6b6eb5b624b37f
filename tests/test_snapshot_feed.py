"""Change feed + streaming source over snapshot tables.

- ``snapshot_changes``: row-level CDF derived from manifest file diffs
  (inserts for appends, delete+insert for partition replacement, net
  deletes for row erasure, EMPTY for compaction), with the invariant
  table@from + inserts - deletes == table@to checked as bags.
- ``streaming/snapshot_source.py``: the Python Data Source streaming
  reader — incremental exactly-once consumption across restarts,
  partition-directory value recovery, onNonAppend fail/skip.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.streaming.snapshot_source import (
    read_snapshot_stream,
)
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    snapshot_changes,
    snapshot_compact,
    snapshot_delete,
    snapshot_replace_partitions,
    snapshot_write,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, month int, v string")


def _bag(df, cols=("id", "month", "v")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "feed_table")


def _apply(base_bag, changes_df):
    """Apply a change feed to a bag of rows, in commit order."""
    bag = list(base_bag)
    rows = sorted(
        changes_df.collect(),
        key=lambda r: (r["_commit_version"], r["_change_type"]),
    )
    # deletes of a version before its inserts ("delete" < "insert")
    for r in rows:
        t = (r["id"], r["month"], r["v"])
        if r["_change_type"] == "delete":
            bag.remove(t)
        else:
            bag.append(t)
    return sorted(bag)


def test_changes_append_only(spark, table):
    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    snapshot_write(_df(spark, [(2, 1, "b"), (3, 2, "c")]), table, mode="append")
    ch = snapshot_changes(spark, table, from_version=1)
    assert _bag(ch) == [(2, 1, "b"), (3, 2, "c")]
    assert {r["_change_type"] for r in ch.collect()} == {"insert"}
    assert {r["_commit_version"] for r in ch.collect()} == {2}
    # from the very beginning (exclusive 0) includes version 1
    ch0 = snapshot_changes(spark, table, from_version=0)
    assert _bag(ch0) == [(1, 1, "a"), (2, 1, "b"), (3, 2, "c")]


@pytest.mark.slowproof
def test_changes_replace_partitions_and_compact(spark, table):
    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 2, "b")]), table, partition_cols=["month"]
    )
    snapshot_replace_partitions(
        _df(spark, [(5, 1, "a2")]), table, partition_cols=["month"]
    )
    ch = snapshot_changes(spark, table, from_version=1, to_version=2)
    by_type = {
        t: sorted(
            (r["id"], r["month"], r["v"])
            for r in ch.collect()
            if r["_change_type"] == t
        )
        for t in ("insert", "delete")
    }
    assert by_type["delete"] == [(1, 1, "a")]  # replaced partition only
    assert by_type["insert"] == [(5, 1, "a2")]
    # compaction rewrites every row unchanged -> empty change set
    snapshot_compact(spark, table, partition_cols=["month"])
    assert snapshot_changes(spark, table, from_version=2).count() == 0


def test_changes_delete_rows_and_apply_invariant(spark, table):
    snapshot_write(
        _df(spark, [(i, i % 2, f"v{i}") for i in range(8)]),
        table,
        partition_cols=["month"],
    )
    snapshot_write(_df(spark, [(100, 3, "x")]), table, mode="append",
                   partition_cols=["month"])
    snapshot_delete(spark, table, {"id": [2, 5, 100]}, mode="rewrite")
    ch = snapshot_changes(spark, table, from_version=1)
    deletes = _bag(ch.where(F.col("_change_type") == "delete"))
    assert deletes == [(2, 0, "v2"), (5, 1, "v5"), (100, 3, "x")]
    # invariant: table@1 + feed(1..latest) == latest table, as bags
    base = _bag(read_snapshot(spark, table, version=1))
    assert _apply(base, ch) == _bag(read_snapshot(spark, table))


def test_changes_vacuumed_range_fails_loudly(spark, table):
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        vacuum_snapshots,
    )

    for i in range(4):
        snapshot_write(_df(spark, [(i, 1, "a")]), table, mode="append")
    vacuum_snapshots(spark, table, keep_last=2)
    with pytest.raises(FileNotFoundError, match="not retained"):
        snapshot_changes(spark, table, from_version=0)
    # retained range still works
    assert snapshot_changes(spark, table, from_version=3).count() == 1


def _drain(spark, table, checkpoint, sink_name, **opts):
    # foreachBatch (not the memory sink) because the memory sink
    # refuses checkpoint RECOVERY, and incremental restart is exactly
    # what these tests prove
    rows: list = []
    schemas: list = []

    def sink(b, _e):
        schemas.append(b.schema)
        rows.extend(b.collect())

    q = (
        read_snapshot_stream(spark, table, **opts)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    schema = schemas[0] if schemas else read_snapshot(spark, table).schema
    return spark.createDataFrame(rows, schema)


@pytest.mark.slowproof
def test_stream_incremental_exactly_once(spark, table, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 2, "b")]), table, partition_cols=["month"]
    )
    got = _drain(spark, table, ckpt, "feed_sink_1")
    assert _bag(got) == [(1, 1, "a"), (2, 2, "b")]
    # new append, SAME checkpoint: only the delta arrives
    snapshot_write(_df(spark, [(3, 1, "c")]), table, mode="append",
                   partition_cols=["month"])
    got2 = _drain(spark, table, ckpt, "feed_sink_2")
    assert _bag(got2) == [(3, 1, "c")]
    # no new commits: empty batch, no duplicates
    got3 = _drain(spark, table, ckpt, "feed_sink_3")
    assert got3.count() == 0


def test_stream_partition_values_recovered(spark, table, tmp_path):
    # month lives only in directory names; the reader must restore it
    snapshot_write(
        _df(spark, [(1, 7, "a"), (2, None, "b")]),
        table,
        partition_cols=["month"],
    )
    got = _drain(spark, table, str(tmp_path / "c1"), "feed_sink_p")
    assert _bag(got) == [(1, 7, "a"), (2, None, "b")]
    assert dict(got.dtypes)["month"] == "int"


@pytest.mark.slowproof
def test_stream_non_append_fail_and_skip(spark, table, tmp_path):
    snapshot_write(
        _df(spark, [(i, i % 2, "x") for i in range(6)]),
        table,
        partition_cols=["month"],
    )
    snapshot_compact(spark, table, partition_cols=["month"])
    with pytest.raises(Exception, match="not an append"):
        _drain(spark, table, str(tmp_path / "c_fail"), "feed_sink_f")
    # skip: compaction ignored, initial snapshot still delivered
    got = _drain(
        spark, table, str(tmp_path / "c_skip"), "feed_sink_s",
        on_non_append="skip",
    )
    assert got.count() == 6
    # appends after the rewrite flow normally
    snapshot_write(_df(spark, [(99, 1, "y")]), table, mode="append",
                   partition_cols=["month"])
    got2 = _drain(
        spark, table, str(tmp_path / "c_skip"), "feed_sink_s2",
        on_non_append="skip",
    )
    assert _bag(got2) == [(99, 1, "y")]


def test_stream_starting_version_latest(spark, table, tmp_path):
    snapshot_write(_df(spark, [(1, 1, "old")]), table)
    got = _drain(
        spark, table, str(tmp_path / "c2"), "feed_sink_l",
        starting_version="latest",
    )
    assert got.count() == 0  # tail only
    snapshot_write(_df(spark, [(2, 2, "new")]), table, mode="append")
    got2 = _drain(
        spark, table, str(tmp_path / "c2"), "feed_sink_l2",
        starting_version="latest",
    )
    assert _bag(got2) == [(2, 2, "new")]


# ------------------------------------------------- materialized views


@pytest.mark.slowproof
def test_materialize_incremental_equals_batch_recompute(spark, tmp_path):
    """Derived snapshot table maintained through the feed == the same
    transform applied to a batch read of the source, after every
    refresh; refresh with no new commits publishes nothing."""
    from nyc_taxi_data_warehouse_spark.streaming.materialize import (
        materialize_incremental,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_versions,
    )

    src = str(tmp_path / "mv_src")
    dst = str(tmp_path / "mv_dst")
    ckpt = str(tmp_path / "mv_ckpt")

    def xf(df):
        return df.where(F.col("id") % 2 == 0).withColumn(
            "vv", F.upper(F.col("v"))
        )

    snapshot_write(_df(spark, [(i, i % 3, f"a{i}") for i in range(10)]), src)
    materialize_incremental(spark, src, dst, xf, ckpt)

    def check():
        got = sorted(
            map(tuple, read_snapshot(spark, dst).collect())
        )
        want = sorted(map(tuple, xf(read_snapshot(spark, src)).collect()))
        assert got == want

    check()
    # two more source commits, one refresh
    snapshot_write(_df(spark, [(10, 1, "b10")]), src, mode="append")
    snapshot_write(_df(spark, [(11, 1, "b11"), (12, 2, "b12")]), src,
                   mode="append")
    materialize_incremental(spark, src, dst, xf, ckpt)
    check()
    # idle refresh: no new version on dst
    n_before = len(snapshot_versions(spark, dst))
    materialize_incremental(spark, src, dst, xf, ckpt)
    assert len(snapshot_versions(spark, dst)) == n_before
    # batch whose transform output is EMPTY: consumed, no empty commit
    snapshot_write(_df(spark, [(13, 0, "odd")]), src, mode="append")
    materialize_incremental(spark, src, dst, xf, ckpt)
    assert len(snapshot_versions(spark, dst)) == n_before
    check()


def test_restore_rolls_back_as_a_new_commit(spark, table):
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_restore,
        snapshot_versions,
        vacuum_snapshots,
    )

    snapshot_write(_df(spark, [(1, 1, "a"), (2, 2, "b")]), table)
    snapshot_write(_df(spark, [(9, 9, "oops")]), table)  # bad overwrite
    snapshot_write(_df(spark, [(10, 1, "x")]), table, mode="append")
    v4 = snapshot_restore(spark, table, 1)
    assert v4 == 4
    assert _bag(read_snapshot(spark, table)) == [(1, 1, "a"), (2, 2, "b")]
    hist = snapshot_versions(spark, table)
    assert hist[-1]["op"] == "restore"
    # the change feed reports the rollback as delete+insert
    ch = snapshot_changes(spark, table, from_version=3, to_version=4)
    deletes = _bag(ch.where(F.col("_change_type") == "delete"))
    assert deletes == [(9, 9, "oops"), (10, 1, "x")]
    inserts = _bag(ch.where(F.col("_change_type") == "insert"))
    assert inserts == [(1, 1, "a"), (2, 2, "b")]
    # vacuum after restore: v1's manifest may drop, its FILES survive
    # because the restore commit references them
    vacuum_snapshots(spark, table, keep_last=1)
    assert _bag(read_snapshot(spark, table)) == [(1, 1, "a"), (2, 2, "b")]
    with pytest.raises(FileNotFoundError):
        snapshot_restore(spark, table, 2)  # vacuumed version


def test_changes_restore_readds_same_file_once_per_version(spark, table):
    """A restore can re-add the very FILE an earlier in-range append
    minted. The batched append scan must read that file once and fan
    rows out once per listed version via the lookup join — listing the
    path twice would double the physical rows AND double-match the
    lookup, yielding 4x inserts (regression: duplicated scan paths)."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_restore,
    )

    snapshot_write(_df(spark, [(1, 1, "a"), (2, 2, "b")]), table)  # v1
    # v2: delete EVERY row -> removes v1's files, adds none
    snapshot_delete(spark, table, {"id": [1, 2]}, mode="rewrite")
    assert read_snapshot(spark, table).count() == 0
    # v3: restore to v1 -> re-adds v1's exact files, removed=[] (a
    # pure-append-shaped commit, batched together with v1's append)
    v3 = snapshot_restore(spark, table, 1)
    assert v3 == 3
    ch = snapshot_changes(spark, table, from_version=0)
    per_version = {
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in ch.collect()
    }
    counts = ch.groupBy("_commit_version", "_change_type").count().collect()
    assert {(r["_commit_version"], r["_change_type"], r["count"])
            for r in counts} == {
        (1, "insert", 2),
        (2, "delete", 2),
        (3, "insert", 2),
    }
    assert (1, "insert", 1) in per_version and (3, "insert", 1) in per_version
    # apply invariant from empty
    assert _apply([], ch) == [(1, 1, "a"), (2, 2, "b")]


def test_snapshot_restore_cli(spark, table, capsys):
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main

    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    snapshot_write(_df(spark, [(2, 2, "bad")]), table)
    assert main(
        ["snapshot-restore", "--table-path", table, "--version", "1"],
        spark=spark,
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"version": 3, "restored_from": 1}
    assert _bag(read_snapshot(spark, table)) == [(1, 1, "a")]


def test_stream_offset_version_vacuumed_fails_with_guidance(
    spark, table, tmp_path
):
    """Vacuum dropping exactly the checkpointed offset version must
    surface the crafted 'vacuumed past the stream's offset' error (the
    offset version is the first diff's PARENT), not a raw missing-file
    error from the manifest loader."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        vacuum_snapshots,
    )

    ckpt = str(tmp_path / "ck_vac")
    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    _drain(spark, table, ckpt, "feed_vac_1")  # offset now = 1
    for i in range(2, 6):
        snapshot_write(_df(spark, [(i, 1, "x")]), table, mode="append")
    vacuum_snapshots(spark, table, keep_last=2)  # drops v1..v3
    with pytest.raises(Exception, match="vacuumed past the stream's offset"):
        _drain(spark, table, ckpt, "feed_vac_2")


@pytest.mark.slowproof
def test_materialize_aggregate_equals_full_groupby(spark, tmp_path):
    """Aggregating view maintained from the feed == a full groupBy of
    the source at every refresh; count/sum/min/max merge exactly; idle
    refresh publishes nothing; vacuum-sized history stays bounded."""
    from nyc_taxi_data_warehouse_spark.streaming.materialize import (
        materialize_aggregate,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_versions,
    )

    src = str(tmp_path / "agg_src")
    dst = str(tmp_path / "agg_dst")
    ckpt = str(tmp_path / "agg_ckpt")
    AGGS = {
        "cnt": ("count",),
        "sum_id": ("sum", "id"),
        "min_id": ("min", "id"),
        "max_id": ("max", "id"),
    }

    def check():
        got = sorted(
            map(tuple, read_snapshot(spark, dst).select(
                "month", "cnt", "sum_id", "min_id", "max_id").collect())
        )
        want = sorted(
            map(tuple, read_snapshot(spark, src).groupBy("month").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("id").alias("sum_id"),
                F.min("id").alias("min_id"),
                F.max("id").alias("max_id"),
            ).collect())
        )
        assert got == want

    snapshot_write(_df(spark, [(i, i % 3, "a") for i in range(10)]), src)
    materialize_aggregate(spark, src, dst, ["month"], AGGS, ckpt)
    check()
    # two more commits touching existing + new groups, one refresh
    snapshot_write(_df(spark, [(100, 1, "b"), (101, 7, "c")]), src,
                   mode="append")
    snapshot_write(_df(spark, [(102, 7, "d")]), src, mode="append")
    materialize_aggregate(spark, src, dst, ["month"], AGGS, ckpt)
    check()
    n = len(snapshot_versions(spark, dst))
    # idle refresh: no new version
    materialize_aggregate(spark, src, dst, ["month"], AGGS, ckpt)
    assert len(snapshot_versions(spark, dst)) == n
    # non-mergeable spec refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not mergeable"):
        materialize_aggregate(
            spark, src, dst, ["month"], {"a": ("avg", "id")}, ckpt
        )


def test_snapshot_changes_cli(spark, table, capsys):
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main

    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    snapshot_write(_df(spark, [(2, 2, "b")]), table, mode="append")
    assert main(
        ["snapshot-changes", "--table-path", table, "--from-version", "1"],
        spark=spark,
    ) == 0
    lines = [
        _json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert lines == [
        {"id": 2, "month": 2, "v": "b", "_change_type": "insert",
         "_commit_version": 2}
    ]


@pytest.mark.slowproof
def test_materialize_aggregate_hll_distinct_and_retention(spark, tmp_path):
    """approx_distinct partials are HLL sketches merged across
    refreshes: the estimate equals the exact distinct count at this
    cardinality even when the same values recur in later commits
    (a plain count would double-count); keep_versions bounds the view's
    history."""
    from nyc_taxi_data_warehouse_spark.streaming.materialize import (
        materialize_aggregate,
        read_aggregate_view,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_versions,
    )

    src = str(tmp_path / "h_src")
    dst = str(tmp_path / "h_dst")
    ckpt = str(tmp_path / "h_ckpt")
    AGGS = {"cnt": ("count",), "uniq": ("approx_distinct", "v")}

    snapshot_write(_df(spark, [(i, i % 2, f"u{i % 5}") for i in range(20)]),
                   src)
    materialize_aggregate(spark, src, dst, ["month"], AGGS, ckpt,
                          keep_versions=2)
    # same values recur + new ones appear, across two commits
    snapshot_write(_df(spark, [(100 + i, i % 2, f"u{i % 7}") for i in range(20)]),
                   src, mode="append")
    snapshot_write(_df(spark, [(200, 0, "u-new")]), src, mode="append")
    materialize_aggregate(spark, src, dst, ["month"], AGGS, ckpt,
                          keep_versions=2)

    got = {
        r["month"]: (r["cnt"], r["uniq"])
        for r in read_aggregate_view(spark, dst, AGGS).collect()
    }
    want = {
        r["month"]: (r["c"], r["u"])
        for r in read_snapshot(spark, src)
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("c"),
             F.countDistinct("v").alias("u"))
        .collect()
    }
    assert got == want
    assert len(snapshot_versions(spark, dst)) <= 2  # retention applied
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep_versions"):
        materialize_aggregate(spark, src, dst, ["month"], AGGS, ckpt,
                              keep_versions=1)


def test_materialize_aggregate_count_column_is_nonnull_count(spark, tmp_path):
    """('count', col) must count NON-NULL values of col, not rows —
    silently giving count(*) semantics would diverge from the
    groupBy(...).agg(F.count(col)) the caller meant."""
    from nyc_taxi_data_warehouse_spark.streaming.materialize import (
        materialize_aggregate,
    )

    src = str(tmp_path / "cn_src")
    dst = str(tmp_path / "cn_dst")
    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 1, None), (3, 2, None), (4, 2, "d")]),
        src,
    )
    materialize_aggregate(
        spark, src, dst, ["month"],
        {"rows": ("count",), "n_v": ("count", "v")},
        str(tmp_path / "cn_ck"),
    )
    got = {
        r["month"]: (r["rows"], r["n_v"])
        for r in read_snapshot(spark, dst).collect()
    }
    assert got == {1: (2, 1), 2: (2, 1)}


def test_changes_across_schema_evolution(spark, table):
    """The change feed normalizes every version's rows to the
    to_version schema: rows from commits written BEFORE a column was
    added surface it as NULL, and the apply-invariant still bridges
    the evolving history."""
    snapshot_write(
        spark.createDataFrame([(1, "a")], "id long, v string"), table
    )
    snapshot_write(
        spark.createDataFrame(
            [(2, "b", 9.5)], "id long, v string, score double"
        ),
        table,
        mode="append",
    )
    ch = snapshot_changes(spark, table, from_version=0)
    rows = sorted(
        (r["id"], r["v"], r["score"], r["_commit_version"])
        for r in ch.collect()
    )
    assert rows == [(1, "a", None, 1), (2, "b", 9.5, 2)]
    assert dict(ch.drop("_change_type", "_commit_version").dtypes) == {
        "id": "bigint", "v": "string", "score": "double",
    }
    # streaming source follows the same contract
    got = _drain(spark, table, str(table) + "_ck_ev", "feed_ev")
    assert sorted(
        (r["id"], r["score"]) for r in got.collect()
    ) == [(1, None), (2, 9.5)]


# ------------------------------------- verified row-neutral rewrites


@pytest.mark.slowproof
def test_stream_verify_passes_compaction_fails_deletes(spark, table, tmp_path):
    """onNonAppend=verify: a genuine compaction (op == 'compact',
    footer-equal row totals) streams zero rows and the feed continues
    across it; a delete commit still fails loudly; a commit labeled
    'compact' that actually changed rows fails the footer check."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import _commit
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, "x") for i in range(6)]),
        table,
        partition_cols=["month"],
    )
    got = _drain(spark, table, str(tmp_path / "cv"), "feed_v1",
                 on_non_append="verify")
    assert got.count() == 6
    # compaction mid-stream: verified row-neutral, zero rows delivered
    snapshot_compact(spark, table, partition_cols=["month"])
    got2 = _drain(spark, table, str(tmp_path / "cv"), "feed_v2",
                  on_non_append="verify")
    assert got2.count() == 0
    # appends after the compaction flow normally (same checkpoint)
    snapshot_write(_df(spark, [(99, 1, "y")]), table, mode="append",
                   partition_cols=["month"])
    got3 = _drain(spark, table, str(tmp_path / "cv"), "feed_v3",
                  on_non_append="verify")
    assert _bag(got3) == [(99, 1, "y")]
    # a delete commit is NOT row-neutral: fail loudly
    snapshot_delete(spark, table, {"id": [0]}, mode="rewrite")
    with pytest.raises(Exception, match="not a compaction"):
        _drain(spark, table, str(tmp_path / "cv"), "feed_v4",
               on_non_append="verify")
    # forge a 'compact' that drops a file's rows: footer check trips
    latest = list_versions(table)[-1]
    man = load_manifest(table, latest)
    _commit(
        spark, table, man["files"][:-1], read_snapshot(spark, table).schema,
        "compact", latest, partition_cols=["month"],
    )
    with pytest.raises(Exception, match="not row-neutral"):
        # start just before the forged commit so the (legitimately
        # failing) delete at the earlier version isn't what trips first
        _drain(spark, table, str(tmp_path / "cv2"), "feed_v5",
               on_non_append="verify", starting_version=latest)


@pytest.mark.slowproof
def test_materialize_views_survive_source_compaction(spark, tmp_path):
    """Routine snapshot_compact on the SOURCE must not break derived
    views: the refresh passes the verified row-neutral commit, keeps
    consuming later appends, and stays ≡ a batch recompute. A delete
    on the source still fails the refresh loudly."""
    from nyc_taxi_data_warehouse_spark.streaming.materialize import (
        materialize_aggregate,
        materialize_incremental,
        read_aggregate_view,
    )

    src = str(tmp_path / "cmp_src")
    dst = str(tmp_path / "cmp_dst")
    adst = str(tmp_path / "cmp_adst")

    def xf(df):
        return df.withColumn("vv", F.upper(F.col("v")))

    aggs = {"n": ("count",), "sum_id": ("sum", "id")}
    snapshot_write(_df(spark, [(i, i % 3, f"a{i}") for i in range(9)]), src)
    materialize_incremental(spark, src, dst, xf, str(tmp_path / "ck1"))
    materialize_aggregate(
        spark, src, adst, ["month"], aggs, str(tmp_path / "ck2")
    )
    # compact the source, append more, refresh both views
    snapshot_compact(spark, src)
    snapshot_write(_df(spark, [(20, 1, "b20"), (21, 2, "b21")]), src,
                   mode="append")
    materialize_incremental(spark, src, dst, xf, str(tmp_path / "ck1"))
    materialize_aggregate(
        spark, src, adst, ["month"], aggs, str(tmp_path / "ck2")
    )
    got = sorted(map(tuple, read_snapshot(spark, dst).collect()))
    want = sorted(map(tuple, xf(read_snapshot(spark, src)).collect()))
    assert got == want
    agot = sorted(
        map(
            tuple,
            read_aggregate_view(spark, adst, aggs)
            .select("month", "n", "sum_id")
            .collect(),
        )
    )
    awant = sorted(
        map(
            tuple,
            read_snapshot(spark, src)
            .groupBy("month")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("sum_id"))
            .collect(),
        )
    )
    assert agot == awant
    # a genuine delete still fails the refresh
    snapshot_delete(spark, src, {"id": [20]}, mode="rewrite")
    with pytest.raises(Exception, match="not a compaction"):
        materialize_incremental(spark, src, dst, xf, str(tmp_path / "ck1"))


@pytest.mark.slowproof
def test_materialize_aggregate_time_bucket_and_derived_avg(spark, tmp_path):
    """Time-bucketed group keys + read-side derived measures: an
    hourly sum/count view reads back with a derived avg EQUAL to
    groupBy(date_trunc('hour'))...agg(avg) over the source, and the
    stored hourly partials re-aggregate to a daily avg without
    touching the source."""
    from nyc_taxi_data_warehouse_spark.streaming.materialize import (
        materialize_aggregate,
        read_aggregate_view,
    )

    src = str(tmp_path / "tb_src")
    dst = str(tmp_path / "tb_dst")

    def mk(rows):
        return spark.createDataFrame(
            rows, "id long, amt double, ts timestamp"
        ).withColumn("ts", F.col("ts"))

    import datetime as dt

    def t(day, h, m):
        return dt.datetime(2024, 3, day, h, m)

    snapshot_write(
        mk(
            [
                (1, 10.0, t(1, 0, 5)),
                (2, 20.0, t(1, 0, 55)),
                (3, 7.0, t(1, 1, 10)),
                (4, 1.0, t(2, 3, 0)),
            ]
        ),
        src,
    )
    aggs = {"sum_amt": ("sum", "amt"), "cnt": ("count",)}
    keys = [("ev_hour", "hour", "ts")]
    materialize_aggregate(spark, src, dst, keys, aggs, str(tmp_path / "ck"))
    # second commit lands in an EXISTING hour and a new one
    snapshot_write(
        mk([(5, 2.0, t(1, 0, 30)), (6, 9.0, t(2, 5, 1))]), src, mode="append"
    )
    materialize_aggregate(spark, src, dst, keys, aggs, str(tmp_path / "ck"))

    view = read_aggregate_view(
        spark, dst, aggs, derived={"avg_amt": ("sum_amt", "cnt")}
    )
    got = sorted(
        (r["ev_hour"], r["cnt"], r["avg_amt"]) for r in view.collect()
    )
    want = sorted(
        (r["ev_hour"], r["cnt"], r["avg_amt"])
        for r in read_snapshot(spark, src)
        .groupBy(F.date_trunc("hour", "ts").alias("ev_hour"))
        .agg(
            F.count(F.lit(1)).alias("cnt"), F.avg("amt").alias("avg_amt")
        )
        .collect()
    )
    assert got == want
    # hourly partials roll up to DAILY without a source scan
    daily = (
        view.groupBy(F.date_trunc("day", "ev_hour").alias("ev_day"))
        .agg(F.sum("sum_amt").alias("s"), F.sum("cnt").alias("c"))
        .withColumn("avg_amt", F.col("s") / F.col("c"))
    )
    got_d = sorted((r["ev_day"], r["avg_amt"]) for r in daily.collect())
    want_d = sorted(
        (r["ev_day"], r["avg_amt"])
        for r in read_snapshot(spark, src)
        .groupBy(F.date_trunc("day", "ts").alias("ev_day"))
        .agg(F.avg("amt").alias("avg_amt"))
        .collect()
    )
    assert got_d == want_d


def test_stream_verify_survives_lost_superseded_files(spark, table, tmp_path):
    """A feed lagging behind a compaction must verify row-neutrality
    from the compact commit's RECORDED row totals, not by re-reading
    the removed files' footers: retention (vacuum of a dropped version,
    or any out-of-band policy) deletes exactly those superseded files,
    and the old footer-only gate then hard-failed a legitimate
    compaction with rebuild as the only recovery. (Vacuum that drops
    the feed's offset MANIFEST is a separate, already-loud planner
    error with restart guidance.)"""
    import os
    import shutil

    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, "x") for i in range(6)]),
        table,
        partition_cols=["month"],
    )
    v1_files = load_manifest(table, 1)["files"]
    got = _drain(spark, table, str(tmp_path / "vv"), "feed_vv1",
                 on_non_append="verify")
    assert got.count() == 6
    # the feed is now BEHIND: compact, append, then superseded data
    # files vanish (simulated external retention)
    snapshot_compact(spark, table, partition_cols=["month"])
    snapshot_write(_df(spark, [(50, 0, "y")]), table, mode="append",
                   partition_cols=["month"])
    for f in v1_files:
        os.remove(os.path.join(table, f))
    for d in {os.path.dirname(os.path.join(table, f)) for f in v1_files}:
        shutil.rmtree(d, ignore_errors=True)
    got2 = _drain(spark, table, str(tmp_path / "vv"), "feed_vv2",
                  on_non_append="verify")
    assert _bag(got2) == [(50, 0, "y")]  # compaction passed, zero rows


def _stamp_commit_times(table, times_ms):
    """Doctor committed_at_ms per version (test-only, deterministic)."""
    import json as _json
    import os

    for v, t in times_ms.items():
        mp = os.path.join(table, "_versions", f"{v:08d}.json")
        with open(mp) as f:
            man = _json.load(f)
        man["committed_at_ms"] = t
        with open(mp, "w") as f:
            _json.dump(man, f)
        crc = os.path.join(table, "_versions", f".{v:08d}.json.crc")
        if os.path.exists(crc):
            os.remove(crc)


def test_changes_and_feed_by_timestamp(spark, table, tmp_path, capsys):
    """'Changes since yesterday 09:00': snapshot_changes and the
    streaming feed accept timestamps, resolved to the version live at
    that moment (exclusive lower bound), on the API and the CLI."""
    from nyc_taxi_data_warehouse_spark.__main__ import main

    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    snapshot_write(_df(spark, [(2, 1, "b")]), table, mode="append")
    snapshot_write(_df(spark, [(3, 2, "c")]), table, mode="append")
    _stamp_commit_times(table, {1: 1000, 2: 2000, 3: 3000})

    # since t=1.5s: v1 was live -> changes are v2 and v3
    ch = snapshot_changes(spark, table, from_timestamp=1.5)
    assert _bag(ch) == [(2, 1, "b"), (3, 2, "c")]
    # bounded window (1.5s, 2.5s]: just v2
    ch2 = snapshot_changes(spark, table, from_timestamp=1.5,
                           to_timestamp=2.5)
    assert _bag(ch2) == [(2, 1, "b")]
    with pytest.raises(ValueError, match="exactly one"):
        snapshot_changes(spark, table)
    with pytest.raises(ValueError, match="exactly one"):
        snapshot_changes(spark, table, 1, from_timestamp=1.5)
    with pytest.raises(ValueError, match="mutually exclusive"):
        snapshot_changes(spark, table, from_timestamp=1.5, to_version=2,
                         to_timestamp=2.5)

    # streaming feed from a timestamp
    got = _drain(spark, table, str(tmp_path / "ts_ck"), "feed_ts",
                 starting_timestamp=1.5)
    assert _bag(got) == [(2, 1, "b"), (3, 2, "c")]
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_snapshot_stream(spark, table, starting_version=1,
                             starting_timestamp=1.5)

    # CLI surface
    import json as _json

    assert main(
        ["snapshot-changes", "--table-path", table,
         "--from-timestamp", "1.5", "--to-timestamp", "2.5"],
        spark=spark,
    ) == 0
    rows = [
        _json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert [(r["id"], r["_change_type"], r["_commit_version"])
            for r in rows] == [(2, "insert", 2)]


@pytest.mark.slowproof
def test_partition_scoped_feed(spark, table, tmp_path):
    """partitions= scopes the feed: only matching directories stream,
    and — the scale win — rewrites and DV churn confined to OTHER
    partitions pass even under onNonAppend=fail, so one consumer per
    tenant survives global table maintenance. In-scope DV churn still
    fails loudly, and scoped verify proves row-neutrality from the
    scoped files themselves (recorded totals are table-global)."""
    snapshot_write(
        _df(spark, [(i, i % 2, f"a{i}") for i in range(6)]),
        table, partition_cols=["month"],
    )
    ckpt = str(tmp_path / "scoped")
    got = _drain(
        spark, table, ckpt, "sc1", partitions={"month": 0},
    )
    assert _bag(got) == [(0, 0, "a0"), (2, 0, "a2"), (4, 0, "a4")]

    # out-of-scope append: zero rows, no error
    snapshot_write(
        _df(spark, [(101, 1, "b1")]), table, mode="append",
        partition_cols=["month"],
    )
    assert _drain(
        spark, table, ckpt, "sc2", partitions={"month": 0},
    ).count() == 0
    # out-of-scope REWRITE passes even in fail mode (the win): an
    # unscoped fail-mode feed refuses this same commit
    snapshot_replace_partitions(
        _df(spark, [(102, 1, "b2")]), table, partition_cols=["month"],
    )
    assert _drain(
        spark, table, ckpt, "sc3", partitions={"month": 0},
    ).count() == 0
    with pytest.raises(Exception, match="not an append"):
        _drain(spark, table, str(tmp_path / "unscoped"), "sc3u")
    # out-of-scope DV churn passes; in-scope DV churn fails loudly
    snapshot_delete(spark, table, {"id": [102]}, mode="dv")  # month=1
    assert _drain(
        spark, table, ckpt, "sc4", partitions={"month": 0},
    ).count() == 0
    snapshot_delete(spark, table, {"id": [4]}, mode="dv")  # month=0: in scope
    with pytest.raises(Exception, match="deletion vectors"):
        _drain(spark, table, ckpt, "sc5", partitions={"month": 0})
    # scoped verify: a full compact (folds both tombstones) is
    # row-neutral WITHIN the scope measured live-for-live. Start at
    # the current head — replaying the in-scope DV delete above would
    # (correctly) refuse under verify too.
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
    )

    head = list_versions(table)[-1]
    ck2 = str(tmp_path / "scoped_v")
    snapshot_compact(spark, table, partition_cols=["month"])
    assert _drain(
        spark, table, ck2, "sc7", partitions={"month": 0},
        on_non_append="verify", starting_version=head,
    ).count() == 0
    # in-scope appends still stream after all the churn
    snapshot_write(
        _df(spark, [(200, 0, "z")]), table, mode="append",
        partition_cols=["month"],
    )
    got2 = _drain(
        spark, table, ck2, "sc8", partitions={"month": 0},
        on_non_append="verify",
    )
    assert _bag(got2) == [(200, 0, "z")]


@pytest.mark.slowproof
def test_changes_partition_scoped_equals_filtered_feed(spark, table):
    """snapshot_changes(partitions=...) == the unscoped feed filtered
    on the partition column, as bags — across appends, a replace, a
    CoW delete and DV churn in BOTH partitions — while commits
    confined to other partitions contribute zero scan nodes."""
    snapshot_write(
        _df(spark, [(i, i % 2, f"a{i}") for i in range(8)]),
        table, partition_cols=["month"],
    )
    snapshot_write(
        _df(spark, [(100, 0, "x"), (101, 1, "y")]), table,
        mode="append", partition_cols=["month"],
    )
    snapshot_replace_partitions(
        _df(spark, [(200, 1, "z")]), table, partition_cols=["month"],
    )
    snapshot_delete(spark, table, {"id": [2]}, mode="rewrite")       # month=0 CoW
    snapshot_delete(spark, table, {"id": [101]}, mode="dv")  # gone w/ replace
    snapshot_delete(spark, table, {"id": [100]}, mode="dv")  # month=0 DV
    # equality plane: a zero-read upsert (masks a month=0 row, lands a
    # month=1 image), a key delete, and the fold into position DVs —
    # the scoped feed must bridge key-masked visibility identically
    from nyc_taxi_data_warehouse_spark.warehouse.eqdeletes import (
        snapshot_append_upsert,
        snapshot_delete_keys,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_resolve_eq,
    )

    snapshot_append_upsert(
        spark, table, _df(spark, [(4, 1, "UP4"), (300, 0, "UP300")]),
        ["id"],
    )
    snapshot_delete_keys(
        spark, table, spark.createDataFrame([(6,)], "id long")
    )
    snapshot_resolve_eq(spark, table)

    def bag(df):
        return sorted(
            (r.id, r.month, r.v, r._change_type, r._commit_version)
            for r in df.collect()
        )

    full = snapshot_changes(spark, table, from_version=0)
    scoped = snapshot_changes(
        spark, table, from_version=0, partitions={"month": 0}
    )
    assert bag(scoped) == bag(full.where("month = 0"))
    # and both replay to the right final state
    final0 = sorted(
        (r.id, r.v)
        for r in read_snapshot(spark, table).where("month = 0").collect()
    )
    replay: list = []
    for t in sorted(
        scoped.collect(), key=lambda r: (r._commit_version, r._change_type)
    ):
        if t._change_type == "delete":
            replay.remove((t.id, t.v))
        else:
            replay.append((t.id, t.v))
    assert sorted(replay) == final0
    with pytest.raises(ValueError, match="non-partition column"):
        snapshot_changes(
            spark, table, from_version=0, partitions={"mnth": 0}
        )
