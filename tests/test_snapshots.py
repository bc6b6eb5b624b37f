"""Snapshot-versioned tables (warehouse/snapshots.py): time travel,
append/overwrite/replace-partitions semantics, reader isolation from
later commits, conflict detection, vacuum reclamation, empty tables."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import load_manifest
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    SnapshotConflict,
    read_snapshot,
    snapshot_replace_partitions,
    snapshot_versions,
    snapshot_write,
    vacuum_snapshots,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, month int, v string")


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "snap_table")


@pytest.mark.parametrize(
    "ptype, rows, new",
    [
        ("boolean", [(1, True), (2, False)], (10, True)),
        ("double", [(1, 1e16), (2, 2.5)], (10, 1e16)),
    ],
    ids=["boolean", "large_double"],
)
def test_replace_partitions_replaces_non_string_partitions(
    spark, table, ptype, rows, new
):
    """The replaced partition is the one Spark wrote (``p=true``,
    ``p=1.0E16``), however Python would render the value."""
    ddl = f"id int, p {ptype}"
    snapshot_write(spark.createDataFrame(rows, ddl), table, partition_cols=["p"])
    snapshot_replace_partitions(spark.createDataFrame([new], ddl), table, ["p"])
    got = sorted(tuple(r) for r in read_snapshot(spark, table).collect())
    assert got == sorted([rows[1], new])


def test_per_commit_read_keeps_string_partition_values(
    spark, table, monkeypatch
):
    """A STRING partition value that looks numeric reads back as
    written, also when the reading process never saw the write."""
    from nyc_taxi_data_warehouse_spark.warehouse import snapshots

    snapshot_write(
        spark.createDataFrame([(1, "01"), (2, "1e3")], "id int, p string"),
        table,
        partition_cols=["p"],
    )
    want = [(1, "01"), (2, "1e3")]
    assert sorted(tuple(r) for r in read_snapshot(spark, table).collect()) == want
    monkeypatch.setattr(snapshots, "_SCHEMA_MEMO", {})
    monkeypatch.setattr(snapshots, "_DIR_SCHEMAS", {})
    assert sorted(tuple(r) for r in read_snapshot(spark, table).collect()) == want


def test_overwrite_append_and_time_travel(spark, table):
    v1 = snapshot_write(_df(spark, [(1, 1, "a"), (2, 2, "b")]), table)
    v2 = snapshot_write(_df(spark, [(3, 3, "c")]), table, mode="append")
    v3 = snapshot_write(_df(spark, [(9, 9, "z")]), table)  # overwrite
    assert (v1, v2, v3) == (1, 2, 3)
    assert read_snapshot(spark, table).count() == 1  # latest == v3
    assert sorted(
        r.id for r in read_snapshot(spark, table, version=2).collect()
    ) == [1, 2, 3]
    assert sorted(
        r.id for r in read_snapshot(spark, table, version=1).collect()
    ) == [1, 2]
    hist = snapshot_versions(spark, table)
    assert [h["op"] for h in hist] == ["overwrite", "append", "overwrite"]
    assert [h["parent"] for h in hist] == [None, 1, 2]


def test_replace_partitions_only_touches_its_partitions(spark, table):
    base = _df(spark, [(1, 1, "a"), (2, 2, "b"), (3, 3, "c")])
    snapshot_write(base, table, partition_cols=["month"])
    upd = _df(spark, [(20, 2, "B2"), (21, 2, "B3")])
    v2 = snapshot_replace_partitions(upd, table, ["month"])
    got = {
        (r.id, r.month, r.v)
        for r in read_snapshot(spark, table, version=v2).collect()
    }
    assert got == {(1, 1, "a"), (20, 2, "B2"), (21, 2, "B3"), (3, 3, "c")}
    # untouched months' files carried over BY REFERENCE (no rewrite):
    man = snapshot_versions(spark, table)
    assert man[-1]["op"] == "replace_partitions"
    v1_rows = {
        (r.id, r.v) for r in read_snapshot(spark, table, version=1).collect()
    }
    assert v1_rows == {(1, "a"), (2, "b"), (3, "c")}


def test_reader_isolated_from_later_commit(spark, table):
    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    pinned = read_snapshot(spark, table)  # plan built against v1
    snapshot_write(_df(spark, [(2, 2, "b")]), table)  # overwrite commits v2
    # the already-planned reader still scans v1's (immutable) files
    assert [r.id for r in pinned.collect()] == [1]
    assert [r.id for r in read_snapshot(spark, table).collect()] == [2]


@pytest.mark.parametrize("commit_mode", ["create", "builder"])
def test_conflict_detected_not_silent(spark, table, commit_mode, monkeypatch):
    """Two writers race for the same version number: the second commit
    (same parent) must fail loudly, never overwrite the manifest — on
    the HDFS/local exclusive-create path AND the object-store
    conditional-create (createFile builder) path."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import _commit

    monkeypatch.setenv("SPARK_GRAFT_SNAPSHOT_COMMIT", commit_mode)
    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    df = _df(spark, [(2, 2, "b")])
    # writer A publishes version 2 after writer B listed versions
    os.makedirs(f"{table}/_versions", exist_ok=True)
    with open(f"{table}/_versions/00000002.json", "w") as f:
        f.write('{"files": [], "op": "overwrite", "parent": 1}')
    with pytest.raises(SnapshotConflict):
        _commit(spark, table, [], df.schema, "overwrite", parent=1)
    # writer A's manifest untouched by the failed claim
    with open(f"{table}/_versions/00000002.json") as f:
        assert '"op": "overwrite"' in f.read()


def test_exclusive_create_has_one_winner_under_a_race(spark, tmp_path):
    """Eight writers racing to claim one name on the local filesystem:
    exactly one wins, and the file holds the winner's body."""
    _assert_one_winner_per_race(spark, str(tmp_path))


def test_builder_mode_claim_has_one_winner_under_a_race(
    spark, tmp_path, monkeypatch
):
    """The builder claim mode races the same way on ``file:``: Hadoop's
    local createFile builder checks and then opens, so the claim goes
    through the same O_EXCL create as create mode."""
    monkeypatch.setenv("SPARK_GRAFT_SNAPSHOT_COMMIT", "builder")
    _assert_one_winner_per_race(spark, str(tmp_path))


def _assert_one_winner_per_race(spark, root):
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from nyc_taxi_data_warehouse_spark.warehouse import snapshots as S

    fs, jvm = S._fs(spark, root)
    for trial in range(20):
        jp = S._jp(jvm, root, f"{trial:08d}.json")
        start = threading.Barrier(8)

        def claim(i):
            start.wait(timeout=60)
            return S._write_bytes_exclusive(fs, jp, f"w{i}".encode())

        with ThreadPoolExecutor(max_workers=8) as ex:
            won = [i for i, ok in enumerate(ex.map(claim, range(8))) if ok]
        assert len(won) == 1, (trial, won)
        with open(os.path.join(root, f"{trial:08d}.json")) as f:
            assert f.read() == f"w{won[0]}"


def test_builder_commit_mode_full_lifecycle(spark, table, monkeypatch):
    """With the object-store commit path forced, the ordinary
    write/append/read lifecycle still works end to end (the builder
    contract is a drop-in for exclusive create, conflicts surfacing at
    build() or close() both mapping to SnapshotConflict)."""
    monkeypatch.setenv("SPARK_GRAFT_SNAPSHOT_COMMIT", "builder")
    v1 = snapshot_write(_df(spark, [(1, 1, "a"), (2, 2, "b")]), table)
    v2 = snapshot_write(_df(spark, [(3, 3, "c")]), table, mode="append")
    assert (v1, v2) == (1, 2)
    assert read_snapshot(spark, table).count() == 3
    assert sorted(
        r.id for r in read_snapshot(spark, table, version=1).collect()
    ) == [1, 2]

    monkeypatch.setenv("SPARK_GRAFT_SNAPSHOT_COMMIT", "bogus")
    with pytest.raises(ValueError, match="create|builder"):
        snapshot_write(_df(spark, [(9, 9, "z")]), table)


def test_vacuum_reclaims_only_unreferenced(spark, table):
    snapshot_write(_df(spark, [(1, 1, "a"), (2, 2, "b")]), table,
                   partition_cols=["month"])
    snapshot_replace_partitions(_df(spark, [(9, 2, "B")]), table, ["month"])
    snapshot_write(_df(spark, [(7, 7, "x")]), table)
    res = vacuum_snapshots(spark, table, keep_last=2)
    assert res["versions_dropped"] == 1
    assert res["files_deleted"] >= 1  # v1's month=2 file is unreferenced
    # kept versions fully readable (v2 still references v1's month=1 file)
    assert {r.id for r in read_snapshot(spark, table, version=2).collect()} == {1, 9}
    assert {r.id for r in read_snapshot(spark, table, version=3).collect()} == {7}
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, version=1)


def test_vacuum_age_floor_composes_with_keep_last(spark, table):
    """vacuum_snapshots(older_than=...) drops only versions COMMITTED
    before the floor, intersected with the keep_last prefix — a burst
    of recent commits never ages out, a quiet table never drops below
    keep_last, and the declared retention.max_age_hours property
    drives the same gate through snapshot_maintain."""
    import time

    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_set_properties,
    )

    for i in range(4):
        snapshot_write(
            _df(spark, [(i, 1, f"v{i}")]), table,
            mode="append" if i else "overwrite",
        )
    # age floor in the future + huge keep_last: nothing old enough is
    # outside the keep window... keep_last=1 with a floor BEFORE all
    # commits: nothing drops (age floor protects everything)
    res = vacuum_snapshots(
        spark, table, keep_last=1, older_than=time.time() - 3600
    )
    assert res["versions_dropped"] == 0
    assert len(snapshot_versions(spark, table)) == 4
    # floor after all commits: keep_last alone decides. The string is
    # BASIC-format ISO (year 2999) and must parse as a DATE — a
    # digit-sniffing heuristic would read it as epoch seconds (1970),
    # silently protect everything, and this drop would not happen.
    res = vacuum_snapshots(spark, table, keep_last=3, older_than="29990101")
    assert res["versions_dropped"] == 1
    assert [h["version"] for h in snapshot_versions(spark, table)] == [
        2, 3, 4,
    ]
    # declared age policy: maintain runs vacuum from it (a generous
    # age keeps everything; the step still RUNS — not "skipped")
    snapshot_set_properties(
        spark, table, {"retention.max_age_hours": "9999"}
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_maintain,
    )

    rep = snapshot_maintain(spark, table)
    assert rep["vacuum"] != "skipped"
    assert rep["vacuum"]["versions_dropped"] == 0
    assert len(snapshot_versions(spark, table)) > 1
    # ... and an aggressive age drops down to keep_last's floor (the
    # property default keep_last=2 still protects the newest two)
    snapshot_set_properties(
        spark, table, {"retention.max_age_hours": "0"}
    )
    rep = snapshot_maintain(spark, table)
    assert [h["version"] for h in snapshot_versions(spark, table)] == [
        # the two property commits are the newest two versions
        5, 6,
    ]


def test_empty_table_round_trips_schema(spark, table):
    empty = _df(spark, []).where(F.lit(False))
    v = snapshot_write(empty, table)
    got = read_snapshot(spark, table, version=v)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "month", "v"]


def test_read_missing_versions_raise(spark, table):
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table)
    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, version=42)


def test_abandoned_data_files_never_corrupt_reads(spark, table):
    """A writer that dies after writing data but before committing its
    manifest leaves an orphan commit dir; readers never see it."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        _write_commit_files,
    )

    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    _write_commit_files(_df(spark, [(99, 9, "ghost")]), table, None)
    assert [r.id for r in read_snapshot(spark, table).collect()] == [1]
    # and the next successful commit is unaffected
    snapshot_write(_df(spark, [(2, 2, "b")]), table, mode="append")
    assert sorted(r.id for r in read_snapshot(spark, table).collect()) == [1, 2]


def test_schema_evolution_old_commits_surface_null(spark, table):
    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    widened = spark.createDataFrame(
        [(2, 2, "b", 0.5)], "id long, month int, v string, score double"
    )
    v2 = snapshot_write(widened, table, mode="append")
    got = {r.id: r for r in read_snapshot(spark, table, version=v2).collect()}
    assert [f.name for f in read_snapshot(spark, table).schema.fields] == [
        "id", "month", "v", "score",
    ]
    assert got[1].score is None and got[2].score == 0.5
    # time travel to v1 keeps the ORIGINAL 3-column schema
    assert [
        f.name for f in read_snapshot(spark, table, version=1).schema.fields
    ] == ["id", "month", "v"]


def test_stream_snapshot_append_exactly_once(spark, tmp_path, table):
    """File-source stream lands each micro-batch as one version; a
    restart from the same checkpoint adds nothing; a restart from a
    FRESH checkpoint (at-least-once redelivery) is deduplicated by the
    (stream_id, epoch) manifest record."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        stream_snapshot_append,
    )

    src = tmp_path / "src"
    src.mkdir()
    d1 = _df(spark, [(1, 1, "a"), (2, 2, "b")])
    d1.write.mode("overwrite").parquet(str(src / "f1"))

    def run(ckpt):
        stream = (
            spark.readStream.schema(d1.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        stream_snapshot_append(
            spark, stream, table, str(tmp_path / ckpt), "ingest-a",
            partition_cols=["month"],
        )

    run("ckpt")
    assert {r.id for r in read_snapshot(spark, table).collect()} == {1, 2}
    n_versions = len(snapshot_versions(spark, table))

    run("ckpt")  # same checkpoint: no new epochs
    assert len(snapshot_versions(spark, table)) == n_versions

    run("ckpt2")  # fresh checkpoint REPLAYS epochs: manifests dedup them
    assert len(snapshot_versions(spark, table)) == n_versions
    assert {r.id for r in read_snapshot(spark, table).collect()} == {1, 2}

    # new file, original checkpoint: exactly the delta lands
    _df(spark, [(3, 3, "c")]).write.mode("overwrite").parquet(str(src / "f2"))
    run("ckpt")
    assert {r.id for r in read_snapshot(spark, table).collect()} == {1, 2, 3}
    hist = snapshot_versions(spark, table)
    assert all(h["op"] == "stream_append" for h in hist)


@pytest.mark.slowproof
def test_table_properties_and_check_constraints(spark, table):
    """Table properties carry commit-to-commit in the manifest state;
    CHECK constraints ride them and are enforced at the _commit choke
    point against each commit's ADDED files (O(change)) — appends, DV
    update images, and restores all refuse violating data before a
    version exists, with SQL CHECK null semantics (NULL passes)."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_add_constraint,
        snapshot_delete,
        snapshot_drop_column,
        snapshot_drop_constraint,
        snapshot_properties,
        snapshot_restore,
        snapshot_set_properties,
        snapshot_update,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, f"a{i}") for i in range(6)]),
        table, partition_cols=["month"],
    )
    # plain properties: metadata-only commit, carried through later DML
    v = snapshot_set_properties(spark, table, {"owner": "etl"})
    assert snapshot_properties(spark, table) == {"owner": "etl"}
    assert snapshot_versions(spark, table)[-1]["op"] == "set_properties"
    with pytest.raises(ValueError, match="cannot unset absent"):
        snapshot_set_properties(spark, table, unset=["nope"])
    with pytest.raises(ValueError, match="snapshot_add_constraint"):
        snapshot_set_properties(spark, table, {"constraint.x": "id > 0"})

    # adding a constraint the existing data violates refuses
    with pytest.raises(ValueError, match="existing data violates"):
        snapshot_add_constraint(spark, table, "small", "id < 3")
    assert snapshot_versions(spark, table)[-1]["version"] == v
    snapshot_add_constraint(spark, table, "nonneg", "id >= 0")
    assert snapshot_properties(spark, table)["constraint.nonneg"] \
        == "id >= 0"
    with pytest.raises(ValueError, match="already exists"):
        snapshot_add_constraint(spark, table, "nonneg", "id >= 1")

    # appends: good data passes, violating data refuses with NO version
    snapshot_write(
        _df(spark, [(100, 0, "ok")]), table, mode="append",
        partition_cols=["month"],
    )
    head = snapshot_versions(spark, table)[-1]["version"]
    with pytest.raises(ValueError, match="CHECK constraint 'nonneg'"):
        snapshot_write(
            _df(spark, [(-1, 0, "bad")]), table, mode="append",
            partition_cols=["month"],
        )
    assert snapshot_versions(spark, table)[-1]["version"] == head
    # SQL CHECK semantics: NULL passes
    null_id = spark.createDataFrame(
        [(None, 0, "n")], "id long, month int, v string"
    )
    snapshot_write(null_id, table, mode="append", partition_cols=["month"])

    # merge-on-read UPDATE goes through the same gate (patched images
    # are the commit's added files)
    snapshot_add_constraint(spark, table, "vocab", "v != 'BAD'")
    with pytest.raises(ValueError, match="CHECK constraint 'vocab'"):
        snapshot_update(spark, table, {"id": [100]}, {"v": "BAD"}, mode="dv")
    snapshot_update(spark, table, {"id": [100]}, {"v": "GOOD"}, mode="dv")

    # a restore that would resurrect now-violating rows refuses: the
    # re-added files are validated against the CURRENT constraints
    pre = snapshot_versions(spark, table)[-1]["version"]
    snapshot_delete(spark, table, {"id": [5]}, mode="rewrite")  # CoW: files change
    snapshot_add_constraint(spark, table, "cap", "id <= 4 or id = 100")
    with pytest.raises(ValueError, match="CHECK constraint 'cap'"):
        snapshot_restore(spark, table, pre)
    snapshot_drop_constraint(spark, table, "cap")
    snapshot_restore(spark, table, pre)  # now fine

    # the DV flavor of the same hazard: a merge-on-read delete leaves
    # the FILE in place (only tombstones mask the row), so a restore
    # past it changes no files — resurrection rides a dv-set change
    # and must be caught by the tombstone-removal re-check
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
    )

    pre_dv = snapshot_versions(spark, table)[-1]["version"]
    snapshot_delete(spark, table, {"id": [4]}, mode="dv")
    snapshot_add_constraint(spark, table, "cap4", "id != 4")
    with pytest.raises(ValueError, match="CHECK constraint 'cap4'"):
        snapshot_restore(spark, table, pre_dv)  # would resurrect id=4
    # but a restore whose resurrected rows PASS the check still works
    snapshot_drop_constraint(spark, table, "cap4")
    snapshot_add_constraint(spark, table, "cap5", "id <= 100")
    snapshot_restore(spark, table, pre_dv)
    assert 4 in {r.id for r in read_snapshot(spark, table).collect()}
    snapshot_drop_constraint(spark, table, "cap5")

    # dropping a column a constraint references refuses up front
    with pytest.raises(ValueError, match="constraint 'vocab'"):
        snapshot_drop_column(spark, table, "v")
    snapshot_drop_constraint(spark, table, "vocab")
    snapshot_drop_column(spark, table, "v")
    # 'nonneg' survives the schema DDL and still enforces
    with pytest.raises(ValueError, match="CHECK constraint 'nonneg'"):
        snapshot_write(
            spark.createDataFrame([(-2, 0)], "id long, month int"),
            table, mode="append", partition_cols=["month"],
        )


def test_properties_follow_branches_and_cli(spark, table, capsys):
    """Branch forks carry the base's properties, publish carries the
    branch head's back (whole-state semantics, like DVs); the CLI
    surfaces show/set/constraint ops."""
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main
    from nyc_taxi_data_warehouse_spark.warehouse.branching import (
        create_branch,
        drop_branch,
        publish_branch,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_properties,
        snapshot_set_properties,
    )

    snapshot_write(
        _df(spark, [(1, 0, "a"), (2, 1, "b")]), table,
        partition_cols=["month"],
    )
    snapshot_set_properties(spark, table, {"owner": "etl"})
    ref = create_branch(spark, table, "dev")
    assert snapshot_properties(spark, ref) == {"owner": "etl"}
    snapshot_set_properties(spark, ref, {"owner": "science"})
    assert snapshot_properties(spark, table) == {"owner": "etl"}
    publish_branch(spark, table, "dev")
    assert snapshot_properties(spark, table) == {"owner": "science"}
    drop_branch(spark, table, "dev")

    cli = lambda *a: main(list(a), spark=spark)  # noqa: E731
    assert cli(
        "snapshot-props", "--table-path", table,
        "--set", "retention.days=30", "--unset", "owner",
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["properties"] == {"retention.days": "30"}
    assert cli(
        "snapshot-props", "--table-path", table,
        "--add-constraint", "nonneg", "id >= 0",
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["properties"]["constraint.nonneg"] == "id >= 0"
    assert cli("snapshot-props", "--table-path", table) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["properties"]) == {"retention.days", "constraint.nonneg"}

    # declared retention: vacuum's default keep_last comes from the
    # table's own property (an explicit argument still wins)
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
    )

    snapshot_set_properties(spark, table, {"retention.keep_last": "1"})
    assert len(list_versions(table)) > 1
    out = vacuum_snapshots(spark, table)  # no keep_last passed
    assert out["versions_dropped"] > 0
    assert len(list_versions(table)) == 1
    with pytest.raises(ValueError, match="not an\n?.*int|not an int"):
        snapshot_set_properties(
            spark, table, {"retention.keep_last": "soon"}
        )
        vacuum_snapshots(spark, table)


@pytest.mark.slowproof
def test_partition_pruned_reads_from_manifest(spark, table):
    """read_snapshot(partitions=...) plans a one-partition read from
    the manifest alone: df.inputFiles() is exactly that partition's
    files — including on the FLAT read path (long stable-schema
    history), where partition values ride a lookup join and a plain
    WHERE cannot skip files. DV masks still apply inside the pruned
    subset; snapshot_agg(partitions=...) COUNT(*) stays metadata-only."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_agg,
        snapshot_delete,
    )

    # 10 commits >> _FLAT_READ_THRESHOLD so the flat path engages
    for i in range(10):
        snapshot_write(
            _df(spark, [(2 * i, 0, f"a{i}"), (2 * i + 1, 1, f"b{i}")]),
            table, mode="append", partition_cols=["month"],
        )
    snapshot_delete(spark, table, {"id": [4]}, mode="dv")  # month=0 victim
    pruned = read_snapshot(spark, table, partitions={"month": 0})
    # file plan ∝ the partition, not the table (the one extra input is
    # the DV sidecar the anti-join merges)
    data_inputs = [f for f in pruned.inputFiles() if "/month=" in f]
    assert len(data_inputs) == 10, pruned.inputFiles()
    assert all("/month=0/" in f for f in data_inputs)
    got = {(r.id, r.month) for r in pruned.collect()}
    assert got == {(2 * i, 0) for i in range(10)} - {(4, 0)}
    # list values + the scoped metadata count
    both = read_snapshot(spark, table, partitions={"month": [0, 1]})
    assert both.count() == 19
    assert snapshot_agg(
        spark, table, [("count", "*")], partitions={"month": 0}
    )[0][0] == 9
    assert snapshot_agg(
        spark, table, [("count", "*")], partitions={"month": 1}
    )[0][0] == 10
    # unknown partition column refuses (a typo must never read as
    # "empty partition")
    with pytest.raises(ValueError, match="non-partition column"):
        read_snapshot(spark, table, partitions={"mnth": 0})
    # stats pruning composes with partition pruning
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        Range,
    )

    rp = read_snapshot(
        spark, table, partitions={"month": 0}, where={"id": Range(0, 5)},
    )
    rp_inputs = [f for f in rp.inputFiles() if "/month=" in f]
    assert rp_inputs and all("/month=0/" in f for f in rp_inputs)
    assert {r.id for r in rp.collect()} == {0, 2}  # 4 is DV-deleted
    # null partition directory selectable with None
    null_rows = spark.createDataFrame(
        [(999, None, "n")], "id long, month int, v string"
    )
    snapshot_write(null_rows, table, mode="append", partition_cols=["month"])
    nul = read_snapshot(spark, table, partitions={"month": None})
    assert [(r.id, r.month) for r in nul.collect()] == [(999, None)]
    assert snapshot_agg(
        spark, table, [("count", "*")], partitions={"month": None}
    )[0][0] == 1


def _data_files(table):
    import pathlib

    return {
        str(p)
        for p in pathlib.Path(table, "data").rglob("*")
        if p.is_file()
    }


@pytest.mark.slowproof
def test_drop_partitions_metadata_only(spark, table):
    """snapshot_drop_partitions is a pure manifest edit: DELETE of a
    whole partition moves ZERO data bytes (the data/ tree is untouched
    by the commit), rows_deleted is exact from recorded counts minus
    the live tombstones already masking dropped files, DV bookkeeping
    shrinks (targets intersect carried; an all-inert sidecar set drops
    entirely), stats entries for dropped files fall away, time travel
    still serves the partition, and the change feed emits exactly the
    live dropped rows as deletes."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_agg,
        snapshot_changes,
        snapshot_delete,
        snapshot_drop_partitions,
        snapshot_write,
    )

    for i in range(3):  # months 0..2, one MIXED 4-row file each
        # (coalesce: single-valued victim files would full-drop at the
        # DV delete below instead of getting the tombstones this test
        # plants in both a dropped and a surviving partition)
        snapshot_write(
            _df(
                spark,
                [(4 * i + j, i, f"m{i}r{j}") for j in range(4)],
            ).coalesce(1),
            table, mode="append", partition_cols=["month"], stats_cols=["id"],
        )
    # tombstones in BOTH a dropped and a surviving partition
    snapshot_delete(spark, table, {"id": [1, 5]}, mode="dv")  # month 0, 1
    pre_files = _data_files(table)
    pre_version = snapshot_versions(spark, table)[-1]["version"]

    v, n = snapshot_drop_partitions(spark, table, {"month": 0})
    assert v == pre_version + 1
    assert n == 3  # 4 physical rows, 1 already tombstoned
    # ZERO data bytes moved: no new file under data/, none deleted
    assert _data_files(table) == pre_files
    # table state: month 0 gone, earlier DV delete still applied
    got = {(r.id, r.month) for r in read_snapshot(spark, table).collect()}
    assert got == {(4, 1), (6, 1), (7, 1), (8, 2), (9, 2), (10, 2), (11, 2)}
    # metadata-only count agrees post-drop
    assert snapshot_agg(spark, table, [("count", "*")])[0][0] == 7
    # manifest bookkeeping: carried files only, stats pruned, dv
    # targets shrunk to the surviving partition's file
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    man = load_manifest(table, v)
    assert man["op"] == "drop_partitions"
    assert all("month=0" not in f for f in man["files"])
    assert all("month=0" not in f for f in (man.get("stats") or {}))
    assert man["dv_files"]  # month-1 tombstone still live
    assert all("month=0" not in f for f in man["dv_targets"])
    assert man["rows_deleted"] == 3 and man["files_removed"] >= 1
    # time travel: the dropped partition is still served below v
    old = read_snapshot(spark, table, version=pre_version, partitions={"month": 0})
    assert {r.id for r in old.collect()} == {0, 2, 3}
    # change feed: exactly the LIVE dropped rows, as deletes
    ch = snapshot_changes(spark, table, from_version=pre_version).collect()
    assert {(r.id, r._change_type, r._commit_version) for r in ch} == {
        (0, "delete", v), (2, "delete", v), (3, "delete", v)
    }
    # dropping the partition holding the LAST live tombstone folds the
    # sidecar set away entirely — clean scans come back
    v2, n2 = snapshot_drop_partitions(spark, table, {"month": 1})
    man2 = load_manifest(table, v2)
    assert n2 == 3
    assert not man2.get("dv_files") and not man2.get("dv_targets")
    # no-match is a no-op (no new version); typo'd column refuses
    assert snapshot_drop_partitions(spark, table, {"month": 77}) == (v2, 0)
    assert snapshot_versions(spark, table)[-1]["version"] == v2
    with pytest.raises(ValueError, match="non-partition column"):
        snapshot_drop_partitions(spark, table, {"mnth": 0})


def test_snapshot_delete_auto_dispatches_partition_drop(spark, table):
    """The DML front door recognises a partition-column predicate in
    mode=auto and takes the metadata-only path — no data read, no
    rewrite, no tombstones — while explicit modes keep their physical
    strategy."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    for i in range(2):
        snapshot_write(
            _df(spark, [(2 * i, i, "x"), (2 * i + 1, i, "y")]),
            table, mode="append", partition_cols=["month"],
        )
    pre_files = _data_files(table)
    v, n = snapshot_delete(spark, table, {"month": [0]}, mode="auto")
    assert n == 2
    assert _data_files(table) == pre_files
    man = load_manifest(table, v)
    assert man["op"] == "drop_partitions"
    assert {r.id for r in read_snapshot(spark, table).collect()} == {2, 3}
    # explicit rewrite mode still honors the requested strategy
    v2, n2 = snapshot_delete(spark, table, {"month": [1]}, mode="rewrite")
    assert n2 == 2
    assert load_manifest(table, v2)["op"] == "delete_rows"
    assert read_snapshot(spark, table).count() == 0


def test_snapshot_delete_auto_null_and_type_form_semantics(spark, table):
    """The partition-drop dispatch must preserve SQL DELETE semantics
    exactly: NULL IN never matches (a None value deletes nothing, even
    though the raw drop API would select the null partition), and a
    value whose string form differs from the directory form (5.0 vs
    dir 'month=5') falls through to the Spark-typed data path instead
    of silently no-opping."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    rows = spark.createDataFrame(
        [(1, 0, "a"), (2, 1, "b"), (3, None, "nullpart")],
        "id long, month int, v string",
    )
    snapshot_write(rows, table, mode="append", partition_cols=["month"])
    # NULL value: deletes nothing anywhere, null-partition row survives
    v, n = snapshot_delete(spark, table, {"month": [None]}, mode="auto")
    assert n == 0
    assert read_snapshot(spark, table).count() == 3
    # float form against int month: data path, row actually deleted
    v2, n2 = snapshot_delete(spark, table, {"month": [1.0]}, mode="auto")
    assert n2 == 1
    assert load_manifest(table, v2)["op"] != "drop_partitions"
    got = {(r.id, r.month) for r in read_snapshot(spark, table).collect()}
    assert got == {(1, 0), (3, None)}
    # mixed None + int: the int partition drops, None selects nothing
    v3, n3 = snapshot_delete(spark, table, {"month": [None, 0]}, mode="auto")
    assert n3 == 1
    assert load_manifest(table, v3)["op"] == "drop_partitions"
    assert [(r.id, r.month) for r in read_snapshot(spark, table).collect()] \
        == [(3, None)]


def test_snapshot_delete_where_conjunctive(spark, table, capsys):
    """Composite-key DELETE: predicates across several columns AND
    together — per-column stats exclusion intersects, whole-file
    proofs must hold for every column to drop a file by reference,
    all-partition-column predicates go metadata-only, a None value
    anywhere makes the conjunction match nothing, and both physical
    strategies agree with the oracle row set."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    rows = [
        (1, 0, "a"), (1, 0, "b"), (1, 1, "c"), (2, 0, "d"), (2, 1, "e"),
    ]
    snapshot_write(
        spark.createDataFrame(rows, "id long, month int, v string"),
        table, partition_cols=["month"], stats_cols=["id", "v"],
    )
    # conjunction: id=1 AND v IN (a, c) → exactly rows a (month 0)
    # and c (month 1); d/e (id=2) and b (v=b) survive
    v, n = snapshot_delete(spark, table, {"id": [1], "v": ["a", "c"]})
    assert n == 2
    got = {(r.id, r.month, r.v) for r in read_snapshot(spark, table).collect()}
    assert got == {(1, 0, "b"), (2, 0, "d"), (2, 1, "e")}
    # a None value in any column: the whole conjunction matches nothing
    v2, n2 = snapshot_delete(spark, table, {"id": [2], "v": [None]})
    assert n2 == 0 and read_snapshot(spark, table).count() == 3
    # all-partition-column predicate → metadata-only drop
    v3, n3 = snapshot_delete(spark, table, {"month": [1]})
    assert n3 == 1
    assert load_manifest(table, v3)["op"] == "drop_partitions"
    # DV mode agrees with the same predicate shape
    v4, n4 = snapshot_delete(spark, table, {"id": [2], "v": ["d"]}, mode="dv")
    assert n4 == 1
    assert [(r.id, r.v) for r in read_snapshot(spark, table).collect()] \
        == [(1, "b")]
    # CLI --where
    from nyc_taxi_data_warehouse_spark.__main__ import main

    main(
        [
            "snapshot-delete", "--table-path", table,
            "--where", '{"id": [1], "v": ["b"]}',
        ],
        spark=spark,
    )
    import json as _json

    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_deleted"] == 1
    assert read_snapshot(spark, table).count() == 0


def test_delete_where_scalar_values_and_partition_pruning(spark, table):
    """A scalar predicate value means ONE value — a bare string must
    never explode into its characters (silently wrong DELETE); and a
    mixed partition+data conjunction excludes other partitions from
    the directory values, so files there are neither read nor
    rewritten even when the data column's stats admit the key."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    # same id range in both months: without partition pruning the
    # month=0 file is a stats victim for id and gets rewritten
    for m in (0, 1):
        snapshot_write(
            spark.createDataFrame(
                [(7, m, "a"), (8, m, "b")], "id long, month int, v string"
            ).coalesce(1),
            table, mode="append", partition_cols=["month"], stats_cols=["id"],
        )
    man0_files = set(
        load_manifest(table, 2)["files"]
    )
    month0 = {f for f in man0_files if "month=0" in f}
    # scalars, not lists — and month=1 only
    v, n = snapshot_delete(spark, table, {"month": 1, "id": 7}, mode="rewrite")
    assert n == 1
    man = load_manifest(table, v)
    # month=0's file carried untouched; only month=1 was rewritten
    assert month0 < set(man["files"])
    assert {(r.id, r.month) for r in read_snapshot(spark, table).collect()} \
        == {(7, 0), (8, 0), (8, 1)}
    # scalar string predicate: one value, not four characters
    v2, n2 = snapshot_delete(spark, table, {"v": "b"})
    assert n2 == 2
    assert [(r.id, r.v) for r in read_snapshot(spark, table).collect()] \
        == [(7, "a")]


def test_snapshot_update_where_conjunctive(spark, table, capsys):
    """Composite-key UPDATE through the same predicate engine: both
    physical strategies patch exactly the conjunction's rows,
    partition-column predicates prune the victim files, and the CLI
    --where path honors --mode dv."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_update,
        snapshot_write,
    )

    for m in (0, 1):
        snapshot_write(
            spark.createDataFrame(
                [(7, m, "a"), (8, m, "b")], "id long, month int, v string"
            ).coalesce(1),
            table, mode="append", partition_cols=["month"], stats_cols=["id"],
        )
    v, n = snapshot_update(
        spark, table, {"month": 1, "id": 7}, {"v": "X"}, mode="rewrite",
    )
    assert n == 1
    got = {(r.id, r.month, r.v) for r in read_snapshot(spark, table).collect()}
    assert got == {(7, 0, "a"), (8, 0, "b"), (7, 1, "X"), (8, 1, "b")}
    # DV mode: tombstone + patched image, same predicate shape
    v2, n2 = snapshot_update(
        spark, table, {"month": [0], "v": ["b"]}, {"v": None}, mode="dv",
    )
    assert n2 == 1
    got = {(r.id, r.month, r.v) for r in read_snapshot(spark, table).collect()}
    assert got == {(7, 0, "a"), (8, 0, None), (7, 1, "X"), (8, 1, "b")}
    # CLI --where with --mode dv
    from nyc_taxi_data_warehouse_spark.__main__ import main

    main(
        [
            "snapshot-update", "--table-path", table,
            "--where", '{"id": [7]}', "--set", '{"v": "Z"}', "--mode", "dv",
        ],
        spark=spark,
    )
    import json as _json

    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_updated"] == 2
    got = {(r.id, r.v) for r in read_snapshot(spark, table).collect()}
    assert got == {(7, "Z"), (8, None), (8, "b")}


def test_update_auto_discounts_full_match_files(spark, table, monkeypatch):
    """Auto-mode UPDATE must not be tipped onto merge-on-read by files
    whose every row matches: those cost the same under both strategies
    (every row needs a new image either way; DV adds tombstones on
    top), so a clustered-key mass update picks the rewrite."""
    from nyc_taxi_data_warehouse_spark.warehouse import snapshots as sn
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_update,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    snapshot_write(
        _df(spark, [(7, 1, f"r{j}") for j in range(50)]).coalesce(1),
        table, mode="append", partition_cols=["month"], stats_cols=["id"],
    )
    # threshold 0: ANY counted victim byte would select DV — only the
    # full-match discount keeps the estimate at zero
    monkeypatch.setattr(sn, "DV_THRESHOLD_MB", 0)
    v, n = snapshot_update(spark, table, {"id": [7]}, {"v": "X"}, mode="auto")
    assert n == 50
    assert load_manifest(table, v)["op"] == "update_rows"


def test_drop_partitions_retries_reserialize_cleanly(spark, table, monkeypatch):
    """A lost commit race reruns the metadata-only computation against
    the new head: retries=1 lands the drop after the racer; retries=0
    keeps raising the conflict."""
    import nyc_taxi_data_warehouse_spark.warehouse.snapshots as sn

    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 2, "b")]), table, mode="append",
        partition_cols=["month"],
    )
    real = sn._write_bytes_exclusive
    fails = {"n": 1}

    def flaky(fs, jpath, data):
        if fails["n"]:
            fails["n"] -= 1
            return False  # lost the exclusive-create race
        return real(fs, jpath, data)

    monkeypatch.setattr(sn, "_write_bytes_exclusive", flaky)
    with pytest.raises(sn.SnapshotConflict):
        sn.snapshot_drop_partitions(spark, table, {"month": [1]})
    fails["n"] = 1
    v, n = sn.snapshot_drop_partitions(
        spark, table, {"month": [1]}, retries=1
    )
    assert n == 1
    assert [r.id for r in read_snapshot(spark, table).collect()] == [2]


def test_delete_where_full_drop_requires_every_column(spark, table):
    """The conjunctive whole-file proof is per-column ALL-columns: a
    file single-valued in one predicate column but mixed in another
    must be rewritten, not dropped — dropping it would erase rows the
    second predicate excludes."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    # one file: id constant (full proof holds), v mixed (proof fails)
    snapshot_write(
        spark.createDataFrame(
            [(7, 1, "x"), (7, 1, "y")], "id long, month int, v string"
        ).coalesce(1),
        table, mode="append", partition_cols=["month"], stats_cols=["id", "v"],
    )
    # another file: id AND v both constant → drops by reference
    snapshot_write(
        spark.createDataFrame(
            [(7, 1, "x"), (7, 1, "x")], "id long, month int, v string"
        ).coalesce(1),
        table, mode="append", partition_cols=["month"], stats_cols=["id", "v"],
    )
    pre = _data_files(table)
    v, n = snapshot_delete(
        spark, table, {"id": [7], "v": ["x"]}, mode="rewrite",
    )
    assert n == 3  # both rows of file 2, one row of file 1
    man = load_manifest(table, v)
    assert man["files_dropped_by_stats"] == 1
    assert _data_files(table) > pre  # file 1 was rewritten (survivor y)
    assert [(r.id, r.v) for r in read_snapshot(spark, table).collect()] \
        == [(7, "y")]


def test_snapshot_drop_partitions_cli(spark, table, capsys):
    from nyc_taxi_data_warehouse_spark.__main__ import main

    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 2, "b")]),
        table, mode="append", partition_cols=["month"],
    )
    main(
        [
            "snapshot-drop-partitions",
            "--table-path", table,
            "--partitions", '{"month": [1]}',
        ],
        spark=spark,
    )
    import json as _json

    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"version": 2, "rows_deleted": 1}
    assert {r.id for r in read_snapshot(spark, table).collect()} == {2}


def test_snapshot_maintain_runs_declared_policy_only(spark, table, capsys):
    """snapshot_maintain executes exactly the steps the table's own
    properties declare: undeclared policy means every step skips (and
    in particular vacuum NEVER applies a default cutoff — maintenance
    must not silently destroy time travel); a declared policy compacts
    fragments, honors retention, and sweeps aged orphans, all from one
    argument-free call any scheduler can run blind."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_maintain,
        snapshot_set_properties,
    )

    for i in range(4):  # 4 fragment appends in one partition
        snapshot_write(
            _df(spark, [(i, 1, "x" * 50)]), table, mode="append",
            partition_cols=["month"],
        )
    n_versions = len(snapshot_versions(spark, table))
    # undeclared policy: everything skips, nothing is dropped
    rep = snapshot_maintain(spark, table)
    assert rep == {
        "resolve_eq": "skipped", "compact": "skipped",
        "compact_dvs": "skipped", "vacuum": "skipped",
        "sweep_orphans": "skipped",
    }
    assert len(snapshot_versions(spark, table)) == n_versions
    # declare policy once; maintain executes it
    snapshot_set_properties(
        spark, table,
        {
            "maintain.min_file_mb": "1",
            "maintain.dv_compact_files": "4",
            "retention.keep_last": "3",
            "maintain.orphan_grace_hours": "0",
        },
    )
    before = read_snapshot(spark, table).collect()
    rep = snapshot_maintain(spark, table)
    assert isinstance(rep["compact"], dict)  # fragments packed
    assert rep["compact_dvs"] == "evaluated"
    assert rep["vacuum"]["versions_dropped"] > 0
    assert isinstance(rep["sweep_orphans"], dict)
    man_files = read_snapshot(spark, table).inputFiles()
    assert len(man_files) == 1  # 4 fragments → 1 packed file
    assert sorted(r.id for r in read_snapshot(spark, table).collect()) == sorted(
        r.id for r in before
    )
    # retention honored: exactly 3 versions survive
    assert len(snapshot_versions(spark, table)) == 3
    # CLI surface
    from nyc_taxi_data_warehouse_spark.__main__ import main

    main(["snapshot-maintain", "--table-path", table], spark=spark)
    import json as _json

    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out) == {
        "resolve_eq", "compact", "compact_dvs", "vacuum",
        "sweep_orphans",
    }


def test_snapshot_register_sql_view_pins_version(spark, table, capsys):
    """snapshot_register exposes a versioned table to plain spark.sql;
    the view pins the version resolved at registration (a later commit
    never leaks into it), and the CLI's sql --snapshot NAME=PATH[@V]
    registers before running."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_register,
    )

    snapshot_write(
        _df(spark, [(1, 1, "a")]), table, mode="append",
        partition_cols=["month"],
    )
    snapshot_register(spark, table, "snap_v")
    assert spark.sql("SELECT count(*) c FROM snap_v").collect()[0].c == 1
    snapshot_write(
        _df(spark, [(2, 2, "b")]), table, mode="append",
        partition_cols=["month"],
    )
    # reader isolation carries into SQL: the view still serves v1
    assert spark.sql("SELECT count(*) c FROM snap_v").collect()[0].c == 1
    snapshot_register(spark, table, "snap_v")  # re-register follows head
    assert spark.sql("SELECT count(*) c FROM snap_v").collect()[0].c == 2
    # CLI: version pin via @V
    from nyc_taxi_data_warehouse_spark.__main__ import main

    main(
        [
            "sql", "SELECT id FROM t1 ORDER BY id",
            "--snapshot", f"t1={table}@1",
        ],
        spark=spark,
    )
    import json as _json

    out = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
    ]
    assert out == [{"id": 1}]


def test_delete_full_match_files_drop_by_reference(spark, table):
    """Stats now record a per-file NULL COUNT, upgrading min/max from
    range pruning to whole-file proofs: a delete whose predicate
    provably matches EVERY row of a file (min == max == value, zero
    nulls) drops that file from the manifest without reading it —
    only boundary files where matches mix with survivors get
    rewritten. A null row defeats the proof (NULL never matches IN,
    so the row must survive) and forces the rewrite path."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    # one append per key → single-valued files (min == max)
    for k in (1, 2):
        snapshot_write(
            _df(spark, [(k, 1, f"r{j}") for j in range(4)]).coalesce(1),
            table, mode="append", partition_cols=["month"], stats_cols=["id"],
        )
    # a MIXED file (ids 5 and 6 together) — only ever partially matches
    snapshot_write(
        _df(spark, [(5, 1, "a"), (6, 1, "b")]).coalesce(1),
        table, mode="append", partition_cols=["month"], stats_cols=["id"],
    )
    pre = _data_files(table)
    v, n = snapshot_delete(spark, table, {"id": [2]}, mode="rewrite")
    assert n == 4
    assert _data_files(table) == pre  # pure manifest edit: no rewrite
    man = load_manifest(table, v)
    assert man["files_dropped_by_stats"] == 1
    assert sorted(r.id for r in read_snapshot(spark, table).collect()) == [
        1, 1, 1, 1, 5, 6
    ]
    # mixed file: drop proof fails (min != max) → rewrite path
    v2, n2 = snapshot_delete(spark, table, {"id": [5]}, mode="rewrite")
    assert n2 == 1
    assert _data_files(table) > pre  # a survivor file was written
    assert "files_dropped_by_stats" not in load_manifest(table, v2)
    assert sorted(r.id for r in read_snapshot(spark, table).collect()) == [
        1, 1, 1, 1, 6
    ]


def test_dv_delete_full_match_files_drop_instead_of_tombstoning(
    spark, table
):
    """The merge-on-read delete also uses the whole-file proof: a
    wholly-dead file leaves the manifest by reference instead of
    getting one tombstone per row — a clustered-key takedown writes
    no sidecar at all, and a mixed boundary file still gets exactly
    its matching rows tombstoned."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    snapshot_write(
        _df(spark, [(2, 1, f"r{j}") for j in range(4)]).coalesce(1),
        table, mode="append", partition_cols=["month"], stats_cols=["id"],
    )
    snapshot_write(
        _df(spark, [(5, 1, "a"), (6, 1, "b")]).coalesce(1),
        table, mode="append", partition_cols=["month"], stats_cols=["id"],
    )
    # clustered-key takedown: NO sidecar written, file dropped
    v, n = snapshot_delete(spark, table, {"id": [2]}, mode="dv")
    assert n == 4
    man = load_manifest(table, v)
    assert man["files_dropped_by_stats"] == 1 and man["rows_dropped"] == 4
    assert man["dv_rows_added"] == 0 and not man.get("dv_files")
    assert sorted(r.id for r in read_snapshot(spark, table).collect()) == [
        5, 6
    ]
    # boundary case: full file dropped AND one tombstone for the
    # mixed file's matching row, in one commit
    snapshot_write(
        _df(spark, [(6, 1, "c"), (6, 1, "d")]).coalesce(1),
        table, mode="append", partition_cols=["month"], stats_cols=["id"],
    )
    v2, n2 = snapshot_delete(spark, table, {"id": [6]}, mode="dv")
    man2 = load_manifest(table, v2)
    assert n2 == 3  # 2 dropped + 1 tombstoned
    assert man2["files_dropped_by_stats"] == 1
    assert man2["dv_rows_added"] == 1 and man2["dv_files"]
    assert [r.id for r in read_snapshot(spark, table).collect()] == [5]


def test_delete_full_match_blocked_by_null_rows(spark, table):
    """A file whose non-null rows all equal the deleted value but which
    holds a NULL row must NOT be dropped whole: NULL IN (v) never
    matches, so the null row survives via the rewrite path."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    rows = spark.createDataFrame(
        [(9, 1, "x"), (9, 1, "y"), (None, 1, "keep-me")],
        "id long, month int, v string",
    )
    snapshot_write(
        rows.coalesce(1),
        table, mode="append", partition_cols=["month"], stats_cols=["id"],
    )
    man0 = load_manifest(table, 1)
    st = next(iter(man0["stats"].values()))["id"]
    assert st[0] == st[1] == 9 and st[2] == 1  # nulls recorded
    v, n = snapshot_delete(spark, table, {"id": [9]}, mode="rewrite")
    assert n == 2
    assert "files_dropped_by_stats" not in load_manifest(table, v)
    out = read_snapshot(spark, table).collect()
    assert [(r.id, r.v) for r in out] == [(None, "keep-me")]


def test_snapshot_minmax_metadata_vs_scan(spark, table):
    """snapshot_agg MIN/MAX answers from per-file stats when provably exact
    (full stats coverage, no tombstones on the scoped files) and falls
    back to an exact scan when a deletion vector might hide the
    extreme or coverage is partial."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_agg,
        snapshot_delete,
        snapshot_write,
    )

    snapshot_write(
        _df(spark, [(i, i % 2, f"a{i}") for i in range(10)]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    assert snapshot_agg(
        spark, table, [("min", "id"), ("max", "id")]
    )[0] == (0, 9)
    assert snapshot_agg(
        spark, table, [("min", "id"), ("max", "id")], partitions={"month": 0}
    )[0] == (0, 8)
    # no stats for 'v': scan fallback still exact
    assert snapshot_agg(
        spark, table, [("min", "v"), ("max", "v")]
    )[0] == ("a0", "a9")
    # DV-delete the max: stats would lie, the tombstone check forces
    # the scan path, which sees the live extreme
    snapshot_delete(spark, table, {"id": [9]}, mode="dv")
    assert snapshot_agg(
        spark, table, [("min", "id"), ("max", "id")]
    )[0] == (0, 8)
    # the untombstoned partition... the tombstone lives in month=1, so
    # month=0 stays on the metadata path
    assert snapshot_agg(
        spark, table, [("min", "id"), ("max", "id")], partitions={"month": 0}
    )[0] == (0, 8)
    # empty scope
    assert snapshot_agg(
        spark, table, [("min", "id"), ("max", "id")], partitions={"month": 7}
    )[0] == (None, None)


def test_snapshot_count_nonnull_and_hybrid_minmax(spark, table):
    """COUNT(col) answers from recorded row counts minus recorded null
    counts for every provable file, scanning only the uncovered
    remainder (DV'd files); MIN/MAX likewise scans ONLY the
    files metadata cannot answer for instead of the whole table."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_agg,
        snapshot_delete,
        snapshot_write,
    )

    rows = spark.createDataFrame(
        [(0, 0, "a"), (1, 0, None), (2, 1, "c"), (None, 1, "d")],
        "id long, month int, v string",
    )
    snapshot_write(
        rows, table, partition_cols=["month"], stats_cols=["id", "v"],
    )
    assert snapshot_agg(spark, table, [("count", "id")])[0][0] == 3
    assert snapshot_agg(spark, table, [("count", "v")])[0][0] == 3
    assert snapshot_agg(
        spark, table, [("count", "id")], partitions={"month": 0}
    )[0][0] == 2
    # DV-delete a non-null id in month=0: its file goes uncovered and
    # is scanned with the tombstone applied; month=1 stays metadata
    snapshot_delete(spark, table, {"id": [0]}, mode="dv")
    assert snapshot_agg(spark, table, [("count", "id")])[0][0] == 2
    assert snapshot_agg(spark, table, [("count", "v")])[0][0] == 2
    # hybrid minmax: the DV'd file is scanned, the covered files
    # answer from stats, and the combination is live-exact
    assert snapshot_agg(
        spark, table, [("min", "id"), ("max", "id")]
    )[0] == (1, 2)


def test_auto_compact_small_files_metadata_trigger(spark, tmp_path, table):
    """Small-file maintenance: the trigger evaluates purely from the
    manifest's recorded per-file row counts (min_file_rows — zero
    filesystem stats), packs only qualifying fragments, stands down on
    cadence, and composes with streaming ingest (the canonical
    fragment generator) without breaking exactly-once."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        _maybe_auto_compact_small,
        snapshot_compact,
        stream_snapshot_append,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    for i in range(5):
        snapshot_write(
            _df(spark, [(i, 1, f"r{i}")]), table, mode="append",
            partition_cols=["month"],
        )
    assert len(load_manifest(table, 5)["files"]) == 5
    # below trigger: no-op
    _maybe_auto_compact_small(spark, table, 100, trigger_files=6)
    assert snapshot_versions(spark, table)[-1]["version"] == 5
    # at trigger: packs the fragments into one file per partition
    _maybe_auto_compact_small(spark, table, 100, trigger_files=4)
    hist = snapshot_versions(spark, table)
    assert hist[-1]["op"] == "compact" and hist[-1]["version"] == 6
    man = load_manifest(table, 6)
    assert len(man["files"]) == 1
    assert {r.id for r in read_snapshot(spark, table).collect()} \
        == set(range(5))
    # the packed residue is a LONE fragment per partition: no victims,
    # no thrash — and the cadence gate stands down anyway
    _maybe_auto_compact_small(spark, table, 100, trigger_files=1)
    assert snapshot_versions(spark, table)[-1]["version"] == 6
    with pytest.raises(ValueError, match="not both"):
        snapshot_compact(
            spark, table, min_file_mb=1.0, min_file_rows=10
        )

    # streaming ingest with maintenance opted in
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import snapshot_agg

    src = tmp_path / "src2"
    src.mkdir()
    schema = "id long, month int, v string"
    for k in range(4):
        _df(spark, [(100 + k, 1, f"s{k}")]).write.mode(
            "overwrite"
        ).parquet(str(src / f"f{k}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    stream_snapshot_append(
        spark, stream, table, str(tmp_path / "ckpt"), "ingest-s",
        partition_cols=["month"],
        auto_compact_rows=100, auto_compact_trigger=2,
    )
    ops = [h["op"] for h in snapshot_versions(spark, table)]
    assert "compact" in ops[6:], ops  # maintenance ran mid-stream
    assert {r.id for r in read_snapshot(spark, table).collect()} \
        == set(range(5)) | {100, 101, 102, 103}
    assert snapshot_agg(spark, table, [("count", "*")])[0][0] == 9


def test_snapshot_cli_history_and_vacuum(spark, table, capsys):
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main

    cli = lambda *a: main(list(a), spark=spark)  # noqa: E731
    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    snapshot_write(_df(spark, [(2, 2, "b")]), table)
    snapshot_write(_df(spark, [(3, 3, "c")]), table)
    assert cli("snapshot-history", "--table-path", table) == 0
    hist = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [h["version"] for h in hist] == [1, 2, 3]
    # an age floor in the past protects everything despite keep-last
    assert cli(
        "snapshot-vacuum", "--table-path", table, "--keep-last", "1",
        "--older-than", "1000000",  # epoch seconds, long before now
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["versions_dropped"] == 0
    assert cli("snapshot-vacuum", "--table-path", table, "--keep-last", "1") == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["versions_dropped"] == 2
    assert [r.id for r in read_snapshot(spark, table).collect()] == [3]


def test_snapshot_compact_is_a_commit_not_a_rewrite(spark, table):
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_compact,
    )

    for i in range(4):  # 4 appends -> >= 4 small files
        snapshot_write(_df(spark, [(i, 1, f"r{i}")]), table, mode="append")
    before = snapshot_versions(spark, table)[-1]
    pinned = read_snapshot(spark, table)
    v = snapshot_compact(spark, table, target_mb=256)
    after = [h for h in snapshot_versions(spark, table) if h["version"] == v][0]
    assert after["op"] == "compact"
    assert after["n_files"] < before["n_files"]
    got = {(r.id, r.v) for r in read_snapshot(spark, table, version=v).collect()}
    assert got == {(i, f"r{i}") for i in range(4)}
    # a reader planned before the compaction still drains the old files
    assert {r.id for r in pinned.collect()} == {0, 1, 2, 3}


def test_compact_splits_a_partition_larger_than_the_target(spark, table):
    """Files come out about ``target_mb`` each: a partition several
    times the target splits into several files (hashing on the
    partition column alone would write it from one task as one file),
    and the rows survive."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_compact,
    )

    rows = [(i, int(i >= 6000), os.urandom(24).hex()) for i in range(6100)]
    snapshot_write(_df(spark, rows), table, partition_cols=["month"])
    v = snapshot_compact(spark, table, target_mb=0.05)
    man = load_manifest(table, v)
    big = [f for f in man["files"] if "/month=0/" in f]
    assert len(big) >= 2, man["files"]
    assert sum(man["rows"][f] for f in big) == 6000
    assert read_snapshot(spark, table).count() == 6100


@pytest.mark.slowproof
def test_targeted_compact_bin_packs_only_fragments(spark, table):
    """snapshot_compact(min_file_mb=...) rewrites ONLY the fragmented
    files: right-sized files are carried by reference (same relpaths,
    zero bytes copied), deletion vectors targeting carried files keep
    masking while tombstones for the packed fragments fold away, stats
    carry + recompute, and the recorded row totals stay verify-exact.
    The 100 TB claim under test: rewrite cost ∝ fragment bytes."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        _file_sizes,
        _root,
        snapshot_agg,
        snapshot_compact,
        snapshot_delete,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    # one comfortably-large file per month + a stream of 1-row shards
    big = spark.createDataFrame(
        [(i, i % 2, "x" * 40) for i in range(20_000)],
        "id long, month int, v string",
    ).repartition(2, "month")
    snapshot_write(
        big, table, partition_cols=["month"], stats_cols=["id"],
    )
    for i in range(4):
        # two-row MIXED shards: the fragment tombstone planted below
        # must stay a tombstone (a 1-row shard would full-drop at
        # delete time by the stats whole-file proof)
        snapshot_write(
            _df(
                spark,
                [(100_000 + i, i % 2, f"s{i}"), (200_000 + i, i % 2, f"t{i}")],
            ).coalesce(1),
            table, mode="append", partition_cols=["month"], stats_cols=["id"],
        )
    # DV-delete one row in a BIG (to-be-carried) file and one row in a
    # fragment (to-be-packed): the first tombstone must keep riding,
    # the second folds into the rewrite
    snapshot_delete(spark, table, {"id": [7]}, mode="dv")
    snapshot_delete(spark, table, {"id": [100_000]}, mode="dv")
    man0 = load_manifest(
        table, snapshot_versions(spark, table)[-1]["version"]
    )
    sizes0 = _file_sizes(spark, _root(table), man0["files"])
    big_files = {f for f, s in sizes0.items() if s >= 20 * 1024}
    frag_files = set(man0["files"]) - big_files
    assert len(big_files) == 2 and len(frag_files) == 4, sizes0
    expect = {
        (r.id, r.month, r.v) for r in read_snapshot(spark, table).collect()
    }
    n_before = snapshot_agg(spark, table, [("count", "*")])[0][0]

    v = snapshot_compact(spark, table, min_file_mb=0.02)
    man = load_manifest(table, v)
    # carried by reference: the big files' relpaths are UNCHANGED
    assert big_files < set(man["files"])
    assert not (frag_files & set(man["files"]))
    new_files = set(man["files"]) - big_files
    # bytes copied ∝ fragments, not the table
    new_bytes = sum(
        _file_sizes(spark, _root(table), sorted(new_files)).values()
    )
    assert new_bytes < min(sizes0[f] for f in big_files)
    # content identical, both DV deletes still masked
    got = {(r.id, r.month, r.v) for r in read_snapshot(spark, table).collect()}
    assert got == expect
    assert snapshot_agg(spark, table, [("count", "*")])[0][0] == n_before
    # sidecars kept for the carried target only; fragment tombstone
    # folded with its file
    assert man.get("dv_files"), "carried-file tombstone must keep riding"
    assert all(t in big_files for t in man["dv_targets"])
    # verify-exact recorded totals: removed live fragments == added
    # (4 shards x 2 rows, one row tombstoned)
    assert man["rows_removed"] == man["rows_added"] == 7
    assert man["files_compacted"] == 4 and man["files_carried"] == 2
    # stats carried + recomputed: pruning still exact over both kinds
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        Range,
    )

    assert read_snapshot(spark, table, where={"id": Range(100_001, 100_003)}) \
        .count() == 3
    assert set(man["stats"]) == set(man["files"])
    # a second targeted pass has <2 fragments left: no-op, no commit
    assert snapshot_compact(spark, table, min_file_mb=0.02) == v
    assert snapshot_versions(spark, table)[-1]["version"] == v


def test_targeted_compact_converges_unpartitioned(spark, table, monkeypatch):
    """On an unpartitioned table, the derived output count is capped
    so packed files average at or above the fragment threshold —
    repeated passes strictly converge instead of re-packing the same
    mid-size fragments forever (the bytes/target_mb derivation alone
    can emit n outputs that are ALL still sub-threshold)."""
    import nyc_taxi_data_warehouse_spark.warehouse.snapshots as sn

    for i in range(6):
        snapshot_write(
            _df(spark, [(10 * i + j, 0, "x" * 30) for j in range(10)]),
            table, mode="append",
        )
    # pretend each 10-row fragment is 300 MB: bytes/256MB would derive
    # 8 outputs (every one of them still under the 25-row threshold —
    # permanent thrash); the rows cap forces floor(60/25)=2
    real_sizes = sn._file_sizes
    monkeypatch.setattr(
        sn, "_file_sizes",
        lambda spark, root, files: {f: 300 << 20 for f in files},
    )
    v = sn.snapshot_compact(spark, table, min_file_rows=25, target_mb=256)
    monkeypatch.setattr(sn, "_file_sizes", real_sizes)
    man = load_manifest(table, v)
    assert len(man["files"]) == 2, man["files"]
    assert all(n >= 25 for n in man["rows"].values()), man["rows"]
    # fixpoint: nothing qualifies any more
    assert sn.snapshot_compact(spark, table, min_file_rows=25) == v
    assert read_snapshot(spark, table).count() == 60


def test_snapshot_merge_upsert_versions_and_prunes(spark, table):
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_merge,
    )

    base = _df(spark, [(1, 1, "a"), (2, 2, "b"), (3, 3, "c")])
    snapshot_write(base, table, partition_cols=["month"])
    upd = _df(spark, [(2, 2, "B!"), (4, 2, "d")])
    v2 = snapshot_merge(
        spark, table, upd, keys=["id"], partition_cols=["month"]
    )
    got = {(r.id, r.v) for r in read_snapshot(spark, table, version=v2).collect()}
    assert got == {(1, "a"), (2, "B!"), (3, "c"), (4, "d")}
    # pre-merge version intact (time travel across a MERGE)
    v1_rows = {(r.id, r.v) for r in read_snapshot(spark, table, version=1).collect()}
    assert v1_rows == {(1, "a"), (2, "b"), (3, "c")}
    # untouched month=1/month=3 files carried by reference: the merge
    # commit only wrote month=2 files
    man_files = snapshot_versions(spark, table)
    assert man_files[-1]["op"] == "replace_partitions"
    with pytest.raises(ValueError, match="rewrite|dv"):
        snapshot_merge(spark, table, upd, ["id"], ["month"], mode="auto")


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_snapshot_merge_refuses_key_moving_partition(spark, table, mode):
    """Both merge modes replace rows only inside the partitions the
    updates touch, so a key that is live in an untouched partition
    would stay live beside its new image. The merge refuses it and
    commits nothing; a key whose old partition IS touched merges."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_merge,
    )

    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 1, "b"), (3, 3, "c")]),
        table,
        partition_cols=["month"],
    )
    head = snapshot_versions(spark, table)[-1]["version"]
    with pytest.raises(ValueError, match="snapshot_append_upsert"):
        snapshot_merge(
            spark, table, _df(spark, [(1, 2, "moved")]), ["id"], ["month"],
            mode=mode,
        )
    assert snapshot_versions(spark, table)[-1]["version"] == head
    # month 1 is touched by id 2's update, so id 1's old row there is
    # replaced: exactly one live row per key
    snapshot_merge(
        spark,
        table,
        _df(spark, [(1, 2, "moved"), (2, 1, "B")]),
        ["id"],
        ["month"],
        mode=mode,
    )
    got = sorted(
        (r.id, r.month, r.v) for r in read_snapshot(spark, table).collect()
    )
    assert got == [(1, 2, "moved"), (2, 1, "B"), (3, 3, "c")]


def test_snapshot_merge_versioned_out_of_order_converges(spark, table):
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_merge,
    )

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id long, month int, v string, ver long"
    )
    snapshot_write(mk([(1, 1, "v0", 0)]), table, partition_cols=["month"])
    late = mk([(1, 1, "newest", 9)])
    early = mk([(1, 1, "stale", 3)])
    snapshot_merge(
        spark, table,
        late,
        keys=["id"],
        partition_cols=["month"],
        version_col="ver",
    )
    snapshot_merge(
        spark, table,
        early,
        keys=["id"],
        partition_cols=["month"],
        version_col="ver",
    )
    rows = read_snapshot(spark, table).collect()
    assert [(r.v, r.ver) for r in rows] == [("newest", 9)]
    # redelivery of the winner is a no-op version-content-wise
    snapshot_merge(
        spark, table,
        late,
        keys=["id"],
        partition_cols=["month"],
        version_col="ver",
    )
    rows = read_snapshot(spark, table).collect()
    assert [(r.v, r.ver) for r in rows] == [("newest", 9)]


def test_stats_pruned_read_skips_files_no_false_negatives(spark, table):
    import time

    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        Range,
        snapshot_delete,
        snapshot_version_at,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    # 4 appends, each a disjoint id range -> 4+ files with tight stats;
    # ids < 200 land in month 1, the rest in month 2
    for lo in (0, 100, 200, 300):
        df = spark.createDataFrame(
            [(lo + i, 1 + lo // 200, f"v{lo + i}") for i in range(50)],
            "id long, month int, v string",
        )
        snapshot_write(
            df,
            table, mode="append", partition_cols=["month"], stats_cols=["id"],
        )
        if lo == 200:
            t_mid = time.time()  # version 3: ids 0-249
            time.sleep(0.05)
    hist = snapshot_versions(spark, table)
    assert hist[-1]["n_files"] >= 4
    got = read_snapshot(spark, table, where={"id": Range(120, 130)})
    want = read_snapshot(spark, table).where(F.col("id").between(120, 130))
    assert sorted(r.id for r in got.collect()) == sorted(
        r.id for r in want.collect()
    )
    # the pruned plan reads fewer files than the table holds
    n_scanned = (
        got.select(F.col("_metadata.file_path")).distinct().count()
        if False
        else len(
            {
                r.f
                for r in read_snapshot(
                    spark, table, where={"id": Range(120, 130)},
                )
                .select(F.input_file_name().alias("f"))
                .distinct()
                .collect()
            }
        )
    )
    assert 0 < n_scanned < hist[-1]["n_files"]
    # out-of-range probe opens nothing and stays typed
    assert read_snapshot(
        spark, table, where={"id": Range(10_000, 10_001)}
    ).count() == 0

    # where= composes with DV tombstones, time travel and partition
    # scope: each read equals the unpruned read of the same version and
    # scope filtered row by row, and opens only the data files whose
    # recorded [min, max] overlaps the range (plus DV sidecars)
    pre_delete = hist[-1]["version"]
    _, n = snapshot_delete(spark, table, {"id": [125, 210]}, mode="dv")
    assert n == 2
    head = snapshot_versions(spark, table)[-1]["version"]
    cases = [
        ({}, head, None),
        ({"version": pre_delete}, pre_delete, None),
        ({"at_timestamp": t_mid}, snapshot_version_at(spark, table, t_mid),
         None),
        ({"partitions": {"month": 2}}, head, "/month=2/"),
    ]
    assert cases[2][1] == 3
    for kw, v, scope in cases:
        got = read_snapshot(spark, table, where={"id": Range(120, 260)}, **kw)
        want = read_snapshot(spark, table, **kw).where(
            F.col("id").between(120, 260)
        )
        assert sorted(got.collect()) == sorted(want.collect())
        man = load_manifest(table, v)
        overlap = {
            f for f in man["files"]
            if (scope is None or scope in f)
            and man["stats"][f]["id"][0] <= 260
            and man["stats"][f]["id"][1] >= 120
        }
        dvs = man.get("dv_files") or []
        opened = [
            p for p in got.inputFiles()
            if not any(p.endswith("/" + d) for d in dvs)
        ]
        assert overlap and len(opened) == len(overlap)
        assert all(
            any(p.endswith("/" + f) for f in overlap) for p in opened
        )


def test_stats_survive_append_and_missing_stats_kept(spark, table):
    """A plain append records stats for its files (``stats_cols`` is
    table state); a file without an entry (legacy manifests) is
    conservatively KEPT by pruned reads, never silently dropped."""
    from pyspark.sql.types import StructType

    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        _commit,
        Range,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    snapshot_write(_df(spark, [(1, 1, "a")]), table, stats_cols=["id"])
    snapshot_write(_df(spark, [(999, 9, "z")]), table, mode="append")
    man = load_manifest(table, 2)
    assert man["stats_cols"] == ["id"]
    assert set(man["stats"]) == set(man["files"])
    first = set(load_manifest(table, 1)["files"])
    appended = sorted(set(man["files"]) - first)
    # the legacy shape: a manifest whose stats map lacks the new file
    _commit(
        spark, table, man["files"], StructType.fromJson(man["schema"]),
        "legacy_stats", 2,
        extra={
            "stats": {
                f: s for f, s in man["stats"].items() if f not in appended
            }
        },
    )
    man = load_manifest(table, 3)
    assert [f for f in man["files"] if f not in man["stats"]] == appended
    got = read_snapshot(spark, table, where={"id": Range(900, 1000)})
    assert [r.id for r in got.collect()] == [999]


def test_stats_pruning_timestamp_and_string_columns(spark, table):
    import datetime

    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        Range,
        snapshot_write,
    )

    mk = lambda day, tag: spark.createDataFrame(  # noqa: E731
        [
            (i, datetime.datetime(2024, 1, day, i), f"{tag}{i:02d}")
            for i in range(1, 6)
        ],
        "id long, ts timestamp, name string",
    )
    snapshot_write(mk(1, "a"), table, stats_cols=["ts", "name"])
    snapshot_write(
        mk(2, "b"), table, mode="append", stats_cols=["ts", "name"],
    )
    got = read_snapshot(
        spark, table,
        where={
            "ts": Range(
                datetime.datetime(2024, 1, 2), datetime.datetime(2024, 1, 3)
            )
        },
    )
    assert got.count() == 5
    by_name = read_snapshot(spark, table, where={"name": Range("b00", "b99")})
    assert by_name.count() == 5
    assert {r.name[:1] for r in by_name.collect()} == {"b"}


def test_snapshot_delete_rows_rewrites_only_victim_files(spark, table):
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [(lo + i, 1, f"v{lo + i}") for i in range(50)],
            "id long, month int, v string",
        )
        snapshot_write(df, table, mode="append", stats_cols=["id"])
    before = load_manifest(table, 3)
    v, n_deleted = snapshot_delete(
        spark, table, {"id": [110, 120, 130]}, mode="rewrite",
    )
    assert n_deleted == 3
    after = load_manifest(table, v)
    assert after["op"] == "delete_rows"
    # files outside the 100-149 range carried over BY REFERENCE
    untouched = [
        f for f in before["files"] if f in set(after["files"])
    ]
    assert untouched  # 0-49 and 200-249 files survived as-is
    got = read_snapshot(spark, table)
    assert got.count() == 147
    assert got.where(F.col("id").isin([110, 120, 130])).count() == 0
    # deleted rows still visible via time travel until vacuum
    assert read_snapshot(spark, table, version=3).count() == 150
    vacuum_snapshots(spark, table, keep_last=1)
    assert read_snapshot(spark, table).count() == 147
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, version=3)


def test_snapshot_delete_rows_no_match_is_noop_version(spark, table):
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
        snapshot_write,
    )

    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 2, "b")]), table, stats_cols=["id"],
    )
    v, n = snapshot_delete(spark, table, {"id": [999]}, mode="rewrite")
    assert (v, n) == (1, 0)  # stats excluded every file: no new version
    assert len(snapshot_versions(spark, table)) == 1


def test_snapshot_delete_rows_stats_kept_for_carried_files(spark, table):
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        Range,
        snapshot_delete,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    for lo in (0, 100):
        snapshot_write(
            spark.createDataFrame(
                [(lo + i, 1, "x") for i in range(20)],
                "id long, month int, v string",
            ),
            table, mode="append", stats_cols=["id"],
        )
    v, _ = snapshot_delete(spark, table, {"id": [5]}, mode="rewrite")
    man = load_manifest(table, v)
    # every file still has stats (carried ones kept, rewritten ones
    # recomputed) so pruned reads keep planning on the new version
    assert set(man["files"]) == set(man["stats"].keys())
    got = read_snapshot(spark, table, where={"id": Range(100, 110)})
    assert got.count() == 11


def test_snapshot_delete_cli(spark, table, capsys):
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_write,
    )

    cli = lambda *a: main(list(a), spark=spark)  # noqa: E731
    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 2, "b"), (3, 3, "c")]),
        table, stats_cols=["id"],
    )
    assert cli(
        "snapshot-delete", "--table-path", table, "--col", "id",
        "--values", "[2, 3]",
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_deleted"] == 2
    assert [r.id for r in read_snapshot(spark, table).collect()] == [1]


def test_delete_rows_preserves_null_keys(spark, table):
    """NULL values of the delete column never match an IN list, so
    NULL-keyed rows in rewritten victim files must SURVIVE the rewrite
    (ADVICE r4: ~isin evaluates to NULL and where() dropped them) and
    rows_deleted must count only genuine matches."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
        snapshot_write,
    )

    df = spark.createDataFrame(
        [(1, 1, "a"), (None, 1, "n1"), (2, 1, "b"), (None, 1, "n2")],
        "id long, month int, v string",
    )
    snapshot_write(df, table, stats_cols=["id"])
    v, n_deleted = snapshot_delete(spark, table, {"id": [2]}, mode="rewrite")
    assert n_deleted == 1
    got = read_snapshot(spark, table, version=v).collect()
    assert sorted(r.v for r in got) == ["a", "n1", "n2"]


def test_delete_then_merge_keeps_no_stale_rows(spark, table):
    """The delete rewrite must reproduce the table's partition layout
    (ADVICE r4): an unpartitioned survivor file would never classify
    into any touched partition, so a later replace/merge would carry it
    and resurrect replaced keys as duplicates."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
        snapshot_merge,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    base = _df(spark, [(1, 1, "a"), (2, 1, "b"), (3, 2, "c"), (4, 2, "d")])
    snapshot_write(base, table, partition_cols=["month"])
    v, n = snapshot_delete(spark, table, {"id": [2]}, mode="rewrite")
    assert n == 1
    man = load_manifest(table, v)
    assert man["partition_cols"] == ["month"]
    # every file in the new version still sits in a month=... directory
    assert all("month=" in f for f in man["files"])
    upd = _df(spark, [(1, 1, "A2"), (5, 1, "e")])
    v2 = snapshot_merge(
        spark, table, upd, keys=["id"], partition_cols=["month"]
    )
    got = {(r.id, r.v) for r in read_snapshot(spark, table, version=v2).collect()}
    assert got == {(1, "A2"), (5, "e"), (3, "c"), (4, "d")}


def test_mixed_partition_layout_rejected(spark, table):
    """A commit whose layout differs from the table's recorded layout
    fails fast instead of silently misclassifying carried files."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_write,
    )

    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 2, "b")]), table,
        partition_cols=["month"],
    )
    with pytest.raises(ValueError, match="layout"):
        snapshot_replace_partitions(_df(spark, [(9, 1, "z")]), table, ["v"])
    with pytest.raises(ValueError, match="layout"):
        snapshot_write(_df(spark, [(9, 1, "z")]), table, mode="append")
    with pytest.raises(ValueError, match="layout"):
        snapshot_write(
            _df(spark, [(9, 1, "z")]), table, mode="append", stats_cols=["id"],
        )
    # overwrite may change the layout freely (it carries nothing)
    snapshot_write(_df(spark, [(9, 1, "z")]), table)


def test_compact_preserves_partition_layout(spark, table):
    """snapshot_compact defaults to the table's recorded layout, so a
    compaction never strips the partition directories carried-file
    classification depends on; a replace after a compact still works."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_compact,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    snapshot_write(
        _df(spark, [(1, 1, "a"), (2, 2, "b"), (3, 2, "c")]), table,
        partition_cols=["month"],
    )
    v = snapshot_compact(spark, table, target_mb=256)
    man = load_manifest(table, v)
    assert man["partition_cols"] == ["month"]
    assert all("month=" in f for f in man["files"])
    v2 = snapshot_replace_partitions(
        _df(spark, [(20, 2, "B")]), table, ["month"]
    )
    got = {(r.id, r.v) for r in read_snapshot(spark, table, version=v2).collect()}
    assert got == {(1, "a"), (20, "B")}


@pytest.mark.slowproof
def test_concurrent_appenders_all_land_exactly_once(spark, table):
    """8 threads race append commits against one table, retrying on
    SnapshotConflict. The exclusive-create manifest claim must
    serialize them: every writer's rows land exactly once (no lost
    update — a loser re-reads the NEW parent before retrying), and the
    version chain is a clean 1..9 with strictly growing file lists."""
    from concurrent.futures import ThreadPoolExecutor

    snapshot_write(_df(spark, [(0, 0, "seed")]), table)

    def append(i):
        for _ in range(50):
            try:
                return snapshot_write(
                    _df(spark, [(100 + i, i, f"w{i}")]), table, mode="append"
                )
            except SnapshotConflict:
                continue
        raise AssertionError(f"writer {i} never committed")

    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = list(ex.map(append, range(8)))
    assert sorted(versions) == list(range(2, 10))  # distinct, gapless
    got = sorted(r.id for r in read_snapshot(spark, table).collect())
    assert got == [0] + [100 + i for i in range(8)]
    hist = snapshot_versions(spark, table)
    assert [h["version"] for h in hist] == list(range(1, 10))
    n_files = [h["n_files"] for h in hist]
    assert n_files == sorted(n_files) and n_files[0] >= 1  # monotone growth


def test_update_rows_redacts_matching_only(spark, table):
    """snapshot_update (rewrite): matching rows get the new column values,
    every other row — including NULL-keyed rows — survives the rewrite
    byte-identical, old versions keep the pre-update values, and
    untouched files carry by reference (stats-planned)."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_update,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    rows = [(1, 1, "alice"), (2, 1, "bob"), (None, 1, "ghost")]
    df = spark.createDataFrame(rows, "id long, month int, v string")
    v1 = snapshot_write(df, table, stats_cols=["id"])
    # second file far away in id-space: must be carried, not rewritten
    far = spark.createDataFrame([(1000, 2, "carol")], "id long, month int, v string")
    v2 = snapshot_write(far, table, mode="append", stats_cols=["id"])
    ver, n = snapshot_update(
        spark, table, {"id": [2, 999]}, {"v": None}, mode="rewrite",
    )
    assert n == 1
    got = {r["id"]: r["v"] for r in read_snapshot(spark, table).collect()}
    assert got == {1: "alice", 2: None, None: "ghost", 1000: "carol"}
    # time travel: the pre-update image is intact
    old = {r["id"]: r["v"] for r in read_snapshot(spark, table, v2).collect()}
    assert old[2] == "bob"
    # the far file carried by reference (same path in both manifests)
    man2 = load_manifest(table, v2)
    man3 = load_manifest(table, ver)
    far_files = set(man2["files"]) - set(load_manifest(table, v1)["files"])
    assert far_files <= set(man3["files"])
    # expression-valued update: pseudonymize instead of null
    ver2, n2 = snapshot_update(
        spark, table, {"id": [1]}, {"v": F.sha2(F.col("v"), 256)},
        mode="rewrite",
    )
    assert n2 == 1
    got2 = {r["id"]: r["v"] for r in read_snapshot(spark, table).collect()}
    assert got2[1] is not None and got2[1] != "alice" and len(got2[1]) == 64
    assert got2[1000] == "carol"


def test_update_rows_guards(spark, table):
    import pytest as _pytest

    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_update,
    )

    df = _df(spark, [(1, 1, "a"), (2, 2, "b")])
    snapshot_write(df, table, partition_cols=["month"])
    with _pytest.raises(ValueError, match="unknown columns"):
        snapshot_update(spark, table, {"id": [1]}, {"nope": 0}, mode="rewrite")
    with _pytest.raises(ValueError, match="partition column"):
        snapshot_update(
            spark, table, {"id": [1]}, {"month": 9}, mode="rewrite",
        )
    # update on a partitioned table rewrites in the table's layout:
    # a merge after the update must not resurrect pre-update rows
    ver, n = snapshot_update(
        spark, table, {"id": [1]}, {"v": "X"}, mode="rewrite",
    )
    assert n == 1
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_merge,
    )

    snapshot_merge(
        spark, table,
        _df(spark, [(2, 2, "b2")]),
        keys=["id"],
        partition_cols=["month"],
    )
    got = sorted(
        (r["id"], r["v"]) for r in read_snapshot(spark, table).collect()
    )
    assert got == [(1, "X"), (2, "b2")]


def test_snapshot_update_cli(spark, table, capsys):
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_write,
    )

    cli = lambda *a: main(list(a), spark=spark)  # noqa: E731
    snapshot_write(
        _df(spark, [(1, 1, "alice"), (2, 2, "bob")]), table, stats_cols=["id"],
    )
    assert cli(
        "snapshot-update", "--table-path", table, "--col", "id",
        "--values", "[2]", "--set", '{"v": null}',
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_updated"] == 1
    got = {r["id"]: r["v"] for r in read_snapshot(spark, table).collect()}
    assert got == {1: "alice", 2: None}


def test_update_rows_multi_column_sees_pre_update_image(spark, table):
    """SQL UPDATE semantics: every RHS evaluates against the pre-update
    row, so {'v': None, 'v_hash': sha2(v)} hashes the ORIGINAL value —
    a sequential withColumn chain would hash the already-nulled column
    (dict-order dependent, pseudonym silently lost)."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_update,
    )

    df = spark.createDataFrame(
        [(1, "alice", None), (2, "bob", None)],
        "id long, v string, v_hash string",
    )
    snapshot_write(df, table)
    _, n = snapshot_update(
        spark, table, {"id": [1]},
        {"v": None, "v_hash": F.sha2(F.col("v"), 256)}, mode="rewrite",
    )
    assert n == 1
    got = {r["id"]: (r["v"], r["v_hash"]) for r in read_snapshot(spark, table).collect()}
    assert got[1][0] is None
    assert got[1][1] is not None and len(got[1][1]) == 64  # sha2("alice")
    assert got[2] == ("bob", None)


def test_snapshot_load_restore_reopens_months(spark, table, tmp_path):
    """After snapshot_restore rolls a load back, the loaded-months
    provenance must replay the restore: the rolled-back month is
    loadable again (not silently 'already loaded' while its rows are
    gone)."""
    from nyc_taxi_data_warehouse_spark.warehouse.load import (
        _snapshot_loaded_months,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_restore,
    )

    def land(y, m):
        df = spark.createDataFrame(
            [(y * 100 + m, y, m)], "id long, year int, month int"
        )
        snapshot_replace_partitions(
            df, table, ["year", "month"],
            extra={"load": {"year": y, "month": m, "source_path": "s",
                            "rows": 1}},
        )

    land(2025, 1)
    land(2025, 2)
    assert _snapshot_loaded_months(spark, table) == {(2025, 1), (2025, 2)}
    snapshot_restore(spark, table, 1)  # roll back month 2's load
    assert _snapshot_loaded_months(spark, table) == {(2025, 1)}
    land(2025, 2)  # reload after rollback
    assert _snapshot_loaded_months(spark, table) == {(2025, 1), (2025, 2)}


def test_compact_preserves_stats_and_pruning(spark, table):
    """Manifest stats must SURVIVE compaction: without recomputation
    every compact silently reset a read_snapshot(where=) range to a
    full scan.
    After compacting a stats-tracked table, the pruned read still
    returns exact results AND the new manifest carries stats for every
    new file."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        Range,
        snapshot_compact,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    for lo in (0, 100, 200, 300):
        df = spark.createDataFrame(
            [(lo + i, 1, f"v{lo + i}") for i in range(50)],
            "id long, month int, v string",
        )
        snapshot_write(df, table, mode="append", stats_cols=["id"])
    snapshot_compact(spark, table)
    man = load_manifest(table, list_versions(table)[-1])
    assert man.get("stats_cols") == ["id"]
    assert set(man.get("stats", {})) == set(man["files"])  # every new file
    got = read_snapshot(spark, table, where={"id": Range(120, 130)})
    assert sorted(r.id for r in got.collect()) == list(range(120, 131))


def test_compact_cluster_by_tightens_pruning(spark, table):
    """cluster_by turns compaction into OPTIMIZE-with-clustering: data
    written in id-interleaved commits (every file overlaps every id
    range — pruning can skip nothing) compacts into range-clustered
    files whose recomputed stats are tight and disjoint, so a narrow
    range read opens FEWER files than live. Feed classification stays
    row-neutral (clustered compact == empty change set)."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        _stat_norm,
        Range,
        snapshot_changes,
        snapshot_compact,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        list_versions,
        load_manifest,
    )

    # 4 commits, hash-ordered so EVERY file spans ~the full id range
    for off in range(4):
        df = (
            spark.createDataFrame(
                [(off + 4 * i, 1, f"v{off + 4 * i}") for i in range(100)],
                "id long, month int, v string",
            )
            .orderBy(F.xxhash64("id"))
            .coalesce(4)
        )
        snapshot_write(df, table, mode="append", stats_cols=["id"])

    def files_kept(lo, hi):
        man = load_manifest(table, list_versions(table)[-1])
        slo, shi = _stat_norm(lo, -1), _stat_norm(hi, 1)
        kept = 0
        for f in man["files"]:
            st = man.get("stats", {}).get(f, {}).get("id")
            if st is None or st[0] is None or not (st[1] < slo or st[0] > shi):
                kept += 1
        return kept, len(man["files"])

    kept_before, total_before = files_kept(10, 20)
    assert kept_before == total_before  # interleaved: nothing prunable
    pre = list_versions(table)[-1]
    snapshot_compact(spark, table, cluster_by=["id"], n_files=8)
    # row-neutral: the feed sees an empty change set across the compact
    assert snapshot_changes(spark, table, pre).count() == 0
    kept_after, total_after = files_kept(10, 20)
    assert total_after > 1 and kept_after < total_after
    got = read_snapshot(spark, table, where={"id": Range(10, 20)})
    assert sorted(r.id for r in got.collect()) == list(range(10, 21))


def test_compact_zorder_multi_key_and_partition_guard(spark, table):
    """Multi-column cluster_by routes through zorder_value; clustering
    on a partition column refuses (the directory layout already
    clusters it); rows and schema are unchanged by the rewrite."""
    import pytest as _pytest

    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_compact,
        snapshot_write,
    )

    df = spark.createDataFrame(
        [(i, i % 4, i * 7 % 100, f"v{i}") for i in range(200)],
        "id long, month int, score int, v string",
    )
    snapshot_write(
        df, table, partition_cols=["month"], stats_cols=["id", "score"],
    )
    with _pytest.raises(ValueError, match="partition column"):
        snapshot_compact(spark, table, cluster_by=["month"])
    before = sorted(map(tuple, read_snapshot(spark, table).collect()))
    snapshot_compact(spark, table, cluster_by=["id", "score"])
    after = sorted(map(tuple, read_snapshot(spark, table).collect()))
    assert after == before


def test_snapshot_compact_cli(spark, table, capsys):
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_write,
    )

    snapshot_write(
        _df(spark, [(i, 1, f"v{i}") for i in range(40)]),
        table, stats_cols=["id"],
    )
    rc = main(
        [
            "snapshot-compact", "--table-path", table,
            "--cluster-by", "id", "--n-files", "4",
        ],
        spark=spark,
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["version"] == 2
    assert sorted(
        r.id for r in read_snapshot(spark, table).collect()
    ) == list(range(40))


def _race_eight_appenders(spark, table) -> dict:
    """Eight appenders with ``retries=50`` race on ``table``; each lands
    exactly once. Returns the head manifest."""
    from concurrent.futures import ThreadPoolExecutor

    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import _manifest_at

    def append(i):
        return snapshot_write(
            _df(spark, [(100 + i, i, f"w{i}")]),
            table,
            mode="append",
            retries=50,
        )

    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = list(ex.map(append, range(8)))
    assert sorted(versions) == list(range(2, 10))
    got = sorted(r.id for r in read_snapshot(spark, table).collect())
    assert got == [0] + [100 + i for i in range(8)]
    return _manifest_at(table)[1]


def test_commit_retries_are_metadata_only(spark, table):
    """snapshot_write(retries=N): the data files are written ONCE; a
    conflict re-derives the head and recommits the same files — unlike
    the re-run-the-whole-write loop, no orphan files accumulate. Eight
    racing appenders with retries all land exactly once with zero
    orphans (every data file under data/ is referenced by the head)."""
    snapshot_write(_df(spark, [(0, 0, "seed")]), table)
    head = _race_eight_appenders(spark, table)
    # zero orphans: every file on disk is in the head manifest
    on_disk = set()
    for root, _dirs, files in os.walk(f"{table}/data"):
        for f in files:
            if not f.startswith("_") and not f.startswith("."):
                rel = os.path.relpath(os.path.join(root, f), table)
                on_disk.add(rel)
    assert on_disk == set(head["files"])


def test_commit_retries_are_metadata_only_on_a_stats_table(
    spark, table, monkeypatch
):
    """On a stats table the retries stay metadata-only too: every head
    file has stats, and each appender's files are scanned for them
    once, however many commit attempts it took."""
    from nyc_taxi_data_warehouse_spark.warehouse import snapshots

    snapshot_write(_df(spark, [(0, 0, "seed")]), table, stats_cols=["id"])
    scanned = []
    real = snapshots.collect_file_stats

    def counting(spark_, root, files, cols):
        scanned.extend(files)
        return real(spark_, root, files, cols)

    monkeypatch.setattr(snapshots, "collect_file_stats", counting)
    head = _race_eight_appenders(spark, table)
    assert set(head["stats"]) == set(head["files"])
    assert sorted(scanned) == sorted(set(scanned))  # no file twice
    assert set(scanned) == set(head["files"]) - set(
        load_manifest(table, 1)["files"]
    )


def _stale_once(monkeypatch, module):
    """Patch ``module.list_versions`` to serve a one-version-stale
    view on the FIRST call only — the deterministic image of 'another
    writer committed between my head derivation and my manifest
    claim'."""
    real = module.list_versions
    calls = {"n": 0}

    def flaky(p):
        vs = real(p)
        calls["n"] += 1
        if calls["n"] == 1 and len(vs) > 1:
            return vs[:-1]
        return vs

    monkeypatch.setattr(module, "list_versions", flaky)


def test_overwrite_retry_wins_after_stale_head(spark, table, monkeypatch):
    """Deterministic conflict: the writer derives a stale head, loses
    the exclusive create to the concurrent commit, and with retries=1
    re-derives and lands on the next version; with retries=0 the same
    situation surfaces SnapshotConflict to the caller."""
    from nyc_taxi_data_warehouse_spark.warehouse import snapshots as S

    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    snapshot_write(_df(spark, [(2, 2, "b")]), table, mode="append")  # v2

    _stale_once(monkeypatch, S)
    v = snapshot_write(_df(spark, [(9, 9, "z")]), table, retries=1)
    assert v == 3
    assert [r.id for r in read_snapshot(spark, table).collect()] == [9]

    _stale_once(monkeypatch, S)
    with pytest.raises(SnapshotConflict):
        snapshot_write(_df(spark, [(8, 8, "y")]), table, mode="append")


def test_append_retry_composes_with_concurrent_delete(spark, table, monkeypatch):
    """An append that retries against a head containing a concurrent
    DELETE's rewrite must not resurrect the deleted rows: the union is
    taken against the NEW parent's file list."""
    from nyc_taxi_data_warehouse_spark.warehouse import snapshots as S
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
    )

    snapshot_write(_df(spark, [(1, 1, "a"), (2, 2, "b")]), table)
    snapshot_delete(spark, table, {"id": [1]}, mode="rewrite")  # v2 = concurrent DML

    _stale_once(monkeypatch, S)
    v = snapshot_write(
        _df(spark, [(3, 3, "c")]), table, mode="append", retries=2
    )
    assert v == 3
    got = sorted(r.id for r in read_snapshot(spark, table).collect())
    assert got == [2, 3]  # deleted row stays dead, append landed


def test_replace_retry_composes_but_detects_write_write(
    spark, table, monkeypatch
):
    """replace_partitions(retries=N): a concurrent commit to OTHER
    partitions composes on retry (carried set recomputed from the new
    head); a concurrent change INSIDE a touched partition is a true
    write-write conflict and raises despite retries left."""
    from nyc_taxi_data_warehouse_spark.warehouse import snapshots as S

    base = _df(spark, [(1, 1, "m1"), (2, 2, "m2"), (3, 3, "m3")])
    snapshot_write(base, table, partition_cols=["month"])
    # concurrent commit replacing month=3 (disjoint from our month=1)
    snapshot_replace_partitions(
        _df(spark, [(30, 3, "m3-new")]), table, ["month"]
    )  # v2

    _stale_once(monkeypatch, S)
    v = snapshot_replace_partitions(
        _df(spark, [(10, 1, "m1-new")]), table, ["month"], retries=2
    )
    assert v == 3
    got = sorted(
        (r.id, r.month) for r in read_snapshot(spark, table).collect()
    )
    assert got == [(2, 2), (10, 1), (30, 3)]  # both replacements landed

    # concurrent commit inside OUR touched partition: write-write
    snapshot_replace_partitions(
        _df(spark, [(21, 2, "m2-theirs")]), table, ["month"]
    )  # v4
    _stale_once(monkeypatch, S)
    with pytest.raises(SnapshotConflict, match="write-write"):
        snapshot_replace_partitions(
            _df(spark, [(22, 2, "m2-ours")]), table, ["month"], retries=5
        )
    # their write survived untouched
    got = sorted(
        (r.id, r.month) for r in read_snapshot(spark, table).collect()
    )
    assert got == [(10, 1), (21, 2), (30, 3)]


def test_timestamp_time_travel(spark, table):
    """read_snapshot(at_timestamp=...) resolves through the manifests'
    committed_at_ms: between-commit timestamps serve the earlier
    version, pre-history timestamps refuse (vacuum may have dropped
    what was live then), and datetime/ISO/epoch forms all resolve."""
    import datetime as dt
    import time

    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_version_at,
    )

    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    t1 = time.time()
    time.sleep(0.05)
    snapshot_write(_df(spark, [(2, 2, "b")]), table, mode="append")
    time.sleep(0.05)
    t2 = time.time()

    assert snapshot_version_at(spark, table, t1) == 1
    assert snapshot_version_at(spark, table, t2) == 2
    assert [
        r.id for r in read_snapshot(spark, table, at_timestamp=t1).collect()
    ] == [1]
    assert sorted(
        r.id for r in read_snapshot(spark, table, at_timestamp=t2).collect()
    ) == [1, 2]
    # datetime and ISO forms
    assert snapshot_version_at(
        spark, table, dt.datetime.fromtimestamp(t2)
    ) == 2
    assert snapshot_version_at(
        spark, table, dt.datetime.fromtimestamp(t2).isoformat()
    ) == 2
    with pytest.raises(FileNotFoundError, match="existed at or before"):
        snapshot_version_at(spark, table, t1 - 3600)
    with pytest.raises(ValueError, match="not both"):
        read_snapshot(spark, table, version=1, at_timestamp=t1)


def test_timestamp_time_travel_legacy_manifest_fallback(spark, table):
    """Manifests written before committed_at_ms existed resolve via
    the manifest FILE's modification time."""
    import json as _json
    import time

    from nyc_taxi_data_warehouse_spark.warehouse import snapshots as S

    snapshot_write(_df(spark, [(1, 1, "a")]), table)
    # strip the field, rewriting the manifest in place (legacy image)
    fs, jvm = S._fs(spark, table)
    jp = S._jp(jvm, table, S.VDIR, "00000001.json")
    man = load_manifest(table, 1)
    man.pop("committed_at_ms")
    fs.delete(jp, False)
    out = fs.create(jp, True)
    out.write(bytearray(_json.dumps(man, sort_keys=True).encode()))
    out.close()
    assert S.snapshot_version_at(spark, table, time.time()) == 1


def test_timestamp_travel_refuses_retention_gap(spark, table):
    """Tag-pinned vacuum leaves a GAP in the retained chain; a ts whose
    live version fell in the gap must refuse (the dropped versions'
    commit times are gone with their manifests), not silently serve
    the older tagged version. Timestamps at or after the gap's far
    edge resolve normally."""
    import json as _json
    import os

    from nyc_taxi_data_warehouse_spark.warehouse.branching import create_tag
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_version_at,
    )

    for i in range(5):
        snapshot_write(
            _df(spark, [(i, i, "x")]), table,
            mode="append" if i else "overwrite",
        )
    # deterministic, well-separated commit times: v(N) at N*1000 ms
    for v in range(1, 6):
        mp = os.path.join(table, "_versions", f"{v:08d}.json")
        with open(mp) as f:
            man = _json.load(f)
        man["committed_at_ms"] = v * 1000
        with open(mp, "w") as f:
            _json.dump(man, f)
        # out-of-band rewrite invalidates Hadoop's local checksum
        crc = os.path.join(table, "_versions", f".{v:08d}.json.crc")
        if os.path.exists(crc):
            os.remove(crc)
    create_tag(spark, table, "pin", version=2)
    vacuum_snapshots(spark, table, keep_last=2)  # retained: [2, 4, 5]
    assert snapshot_versions(spark, table) == [
        {**h, "version": h["version"]} for h in snapshot_versions(spark, table)
    ]  # sanity: API still serves
    assert [h["version"] for h in snapshot_versions(spark, table)] == [2, 4, 5]
    # after the gap: normal resolution (parent linkage intact 4 -> 5)
    assert snapshot_version_at(spark, table, 4.5) == 4
    assert snapshot_version_at(spark, table, 99.0) == 5
    # inside the gap (v3 was live at 3.5 but is vacuumed): refuse —
    # and conservatively also just after t(v2), where v2 *was* live
    # but the dropped v3's commit time can no longer prove it
    for ts in (3.5, 2.5):
        with pytest.raises(FileNotFoundError, match="vacuumed"):
            snapshot_version_at(spark, table, ts)
    # before all history: the existing oldest-retained refusal
    with pytest.raises(FileNotFoundError, match="existed at or before"):
        snapshot_version_at(spark, table, 0.5)


def test_stats_and_bloom_fail_loud_on_encoding_drift(spark, table, tmp_path, monkeypatch):
    """If _uri_encode_relpath ever stops mirroring Spark's
    _metadata.file_path encoding (a Spark upgrade), stats collection
    and Bloom row building must fail at build time — never silently
    key a non-empty file as 'provably excludable' or 'covered but
    empty'."""
    import nyc_taxi_data_warehouse_spark.warehouse.snapshots as snap
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        build_snapshot_bloom_index,
    )

    snapshot_write(_df(spark, [(1, 1, "a"), (2, 2, "b")]), table)
    man_files = load_manifest(table, 1)["files"]
    monkeypatch.setattr(
        snap, "_uri_encode_relpath", lambda rel: "DRIFTED/" + rel
    )
    with pytest.raises(RuntimeError, match="matches no manifest relpath"):
        snap.collect_file_stats(spark, table, man_files, ["id"])
    with pytest.raises(Exception, match="no manifest relpath"):
        build_snapshot_bloom_index(
            spark, table, "id", str(tmp_path / "drift_bloom")
        )


def test_schema_ddl_add_and_drop_column(spark, table):
    """Metadata-only ALTER: add surfaces NULL on old rows and rides
    new writes; drop projects the column away (bytes stay until
    compact), strips its stats, keeps time travel; partition columns
    and duplicates refuse. Zero data movement either way."""
    import glob

    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_add_column,
        snapshot_compact,
        snapshot_drop_column,
        snapshot_update,
        snapshot_write,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
        load_manifest,
    )

    snapshot_write(
        _df(spark, [(1, 0, "a"), (2, 1, "b")]),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    files_before = set(
        glob.glob(os.path.join(table, "data", "**", "*.parquet"),
                  recursive=True)
    )
    v2 = snapshot_add_column(spark, table, "score", "double")
    # metadata-only: not one data file moved
    assert set(
        glob.glob(os.path.join(table, "data", "**", "*.parquet"),
                  recursive=True)
    ) == files_before
    got = read_snapshot(spark, table)
    assert [f.name for f in got.schema.fields] == ["id", "month", "v", "score"]
    assert sorted((r.id, r.score) for r in got.collect()) \
        == [(1, None), (2, None)]
    # refusals
    with pytest.raises(ValueError, match="already exists"):
        snapshot_add_column(spark, table, "score", "int")
    with pytest.raises(ValueError, match="reserved"):
        snapshot_add_column(spark, table, "_dv_file", "string")
    with pytest.raises(ValueError, match="partition column"):
        snapshot_drop_column(spark, table, "month")
    with pytest.raises(ValueError, match="does not exist"):
        snapshot_drop_column(spark, table, "nope")
    # stats for a dropped stats-col are stripped; other cols' survive
    v3 = snapshot_drop_column(spark, table, "id")
    man3 = load_manifest(table, v3)
    assert man3.get("stats_cols") == []
    assert all("id" not in st for st in man3.get("stats", {}).values())
    got = read_snapshot(spark, table)
    assert [f.name for f in got.schema.fields] == ["month", "v", "score"]
    # time travel below the drop still reads the column
    assert sorted(
        r.id for r in read_snapshot(spark, table, version=v2).collect()
    ) == [1, 2]
    # new writes carry the added column; old files still null-fill
    snapshot_write(
        spark.createDataFrame(
            [(0, "c", 0.5)], "month int, v string, score double"
        ),
        table, mode="append", partition_cols=["month"],
    )
    assert sorted(
        (r.v, r.score) for r in read_snapshot(spark, table).collect()
    ) == [("a", None), ("b", None), ("c", 0.5)]
    snapshot_drop_column(spark, table, "v")
    # DML after the alters works on the current schema
    snapshot_update(
        spark, table, {"score": [0.5]}, {"score": None}, mode="rewrite",
    )
    assert sorted(
        (r.month, r.score) for r in read_snapshot(spark, table).collect()
    ) == [(0, None), (0, None), (1, None)]
    # compact physically sheds the dropped columns
    snapshot_compact(spark, table)
    got = read_snapshot(spark, table)
    assert [f.name for f in got.schema.fields] == ["month", "score"]
    assert got.count() == 3


def test_snapshot_alter_cli(spark, table, capsys):
    import json as _json

    from nyc_taxi_data_warehouse_spark.__main__ import main

    snapshot_write(_df(spark, [(1, 0, "a")]), table)
    assert main(
        ["snapshot-alter", "--table-path", table, "--add", "score:double"],
        spark=spark,
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["added"] == "score"
    assert main(
        ["snapshot-alter", "--table-path", table, "--drop", "v"],
        spark=spark,
    ) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["dropped"] == "v"
    got = read_snapshot(spark, table)
    assert [f.name for f in got.schema.fields] == ["id", "month", "score"]


def test_schema_ddl_change_feed_and_stream_classification(spark, table):
    """An alter commit moves zero files: the row-level change feed
    emits nothing for it (pre-alter commits read under the target
    schema — added columns null-fill, dropped columns project away),
    and the insert-only streaming feed passes it as an empty append
    even under onNonAppend=fail."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_add_column,
        snapshot_changes,
        snapshot_drop_column,
    )

    snapshot_write(_df(spark, [(1, 0, "a")]), table, partition_cols=["month"])
    snapshot_add_column(spark, table, "score", "double")       # v2
    snapshot_write(
        spark.createDataFrame(
            [(2, 1, "b", 0.5)],
            "id long, month int, v string, score double",
        ),
        table, mode="append", partition_cols=["month"],
    )                                                          # v3
    snapshot_drop_column(spark, table, "v")                    # v4
    ch = snapshot_changes(spark, table, from_version=0)
    rows = sorted(
        (r.id, r.score, r._change_type, r._commit_version)
        for r in ch.collect()
    )
    # only the two data commits appear; the target (v4) schema applies
    assert rows == [(1, None, "insert", 1), (2, 0.5, "insert", 3)]
    assert [f.name for f in ch.schema.fields] == [
        "id", "month", "score", "_change_type", "_commit_version",
    ]


def test_metadata_tables_files_and_history(spark, table):
    """snapshot_files / snapshot_history: the operational metadata
    surface as DataFrames — file sizes, partition values, tombstone
    flags, per-file stats, and per-commit annotations, all queryable
    with ordinary Spark SQL."""
    import json as _json

    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_delete,
        snapshot_files,
        snapshot_history,
        snapshot_write,
    )

    # one file per partition dir, several ids each: the delete below
    # must hit a MIXED file so a tombstone is actually written (a
    # single-valued file would full-drop by stats proof instead)
    snapshot_write(
        _df(spark, [(i, i % 2, f"a{i}") for i in range(8)]).coalesce(1),
        table, partition_cols=["month"], stats_cols=["id"],
    )
    snapshot_delete(spark, table, {"id": [0]}, mode="dv")
    files = snapshot_files(spark, table)
    rows = files.collect()
    assert all(r.bytes > 0 for r in rows)
    pvs = { _json.loads(r.partition_values)["month"] for r in rows }
    assert pvs == {"0", "1"}
    # tombstone flag marks exactly the targeted files
    assert files.where("has_tombstones").count() >= 1
    tomb_pv = {
        _json.loads(r.partition_values)["month"]
        for r in files.where("has_tombstones").collect()
    }
    assert tomb_pv == {"0"}
    # stats ride as JSON and are queryable
    st = _json.loads(rows[0].stats)
    # numeric columns carry [min, max, nulls, sum]; the sum powers
    # metadata-planned SUM in snapshot_agg
    assert "id" in st and len(st["id"]) == 4
    # time travel: v1 has no tombstoned files
    assert snapshot_files(spark, table, version=1) \
        .where("has_tombstones").count() == 0
    with pytest.raises(FileNotFoundError):
        snapshot_files(spark, table, version=42)

    hist = snapshot_history(spark, table).collect()
    assert [(h.version, h.op) for h in hist] \
        == [(1, "overwrite"), (2, "delete_rows_dv")]
    assert hist[1].n_dv_files == 1 and hist[1].parent == 1
    extras = _json.loads(hist[1].extras)
    assert extras["dv_rows_added"] == 1
