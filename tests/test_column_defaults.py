"""INITIAL defaults for ADD COLUMN (Iceberg-v3 semantics).

The contract under test: a column added with a default reads that
value for rows of files that PHYSICALLY lack the column (written
before the add), while rows written after the add keep what they
stored — including genuine NULLs. Physical absence is the per-file
marker, so the default costs zero data movement and no per-row
bookkeeping, and it must flow through every read surface: plain reads,
the long-history flat path, DML predicates, metadata MIN/MAX and
COUNT(col), the change feed, and the streaming source.
"""

from __future__ import annotations

import json

import pytest

from nyc_taxi_data_warehouse_spark.warehouse.eqdeletes import (
    snapshot_delete_keys,
)
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    snapshot_add_column,
    snapshot_agg,
    snapshot_changes,
    snapshot_compact,
    snapshot_delete,
    snapshot_drop_column,
    snapshot_rename_column,
    snapshot_write,
)
from nyc_taxi_data_warehouse_spark.warehouse.manifestlog import (
    list_versions,
    load_manifest,
)


def _bag(df, *cols):
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    )


def _man(spark, path):
    return load_manifest(path, list_versions(path)[-1])


def test_default_fills_old_files_only(spark, tmp_path):
    t = str(tmp_path / "t")
    v1 = snapshot_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string"),
        t,
    )
    snapshot_add_column(spark, t, "lang", "string", default="en")
    assert _man(spark, t)["defaults"] == {"lang": "en"}
    # old rows read the default
    assert _bag(read_snapshot(spark, t), "id", "lang") == [
        (1, "en"), (2, "en")
    ]
    # travel below the add: column absent entirely
    assert "lang" not in read_snapshot(spark, t, version=v1).columns

    # post-add rows keep what they stored — INCLUDING genuine NULL
    snapshot_write(
        spark.createDataFrame(
            [(3, "c", "fr"), (4, "d", None)],
            "id int, name string, lang string",
        ),
        t,
        mode="append",
    )
    assert _bag(read_snapshot(spark, t), "id", "lang") == [
        (1, "en"), (2, "en"), (3, "fr"), (4, None)
    ]

    # refusals: non-scalar, uncastable
    with pytest.raises(ValueError, match="plain scalar"):
        snapshot_add_column(spark, t, "x", "int", default=[1])
    with pytest.raises(ValueError, match="does not cast"):
        snapshot_add_column(spark, t, "y", "int", default="abc")


@pytest.mark.slowproof
def test_default_through_flat_path_and_dml(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(0, 0)], "id int, amt int"), t
    )
    snapshot_add_column(spark, t, "score", "int", default=7)
    # > _FLAT_READ_THRESHOLD commits so the flat path would engage —
    # the must_have probe detects the pre-add file and keeps the
    # per-commit fill
    for i in range(1, 11):
        snapshot_write(
            spark.createDataFrame(
                [(i, i, i * 10)], "id int, amt int, score int"
            ),
            t,
            mode="append",
        )
    got = _bag(read_snapshot(spark, t), "id", "score")
    assert got == [(0, 7)] + [(i, i * 10) for i in range(1, 11)]

    # DML predicate on the DEFAULT value erases the pre-add row
    v, n = snapshot_delete(spark, t, {"score": [7]})
    assert n == 1
    assert _bag(read_snapshot(spark, t).where("id = 0"), "id") == []


def test_default_in_metadata_aggregates_and_feed(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1,), (2,)], "id int"), t
    )
    snapshot_add_column(spark, t, "score", "int", default=100)
    snapshot_write(
        spark.createDataFrame([(3, 5)], "id int, score int"),
        t,
        mode="append",
    )
    # pre-add rows contribute the DEFAULT to min/max and count(col)
    assert snapshot_agg(
        spark, t, [("min", "score"), ("max", "score")]
    )[0] == (5, 100)
    assert snapshot_agg(spark, t, [("count", "score")])[0][0] == 3

    # the change feed EMITS the add's retroactive change (delete of
    # the NULL image + insert of the defaulted image) — add-with-
    # default is not row-neutral, and exact replay demands the delta
    ch = snapshot_changes(spark, t, from_version=0).collect()
    bag: list = []
    for r in sorted(ch, key=lambda r: (r["_commit_version"],
                                       r["_change_type"])):
        tup = (r["id"], r["score"])
        if r["_change_type"] == "delete":
            assert tup in bag, tup
            bag.remove(tup)
        else:
            bag.append(tup)
    assert sorted(bag) == [(1, 100), (2, 100), (3, 5)]
    # the retroactive frames are visible at the add commit's version
    assert any(
        r["_change_type"] == "delete" and r["_commit_version"] == 2
        for r in ch
    )


@pytest.mark.slowproof
def test_default_streams_and_survives_rename(spark, tmp_path):
    """The stream classifies add-with-default on a NON-EMPTY table as
    non-append (it retroactively changes rows — inexpressible on an
    insert-only feed); on an EMPTY table it passes, and later pre-add
    replays fill per the adding version's map. A rename of the
    defaulted column never detaches the fill (physical-keyed)."""
    from nyc_taxi_data_warehouse_spark.streaming.snapshot_source import (
        read_snapshot_stream,
    )

    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    snapshot_write(
        spark.createDataFrame([(1,)], "id int"), t
    )
    snapshot_add_column(spark, t, "score", "int", default=9)
    # a RENAME of the defaulted column: the default is keyed by the
    # frozen physical name and keeps filling on the batch surface
    snapshot_rename_column(spark, t, "score", "points")
    assert _bag(read_snapshot(spark, t), "id", "points") == [(1, 9)]
    assert _man(spark, t)["defaults"] == {"score": 9}

    # default (fail) mode: the non-empty add refuses loudly
    with pytest.raises(Exception, match="retroactively changes"):
        (
            read_snapshot_stream(spark, t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    # skip mode drains: the pre-add file keeps its streamed-time fill
    # (NULL — the adding version had no default), post-add appends
    # stream their real values; the documented staleness trade
    snapshot_write(
        spark.createDataFrame([(2, 7)], "id int, points int"),
        t,
        mode="append",
    )
    out2 = str(tmp_path / "out2")
    ckpt2 = str(tmp_path / "ckpt2")
    (
        read_snapshot_stream(spark, t, on_non_append="skip")
        .writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert _bag(spark.read.parquet(out2), "id", "points") == [
        (1, None), (2, 7)
    ]


@pytest.mark.slowproof
def test_default_lifecycle_drop_compact_eq(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1,), (2,)], "id int"), t
    )
    snapshot_add_column(spark, t, "grp", "int", default=5)

    # equality delete KEYED on the defaulted column kills pre-add rows
    snapshot_delete_keys(
        spark, t, spark.createDataFrame([(5,)], "grp int")
    )
    assert _bag(read_snapshot(spark, t), "id") == []
    snapshot_write(
        spark.createDataFrame([(3, 6)], "id int, grp int"),
        t,
        mode="append",
    )

    # untargeted compact MATERIALIZES the default and sheds the entry
    snapshot_compact(spark, t, target_mb=1)
    assert "defaults" not in _man(spark, t)
    assert _bag(read_snapshot(spark, t), "id", "grp") == [(3, 6)]

    # drop of a defaulted column sheds its entry too
    snapshot_add_column(spark, t, "tag", "string", default="x")
    assert _man(spark, t)["defaults"] == {"tag": "x"}
    snapshot_drop_column(spark, t, "tag")
    assert "defaults" not in _man(spark, t)


def test_bloom_refuses_defaulted_key(spark, tmp_path):
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        build_snapshot_bloom_index,
    )

    t = str(tmp_path / "t")
    idx = str(tmp_path / "idx")
    snapshot_write(
        spark.createDataFrame([(1,)], "id int"), t
    )
    snapshot_add_column(spark, t, "user", "string", default="anon")
    with pytest.raises(ValueError, match="INITIAL default"):
        build_snapshot_bloom_index(spark, t, "user", idx)
    # after a materializing compact the refusal clears
    snapshot_compact(spark, t, target_mb=1)
    assert build_snapshot_bloom_index(spark, t, "user", idx) >= 1


def test_cli_add_with_default(spark, tmp_path, capsys):
    from nyc_taxi_data_warehouse_spark.__main__ import main

    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1,)], "id int"), t
    )
    main(
        [
            "snapshot-alter", "--table-path", t,
            "--add", "score:int", "--default", "42",
        ],
        spark=spark,
    )
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(out) == {"version": 2, "added": "score"}
    assert _bag(read_snapshot(spark, t), "id", "score") == [(1, 42)]


def test_count_matches_read_under_defaulted_eq_key(spark, tmp_path):
    """Review finding: the COUNT path's eq-affected scan must fill
    defaults like every other read — an eq delete keyed on a defaulted
    column masks pre-add rows everywhere or nowhere."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import snapshot_agg

    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1,), (2,)], "id int"), t
    )
    snapshot_add_column(spark, t, "grp", "int", default=5)
    snapshot_delete_keys(
        spark, t, spark.createDataFrame([(5,)], "grp int")
    )
    assert read_snapshot(spark, t).count() == 0
    assert snapshot_agg(spark, t, [("count", "*")])[0][0] == 0


def test_feed_and_stream_fill_history_below_materializing_compact(
    spark, tmp_path
):
    """Review findings: defaults resolve PER VERSION. After an
    untargeted compact materializes them and sheds the entries, a feed
    (or stream) replaying pre-compact history must still fill what
    those versions showed — and the row-neutral compact must keep
    emitting nothing."""
    from nyc_taxi_data_warehouse_spark.streaming.snapshot_source import (
        read_snapshot_stream,
    )

    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1,)], "id int"), t
    )
    snapshot_add_column(spark, t, "score", "int", default=9)
    snapshot_compact(spark, t, target_mb=1)
    assert "defaults" not in _man(spark, t)

    ch = snapshot_changes(spark, t, from_version=0).collect()
    # replay: v1 inserts the NULL image, v2 (the add) retroactively
    # swaps it for the defaulted image, v3 (the materializing compact)
    # cancels to zero because BOTH sides read 9 — the delete under the
    # parent's still-active defaults, the insert from the physical file
    bag: list = []
    for r in sorted(ch, key=lambda r: (r["_commit_version"],
                                       r["_change_type"])):
        tup = (r["id"], r["score"])
        if r["_change_type"] == "delete":
            assert tup in bag, tup
            bag.remove(tup)
        else:
            bag.append(tup)
    assert bag == [(1, 9)]
    assert not any(r["_commit_version"] == 3 for r in ch), (
        "the materializing compact must emit nothing"
    )

    # verify mode refuses the rows-changing add commit loudly
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(Exception, match="retroactively changes"):
        (
            read_snapshot_stream(spark, t, on_non_append="verify")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def test_bloom_guard_mirrors_on_sync_and_read(spark, tmp_path):
    """Review finding: defaults can RE-ENTER the live state after a
    successful build (restore below the materializing compact) — sync
    and read must refuse as loudly as build does, or lookups silently
    miss the defaulted rows."""
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        build_snapshot_bloom_index,
        read_snapshot_with_bloom,
        sync_bloom_with_snapshot,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_restore,
    )

    t = str(tmp_path / "t")
    idx = str(tmp_path / "idx")
    snapshot_write(
        spark.createDataFrame([(1,)], "id int"), t
    )
    v_def = snapshot_add_column(spark, t, "user", "string", default="anon")
    snapshot_compact(spark, t, target_mb=1)
    assert build_snapshot_bloom_index(spark, t, "user", idx) >= 1

    snapshot_restore(spark, t, v_def)  # defaults live again
    with pytest.raises(ValueError, match="INITIAL default"):
        sync_bloom_with_snapshot(spark, t, idx)
    with pytest.raises(ValueError, match="INITIAL default"):
        read_snapshot_with_bloom(spark, t, idx, ["anon"])


def test_append_retry_keeps_captured_defaults_under_drop_race(
    spark, tmp_path
):
    """Review finding: the captured-tuple rule extends to defaults — an
    append whose schema still carries a defaulted column must commit
    the defaults captured WITH that schema, not inherit a racing
    drop's pruned state (which would turn pre-add rows NULL)."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_replace_partitions,
    )

    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 0)], "id int, month int"),
        t,
        partition_cols=["month"],
    )
    snapshot_add_column(spark, t, "score", "int", default=9)

    def drop_then_extra():
        snapshot_drop_column(spark, t, "score")
        return {}

    snapshot_replace_partitions(
        spark.createDataFrame(
            [(2, 1, 5)], "id int, month int, score int"
        ),
        t,
        partition_cols=["month"],
        extra=drop_then_extra,
        retries=1,
    )
    # the captured tuple won: score is back WITH its default — the
    # pre-add row reads 9, never NULL
    assert _man(spark, t)["defaults"] == {"score": 9}
    assert _bag(read_snapshot(spark, t), "id", "score") == [
        (1, 9), (2, 5)
    ]


def test_default_is_stored_cast_normalized(spark, tmp_path):
    """Review finding: the stored default is the CAST-NORMALIZED value
    (7.5 → int 7), so the streaming source's stricter Arrow cast fills
    the same bytes as the batch reads; non-JSON-scalar targets
    (decimal) refuse."""
    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1,)], "id int"), t
    )
    snapshot_add_column(spark, t, "score", "int", default=7.5)
    assert _man(spark, t)["defaults"] == {"score": 7}
    assert _bag(read_snapshot(spark, t), "id", "score") == [(1, 7)]
    with pytest.raises(ValueError, match="unsupported"):
        snapshot_add_column(spark, t, "d", "decimal(10,2)", default=1.5)


def test_cli_default_refusals(spark, tmp_path, capsys):
    from nyc_taxi_data_warehouse_spark.__main__ import main

    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 10)], "id int, amt int"), t
    )
    with pytest.raises(SystemExit, match="only applies with --add"):
        main(
            [
                "snapshot-alter", "--table-path", t,
                "--widen", "amt:bigint", "--default", "0",
            ],
            spark=spark,
        )
    with pytest.raises(SystemExit, match="JSON scalar"):
        main(
            [
                "snapshot-alter", "--table-path", t,
                "--add", "lang:string", "--default", "en",
            ],
            spark=spark,
        )
    with pytest.raises(SystemExit, match="null"):
        main(
            [
                "snapshot-alter", "--table-path", t,
                "--add", "lang:string", "--default", "null",
            ],
            spark=spark,
        )


def test_feed_no_double_emit_defaults_growth_with_dv(spark, tmp_path):
    """Restore-FORWARD across a commit range that both grows the
    defaults set and adds a DV must emit each tombstoned row exactly
    once (advisor repro, round 9): the retroactive-defaults override
    expands added/removed to the whole carried state, whose exceptAll
    diff already reports the DV'd rows as deletes — the dv-delta leg
    must not emit them a second time at the same _commit_version."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_restore,
    )

    t = str(tmp_path / "t")
    v1 = snapshot_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string"),
        t,
    )
    snapshot_add_column(spark, t, "score", "int", default=5)
    v3 = _man(spark, t)["version"]
    snapshot_delete(spark, t, {"id": [2]}, mode="dv")
    v_dv = _man(spark, t)["version"]
    snapshot_restore(spark, t, v1)
    v_back = _man(spark, t)["version"]
    snapshot_restore(spark, t, v_dv)
    v_fwd = _man(spark, t)["version"]
    assert v3 != v_dv  # sanity: distinct commits

    ch = snapshot_changes(spark, t, from_version=v_back).collect()
    # the forward restore's parent holds {(1,a),(2,b)} with no score;
    # its child holds {(1,a,5)} — so net: delete both old images,
    # insert the surviving defaulted one. Each exactly once.
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["name"])
        for r in ch
    )
    assert got == [
        (v_fwd, "delete", 1, "a"),
        (v_fwd, "delete", 2, "b"),
        (v_fwd, "insert", 1, "a"),
    ], got

    # bag-replay bridge: state@v_back + changes == state@latest
    base = sorted(
        (r["id"], r["name"])
        for r in read_snapshot(spark, t, version=v_back).collect()
    )
    final = sorted(
        (r["id"], r["name"], r["score"])
        for r in read_snapshot(spark, t).collect()
    )
    bag = [(i, n, None) for i, n in base]
    for r in ch:
        tup = (r["id"], r["name"], r["score"])
        if r["_change_type"] == "delete":
            key = (tup[0], tup[1])
            # deletes of pre-add images carry score=NULL under the
            # parent's (default-free) read
            assert any((b[0], b[1]) == key for b in bag), tup
            bag.remove(next(b for b in bag if (b[0], b[1]) == key))
        else:
            bag.append(tup)
    assert sorted(bag) == final


def test_history_extras_omit_inherited_defaults(spark, tmp_path):
    """Only the add_column commit annotates its default; carried table
    state (the inherited defaults map) must stay out of every later
    row's extras JSON (advisor finding, round 9)."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_history,
    )

    t = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, "a")], "id int, name string"), t
    )
    snapshot_add_column(spark, t, "score", "int", default=7)
    snapshot_write(
        spark.createDataFrame(
            [(2, "b", 1)], "id int, name string, score int"
        ),
        t,
        mode="append",
    )
    hist = {
        r["version"]: json.loads(r["extras"]) if r["extras"] else {}
        for r in snapshot_history(spark, t).collect()
    }
    vs = sorted(hist)
    # the append (last commit) inherits the defaults map but must not
    # surface it as an op annotation
    assert "defaults" not in hist[vs[-1]], hist[vs[-1]]
    # the add_column commit keeps its own op-specific annotation
    assert any(
        "default" in ex or "add_column" in json.dumps(ex)
        for ex in hist.values()
    ), hist
