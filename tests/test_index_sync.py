"""Warehouse-DML → search-index propagation via the change feed
(operators/search.sync_postings_from_snapshot): appends, updates,
redactions, deletes, and restores on a snapshot documents table reach
the postings index as one stream of row changes, converging to exactly
the index a full rebuild from the latest version produces."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.operators.search import (
    postings,
    set_postings_sync_cursor,
    sync_postings_from_snapshot,
    write_postings_index,
)
from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
    read_snapshot,
    snapshot_delete,
    snapshot_restore,
    snapshot_update,
    snapshot_write,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _index_rows(spark, path):
    return sorted(
        map(
            tuple,
            spark.read.parquet(path)
            .select("term", "doc_id", "tf")
            .collect(),
        )
    )


def _rebuild(spark, table, tmp_path, name):
    ref = str(tmp_path / name)
    write_postings_index(
        postings(read_snapshot(spark, table), "text", "doc_id"), ref
    )
    return _index_rows(spark, ref)


@pytest.mark.slowproof
def test_sync_follows_all_dml(spark, tmp_path):
    table = str(tmp_path / "docs_tbl")
    idx = str(tmp_path / "postings_idx")
    v1 = snapshot_write(
        _docs(
            spark,
            [
                (1, "alpha beta gamma"),
                (2, "beta delta"),
                (3, "secret token epsilon"),
            ],
        ),
        table, stats_cols=["doc_id"],
    )
    write_postings_index(
        postings(read_snapshot(spark, table), "text", "doc_id"), idx
    )
    set_postings_sync_cursor(spark, idx, v1)

    # DML storm: append, redact (update), delete
    snapshot_write(
        _docs(spark, [(4, "zeta alpha")]), table, mode="append"
    )
    snapshot_update(
        spark, table, {"doc_id": [3]}, {"text": "redacted"}, mode="rewrite",
    )
    snapshot_delete(spark, table, {"doc_id": [2]}, mode="rewrite")

    res = sync_postings_from_snapshot(spark, table, idx)
    assert res["docs_upserted"] == 2  # doc 4 (new) + doc 3 (update)
    assert res["docs_deleted"] == 1  # doc 2
    assert _index_rows(spark, idx) == _rebuild(spark, table, tmp_path, "ref1")
    # the redacted doc's old terms are gone from the index
    assert (
        spark.read.parquet(idx)
        .where((F.col("term") == "secret") | (F.col("term") == "epsilon"))
        .count()
        == 0
    )

    # idempotent: nothing new -> no-op, cursor stable
    res2 = sync_postings_from_snapshot(spark, table, idx)
    assert (res2["docs_upserted"], res2["docs_deleted"]) == (0, 0)
    assert res2["synced_to"] == res["synced_to"]

    # a restore propagates too: roll the table back to v1
    snapshot_restore(spark, table, v1)
    res3 = sync_postings_from_snapshot(spark, table, idx)
    assert res3["docs_deleted"] == 1  # doc 4 disappears again
    assert _index_rows(spark, idx) == _rebuild(spark, table, tmp_path, "ref2")


def test_sync_requires_cursor_and_update_in_one_range(spark, tmp_path):
    import pytest

    table = str(tmp_path / "docs_tbl2")
    idx = str(tmp_path / "idx2")
    snapshot_write(_docs(spark, [(1, "one two")]), table)
    write_postings_index(
        postings(read_snapshot(spark, table), "text", "doc_id"), idx
    )
    with pytest.raises(ValueError, match="synced_version"):
        sync_postings_from_snapshot(spark, table, idx)
    set_postings_sync_cursor(spark, idx, 1)
    # insert-then-delete of the same doc inside one sync range nets to
    # absent; delete-then-reinsert nets to present
    snapshot_write(_docs(spark, [(9, "ephemeral words")]), table,
                   mode="append")
    snapshot_delete(spark, table, {"doc_id": [9]}, mode="rewrite")
    snapshot_delete(spark, table, {"doc_id": [1]}, mode="rewrite")
    snapshot_write(_docs(spark, [(1, "one again")]), table, mode="append")
    sync_postings_from_snapshot(spark, table, idx)
    assert _index_rows(spark, idx) == _rebuild(spark, table, tmp_path, "ref3")
    got_terms = {r["term"] for r in spark.read.parquet(idx).collect()}
    assert "ephemeral" not in got_terms
    assert "again" in got_terms


@pytest.mark.slowproof
def test_ivf_sync_follows_all_dml(spark, tmp_path):
    """Embedding-table DML (append, vector update with cell migration,
    delete, restore) reaches the IVF index via the change feed; probes
    against the synced index equal probes against a full rebuild."""
    from nyc_taxi_data_warehouse_spark.operators.similarity import (
        ivf_topk_from_index,
        set_ivf_sync_cursor,
        sync_ivf_from_snapshot,
        write_ivf_index,
    )

    def vecs(spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    table = str(tmp_path / "emb_tbl")
    idx = str(tmp_path / "ivf_idx")
    cents = vecs(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    v1 = snapshot_write(
        vecs(spark, [(10, [0.9, 0.1]), (11, [0.1, 0.9]), (12, [0.8, 0.2])]),
        table, stats_cols=["vec_id"],
    )
    write_ivf_index(read_snapshot(spark, table), cents, idx)
    set_ivf_sync_cursor(spark, idx, v1)

    # DML storm: append a new vector; delete one; update vector 10 with
    # a CELL MIGRATION expressed as append-new-image, delete-all-images
    # (both coexist between the two — bag semantics), re-append — the
    # feed's per-id last-change resolution must land on the final image
    snapshot_write(vecs(spark, [(13, [0.7, 0.3])]), table, mode="append")
    snapshot_delete(spark, table, {"vec_id": [12]}, mode="rewrite")
    snapshot_write(vecs(spark, [(10, [0.05, 0.95])]), table, mode="append")
    snapshot_delete(spark, table, {"vec_id": [10]}, mode="rewrite")
    snapshot_write(vecs(spark, [(10, [0.05, 0.95])]), table, mode="append")

    res = sync_ivf_from_snapshot(spark, table, idx, cents)
    assert res["vecs_deleted"] >= 1

    q = vecs(spark, [(900, [0.0, 1.0]), (901, [1.0, 0.0])])
    got = sorted(
        map(
            tuple,
            ivf_topk_from_index(
                spark, idx, q, cents, k=2, n_probe=2
            ).collect(),
        )
    )
    ref = str(tmp_path / "ivf_ref")
    write_ivf_index(read_snapshot(spark, table), cents, ref)
    want = sorted(
        map(
            tuple,
            ivf_topk_from_index(
                spark, ref, q, cents, k=2, n_probe=2
            ).collect(),
        )
    )
    assert got == want
    # idempotent second sync
    res2 = sync_ivf_from_snapshot(spark, table, idx, cents)
    assert (res2["vecs_upserted"], res2["vecs_deleted"]) == (0, 0)


@pytest.mark.slowproof
def test_sync_fuzz_random_dml_sequences(spark, tmp_path):
    """Property: after ANY sequence of snapshot DML, one sync converges
    the postings index AND the minhash dedup index to their
    full-rebuild images. Deterministic seeded sequences (cheaper than
    hypothesis here — each case costs several Spark jobs) interleaving
    append/update/delete; restore has its own dedicated propagation
    test above."""
    import random

    from nyc_taxi_data_warehouse_spark.operators.dedup import (
        set_minhash_sync_cursor,
        sync_minhash_from_snapshot,
        write_minhash_index,
    )

    for seed in (3, 11):
        rng = random.Random(seed)
        table = str(tmp_path / f"fz_tbl_{seed}")
        idx = str(tmp_path / f"fz_idx_{seed}")
        midx = str(tmp_path / f"fz_midx_{seed}")
        words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

        def txt():
            return " ".join(rng.choice(words) for _ in range(rng.randint(2, 5)))

        next_id = [0]
        live: set = set()

        def add(n):
            rows = []
            for _ in range(n):
                rows.append((next_id[0], txt()))
                live.add(next_id[0])
                next_id[0] += 1
            snapshot_write(_docs(spark, rows), table, mode="append")

        add(4)
        v1 = 1
        write_postings_index(
            postings(read_snapshot(spark, table), "text", "doc_id"), idx
        )
        set_postings_sync_cursor(spark, idx, v1)
        write_minhash_index(
            spark, read_snapshot(spark, table), "text", "doc_id", midx
        )
        set_minhash_sync_cursor(spark, midx, v1)
        for _ in range(5):
            op = rng.choice(["append", "update", "delete"])
            if op == "append":
                add(rng.randint(1, 2))
            elif op == "update" and live:
                victim = rng.choice(sorted(live))
                snapshot_update(
                    spark, table, {"doc_id": [victim]}, {"text": txt()},
                    mode="rewrite",
                )
            elif op == "delete" and live:
                victim = rng.choice(sorted(live))
                live.discard(victim)
                snapshot_delete(
                    spark, table, {"doc_id": [victim]}, mode="rewrite",
                )
        sync_postings_from_snapshot(spark, table, idx)
        assert _index_rows(spark, idx) == _rebuild(
            spark, table, tmp_path, f"fz_ref_{seed}"
        ), seed
        sync_minhash_from_snapshot(spark, table, midx)
        mref = str(tmp_path / f"fz_mref_{seed}")
        write_minhash_index(
            spark, read_snapshot(spark, table), "text", "doc_id", mref
        )
        assert _minhash_dump(spark, midx) == _minhash_dump(spark, mref), seed


def test_sync_null_redaction_removes_all_postings(spark, tmp_path):
    """A redaction that nulls the text (or leaves only punctuation)
    produces ZERO postings rows for the doc — the upsert path derives
    its doc set FROM the postings, so without the termless-docs-are-
    index-deletes rule the old terms stayed retrievable forever."""
    table = str(tmp_path / "nr_tbl")
    idx = str(tmp_path / "nr_idx")
    snapshot_write(
        _docs(spark, [(1, "keep these words"), (3, "secret token")]),
        table, stats_cols=["doc_id"],
    )
    write_postings_index(
        postings(read_snapshot(spark, table), "text", "doc_id"), idx
    )
    set_postings_sync_cursor(spark, idx, 1)
    snapshot_update(
        spark, table, {"doc_id": [3]}, {"text": None}, mode="rewrite",
    )
    res = sync_postings_from_snapshot(spark, table, idx)
    assert res["docs_deleted"] == 1  # termless doc counts as a delete
    assert _index_rows(spark, idx) == _rebuild(spark, table, tmp_path, "nr_ref")
    got_terms = {r["term"] for r in spark.read.parquet(idx).collect()}
    assert "secret" not in got_terms and "keep" in got_terms


def test_ivf_sync_null_embedding_update_removes_old_vector(spark, tmp_path):
    """An embedding UPDATED to NULL (vector redaction) must remove the
    old vector from the IVF index AND must not leave a null-vector row
    behind — a null row still gets a tie-broken cell assignment, so
    without the unindexable-row filter it would surface as a null-sim
    candidate that FILLS top-k slots at probe time. The anti-join keeps
    the id (old row erased); the written index excludes the null row."""
    from nyc_taxi_data_warehouse_spark.operators.similarity import (
        ivf_topk_from_index,
        set_ivf_sync_cursor,
        sync_ivf_from_snapshot,
        write_ivf_index,
    )

    def vecs(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    table = str(tmp_path / "nv_tbl")
    idx = str(tmp_path / "nv_idx")
    cents = vecs([(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    v1 = snapshot_write(
        vecs([(10, [0.9, 0.1]), (11, [0.1, 0.9])]),
        table, stats_cols=["vec_id"],
    )
    write_ivf_index(read_snapshot(spark, table), cents, idx)
    set_ivf_sync_cursor(spark, idx, v1)
    snapshot_update(
        spark, table, {"vec_id": [10]}, {"embedding": None}, mode="rewrite",
    )
    sync_ivf_from_snapshot(spark, table, idx, cents)
    rows = spark.read.parquet(idx).collect()
    by_id = {r["vec_id"]: r["embedding"] for r in rows}
    assert 10 not in by_id  # old vector erased, no null row written
    assert by_id[11] is not None
    # a probe near 10's OLD vector no longer returns it
    q = vecs([(900, [0.9, 0.1])])
    got = ivf_topk_from_index(spark, idx, q, cents, k=2, n_probe=2).collect()
    assert [r["cid"] for r in got] == [11]


@pytest.mark.slowproof
def test_sync_bootstrap_from_empty_table(spark, tmp_path):
    """The sync docstrings' recommended setup — build the index from
    ``read_snapshot(table, v)`` and set the cursor — must work when
    that build version is EMPTY: the partitioned index write emits zero
    parquet files, and the first sync's index reads must fall back to a
    typed-empty frame (the `_read_ann_rows` contract) instead of
    crashing with UNABLE_TO_INFER_SCHEMA. Covers both the postings and
    the IVF paths."""
    from nyc_taxi_data_warehouse_spark.operators.similarity import (
        ivf_topk_from_index,
        set_ivf_sync_cursor,
        sync_ivf_from_snapshot,
        write_ivf_index,
    )

    # --- postings: empty v1, then an append+delete storm, then sync
    table = str(tmp_path / "boot_docs")
    idx = str(tmp_path / "boot_post")
    v1 = snapshot_write(
        _docs(spark, []), table, stats_cols=["doc_id"],
    )
    write_postings_index(
        postings(read_snapshot(spark, table), "text", "doc_id"), idx
    )
    set_postings_sync_cursor(spark, idx, v1)
    snapshot_write(
        _docs(spark, [(1, "alpha beta"), (2, "beta gamma")]),
        table,
        mode="append",
    )
    snapshot_delete(spark, table, {"doc_id": [2]}, mode="rewrite")
    res = sync_postings_from_snapshot(spark, table, idx)
    assert res["docs_upserted"] == 1
    assert _index_rows(spark, idx) == _rebuild(
        spark, table, tmp_path, "boot_post_ref"
    )

    # --- IVF: same bootstrap, vectors
    def vecs(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    vtable = str(tmp_path / "boot_emb")
    vidx = str(tmp_path / "boot_ivf")
    cents = vecs([(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    w1 = snapshot_write(
        vecs([]), vtable, stats_cols=["vec_id"],
    )
    write_ivf_index(read_snapshot(spark, vtable), cents, vidx)
    set_ivf_sync_cursor(spark, vidx, w1)
    snapshot_write(
        vecs([(10, [0.9, 0.1]), (11, [0.1, 0.9])]), vtable, mode="append"
    )
    res = sync_ivf_from_snapshot(spark, vtable, vidx, cents)
    assert res["vecs_upserted"] == 2
    q = vecs([(900, [1.0, 0.0])])
    got = ivf_topk_from_index(spark, vidx, q, cents, k=1, n_probe=2).collect()
    assert [r["cid"] for r in got] == [10]


def _minhash_dump(spark, path):
    b = sorted(
        map(
            tuple,
            spark.read.parquet(f"{path}/buckets")
            .select("_id", "band_idx", "key")
            .collect(),
        )
    )
    s = sorted(
        (r["_id"], tuple(sorted(r["_shingles"])))
        for r in spark.read.parquet(f"{path}/shingles").collect()
    )
    return b, s


@pytest.mark.slowproof
def test_minhash_sync_follows_all_dml(spark, tmp_path):
    """Document DML (append, edit, redact-to-null, delete, restore-ish
    re-append) reaches the MinHash dedup index via the change feed;
    the synced index equals a full rebuild from the latest version,
    and a second sync is a no-op."""
    from nyc_taxi_data_warehouse_spark.operators.dedup import (
        set_minhash_sync_cursor,
        sync_minhash_from_snapshot,
        write_minhash_index,
    )

    table = str(tmp_path / "mh_tbl")
    idx = str(tmp_path / "mh_idx")
    v1 = snapshot_write(
        _docs(
            spark,
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "pack my box with five dozen liquor jugs"),
                (3, "secret tokens live in this document body here"),
                (4, "sphinx of black quartz judge my vow today"),
            ],
        ),
        table, stats_cols=["doc_id"],
    )
    write_minhash_index(
        spark, read_snapshot(spark, table), "text", "doc_id", idx
    )
    set_minhash_sync_cursor(spark, idx, v1)

    # DML storm: append, edit, redact to null text, delete
    snapshot_write(
        _docs(spark, [(5, "a brand new document arrives after the build")]),
        table,
        mode="append",
    )
    snapshot_update(
        spark, table, {"doc_id": [1]},
        {"text": "the quick brown fox now sleeps all day long"},
        mode="rewrite",
    )
    snapshot_update(
        spark, table, {"doc_id": [3]}, {"text": None}, mode="rewrite",
    )
    snapshot_delete(spark, table, {"doc_id": [2]}, mode="rewrite")

    res = sync_minhash_from_snapshot(spark, table, idx)
    assert res["docs_upserted"] == 3  # docs 5, 1, 3 (final inserts)
    assert res["docs_deleted"] == 1   # doc 2

    ref = str(tmp_path / "mh_ref")
    write_minhash_index(
        spark, read_snapshot(spark, table), "text", "doc_id", ref
    )
    assert _minhash_dump(spark, idx) == _minhash_dump(spark, ref)
    # redacted-to-null doc 3 is fully gone (no termless leak)
    ids = {r["_id"] for r in spark.read.parquet(f"{idx}/shingles").collect()}
    assert 3 not in ids and 2 not in ids

    # idempotent second sync
    res2 = sync_minhash_from_snapshot(spark, table, idx)
    assert (res2["docs_upserted"], res2["docs_deleted"]) == (0, 0)


def test_minhash_sync_restores_suppression_semantics(spark, tmp_path):
    """The POINT of the sync: after a takedown propagates, the removed
    document no longer suppresses near-identical future ingests, while
    surviving documents still do (incremental_minhash_pairs probes)."""
    from nyc_taxi_data_warehouse_spark.operators.dedup import (
        incremental_minhash_pairs,
        set_minhash_sync_cursor,
        sync_minhash_from_snapshot,
        write_minhash_index,
    )

    table = str(tmp_path / "sup_tbl")
    idx = str(tmp_path / "sup_idx")
    kept = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six seven eight nine"),
    ]
    v1 = snapshot_write(
        _docs(spark, kept), table, stats_cols=["doc_id"],
    )
    write_minhash_index(
        spark, read_snapshot(spark, table), "text", "doc_id", idx
    )
    set_minhash_sync_cursor(spark, idx, v1)
    probe = _docs(
        spark,
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta"),
            (200, "one two three four five six seven eight nine"),
        ],
    )
    hits = incremental_minhash_pairs(
        spark, probe, "text", "doc_id", idx, jaccard_threshold=0.8
    )
    assert {r["new_id"] for r in hits.collect()} == {100, 200}
    # takedown doc 1, sync, re-probe: only doc 2 still suppresses
    snapshot_delete(spark, table, {"doc_id": [1]}, mode="rewrite")
    sync_minhash_from_snapshot(spark, table, idx)
    hits2 = incremental_minhash_pairs(
        spark, probe, "text", "doc_id", idx, jaccard_threshold=0.8
    )
    assert {r["new_id"] for r in hits2.collect()} == {200}


def test_postings_sync_follows_dv_deletes_and_updates(spark, tmp_path):
    """Deletion-vector DML reaches the satellite indexes through the
    SAME change feed as copy-on-write DML: a DV delete drops the doc's
    postings, a DV update re-postings the new text, and the synced
    index equals a full rebuild from the latest version."""
    table = str(tmp_path / "dv_docs")
    idx = str(tmp_path / "dv_postings")
    v1 = snapshot_write(
        _docs(
            spark,
            [
                (1, "alpha beta"),
                (2, "beta gamma secret"),
                (3, "delta epsilon"),
            ],
        ),
        table, stats_cols=["doc_id"],
    )
    write_postings_index(
        postings(read_snapshot(spark, table), "text", "doc_id"), idx
    )
    set_postings_sync_cursor(spark, idx, v1)

    snapshot_delete(spark, table, {"doc_id": [2]}, mode="dv")
    snapshot_update(
        spark, table, {"doc_id": [3]}, {"text": "omega"}, mode="dv",
    )
    res = sync_postings_from_snapshot(spark, table, idx)
    assert res["docs_deleted"] == 1 and res["docs_upserted"] == 1
    rows = sorted(
        (r.term, r.doc_id) for r in spark.read.parquet(idx).collect()
    )
    rebuild = sorted(
        (r.term, r.doc_id)
        for r in postings(
            read_snapshot(spark, table), "text", "doc_id"
        ).collect()
    )
    assert rows == rebuild
    assert ("secret", 2) not in rows and ("omega", 3) in rows


@pytest.mark.slowproof
def test_postings_sync_follows_equality_deletes(spark, tmp_path):
    """EQUALITY-delete DML (zero-read upserts / key deletes) reaches
    the satellite indexes through the same change feed: the feed's eq
    legs emit the masked rows as deletes and the images as inserts, so
    an upsert re-postings the new text, a key delete drops the doc,
    and the resolve contributes nothing — synced index == rebuild at
    every cursor stop."""
    from nyc_taxi_data_warehouse_spark.warehouse.eqdeletes import (
        snapshot_append_upsert,
        snapshot_delete_keys,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        snapshot_resolve_eq,
    )

    table = str(tmp_path / "eq_docs")
    idx = str(tmp_path / "eq_postings")
    v1 = snapshot_write(
        _docs(
            spark,
            [
                (1, "alpha beta"),
                (2, "beta gamma secret"),
                (3, "delta epsilon"),
            ],
        ),
        table, stats_cols=["doc_id"],
    )
    write_postings_index(
        postings(read_snapshot(spark, table), "text", "doc_id"), idx
    )
    set_postings_sync_cursor(spark, idx, v1)

    snapshot_append_upsert(
        spark, table, _docs(spark, [(2, "omega rewritten")]), ["doc_id"]
    )
    snapshot_delete_keys(
        spark, table, spark.createDataFrame([(3,)], "doc_id long")
    )
    res = sync_postings_from_snapshot(spark, table, idx)
    assert res["docs_deleted"] >= 1 and res["docs_upserted"] == 1

    def _assert_matches_rebuild():
        rows = sorted(
            (r.term, r.doc_id) for r in spark.read.parquet(idx).collect()
        )
        rebuild = sorted(
            (r.term, r.doc_id)
            for r in postings(
                read_snapshot(spark, table), "text", "doc_id"
            ).collect()
        )
        assert rows == rebuild
        return rows

    rows = _assert_matches_rebuild()
    assert ("secret", 2) not in rows and ("omega", 2) in rows
    assert not [t for t in rows if t[1] == 3]
    # the resolve is index-invisible: syncing across it is a no-op
    snapshot_resolve_eq(spark, table)
    res = sync_postings_from_snapshot(spark, table, idx)
    assert res["docs_deleted"] == 0 and res["docs_upserted"] == 0
    _assert_matches_rebuild()
