"""Persisted-index lifecycle: incremental maintenance (append / cell
upsert), full-rebuild hygiene under the engine's dynamic overwrite mode,
and the ``_meta.json`` dial validation that makes wrong-dial probes fail
fast instead of returning quietly wrong candidates.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.operators.indexmeta import (
    IndexMetaError,
    read_index_meta,
)
from nyc_taxi_data_warehouse_spark.operators.similarity import (
    ann_topk_from_index,
    append_to_ann_index,
    ivf_topk_from_index,
    upsert_ivf_cells,
    write_ann_index,
    write_ivf_index,
)
from nyc_taxi_data_warehouse_spark.sources import load_table

from .conftest import SF_SMOKE as SF

ANN_DIALS = dict(n_planes=8, dim=64, n_tables=2)


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def cents(spark, emb):
    # Deterministic tiny centroid set (orderBy, not limit-without-order:
    # the fingerprint check depends on collecting the same rows twice).
    return emb.where(F.col("vec_id") % 17 == 0).orderBy("vec_id")


def test_ann_append_then_query_matches_full_rebuild(spark, emb, tmp_path):
    """append_to_ann_index(new batch) on an index built from the old
    corpus must answer queries identically to a full rebuild over the
    whole corpus — and re-appending the same batch is a no-op
    (redelivery-safe anti-join)."""
    old = emb.where(F.col("vec_id") < 400)
    batch = emb.where(F.col("vec_id") >= 400)
    q = emb.where(F.col("vec_id") < 4)

    inc_path = str(tmp_path / "ann_inc")
    write_ann_index(old, inc_path, **ANN_DIALS)
    append_to_ann_index(batch, inc_path)

    full_path = str(tmp_path / "ann_full")
    write_ann_index(emb, full_path, **ANN_DIALS)

    kwargs = dict(k=3, probe_radius=1, **ANN_DIALS)
    assert _rows(ann_topk_from_index(spark, inc_path, q, **kwargs)) == _rows(
        ann_topk_from_index(spark, full_path, q, **kwargs)
    )

    n_before = spark.read.parquet(inc_path).count()
    append_to_ann_index(batch, inc_path)  # redelivery
    assert spark.read.parquet(inc_path).count() == n_before


def test_ann_rebuild_drops_stale_table_partitions(spark, emb, tmp_path):
    """Rebuilding with fewer LSH tables must fully replace the prior
    layout. The engine session pins partitionOverwriteMode=dynamic, under
    which a naive path overwrite only replaces the tbl= partitions
    present in the NEW data — the writer must scope static mode so no
    stale tbl=1 directory survives for probes to read."""
    path = str(tmp_path / "ann_shrink")
    write_ann_index(emb, path, n_planes=8, dim=64, n_tables=2)
    assert os.path.isdir(os.path.join(path, "tbl=1"))
    write_ann_index(emb, path, n_planes=8, dim=64, n_tables=1)
    assert not os.path.isdir(os.path.join(path, "tbl=1"))
    assert read_index_meta(spark, path)["n_tables"] == 1
    assert {
        r["tbl"] for r in spark.read.parquet(path).select("tbl").distinct().collect()
    } == {0}


def test_ivf_upsert_matches_rebuild_and_rewrites_only_touched_cells(
    spark, emb, cents, tmp_path
):
    """upsert_ivf_cells must converge to exactly what a full rebuild
    over (old corpus − replaced ids) ∪ batch produces — including an
    UPDATED vector that migrates to a different cell (its old row must
    vanish) — while leaving untouched cells' data files byte-untouched
    on disk."""
    old = emb.where(F.col("vec_id") < 485)
    # Batch: 15 new ids + one updated id whose new embedding is id 484's
    # (may or may not move cells; the migration case is what matters —
    # pick id 0's replacement as a far-away vector to make moving likely).
    moved = (
        emb.where(F.col("vec_id") == 484)
        .select(F.lit(0).cast("long").alias("vec_id"), "embedding")
    )
    batch = emb.where(F.col("vec_id") >= 485).unionByName(moved)

    inc_path = str(tmp_path / "ivf_inc")
    write_ivf_index(old, cents, inc_path)

    # Files of a cell the batch does not touch must survive unrenamed.
    from nyc_taxi_data_warehouse_spark.operators.similarity import ivf_assign

    batch_cells = {
        r["cell"] for r in ivf_assign(batch, cents).select("cell").distinct().collect()
    }
    old0_cell = {
        r["cell"]
        for r in ivf_assign(old.where(F.col("vec_id") == 0), cents)
        .select("cell")
        .collect()
    }
    all_cells = {
        int(d.split("=")[1])
        for d in os.listdir(inc_path)
        if d.startswith("cell=")
    }
    untouched = all_cells - batch_cells - old0_cell
    assert untouched, "fixture produced no untouched cell; loosen the split"
    probe_cell = sorted(untouched)[0]
    cell_dir = os.path.join(inc_path, f"cell={probe_cell}")
    files_before = sorted(os.listdir(cell_dir))

    upsert_ivf_cells(batch, cents, inc_path)

    assert sorted(os.listdir(cell_dir)) == files_before

    full_path = str(tmp_path / "ivf_full")
    rebuilt_corpus = old.where(F.col("vec_id") != 0).unionByName(batch)
    write_ivf_index(rebuilt_corpus, cents, full_path)

    q = emb.where(F.col("vec_id").between(5, 8))
    kwargs = dict(k=3, n_probe=2)
    assert _rows(ivf_topk_from_index(spark, inc_path, q, cents, **kwargs)) == _rows(
        ivf_topk_from_index(spark, full_path, q, cents, **kwargs)
    )
    # The moved id's stale row is gone: it appears in exactly one cell.
    locs = (
        spark.read.parquet(inc_path)
        .where(F.col("vec_id") == 0)
        .select("cell")
        .collect()
    )
    assert len(locs) == 1


def test_ann_dial_mismatch_fails_fast(spark, emb, tmp_path):
    path = str(tmp_path / "ann_meta")
    write_ann_index(emb, path, **ANN_DIALS)
    with pytest.raises(IndexMetaError, match="n_planes"):
        ann_topk_from_index(
            spark, path, emb.limit(2), n_planes=16, dim=64, n_tables=2
        )
    with pytest.raises(IndexMetaError, match="sidecar"):
        ann_topk_from_index(
            spark, str(tmp_path / "nonexistent"), emb.limit(2), **ANN_DIALS
        )


def test_ivf_stale_centroids_fail_fast(spark, emb, cents, tmp_path):
    """Probing with centroids that differ from the build-time set (the
    'centroids moved, index is stale' case) must raise, not return
    candidates from the wrong cell geometry."""
    path = str(tmp_path / "ivf_meta")
    write_ivf_index(emb, cents, path)
    moved_cents = emb.where(F.col("vec_id") % 17 == 1).orderBy("vec_id")
    with pytest.raises(IndexMetaError, match="centroid_fp"):
        ivf_topk_from_index(spark, path, emb.limit(2), moved_cents, k=3)
    with pytest.raises(IndexMetaError, match="centroid_fp"):
        upsert_ivf_cells(emb.limit(2), moved_cents, path)


def test_postings_dial_mismatch_fails_fast(spark, tmp_path):
    from nyc_taxi_data_warehouse_spark.operators.search import (
        lookup_postings,
        postings,
        write_postings_index,
    )

    docs = load_table(spark, SF, "documents")
    post = postings(docs)
    path = str(tmp_path / "postings_meta")
    write_postings_index(post, path, hash_partitions=16)
    with pytest.raises(IndexMetaError, match="hash_partitions"):
        lookup_postings(spark, path, ["spark"], hash_partitions=8)
    with pytest.raises(IndexMetaError, match="hash_partitions"):
        lookup_postings(spark, path, ["spark"])  # layout mismatch: term-dir


def test_write_entry_points_do_not_mutate_session_confs(spark, emb, tmp_path):
    """The scoped-conf contract: a write entry point may need a specific
    partitionOverwriteMode during its write, but the caller's session
    value must be restored afterwards (ADVICE: tune()-on-entry silently
    mutated externally-owned sessions)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    try:
        spark.conf.set(key, "static")
        path = str(tmp_path / "ann_conf")
        write_ann_index(emb, path, **ANN_DIALS)  # scopes static (no-op here)
        assert spark.conf.get(key) == "static"
        spark.conf.set(key, "dynamic")
        write_ann_index(emb, path, **ANN_DIALS)
        assert spark.conf.get(key) == "dynamic"
    finally:
        spark.conf.set(key, prior)


def test_postings_upsert_matches_rebuild_both_layouts(spark, tmp_path):
    """upsert_postings_for_docs must converge to exactly the index a
    full rebuild over (old corpus − edited doc) ∪ batch produces, in
    BOTH layouts — including an EDITED document whose new text drops
    terms (their stale postings live in partitions the new text no
    longer touches and must be rewritten away) — while leaving
    untouched term partitions' files byte-untouched on disk."""
    from nyc_taxi_data_warehouse_spark.operators.search import (
        postings,
        upsert_postings_for_docs,
        write_postings_index,
    )

    # Controlled vocabulary so term-partition disjointness is certain
    # (the sf corpus's synthetic texts share one small word pool — any
    # batch covers every term, leaving nothing untouched to probe).
    old_docs = spark.createDataFrame(
        [
            (0, "alpha beta beta"),
            (1, "beta gamma"),
            (2, "delta epsilon delta"),
        ],
        "doc_id long, text string",
    )
    # doc 10 is new; doc 0 is EDITED and drops alpha/beta entirely —
    # their stale postings live in partitions the new text never touches.
    batch_docs = spark.createDataFrame(
        [(10, "alpha zeta"), (0, "gamma kappa")], "doc_id long, text string"
    )
    batch_post = postings(batch_docs)
    rebuilt_docs = old_docs.where(F.col("doc_id") != 0).unionByName(batch_docs)

    def dump(path):
        return sorted(
            map(tuple, spark.read.parquet(path).select("term", "doc_id", "tf").collect())
        )

    for hp in (None, 16):
        inc = str(tmp_path / f"post_inc_{hp}")
        full = str(tmp_path / f"post_full_{hp}")
        write_postings_index(postings(old_docs), inc, hash_partitions=hp)

        if hp is None:
            # a term no batch doc uses and the edited doc never had:
            # its directory must survive the upsert unrenamed
            batch_terms = {r["term"] for r in batch_post.select("term").distinct().collect()}
            doc0_terms = {
                r["term"]
                for r in postings(old_docs.where(F.col("doc_id") == 0))
                .select("term")
                .collect()
            }
            untouched = [
                d
                for d in os.listdir(inc)
                if d.startswith("term=")
                and d.removeprefix("term=") not in batch_terms | doc0_terms
            ]
            assert untouched, "fixture produced no untouched term partition"
            probe = os.path.join(inc, untouched[0])
            files_before = sorted(os.listdir(probe))

        upsert_postings_for_docs(batch_post, inc)

        if hp is None:
            assert sorted(os.listdir(probe)) == files_before
            # the edited doc's dropped term is fully gone; the shared
            # term survives for the OTHER doc only
            kept = dump(inc)
            assert not any(t == "alpha" and d == 0 for t, d, _ in kept)
            assert ("beta", 1, 1) in kept and not any(
                t == "beta" and d == 0 for t, d, _ in kept
            )

        write_postings_index(postings(rebuilt_docs), full, hash_partitions=hp)
        assert dump(inc) == dump(full)


def test_upsert_scans_are_statically_partition_pruned(spark, emb, cents, tmp_path):
    """The upserts' survivor reads must reach the index scan with the
    collected touched-partition values as a STATIC PartitionFilters
    entry — at corpus scale an upsert touching 3 cells of 1024 must
    list 3 directories at planning time, not scan the index (and the
    one discovery scan that finds the touched partitions must be
    column-pruned to the id, never reading the payload)."""
    from nyc_taxi_data_warehouse_spark.operators.search import (
        _postings_touched_partitions,
        _postings_upsert_merged,
        postings,
        write_postings_index,
    )
    from nyc_taxi_data_warehouse_spark.operators.similarity import (
        _ivf_touched_cells,
        _ivf_upsert_merged,
        ivf_assign,
        write_ivf_index,
    )

    def check_scans(df, part_col, payload_col):
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [
            ln
            for ln in plan.splitlines()
            if "FileScan" in ln and f"{part_col}#" in ln
        ]
        assert scans
        survivor = [ln for ln in scans if f"{payload_col}#" in ln]
        assert survivor, scans
        for ln in survivor:
            part_filters = ln.split("PartitionFilters: [")[-1].split("]")[0]
            assert f"{part_col}#" in part_filters, ln
            assert " INSET " in part_filters or " IN " in part_filters, ln

    ivf_path = str(tmp_path / "ivf_dpp")
    write_ivf_index(emb.where(F.col("vec_id") < 480), cents, ivf_path)
    from nyc_taxi_data_warehouse_spark.functions import vector as V

    assigned = ivf_assign(emb.where(F.col("vec_id") >= 480), cents)
    indexable = assigned.where(V.indexable("embedding"))
    touched = sorted(
        r["cell"]
        for r in _ivf_touched_cells(
            spark, assigned, indexable, ivf_path, "vec_id"
        ).collect()
    )
    merged = _ivf_upsert_merged(
        spark, assigned, ivf_path, "vec_id", "embedding", touched
    )
    check_scans(merged, "cell", "embedding")

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    post_path = str(tmp_path / "post_dpp")
    write_postings_index(postings(docs.where(F.col("doc_id") < 450)), post_path,
                         hash_partitions=16)
    new = postings(docs.where(F.col("doc_id") >= 450)).withColumn(
        "term_bkt", F.pmod(F.xxhash64("term"), F.lit(16))
    )
    touched_p = sorted(
        r["term_bkt"]
        for r in _postings_touched_partitions(
            spark, new, post_path, "term_bkt"
        ).collect()
    )
    merged_p = _postings_upsert_merged(
        spark, new, post_path, "term_bkt", touched_p
    )
    check_scans(merged_p, "term_bkt", "tf")
    # the discovery scan is column-pruned: payload never leaves disk
    disc_plan = (
        _postings_touched_partitions(spark, new, post_path, "term_bkt")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for ln in disc_plan.splitlines():
        if "FileScan" in ln and "ReadSchema:" in ln:
            assert "tf" not in ln.split("ReadSchema:")[-1], ln


def test_ann_append_guard_scan_is_pruned(spark, emb, tmp_path):
    """append_to_ann_index's redelivery guard must read ONE table
    directory (static partition filter tbl=0) and ONLY the id column —
    at corpus scale the guard is a fraction-of-index id scan, never a
    vector read."""
    from nyc_taxi_data_warehouse_spark.operators.similarity import (
        _ann_existing_ids,
        multi_table_buckets,
    )

    path = str(tmp_path / "ann_guard")
    write_ann_index(emb.where(F.col("vec_id") < 400), path, **ANN_DIALS)
    codes = multi_table_buckets(
        emb.where(F.col("vec_id") >= 400), "vec_id", "embedding",
        ANN_DIALS["n_planes"], ANN_DIALS["dim"], ANN_DIALS["n_tables"],
        "cid", "cv",
    )
    fresh = codes.join(_ann_existing_ids(spark, path), "cid", "left_anti")
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    guard_scans = [
        ln for ln in plan.splitlines() if "FileScan" in ln and "tbl#" in ln
    ]
    assert guard_scans
    for ln in guard_scans:
        assert "tbl" in ln.split("PartitionFilters:")[-1].split("]")[0], ln
        assert "cv" not in ln.split("ReadSchema:")[-1], ln


def test_ivf_delete_removes_ids_and_drops_emptied_cells(
    spark, emb, cents, tmp_path
):
    """delete_from_ivf_index must equal a rebuild without the victims —
    including dropping the DIRECTORY of any cell whose every vector was
    deleted (dynamic overwrite alone would leave its stale rows
    probe-able) — while untouched cells' files survive unrenamed."""
    from nyc_taxi_data_warehouse_spark.operators.similarity import (
        delete_from_ivf_index,
        ivf_assign,
    )

    path = str(tmp_path / "ivf_del")
    write_ivf_index(emb, cents, path)

    assignment = {
        r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents).select("vec_id", "cell").collect()
    }
    cells = sorted({c for c in assignment.values()})
    victim_cell = cells[0]
    donor_cell = next(
        c for c in cells if c != victim_cell
        and sum(1 for v in assignment.values() if v == c) >= 2
    )
    donor_ids = [i for i, c in assignment.items() if c == donor_cell]
    victims = [i for i, c in assignment.items() if c == victim_cell]
    victims += donor_ids[:1]  # partial delete in the donor cell
    untouched_cell = next(
        c for c in cells if c not in (victim_cell, donor_cell)
    )
    untouched_dir = os.path.join(path, f"cell={untouched_cell}")
    files_before = sorted(os.listdir(untouched_dir))

    vdf = spark.createDataFrame([(v,) for v in victims], "vec_id long")
    delete_from_ivf_index(vdf, path)

    assert not os.path.isdir(os.path.join(path, f"cell={victim_cell}"))
    assert sorted(os.listdir(untouched_dir)) == files_before
    left = {
        r["vec_id"] for r in spark.read.parquet(path).select("vec_id").collect()
    }
    assert left == set(assignment) - set(victims)

    # probe parity vs a rebuild without the victims
    full = str(tmp_path / "ivf_del_full")
    write_ivf_index(emb.where(~F.col("vec_id").isin(victims)), cents, full)
    q = emb.where(F.col("vec_id").between(200, 203))
    assert _rows(ivf_topk_from_index(spark, path, q, cents, k=3, n_probe=2)) == _rows(
        ivf_topk_from_index(spark, full, q, cents, k=3, n_probe=2)
    )


def test_postings_delete_drops_doc_and_emptied_terms(spark, tmp_path):
    """delete_postings_for_docs removes every posting of the victims;
    terms whose only documents were deleted lose their partition
    directory entirely (the retrievability guarantee), shared terms keep
    the other documents' rows."""
    from nyc_taxi_data_warehouse_spark.operators.search import (
        delete_postings_for_docs,
        postings,
        write_postings_index,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha beta"),
            (1, "beta gamma"),
            (2, "delta epsilon delta"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "post_del")
    write_postings_index(postings(docs), path)

    delete_postings_for_docs(
        spark.createDataFrame([(2,), (0,)], "doc_id long"), path
    )
    assert not os.path.isdir(os.path.join(path, "term=delta"))
    assert not os.path.isdir(os.path.join(path, "term=epsilon"))
    assert not os.path.isdir(os.path.join(path, "term=alpha"))
    kept = sorted(
        map(tuple, spark.read.parquet(path).select("term", "doc_id", "tf").collect())
    )
    assert kept == [("beta", 1, 1), ("gamma", 1, 1)]


def test_stream_ann_ingest_matches_rebuild_and_is_restart_safe(
    spark, emb, tmp_path
):
    """Vector stream → persisted ANN index: the streamed index must
    answer queries identically to a full rebuild over the final corpus,
    and a re-run on the same checkpoint appends nothing."""
    from nyc_taxi_data_warehouse_spark.streaming.index_ingest import (
        stream_ann_ingest,
    )

    old = emb.where(F.col("vec_id") < 300)
    feed = emb.where(F.col("vec_id") >= 300)
    q = emb.where(F.col("vec_id") < 4)

    src = str(tmp_path / "vec_src")
    os.makedirs(src)
    for i, pred in enumerate([(300, 500), (500, 1_000_000)]):
        part_dir = f"{src}/b{i}"
        feed.where(
            (F.col("vec_id") >= pred[0]) & (F.col("vec_id") < pred[1])
        ).coalesce(1).write.parquet(part_dir)
        part = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        os.rename(os.path.join(part_dir, part), os.path.join(src, f"b{i}.parquet"))

    inc_path = str(tmp_path / "ann_stream")
    write_ann_index(old, inc_path, **ANN_DIALS)
    ckpt = str(tmp_path / "ann_ckpt")

    def feed_stream():
        return (
            spark.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    stream_ann_ingest(spark, feed_stream(), inc_path, checkpoint=ckpt)

    full_path = str(tmp_path / "ann_stream_full")
    write_ann_index(emb, full_path, **ANN_DIALS)
    kwargs = dict(k=3, probe_radius=1, **ANN_DIALS)
    assert _rows(ann_topk_from_index(spark, inc_path, q, **kwargs)) == _rows(
        ann_topk_from_index(spark, full_path, q, **kwargs)
    )

    n_before = spark.read.parquet(inc_path).count()
    stream_ann_ingest(spark, feed_stream(), inc_path, checkpoint=ckpt)
    assert spark.read.parquet(inc_path).count() == n_before


def test_stream_postings_ingest_matches_rebuild(spark, tmp_path):
    """Document stream → persisted postings index: lookups over the
    streamed index equal a full rebuild over the final corpus; a re-run
    on the same checkpoint changes nothing."""
    from nyc_taxi_data_warehouse_spark.operators.search import (
        lookup_postings,
        postings,
        write_postings_index,
    )
    from nyc_taxi_data_warehouse_spark.streaming.index_ingest import (
        stream_postings_ingest,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    old = docs.where("doc_id < 300")
    feed = docs.where("doc_id >= 300")

    src = str(tmp_path / "doc_src")
    os.makedirs(src)
    for i, (lo, hi) in enumerate([(300, 400), (400, 10**9)]):
        bdir = f"{src}/b{i}"
        feed.where(f"doc_id >= {lo} AND doc_id < {hi}").coalesce(1).write.parquet(bdir)
        part = next(f for f in os.listdir(bdir) if f.endswith(".parquet"))
        os.rename(os.path.join(bdir, part), os.path.join(src, f"b{i}.parquet"))

    idx = str(tmp_path / "post_stream")
    write_postings_index(postings(old), idx, hash_partitions=8)
    ckpt = str(tmp_path / "post_ckpt")

    def feed_stream():
        return (
            spark.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    stream_postings_ingest(spark, feed_stream(), idx, checkpoint=ckpt)

    full = str(tmp_path / "post_full")
    write_postings_index(postings(docs), full, hash_partitions=8)

    terms = ["the", "data", "spark"]
    cols = ["term", "doc_id", "tf"]
    got = _rows(lookup_postings(spark, idx, terms, hash_partitions=8).select(*cols))
    want = _rows(lookup_postings(spark, full, terms, hash_partitions=8).select(*cols))
    assert got == want
    assert len(got) > 0

    n_before = spark.read.parquet(idx).count()
    stream_postings_ingest(spark, feed_stream(), idx, checkpoint=ckpt)
    assert spark.read.parquet(idx).count() == n_before


def _data_files(path):
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    ]


def test_compact_index_ann_fewer_files_same_lookups(spark, emb, tmp_path):
    """compact_index on a fragmented ANN index (r4 worklist: many
    incremental appends -> many small files per tbl= partition): file
    count drops, lookups are identical, the dial sidecar survives."""
    from nyc_taxi_data_warehouse_spark.operators.indexmeta import (
        compact_index,
    )

    path = str(tmp_path / "ann_frag")
    write_ann_index(emb.where(F.col("vec_id") < 200), path, **ANN_DIALS)
    for lo in (200, 300, 400, 500):
        append_to_ann_index(
            emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100)),
            path,
        )
    q = emb.where(F.col("vec_id") < 4)
    kwargs = dict(k=3, probe_radius=1, **ANN_DIALS)
    before_rows = _rows(ann_topk_from_index(spark, path, q, **kwargs))
    meta_before = read_index_meta(spark, path)
    n_before = len(_data_files(path))
    out = compact_index(spark, path)
    n_after = len(_data_files(path))
    assert out["files_before"] == n_before
    assert out["files_after"] == n_after
    assert n_after < n_before
    # layout preserved: still partitioned by tbl=
    assert any("tbl=" in p for p in _data_files(path))
    assert read_index_meta(spark, path) == meta_before
    assert _rows(ann_topk_from_index(spark, path, q, **kwargs)) == before_rows


@pytest.mark.slowproof
def test_compact_index_ivf_and_unpartitioned_bloom(spark, emb, cents, tmp_path):
    """The same repair job covers the cell-partitioned IVF layout and
    the unpartitioned bloom layout; a sidecar-less directory is
    refused."""
    from nyc_taxi_data_warehouse_spark.operators.indexmeta import (
        compact_index,
    )
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        append_to_bloom_index,
        build_bloom_index,
        read_with_bloom,
    )

    ivf = str(tmp_path / "ivf_frag")
    write_ivf_index(emb.where(F.col("vec_id") < 300), cents, ivf)
    for lo in (300, 450):
        upsert_ivf_cells(
            emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 150)),
            cents,
            ivf,
        )
    q = emb.where(F.col("vec_id") < 4)
    before = _rows(ivf_topk_from_index(spark, ivf, q, cents, k=3, n_probe=2))
    nb = len(_data_files(ivf))
    compact_index(spark, ivf)
    assert len(_data_files(ivf)) < nb
    assert _rows(
        ivf_topk_from_index(spark, ivf, q, cents, k=3, n_probe=2)
    ) == before

    # unpartitioned: a bloom index fragmented by incremental appends
    tbl = str(tmp_path / "bloom_tbl")
    idx = str(tmp_path / "bloom_idx")
    emb.select((F.col("vec_id") * 2).alias("key")).repartition(4).write.parquet(tbl)
    build_bloom_index(spark, tbl, "key", idx, m_bits=4096, k=5)
    extra = str(tmp_path / "bloom_tbl2")
    spark.range(100000, 100200).select(
        (F.col("id") * 2).alias("key")
    ).repartition(3).write.parquet(extra)
    spark.read.parquet(extra).write.mode("append").parquet(tbl)
    append_to_bloom_index(spark, tbl, idx, "key", m_bits=4096, k=5)
    probe = [0, 200002, 399998]
    want = sorted(
        r.key
        for r in read_with_bloom(
            spark, tbl, idx, "key", probe, m_bits=4096, k=5
        ).collect()
    )
    nb = len(_data_files(idx))
    compact_index(spark, idx)
    assert len(_data_files(idx)) < nb
    assert sorted(
        r.key
        for r in read_with_bloom(
            spark, tbl, idx, "key", probe, m_bits=4096, k=5
        ).collect()
    ) == want

    bare = str(tmp_path / "not_an_index")
    spark.range(5).write.parquet(bare)
    with pytest.raises(IndexMetaError):
        compact_index(spark, bare)


def test_postings_upsert_drops_exclusively_owned_term_partitions(spark, tmp_path):
    """An edited document that was the ONLY holder of some terms must
    take those term partitions with it: the merged plan has zero rows
    for them, dynamic overwrite writes nothing there, and without the
    explicit directory drop the dropped terms stayed retrievable
    (found via the change-feed index sync; pre-existing upsert bug)."""
    from nyc_taxi_data_warehouse_spark.operators.search import (
        postings,
        upsert_postings_for_docs,
        write_postings_index,
    )

    idx = str(tmp_path / "own_idx")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (3, "secret token alpha")],
        "doc_id long, text string",
    )
    write_postings_index(postings(docs, "text", "doc_id"), idx)
    edited = spark.createDataFrame(
        [(3, "redacted")], "doc_id long, text string"
    )
    upsert_postings_for_docs(postings(edited, "text", "doc_id"), idx)
    got = sorted(
        map(tuple, spark.read.parquet(idx).select("term", "doc_id").collect())
    )
    # secret/token gone entirely; alpha survives via doc 1 only
    assert got == [("alpha", 1), ("beta", 1), ("redacted", 3)]
    import os

    assert not os.path.exists(f"{idx}/term=secret")


def test_ivf_upsert_drops_emptied_migration_cell(spark, tmp_path):
    """A vector that was the SOLE occupant of its cell and migrates on
    update must take the old cell with it — the stale row held the
    vector's OLD embedding and kept answering probes (the id existed
    twice with different vectors; pre-existing upsert bug, the delete
    path already handled its half)."""
    import os

    from nyc_taxi_data_warehouse_spark.operators.similarity import (
        upsert_ivf_cells,
        write_ivf_index,
    )

    idx = str(tmp_path / "ivf_mig")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [(10, [0.9, 0.1]), (11, [0.1, 0.9])],
        "vec_id long, embedding array<float>",
    )
    write_ivf_index(corpus, cents, idx)
    upd = spark.createDataFrame(
        [(10, [0.05, 0.95])], "vec_id long, embedding array<float>"
    )
    upsert_ivf_cells(upd, cents, idx)
    got = sorted(
        (r["vec_id"], r["cell"]) for r in spark.read.parquet(idx).collect()
    )
    assert got == [(10, 1), (11, 1)]  # exactly once, in the NEW cell
    assert not os.path.exists(f"{idx}/cell=0")


def test_ann_delete_equals_rebuild_without_victims(spark, tmp_path):
    """delete_from_ann_index == write_ann_index over the corpus minus
    the victims: identical lookups, sidecar intact, empty-index edge
    readable."""
    from nyc_taxi_data_warehouse_spark.operators.indexmeta import (
        read_index_meta,
    )
    from nyc_taxi_data_warehouse_spark.operators.similarity import (
        ann_topk_from_index,
        delete_from_ann_index,
        write_ann_index,
    )
    from nyc_taxi_data_warehouse_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    dials = dict(n_planes=8, dim=64, n_tables=4)
    idx = str(tmp_path / "ann_del")
    write_ann_index(emb, idx, **dials)
    victims = emb.where("vec_id % 5 = 0").select("vec_id")
    delete_from_ann_index(victims, idx)
    ref = str(tmp_path / "ann_ref")
    write_ann_index(
        emb.join(victims, "vec_id", "left_anti"), ref, **dials
    )
    q = emb.where("vec_id % 17 = 3").limit(5)
    got = sorted(map(tuple, ann_topk_from_index(
        spark, idx, q, k=3, probe_radius=1, **dials).collect()))
    want = sorted(map(tuple, ann_topk_from_index(
        spark, ref, q, k=3, probe_radius=1, **dials).collect()))
    assert got == want and len(got) > 0
    assert read_index_meta(spark, idx)["n_tables"] == 4
    # deleting everything leaves a readable (typed-empty) index
    delete_from_ann_index(emb.select("vec_id"), idx)
    assert ann_topk_from_index(
        spark, idx, q, k=3, probe_radius=1, **dials
    ).count() == 0


def test_ann_delete_noop_batch_skips_rewrite(spark, tmp_path):
    """Redelivered / no-op delete batches (ids already gone, empty
    frame) must not pay the full index rewrite: the file listing is
    byte-identical afterwards."""
    import os

    from nyc_taxi_data_warehouse_spark.operators.similarity import (
        delete_from_ann_index,
        write_ann_index,
    )
    from nyc_taxi_data_warehouse_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "ann_noop")
    write_ann_index(emb, idx, n_planes=8, dim=64, n_tables=2)

    def listing():
        out = []
        for root, _dirs, files in os.walk(idx):
            out += [os.path.join(root, f) for f in files if not f.startswith("_")]
        return sorted(out)

    before = listing()
    absent = spark.createDataFrame([(999999,)], "vec_id long")
    delete_from_ann_index(absent, idx)
    delete_from_ann_index(spark.createDataFrame([], "vec_id long"), idx)
    assert listing() == before
