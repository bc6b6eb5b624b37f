"""Persisted MinHash/LSH index: incremental near-dup of new batches
against a corpus without recomputing corpus signatures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.operators.dedup import (
    append_to_minhash_index,
    incremental_minhash_pairs,
    minhash_lsh_pairs,
    write_minhash_index,
)
from nyc_taxi_data_warehouse_spark.operators.indexmeta import IndexMetaError
from nyc_taxi_data_warehouse_spark.sources import load_table

SF = "/root/testdata/sf0.001"
DIALS = dict(n_hashes=8, bands=4, shingle_k=3)


def _docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text")


def _pairs_set(df, a="corpus_id", b="new_id"):
    return {(r[a], r[b], r["jaccard"]) for r in df.collect()}


def test_incremental_probe_equals_batch_pipeline(spark, tmp_path):
    """incremental(new vs index(corpus)) must equal the cross-subset of
    the one-shot pipeline over corpus ∪ new — the incremental path is an
    optimization, never a semantic fork."""
    docs = _docs(spark)
    corpus = docs.where("doc_id % 5 != 0")
    batch = docs.where("doc_id % 5 = 0")
    idx = str(tmp_path / "mh_idx")
    write_minhash_index(spark, corpus, "text", "doc_id", idx, **DIALS)

    inc = incremental_minhash_pairs(
        spark, batch, "text", "doc_id", idx, jaccard_threshold=0.3
    )
    got = _pairs_set(inc)

    full = minhash_lsh_pairs(
        docs, "text", "doc_id", jaccard_threshold=0.3, **DIALS
    )
    # one-shot emits id_a < id_b over the union; keep only corpus x new
    # pairs and normalize to (corpus_id, new_id)
    want = set()
    for r in full.collect():
        a_new, b_new = r.id_a % 5 == 0, r.id_b % 5 == 0
        if a_new and not b_new:
            want.add((r.id_b, r.id_a, r.jaccard))
        elif b_new and not a_new:
            want.add((r.id_a, r.id_b, r.jaccard))
    assert got == want
    assert len(got) > 0, "fixture produced no cross near-dups — test is vacuous"


def test_append_then_probe_equals_rebuild_then_probe(spark, tmp_path):
    docs = _docs(spark)
    corpus1 = docs.where("doc_id % 5 = 1")
    corpus2 = docs.where("doc_id % 5 = 2")
    batch = docs.where("doc_id % 5 = 0")

    idx_a = str(tmp_path / "appended")
    write_minhash_index(spark, corpus1, "text", "doc_id", idx_a, **DIALS)
    append_to_minhash_index(spark, corpus2, "text", "doc_id", idx_a)

    idx_r = str(tmp_path / "rebuilt")
    write_minhash_index(
        spark, corpus1.unionByName(corpus2), "text", "doc_id", idx_r, **DIALS
    )

    p_a = incremental_minhash_pairs(spark, batch, "text", "doc_id", idx_a, 0.3)
    p_r = incremental_minhash_pairs(spark, batch, "text", "doc_id", idx_r, 0.3)
    assert _pairs_set(p_a) == _pairs_set(p_r)
    assert len(_pairs_set(p_a)) > 0


def test_append_redelivery_is_idempotent(spark, tmp_path):
    docs = _docs(spark)
    corpus = docs.where("doc_id % 5 = 1")
    batch = docs.where("doc_id % 5 = 2")
    idx = str(tmp_path / "redelivered")
    write_minhash_index(spark, corpus, "text", "doc_id", idx, **DIALS)
    append_to_minhash_index(spark, batch, "text", "doc_id", idx)
    n_buckets = spark.read.parquet(f"{idx}/buckets").count()
    n_shingles = spark.read.parquet(f"{idx}/shingles").count()
    append_to_minhash_index(spark, batch, "text", "doc_id", idx)  # redelivery
    assert spark.read.parquet(f"{idx}/buckets").count() == n_buckets
    assert spark.read.parquet(f"{idx}/shingles").count() == n_shingles


def test_probe_fails_fast_on_wrong_index_kind(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "notmh")
    # an unrelated parquet dir with no sidecar
    docs.limit(5).write.parquet(f"{idx}/shingles")
    with pytest.raises(IndexMetaError):
        incremental_minhash_pairs(spark, docs.limit(5), "text", "doc_id", idx)
    with pytest.raises(IndexMetaError):
        append_to_minhash_index(spark, docs.limit(5), "text", "doc_id", idx)


def test_broadcast_probe_never_shuffles_corpus_buckets(spark, tmp_path):
    """The ingest-case probe plan: batch band keys broadcast, so the
    corpus bucket scan feeds a BroadcastHashJoin directly — no Exchange
    on the corpus side of the candidate join."""
    docs = _docs(spark)
    corpus = docs.where("doc_id % 5 != 0")
    batch = docs.where("doc_id % 5 = 0").limit(20)
    idx = str(tmp_path / "planidx")
    write_minhash_index(spark, corpus, "text", "doc_id", idx, **DIALS)

    # rebuild the candidate join exactly as the operator does, without
    # the eager checkpoint, so the plan stays inspectable
    from nyc_taxi_data_warehouse_spark.operators.dedup import (
        band_key_buckets,
        minhash_signatures,
    )

    sig = minhash_signatures(batch, "text", "doc_id", 8, 3)
    nb = F.broadcast(band_key_buckets(sig, 8, 4).withColumnsRenamed({"_id": "new_id"}))
    cb = spark.read.parquet(f"{idx}/buckets").withColumnsRenamed({"_id": "corpus_id"})
    cand = cb.join(nb, ["band_idx", "key"]).select("corpus_id", "new_id")
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the corpus scan's subtree must reach the broadcast join without an
    # Exchange: with the batch side broadcast, no corpus shuffle exists
    assert "Exchange hashpartitioning" not in plan


def test_delete_from_minhash_index(spark, tmp_path):
    """Deleted docs stop producing pairs; everything else is untouched;
    deleting an absent id is a no-op."""
    from nyc_taxi_data_warehouse_spark.operators.dedup import (
        delete_from_minhash_index,
    )

    docs = _docs(spark)
    corpus = docs.where("doc_id % 5 != 0")
    batch = docs.where("doc_id % 5 = 0")
    idx = str(tmp_path / "del_idx")
    write_minhash_index(spark, corpus, "text", "doc_id", idx, **DIALS)

    before = incremental_minhash_pairs(spark, batch, "text", "doc_id", idx, 0.3)
    hit_corpus_ids = sorted({r.corpus_id for r in before.collect()})
    assert hit_corpus_ids, "fixture produced no hits"
    victims = hit_corpus_ids[: max(1, len(hit_corpus_ids) // 2)]

    delete_from_minhash_index(
        spark, spark.createDataFrame([(v,) for v in victims], "doc_id long"),
        "doc_id", idx,
    )
    after = incremental_minhash_pairs(spark, batch, "text", "doc_id", idx, 0.3)
    got = _pairs_set(after)
    want = {p for p in _pairs_set(before) if p[0] not in victims}
    assert got == want

    # delete ≡ rebuild-without-victims
    idx_r = str(tmp_path / "del_rebuilt")
    write_minhash_index(
        spark, corpus.where(~F.col("doc_id").isin(victims)), "text", "doc_id",
        idx_r, **DIALS,
    )
    assert got == _pairs_set(
        incremental_minhash_pairs(spark, batch, "text", "doc_id", idx_r, 0.3)
    )

    # absent id: no-op
    n_sh = spark.read.parquet(f"{idx}/shingles").count()
    delete_from_minhash_index(
        spark, spark.createDataFrame([(10**12,)], "doc_id long"), "doc_id", idx
    )
    assert spark.read.parquet(f"{idx}/shingles").count() == n_sh


def test_empty_corpus_and_empty_batch_probes(spark, tmp_path):
    """Bootstrap and boundary shapes: an empty index accepts probes and
    appends; probing with an empty batch returns an empty pair set."""
    from nyc_taxi_data_warehouse_spark.streaming.dedup_ingest import (
        init_dedup_index,
    )

    idx = str(tmp_path / "empty_idx")
    init_dedup_index(spark, idx, "text", "doc_id")
    docs = _docs(spark).limit(10)
    assert (
        incremental_minhash_pairs(spark, docs, "text", "doc_id", idx, 0.1).count()
        == 0
    )
    empty = docs.where("doc_id < 0")
    append_to_minhash_index(spark, empty, "text", "doc_id", idx)
    assert spark.read.parquet(f"{idx}/shingles").count() == 0
    append_to_minhash_index(spark, docs, "text", "doc_id", idx)
    assert (
        incremental_minhash_pairs(spark, empty, "text", "doc_id", idx, 0.1).count()
        == 0
    )


def test_write_time_skew_guard_drops_degenerate_buckets(spark, tmp_path):
    """50 identical boilerplate docs share every band bucket; with
    max_bucket_size below 50 the writer drops those buckets, so a probe
    with yet another copy produces NO candidate blow-up (0 pairs) —
    while a distinctive near-dup still matches normally."""
    rows = [(i, "boilerplate header identical body text for every page") for i in range(50)]
    rows += [(100 + i, f"unique document number {i} about topic {i * 7}") for i in range(5)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "skew_idx")
    write_minhash_index(
        spark, corpus, "text", "doc_id", idx, max_bucket_size=10, **DIALS
    )

    probe_boiler = spark.createDataFrame(
        [(999, "boilerplate header identical body text for every page")],
        "doc_id long, text string",
    )
    assert (
        incremental_minhash_pairs(spark, probe_boiler, "text", "doc_id", idx, 0.5)
        .count()
        == 0
    )

    probe_unique = spark.createDataFrame(
        [(998, "unique document number 2 about topic 14 extra")],
        "doc_id long, text string",
    )
    hits = incremental_minhash_pairs(
        spark, probe_unique, "text", "doc_id", idx, 0.3
    )
    assert {r.corpus_id for r in hits.collect()} == {102}


def test_delete_from_minhash_index_unsuppresses_victims(spark, tmp_path):
    """Deleting a doc from the index must equal a rebuild without it:
    a future near-duplicate of the victim is no longer suppressed
    (the decontamination contract), the sidecar survives, and no-op
    batches skip the rewrite (file listing unchanged)."""
    import os

    from nyc_taxi_data_warehouse_spark.operators.dedup import (
        delete_from_minhash_index,
        incremental_minhash_pairs,
        write_minhash_index,
    )
    from nyc_taxi_data_warehouse_spark.operators.indexmeta import (
        read_index_meta,
    )
    from nyc_taxi_data_warehouse_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "mh_del")
    write_minhash_index(spark, docs, "text", "doc_id", idx)
    meta_before = read_index_meta(spark, idx)

    # probe: near-copies of the corpus (the fixture's own texts with
    # shifted ids) -> they collide with their originals
    probe = docs.limit(40).withColumn("doc_id", F.col("doc_id") + 500000)
    hits = incremental_minhash_pairs(
        spark, probe, "text", "doc_id", idx, jaccard_threshold=0.5
    )
    suppressed = {r["corpus_id"] for r in hits.collect()}
    assert suppressed, "fixture probe found no collisions; loosen threshold"
    victims = sorted(suppressed)[:3]
    vdf = spark.createDataFrame([(v,) for v in victims], "doc_id long")
    delete_from_minhash_index(spark, vdf, "doc_id", idx)

    # rebuild-equivalence: same pairs as an index built without victims
    ref = str(tmp_path / "mh_ref")
    write_minhash_index(
        spark, docs.join(vdf, "doc_id", "left_anti"), "text", "doc_id", ref
    )
    after = sorted(map(tuple, incremental_minhash_pairs(
        spark, probe, "text", "doc_id", idx, jaccard_threshold=0.5).collect()))
    want = sorted(map(tuple, incremental_minhash_pairs(
        spark, probe, "text", "doc_id", ref, jaccard_threshold=0.5).collect()))
    assert after == want
    assert not any(r[1] in victims for r in after)  # unsuppressed
    assert read_index_meta(spark, idx) == meta_before

    def listing():
        out = []
        for root, _d, files in os.walk(idx):
            out += [os.path.join(root, f) for f in files if not f.startswith("_")]
        return sorted(out)

    before_files = listing()
    delete_from_minhash_index(spark, vdf, "doc_id", idx)  # redelivery
    assert listing() == before_files


def test_narrow_signature_equivalence(spark):
    """The zero-shuffle signature build (array-side word_shingles +
    array_min, r11 optimization) must reproduce the explode/window
    form's output exactly: same doc set (null-text docs absent), same
    mh columns, same distinct shingle-hash set."""
    from pyspark.sql.window import Window

    from nyc_taxi_data_warehouse_spark.functions import text as T
    from nyc_taxi_data_warehouse_spark.operators.dedup import minhash_signatures

    base = _docs(spark)
    extra = spark.createDataFrame(
        [
            (90001, None),          # null text -> no signature row
            (90002, ""),            # empty text -> one empty-ish shingle
            (90003, "one"),         # shorter than k -> one partial shingle
            (90004, "two words"),   # still shorter than k
            (90005, "exactly three words"),
        ],
        "doc_id long, text string",
    )
    docs = base.unionByName(extra)
    n_hashes, shingle_k = 8, 3

    new = minhash_signatures(docs, "text", "doc_id", n_hashes, shingle_k)

    # the pre-r11 explode/window formulation, replayed inline
    tk = docs.select(F.col("doc_id").alias("_id"), T.tokens("text").alias("_tk"))
    pe = tk.select("_id", F.posexplode("_tk").alias("pos", "t"))
    w = Window.partitionBy("_id").orderBy("pos")
    leads = [F.lead("t", j).over(w).alias(f"t{j}") for j in range(1, shingle_k)]
    pe = pe.select("_id", "pos", "t", *leads)
    shingle_rows = pe.where(
        F.col(f"t{shingle_k - 1}").isNotNull() | (F.col("pos") == 0)
    ).select(
        "_id",
        F.concat_ws(" ", "t", *[f"t{j}" for j in range(1, shingle_k)]).alias("_s"),
    )
    old = shingle_rows.groupBy("_id").agg(
        F.collect_set(F.xxhash64("_s")).alias("_shingles"),
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("_s")))).alias(f"mh{i}")
            for i in range(n_hashes)
        ],
    )

    o = {r["_id"]: r for r in old.collect()}
    n = {r["_id"]: r for r in new.collect()}
    assert set(o) == set(n)            # identical doc set (90001 absent)
    assert 90001 not in n
    for _id, ro in o.items():
        rn = n[_id]
        for i in range(n_hashes):
            assert ro[f"mh{i}"] == rn[f"mh{i}"], (_id, i)
        assert sorted(set(ro["_shingles"])) == sorted(set(rn["_shingles"])), _id


def test_signatures_over_a_column_name_that_needs_quoting(spark):
    """Builders backtick-quote a column name that is not a SQL fragment,
    so an operator over `body text` returns the same rows as over a
    plain name."""
    from nyc_taxi_data_warehouse_spark.operators.dedup import minhash_signatures

    docs = _docs(spark)
    want = sorted(minhash_signatures(docs, "text", "doc_id").collect())
    spaced = docs.withColumnRenamed("text", "body text")
    got = sorted(minhash_signatures(spaced, "body text", "doc_id").collect())
    assert got == want

    from nyc_taxi_data_warehouse_spark.functions.sql import fragment

    assert fragment("a`b") == "`a``b`"
    assert fragment(fragment("body text")) == "`body text`"
