"""End-to-end retrieval composition: the RAG ingestion-and-query story
built ONLY from already-verified operators — chunk long documents,
persist a BM25 postings index over the CHUNKS, persist an ANN index
over chunk embeddings, and answer a query through both paths. What this
gate adds beyond each operator's own tests is the seams: chunk ids
survive indexing, both indexes agree on the chunk universe, lexical and
vector retrieval return overlapping evidence for an on-topic query, and
the snapshot-delete decontamination flow composes (a removed document's
chunks stop being retrievable)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.operators.chunking import chunk_documents
from nyc_taxi_data_warehouse_spark.operators.search import (
    lookup_postings,
    postings,
    write_postings_index,
)
from nyc_taxi_data_warehouse_spark.operators.similarity import (
    ann_topk_from_index,
    write_ann_index,
)

MAX_TOKENS = 16
DIM = 16


def _fake_embed(tokens_col):
    """Deterministic bag-of-hashed-words embedding (array<float>, DIM
    buckets) — a stand-in with the real column shape, like the
    multimodal fake decoders."""
    buckets = F.transform(tokens_col, lambda t: F.pmod(F.xxhash64(t), F.lit(DIM)))
    return F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda i: F.size(F.filter(buckets, lambda b: b == i)).cast("float"),
    )


@pytest.fixture(scope="module")
def corpus(spark):
    docs = [
        (1, " ".join(["spark shuffle partition tuning guide"] * 8)),
        (2, " ".join(["gourmet pasta recipe with basil sauce"] * 8)),
        (3, " ".join(["distributed shuffle exchange metrics deep dive"] * 8)),
        (4, " ".join(["garden soil compost watering schedule"] * 8)),
    ]
    return spark.createDataFrame(docs, "doc_id long, text string")


@pytest.fixture(scope="module")
def indexes(spark, corpus, tmp_path_factory):
    chunks = chunk_documents(
        corpus, "text", "doc_id", max_tokens=MAX_TOKENS
    ).withColumn("chunk_id", F.col("doc_id") * 1000 + F.col("chunk_idx"))
    emb = chunks.select(
        "chunk_id",
        _fake_embed(F.split(F.col("chunk_text"), " ")).alias("embedding"),
    )
    post_path = str(tmp_path_factory.mktemp("rag_post"))
    ann_path = str(tmp_path_factory.mktemp("rag_ann"))
    write_postings_index(
        postings(chunks, "chunk_text", "chunk_id"), post_path
    )
    write_ann_index(
        emb, ann_path, id_col="chunk_id", vec_col="embedding",
        n_planes=6, dim=DIM, n_tables=4,
    )
    return chunks, emb, post_path, ann_path


def test_lexical_and_vector_paths_agree_on_topic(spark, indexes):
    chunks, emb, post_path, ann_path = indexes
    # lexical: chunks containing "shuffle" come only from docs 1 and 3
    hits = lookup_postings(spark, post_path, ["shuffle"])
    hit_docs = {r.doc_id for r in
                hits.withColumn("doc_id", (F.col("doc_id") / 1000).cast("long"))
                .select("doc_id").distinct().collect()}
    assert hit_docs == {1, 3}

    # vector: query with doc-3 flavored text; its chunks must dominate
    qtext = "distributed shuffle exchange metrics deep dive"
    q = spark.createDataFrame([(99, qtext)], "chunk_id long, t string").select(
        "chunk_id", _fake_embed(F.split(F.col("t"), " ")).alias("embedding")
    )
    ann = ann_topk_from_index(
        spark, ann_path, q, id_col="chunk_id", vec_col="embedding",
        k=3, n_planes=6, dim=DIM, n_tables=4,
    ).collect()
    assert ann
    top_docs = {r.cid // 1000 for r in ann}
    assert 3 in top_docs and 2 not in top_docs and 4 not in top_docs

    # the two paths retrieve overlapping chunk evidence
    lex_chunks = {r.doc_id for r in hits.select("doc_id").collect()}
    vec_chunks = {r.cid for r in ann}
    assert lex_chunks & vec_chunks


def test_chunk_universe_consistent_across_indexes(spark, indexes):
    chunks, emb, post_path, ann_path = indexes
    n_chunks = chunks.count()
    posted = (
        spark.read.parquet(post_path).select("doc_id").distinct().count()
    )
    indexed = (
        spark.read.parquet(ann_path)
        .where(F.col("tbl") == 0)
        .select("cid")
        .distinct()
        .count()
    )
    assert posted == n_chunks == indexed


def test_decontamination_composes_with_retrieval(spark, indexes, tmp_path):
    """Store chunks as a snapshot table, erase one source document via
    snapshot_delete, rebuild the postings index from the surviving
    snapshot — the erased doc's chunks are no longer retrievable."""
    from nyc_taxi_data_warehouse_spark.warehouse.snapshots import (
        read_snapshot,
        snapshot_delete,
        snapshot_write,
    )

    chunks, _, _, _ = indexes
    table = str(tmp_path / "chunk_snap")
    snapshot_write(
        chunks.select("doc_id", "chunk_id", "chunk_text"),
        table, stats_cols=["doc_id"],
    )
    v, n = snapshot_delete(spark, table, {"doc_id": [3]}, mode="rewrite")
    assert n == chunks.where("doc_id = 3").count() and n > 0
    survivors = read_snapshot(spark, table, v)
    post2 = str(tmp_path / "post2")
    write_postings_index(
        postings(survivors, "chunk_text", "chunk_id"), post2
    )
    hits = lookup_postings(spark, post2, ["shuffle"])
    docs_left = {
        r.d
        for r in hits.select((F.col("doc_id") / 1000).cast("long").alias("d"))
        .distinct()
        .collect()
    }
    assert docs_left == {1}  # doc 3 erased; doc 1 still retrievable
