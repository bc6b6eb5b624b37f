"""Document chunking (operators/chunking.py): coverage, bounds,
overlap, reconstruction, and the no-shuffle plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.functions import text as T
from nyc_taxi_data_warehouse_spark.operators.chunking import chunk_documents
from nyc_taxi_data_warehouse_spark.sources import load_table

SF = "/root/testdata/sf0.001"
MAX, STRIDE = 32, 24


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text")


def test_chunk_bounds_and_counts(spark, docs):
    chunks = chunk_documents(docs, "text", "doc_id", max_tokens=MAX, stride=STRIDE)
    bad = chunks.where(
        (F.col("n_tokens") > MAX)
        | (F.col("n_tokens") <= 0)
        | (F.col("chunk_idx") >= F.col("n_chunks"))
    )
    assert bad.count() == 0
    # declared n_chunks equals emitted chunk rows, and matches the
    # closed-form count from the doc's token length
    per_doc = chunks.groupBy("doc_id", "n_chunks").agg(
        F.count("*").alias("emitted")
    )
    assert per_doc.where("emitted != n_chunks").count() == 0
    lens = docs.select(
        "doc_id", T.token_count("text").alias("n")
    )
    joined = per_doc.join(lens, "doc_id")
    wrong = joined.where(
        F.col("n_chunks")
        != F.when(F.col("n") <= MAX, F.lit(1)).otherwise(
            F.ceil((F.col("n") - MAX) / F.lit(STRIDE)).cast("int") + 1
        )
    )
    assert wrong.count() == 0


def test_every_token_covered_and_overlap_exact(spark):
    """Synthetic doc with numbered tokens: position coverage is exact
    and consecutive chunks share exactly max_tokens - stride tokens."""
    text = " ".join(f"w{i:04d}" for i in range(100))
    one = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = (
        chunk_documents(one, "text", "doc_id", max_tokens=MAX, stride=STRIDE)
        .orderBy("chunk_idx")
        .collect()
    )
    seen = set()
    prev = None
    for r in rows:
        toks = r.chunk_text.split(" ")
        assert toks == [f"w{i:04d}" for i in range(
            r.chunk_idx * STRIDE, min(r.chunk_idx * STRIDE + MAX, 100)
        )]
        if prev is not None:
            assert len(set(prev) & set(toks)) == MAX - STRIDE
        seen.update(toks)
        prev = toks
    assert seen == {f"w{i:04d}" for i in range(100)}


def test_no_overlap_reconstructs_document(spark, docs):
    """stride == max_tokens: concatenating a doc's chunks in order
    yields exactly the normalized document text."""
    chunks = chunk_documents(docs, "text", "doc_id", max_tokens=MAX)
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "chunk_text"))
                    ),
                    lambda s: s.chunk_text,
                ),
                " ",
            ).alias("rebuilt")
        )
    )
    orig = docs.select(
        "doc_id", F.array_join(T.tokens("text"), " ").alias("norm")
    )
    diff = rebuilt.join(orig, "doc_id").where(F.col("rebuilt") != F.col("norm"))
    assert diff.count() == 0


def test_chunking_plans_no_shuffle(spark, docs):
    plan = (
        chunk_documents(docs, "text", "doc_id", max_tokens=MAX)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_stride_validation(spark, docs):
    with pytest.raises(ValueError):
        chunk_documents(docs, "text", "doc_id", max_tokens=8, stride=0)
    with pytest.raises(ValueError):
        chunk_documents(docs, "text", "doc_id", max_tokens=8, stride=9)


def test_chunk_then_pack_fills_windows(spark, docs):
    """The full window-filling story: long docs chunk into <=capacity
    pieces, chunks pack into bins, and no bin overflows while fill
    stays high — chunking guarantees pack_sequences never truncates."""
    from nyc_taxi_data_warehouse_spark.operators.packing import pack_sequences

    capacity = 64
    chunks = chunk_documents(docs, "text", "doc_id", max_tokens=capacity)
    items = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("chunk_id"),
        "n_tokens",
        (F.col("doc_id") % 4).alias("grp"),
    )
    packed = pack_sequences(items, "chunk_id", "n_tokens", "grp", capacity)
    bins = packed.groupBy("grp", "bin_id").agg(
        F.sum("seq_len").alias("fill"), F.count("*").alias("n_chunks")
    )
    assert bins.where(F.col("fill") > capacity).count() == 0
    # chunks never exceed capacity, so seq_len was never clamped
    clamped = packed.join(items, packed.doc_id == items.chunk_id).where(
        F.col("seq_len") != F.col("n_tokens")
    )
    assert clamped.count() == 0
    total_chunks = items.count()
    assert packed.count() == total_chunks
    # fill ratio sanity: packing many small chunks should beat 50%
    stats = bins.agg(
        (F.sum("fill") / (F.count("*") * capacity)).alias("fill_ratio")
    ).collect()[0]
    assert stats.fill_ratio > 0.5
