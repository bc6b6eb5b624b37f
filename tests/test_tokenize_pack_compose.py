"""End-to-end tokenizer-pipeline composition gate:

  documents --train_bpe--> merge table
            --apply_bpe--> BPE token streams
            --chunk_documents--> bounded windows
            --pack_sequences--> packed training bins

The seams re-checked here are the ones a trainer depends on: the BPE
detokenization reproduces the normalized corpus byte-for-byte, chunking
covers every token within the length bound, packing never overflows a
bin and never splits a chunk, and the whole chain is deterministic
across partitionings.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.functions import text as T
from nyc_taxi_data_warehouse_spark.operators.bpe import apply_bpe, train_bpe
from nyc_taxi_data_warehouse_spark.operators.chunking import chunk_documents
from nyc_taxi_data_warehouse_spark.operators.packing import pack_sequences
from nyc_taxi_data_warehouse_spark.sources import load_table

SF = "/root/testdata/sf0.001"
CAPACITY = 64


def test_tokenize_chunk_pack_chain(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text").where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    merges = train_bpe(docs, "text", n_merges=40)

    # --- BPE round-trip: joining symbols reproduces the normalized text
    bpe = apply_bpe(docs, "text", "doc_id", merges)
    joined = bpe.select(
        "doc_id",
        F.array_join("bpe_tokens", "").alias("_detok"),
    ).join(
        docs.select(
            "doc_id", F.regexp_replace(T.normalize("text"), " ", "").alias("_norm")
        ),
        "doc_id",
    )
    assert joined.where(F.col("_detok") != F.col("_norm")).count() == 0

    # --- chunking: full coverage within the bound
    chunks = chunk_documents(docs, "text", "doc_id", max_tokens=CAPACITY,
                             stride=48)
    bad = chunks.where(
        (F.size(F.split("chunk_text", " ")) > CAPACITY)
        & (F.col("chunk_text") != "")
    )
    assert bad.count() == 0
    # token conservation: sum over chunks >= doc token count (overlap
    # means >=), and every doc appears
    per_doc = chunks.groupBy("doc_id").agg(
        F.sum(F.size(F.split("chunk_text", " "))).alias("chunk_tokens"),
        F.first("n_tokens").alias("n_tokens"),
    )
    assert per_doc.where(F.col("chunk_tokens") < F.col("n_tokens")).count() == 0
    assert per_doc.count() == docs.count()

    # --- packing the chunks: stable ids = doc_id * 1000 + chunk_idx
    lens = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("cid"),
        F.size(F.split("chunk_text", " ")).alias("clen"),
        F.lit(0).alias("g"),
    )
    packed = pack_sequences(lens, "cid", "clen", "g", capacity=CAPACITY)
    rows = packed.collect()
    # no bin overflows; offsets are contiguous within a bin
    by_bin: dict = {}
    for r in rows:
        by_bin.setdefault(r["bin_id"], []).append(r)
    for b, members in by_bin.items():
        members.sort(key=lambda r: r["bin_offset"])
        off = 0
        for m in members:
            assert m["bin_offset"] == off, (b, m)
            off += m["seq_len"]
        assert off <= CAPACITY
    assert len(rows) == lens.count()  # every chunk packed exactly once

    # --- determinism end to end
    packed2 = pack_sequences(
        lens.repartition(13), "cid", "clen", "g", capacity=CAPACITY
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, packed2.collect()))
