"""Bigram-LM cross-entropy scoring (operators/lm.py): exact agreement
with a hand-rolled local model, and the discrimination property the
filter exists for."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.functions import text as T
from nyc_taxi_data_warehouse_spark.operators.lm import (
    BOS,
    score_cross_entropy,
    train_bigram_lm,
)
from nyc_taxi_data_warehouse_spark.sources import load_table

SF = "/root/testdata/sf0.001"
K = 0.1


def _local_model(texts):
    bigrams, contexts, vocab = Counter(), Counter(), set()
    for t in texts:
        toks = [w for w in t.lower().split() if w]
        prev = BOS
        for w in toks:
            bigrams[(prev, w)] += 1
            contexts[prev] += 1
            vocab.add(w)
            prev = w
    return bigrams, contexts, len(vocab) + 1


def _local_ce(text, bigrams, contexts, v):
    toks = [w for w in text.lower().split() if w]
    prev, logs = BOS, []
    for w in toks:
        p = (bigrams.get((prev, w), 0) + K) / (contexts.get(prev, 0) + K * v)
        logs.append(-math.log2(p))
        prev = w
    return sum(logs) / len(logs), len(logs)


def test_cross_entropy_matches_local_model_exactly(spark):
    train_texts = ["the cat sat on the mat", "the dog sat on the rug", "a cat and a dog"]
    score_texts = ["the cat sat", "dog on a mat", "zebra quantum flux"]
    train = spark.createDataFrame(
        list(enumerate(train_texts)), "doc_id long, text string"
    )
    target = spark.createDataFrame(
        list(enumerate(score_texts)), "doc_id long, text string"
    )
    model = train_bigram_lm(train, "text", "doc_id")
    got = {
        r.doc_id: (r.n_tokens, r.cross_entropy)
        for r in score_cross_entropy(target, model, "text", "doc_id", k=K).collect()
    }
    bigrams, contexts, v = _local_model(train_texts)
    assert model["vocab_size"] == v
    for i, text in enumerate(score_texts):
        ce, n = _local_ce(text, bigrams, contexts, v)
        assert got[i][0] == n
        assert abs(got[i][1] - ce) < 1e-9, f"doc {i}: {got[i][1]} vs {ce}"


def test_in_domain_scores_below_garbled(spark):
    """The filter's reason to exist: real corpus text scores lower
    cross-entropy under a model of its own domain than the same tokens
    reversed (fluent order vs broken order, identical vocabulary)."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    train = docs.where("doc_id % 2 = 0")
    heldout = docs.where("doc_id % 2 = 1")
    reversed_docs = heldout.select(
        "doc_id",
        F.array_join(F.reverse(T.tokens("text")), " ").alias("text"),
    )
    model = train_bigram_lm(train, "text", "doc_id")
    ce_real = (
        score_cross_entropy(heldout, model, "text", "doc_id")
        .agg(F.avg("cross_entropy"))
        .collect()[0][0]
    )
    ce_rev = (
        score_cross_entropy(reversed_docs, model, "text", "doc_id")
        .agg(F.avg("cross_entropy"))
        .collect()[0][0]
    )
    assert ce_real < ce_rev, f"real {ce_real} !< reversed {ce_rev}"


def test_empty_and_unseen_inputs(spark):
    train = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    model = train_bigram_lm(train, "text", "doc_id")
    target = spark.createDataFrame(
        [(1, ""), (2, "zz yy")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in score_cross_entropy(target, model, "text", "doc_id").collect()}
    assert 1 not in got  # no tokens -> no row
    assert got[2].n_tokens == 2
    assert got[2].cross_entropy > 0  # smoothed, finite
