"""Degenerate-input gate for the newest operators (span dedup, BPE,
classifier, sketches) — the same empty/single/all-null bar the catalog
and earlier round-4 operators already pass: no errors, and pinned,
SQL-consistent semantics on the edges."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.operators.bpe import apply_bpe, train_bpe
from nyc_taxi_data_warehouse_spark.operators.classifier import (
    score_quality,
    train_quality_classifier,
)
from nyc_taxi_data_warehouse_spark.operators.sketches import (
    cms_build,
    cms_lookup,
    loghist_build,
    loghist_quantiles,
)
from nyc_taxi_data_warehouse_spark.operators.spandedup import (
    remove_duplicated_spans,
)


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


@pytest.fixture(scope="module")
def null_docs(spark):
    return spark.createDataFrame(
        [(1, None), (2, None), (3, "real text here three words")],
        "doc_id long, text string",
    )


def test_spandedup_empty_single_null(spark, empty_docs, null_docs):
    assert remove_duplicated_spans(empty_docs, "text", "doc_id", n=3).count() == 0
    one = spark.createDataFrame([(1, "only doc")], "doc_id long, text string")
    got = remove_duplicated_spans(one, "text", "doc_id", n=3).collect()[0]
    assert got.clean_text == "only doc" and got.n_removed == 0
    # null text propagates as null (SQL semantics), never errors, and
    # is never counted as a removable span
    rows = {r.doc_id: r for r in
            remove_duplicated_spans(null_docs, "text", "doc_id", n=2).collect()}
    assert rows[1].clean_text is None and rows[1].n_removed == 0
    assert rows[3].clean_text == "real text here three words"


def test_bpe_empty_single_null(spark, empty_docs, null_docs):
    assert train_bpe(empty_docs, "text", n_merges=4) == []
    assert train_bpe(
        spark.createDataFrame([(1, "x")], "doc_id long, text string"),
        "text",
        n_merges=4,
    ) == []  # one 1-char word: no pairs
    merges = train_bpe(null_docs, "text", n_merges=2)
    out = {r.doc_id: r for r in
           apply_bpe(null_docs, "text", "doc_id", merges).collect()}
    assert out[1].bpe_tokens == [] and out[1].n_bpe_tokens == 0
    assert "".join(out[3].bpe_tokens) == "realtextherethreewords"
    # empty merge table degrades to character tokens
    chars = apply_bpe(
        spark.createDataFrame([(1, "ab")], "doc_id long, text string"),
        "text",
        "doc_id",
        [],
    ).collect()[0]
    assert chars.bpe_tokens == ["a", "b"]


def test_classifier_empty_single_null(spark, empty_docs, null_docs):
    with pytest.raises(ValueError):
        train_quality_classifier(
            empty_docs.withColumn("label", F.lit(0)),
            "text", "label", "doc_id", dim=8, n_iters=1,
        )
    one = spark.createDataFrame(
        [(1, "good text", 1)], "doc_id long, text string, label int"
    )
    m = train_quality_classifier(one, "text", "label", "doc_id", dim=8, n_iters=3)
    s = score_quality(one, "text", "doc_id", m).collect()[0]
    assert 0.5 < s.quality_score <= 1.0  # pulled toward its only label
    labeled_nulls = null_docs.withColumn(
        "label", (F.col("doc_id") % 2).cast("int")
    )
    m2 = train_quality_classifier(
        labeled_nulls, "text", "label", "doc_id", dim=8, n_iters=2
    )
    scores = score_quality(labeled_nulls, "text", "doc_id", m2).collect()
    assert len(scores) == 3
    assert all(0.0 < r.quality_score < 1.0 for r in scores)


def test_sketches_empty_single_null(spark):
    empty = spark.createDataFrame([], "item string, value double")
    sk = cms_build(empty, "item", depth=3, width=16)
    assert sk.count() == 0
    probe = spark.createDataFrame([("x",)], "item string")
    est = cms_lookup(sk, probe, "item", depth=3, width=16).collect()
    assert est[0].est == 0  # absent counters read as zero
    hist = loghist_build(empty, "value")
    assert hist.count() == 0
    assert loghist_quantiles(hist, [0.5]).count() == 0
    one = spark.createDataFrame([("a", 5.0)], "item string, value double")
    q = loghist_quantiles(loghist_build(one, "value"), [0.5]).collect()[0]
    assert abs(q.value - 5.0) / 5.0 < 0.05
    nulls = spark.createDataFrame(
        [("a", None), ("b", None)], "item string, value double"
    )
    h = loghist_build(nulls, "value")
    assert {r.bucket for r in h.collect()} == {-2}
    # all-null: no rankable rows -> no quantile rows, no error
    assert loghist_quantiles(h, [0.5]).count() == 0


# ---------------------------------------------------------------------------
# r4 worklist #6: one parametrized gate touching EVERY exported operator
# module (profile, drift, sampling, lm, graph, projection, chunking,
# split, bloomindex) with the empty corpus and the all-null corpus.
# Bar: graceful, pinned semantics — or a CLEAN, documented error.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def empty_vnd(spark):
    return spark.createDataFrame([], "doc_id long, text string, v double")


@pytest.fixture(scope="module")
def null_vnd(spark):
    return spark.createDataFrame(
        [(1, None, None), (2, None, None)],
        "doc_id long, text string, v double",
    )


def _cases(spark, empty, nulls):
    from nyc_taxi_data_warehouse_spark.operators.chunking import (
        chunk_documents,
    )
    from nyc_taxi_data_warehouse_spark.operators.drift import drift_report
    from nyc_taxi_data_warehouse_spark.operators.graph import pagerank
    from nyc_taxi_data_warehouse_spark.operators.lm import (
        score_cross_entropy,
        train_bigram_lm,
    )
    from nyc_taxi_data_warehouse_spark.operators.profile import (
        profile_table,
        top_values,
    )
    from nyc_taxi_data_warehouse_spark.operators.sampling import (
        mixture_sample,
        weighted_sample,
    )
    from nyc_taxi_data_warehouse_spark.operators.split import (
        cluster_aware_split,
    )

    no_pairs = spark.createDataFrame([], "id_a long, id_b long")
    no_edges = spark.createDataFrame([], "src long, dst long")

    def lm_scores(df):
        m = train_bigram_lm(df, "text", "doc_id")
        return score_cross_entropy(df, m, "text", "doc_id").count()

    return {
        # name -> (callable over the corpus, expected rows on empty,
        #          expected rows on the all-null corpus)
        "profile_table": (lambda d: profile_table(d).count(), 3, 3),
        "top_values_text": (
            lambda d: top_values(d, ["text", "v"]).count(), 0, 0,
        ),
        "drift_report": (
            lambda d: sum(len(r["buckets"]) for r in drift_report(d, d, ["v"])),
            0,  # empty reference: no quantile bounds, no buckets
            1,  # all-null: exactly the null bucket, PSI defined (=0 vs self)
        ),
        "weighted_sample": (
            # null weights are never sampled (SQL: null ordering keys sort out)
            lambda d: weighted_sample(d, 3, "v", "doc_id").count(), 0, 0,
        ),
        "mixture_sample": (
            lambda d: mixture_sample(
                d, "text", {"web": 1.0}, 2, "doc_id"
            ).count(),
            0,
            0,  # null domain matches no weight key -> dropped
        ),
        "bigram_lm_roundtrip": (lm_scores, 0, 0),
        "pagerank": (lambda _d: pagerank(no_edges).count(), 0, 0),
        "chunk_documents": (
            lambda d: chunk_documents(d, "text", "doc_id").count(), 0, 0,
        ),
        "cluster_aware_split": (
            lambda d: cluster_aware_split(d, no_pairs, "doc_id").count(),
            0,
            2,  # null TEXT is fine — ids are real docs, each gets a split
        ),
    }


def test_every_operator_module_survives_empty_and_allnull(
    spark, empty_vnd, null_vnd
):
    cases = _cases(spark, empty_vnd, null_vnd)
    for name, (fn, want_empty, want_null) in cases.items():
        assert fn(empty_vnd) == want_empty, f"{name} on EMPTY corpus"
        assert fn(null_vnd) == want_null, f"{name} on ALL-NULL corpus"


def test_pca_empty_and_allnull_fail_clean(spark, empty_vnd):
    """fit_pca cannot produce a model from nothing: both degenerate
    corpora raise the documented ValueError (previously a driver-side
    TypeError), and null vectors are excluded from a real fit."""
    from nyc_taxi_data_warehouse_spark.operators.projection import (
        fit_pca,
        project,
    )

    eemb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    nemb = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<double>"
    )
    for bad in (eemb, nemb):
        with pytest.raises(ValueError, match="no non-null vectors"):
            fit_pca(bad, "embedding")
    mixed = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0]), (4, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    m = fit_pca(mixed, "embedding", n_components=1)
    assert m["n"] == 3  # the null vector was excluded, not counted
    out = project(mixed, m, "embedding").collect()
    assert len(out) == 4


def test_bloom_build_on_empty_table(spark, tmp_path):
    """An empty (zero-row) table indexes to an empty-but-valid Bloom
    index: lookups return no candidates, never error."""
    from nyc_taxi_data_warehouse_spark.warehouse.bloomindex import (
        bloom_candidate_files,
        build_bloom_index,
    )

    tbl = str(tmp_path / "empty_tbl")
    idx = str(tmp_path / "empty_idx")
    spark.createDataFrame([], "key long, v string").write.parquet(tbl)
    n = build_bloom_index(spark, tbl, "key", idx, m_bits=1024, k=3)
    assert n == 0
    assert bloom_candidate_files(spark, idx, "key", [7], m_bits=1024, k=3) == []


def test_indexable_rejects_infinite_vectors(spark):
    """The indexable() predicate must reject every vector that cannot
    participate in cosine ranking: null, empty, zero-norm, NaN — and
    ±Inf components, whose squared norm is inf (not NaN, > 0) yet
    still yields NaN/NULL cosine downstream; without the finite-norm
    clause they'd slip past the predicate into index writers."""
    from nyc_taxi_data_warehouse_spark.functions import vector as V

    inf = float("inf")
    nan = float("nan")
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),       # good
            (2, None),             # null
            (3, []),               # empty
            (4, [0.0, 0.0]),       # zero norm
            (5, [nan, 1.0]),       # NaN component
            (6, [inf, 1.0]),       # +Inf component
            (7, [-inf, 1.0]),      # -Inf component
            (8, [1e38, 1e38]),     # huge but finite: n2 finite in double
        ],
        "vec_id long, embedding array<float>",
    )
    kept = sorted(
        r["vec_id"]
        for r in df.where(V.indexable("embedding")).collect()
    )
    assert kept == [1, 8]


def test_stopword_count_escapes_quotes_and_backslashes(spark):
    """Stopwords are spliced into SQL as string literals: a word with a
    quote or a backslash must count like any other word."""
    from nyc_taxi_data_warehouse_spark.functions import text as T

    df = spark.createDataFrame(
        [(["it's", "x", "it's", "a\\b"],)], "_tk array<string>"
    )
    row = df.select(
        T.stopword_count("_tk", ("it's",)).alias("quote"),
        T.stopword_count("_tk", ("a\\b", "x")).alias("backslash"),
    ).first()
    assert (row["quote"], row["backslash"]) == (2, 2)


def test_semantic_ingest_drops_unindexable_vectors(spark, tmp_path):
    """Unindexable vectors (null/empty/zero-norm/NaN/Inf) get NULL
    cosine in both semantic-ingest gates, so without an explicit filter
    they'd always 'survive' and pollute the kept corpus AND the ANN
    index. They must be dropped up front — same contract as the
    IVF/ANN index writers."""
    from nyc_taxi_data_warehouse_spark.streaming.semantic_ingest import (
        init_semantic_index,
        stream_semantic_dedup_ingest,
    )

    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    kept = str(tmp_path / "kept")
    ck = str(tmp_path / "ck")
    dim = 4
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),          # zero norm
        (3, None),                           # null
        (4, [float("nan"), 1.0, 0.0, 0.0]),  # NaN
        (5, [float("inf"), 1.0, 0.0, 0.0]),  # Inf
        (6, [0.0, 1.0, 0.0, 0.0]),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(src)
    init_semantic_index(spark, idx, dim=dim)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .parquet(src)
    )
    stream_semantic_dedup_ingest(
        spark, stream, idx, kept, threshold=0.95, checkpoint=ck
    )
    kept_ids = sorted(
        r["vec_id"] for r in spark.read.parquet(kept).collect()
    )
    assert kept_ids == [1, 6]
    # the ANN index holds exactly the kept (indexable) ids
    from nyc_taxi_data_warehouse_spark.operators.similarity import (
        _ann_existing_ids,
    )
    assert sorted(
        r["cid"] for r in _ann_existing_ids(spark, idx).collect()
    ) == [1, 6]
