"""Text-analysis queries over the ``documents`` table: token statistics,
quality scoring, language-ID heuristic, fingerprinting. All built-in
string/array functions — no UDFs (see functions/text.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..sources import load_table
from .registry import register

# Shared normalization, as a DuckDB SQL fragment (semantics mirror
# functions.text.normalize: lowercase → strip non-alnum → collapse spaces).
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)
_TOKS_SQL = f"string_split({_NORM_SQL}, ' ')"


# ---------------------------------------------------------------------------
# t01 — token statistics (counts, BPE-ish estimate)
# ---------------------------------------------------------------------------
@register(
    "t01_token_stats",
    oracle=f"""
SELECT doc_id,
       len({_TOKS_SQL}) AS n_words,
       length({_NORM_SQL}) AS n_chars_norm,
       greatest(CAST(ceil(length({_NORM_SQL}) / 4.0) AS BIGINT),
                CAST(len({_TOKS_SQL}) AS BIGINT)) AS bpe_est
FROM documents
ORDER BY doc_id
""",
    tags=("text", "tokens"),
)
def t01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            T.token_count("text").alias("n_words"),
            F.length(T.normalize("text")).alias("n_chars_norm"),
            T.bpe_ish_token_estimate("text").alias("bpe_est"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t02 — quality scoring (length / digit / stopword signals)
# ---------------------------------------------------------------------------
@register(
    "t02_quality_scores",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text, {_TOKS_SQL} AS tk, {_NORM_SQL} AS norm FROM documents
)
SELECT doc_id,
       len(tk) AS n_words,
       round((length(norm) - len(tk) + 1) * 1.0 / greatest(len(tk), 1), 4) AS avg_word_len,
       round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
             / greatest(length(text), 1), 4) AS digit_ratio,
       round(len(list_filter(tk, t -> t IN ('the','and','of','to','a','in','is','it')))
             * 1.0 / greatest(len(tk), 1), 4) AS stopword_ratio,
       CAST(len(tk) BETWEEN 5 AND 1000
            AND length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                / greatest(length(text), 1) < 0.3 AS INT) AS quality_ok
FROM d
ORDER BY doc_id
""",
    tags=("text", "quality"),
)
def t02_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Bind the token array once (referenced ~6x below: counts, ratios,
    # the quality flag) — same projection-boundary trick as t03/d04.
    d = d.select("doc_id", "text", T.tokens("text").alias("_tk"))
    txt = F.col("text")
    toks = F.col("_tk")
    n_words = F.size(toks)
    # normalized text is single-spaced → chars-in-words = len - (n-1)
    avg_wlen = F.round(
        (F.length(T.normalize("text")) - n_words + 1) / F.greatest(n_words, F.lit(1)), 4
    )
    dig = F.length(F.regexp_replace(txt, "[^0-9]", "")) / F.greatest(
        F.length(txt), F.lit(1)
    )
    stop_ratio = F.round(
        T.stopword_count("_tk", T.LANG_STOPWORDS["en"]) / F.greatest(n_words, F.lit(1)),
        4,
    )
    return (
        d.select(
            "doc_id",
            n_words.alias("n_words"),
            avg_wlen.alias("avg_word_len"),
            F.round(dig, 4).alias("digit_ratio"),
            stop_ratio.alias("stopword_ratio"),
            (n_words.between(5, 1000) & (dig < 0.3)).cast("int").alias("quality_ok"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t03 — language-ID heuristic (stopword vote) vs the labeled lang column
# ---------------------------------------------------------------------------
def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS[lang])
    return f"len(list_filter(tk, t -> t IN ({words})))"


@register(
    "t03_lang_id",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_lang_score_sql('en')} AS s_en,
         {_lang_score_sql('es')} AS s_es,
         {_lang_score_sql('fr')} AS s_fr,
         {_lang_score_sql('de')} AS s_de
  FROM (SELECT doc_id, lang, {_TOKS_SQL} AS tk FROM documents) t
), pred AS (
  SELECT doc_id, lang,
         CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
              WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
              WHEN s_fr >= s_de THEN 'fr'
              ELSE 'de' END AS predicted
  FROM scored
)
SELECT predicted, count(*) AS n_docs,
       CAST(sum(CAST(predicted = lang AS INT)) AS BIGINT) AS n_label_match
FROM pred
GROUP BY predicted
ORDER BY predicted
""",
    tags=("text", "lang_id"),
    doc="Stopword-vote language ID; ties resolve in fixed en>es>fr>de "
    "order. The synthetic corpus is English-like word salad with random "
    "lang labels, so n_label_match measures label agreement, not model "
    "quality — the point is the deterministic, scalable scoring pipeline.",
)
def t03_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Bind the token array in its own projection: the four stopword
    # counters then reference a cheap column instead of each inlining
    # the two-regex tokenizer (no CSE reaches into the filter() lambdas;
    # measured ~2x on this query at sf0.1). Same d04/p02 pattern.
    # spread(): tokenize + 4 array filters are narrow — parallelize over
    # an unsplittable input (no-op at scale; session.spread).
    from ..session import spread

    tk = spread(d).select("doc_id", "lang", T.tokens("text").alias("_tk"))
    scored = tk.select(
        "doc_id",
        "lang",
        *[
            T.stopword_count("_tk", T.LANG_STOPWORDS[lang]).alias(f"s_{lang}")
            for lang in ("en", "es", "fr", "de")
        ],
    )
    s = {k: F.col(f"s_{k}") for k in ("en", "es", "fr", "de")}
    predicted = (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["de"]), "en"
        )
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["de"]), "es")
        .when(s["fr"] >= s["de"], "fr")
        .otherwise("de")
    )
    return (
        scored.withColumn("predicted", predicted)
        .groupBy("predicted")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("predicted") == F.col("lang")).cast("int"))
            .cast("long")
            .alias("n_label_match"),
        )
        .orderBy("predicted")
    )


# ---------------------------------------------------------------------------
# t04 — document fingerprints (md5 of normalized text) per source
# ---------------------------------------------------------------------------
@register(
    "t04_fingerprints",
    oracle=f"""
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT md5({_NORM_SQL})) AS n_unique_fp,
       min(md5({_NORM_SQL})) AS min_fp
FROM documents
GROUP BY source
ORDER BY source
""",
    tags=("text", "fingerprint"),
)
def t04_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = T.fingerprint("text")
    return (
        d.select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("fp").alias("n_unique_fp"),
            F.min("fp").alias("min_fp"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# t05 — deterministic train/val/test split (hash-bucket assignment)
# ---------------------------------------------------------------------------
# Split key: the first 4 hex digits of md5(doc_id) as an integer, mod 100.
# Content-addressed assignment is the scale-correct way to split: it is
# reproducible across runs/engines/cluster sizes (unlike rand(seed), whose
# stream depends on partitioning) and stable under re-ingestion.
_SPLIT_BUCKET_SQL = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100"


@register(
    "t05_train_test_split",
    oracle=f"""
SELECT split,
       count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       CAST(min(bucket) AS BIGINT) AS min_bucket,
       CAST(max(bucket) AS BIGINT) AS max_bucket
FROM (
  SELECT doc_id,
         {_SPLIT_BUCKET_SQL} AS bucket,
         CASE WHEN {_SPLIT_BUCKET_SQL} < 80 THEN 'train'
              WHEN {_SPLIT_BUCKET_SQL} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
) t
GROUP BY split
ORDER BY split
""",
    tags=("text", "sampling", "split"),
    doc="80/10/10 train/val/test split assigned by md5(doc_id) hash "
    "bucket — deterministic, engine-independent, stable under "
    "re-partitioning; the membership is value-checked via per-split "
    "id sums.",
)
def t05_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("doc_id", bucket.alias("bucket"), split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
            F.min("bucket").cast("long").alias("min_bucket"),
            F.max("bucket").cast("long").alias("max_bucket"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# t06 — stratified deterministic downsampling (per-language keep rates)
# ---------------------------------------------------------------------------
@register(
    "t06_stratified_sample",
    oracle=f"""
SELECT lang,
       count(*) AS n_total,
       count(*) FILTER (WHERE bucket < keep_pct) AS n_kept,
       CAST(COALESCE(sum(doc_id) FILTER (WHERE bucket < keep_pct), 0) AS BIGINT) AS sum_kept_ids
FROM (
  SELECT lang, doc_id,
         {_SPLIT_BUCKET_SQL} AS bucket,
         CASE WHEN lang = 'en' THEN 10
              WHEN lang = 'es' THEN 30
              ELSE 50 END AS keep_pct
  FROM documents
) t
GROUP BY lang
ORDER BY lang
""",
    tags=("text", "sampling", "stratified"),
    doc="Per-stratum deterministic downsampling via the md5 bucket of "
    "t05: over-represented languages keep 10%, rarer ones 30-50% — the "
    "rebalancing step of corpus curation, reproducible across engines "
    "and partitionings (unlike sampleBy, whose RNG stream is "
    "partition-order dependent).",
)
def t06_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    keep_pct = (
        F.when(F.col("lang") == "en", 10)
        .when(F.col("lang") == "es", 30)
        .otherwise(50)
    )
    kept = bucket < keep_pct
    return (
        d.select("lang", "doc_id", kept.alias("kept"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.count_if("kept").alias("n_kept"),
            F.coalesce(F.sum(F.when(F.col("kept"), F.col("doc_id"))), F.lit(0))
            .cast("long")
            .alias("sum_kept_ids"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# t07 — PII / numeric redaction (regex scrub with per-pattern audit counts)
# ---------------------------------------------------------------------------
# Patterns applied most-specific-first so the digit-run scrub cannot eat
# the digits inside an email/SSN before those are recognized. The events
# fixture's payloads contain digit runs (every `props` JSON carries a
# number); the email/SSN arms are exercised but match zero times on this
# corpus — the audit counts prove it rather than assume it.
_RE_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_RE_SSN = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
_RE_NUM = "[0-9]+"


@register(
    "t07_redaction",
    oracle=f"""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(len(regexp_extract_all(props, '{_RE_EMAIL}'))) AS BIGINT) AS n_email,
       CAST(sum(len(regexp_extract_all(props, '{_RE_SSN}'))) AS BIGINT) AS n_ssn,
       CAST(sum(len(regexp_extract_all(props, '{_RE_NUM}'))) AS BIGINT) AS n_num,
       count(DISTINCT redacted) AS n_distinct_redacted,
       min(redacted) AS min_redacted
FROM (
  SELECT event_type, props,
         regexp_replace(
           regexp_replace(
             regexp_replace(props, '{_RE_EMAIL}', '<EMAIL>', 'g'),
             '{_RE_SSN}', '<SSN>', 'g'),
           '{_RE_NUM}', '<NUM>', 'g') AS redacted
  FROM events
) t
GROUP BY event_type
ORDER BY event_type
""",
    tags=("text", "redaction", "pii"),
    doc="PII scrub over the raw event payloads: sequential "
    "email -> SSN -> digit-run regexp_replace, with per-pattern match "
    "counts as the redaction audit. Pure JVM regex (whole-stage "
    "codegen) — the linear-scan shape that holds at 100 TB; the audit "
    "aggregate is a plain partial+final count rollup.",
)
def t07_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    props = F.col("props")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(props, _RE_EMAIL, "<EMAIL>"), _RE_SSN, "<SSN>"
        ),
        _RE_NUM,
        "<NUM>",
    )
    return (
        e.select(
            "event_type",
            F.regexp_count(props, F.lit(_RE_EMAIL)).alias("c_email"),
            F.regexp_count(props, F.lit(_RE_SSN)).alias("c_ssn"),
            F.regexp_count(props, F.lit(_RE_NUM)).alias("c_num"),
            redacted.alias("redacted"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("c_email").cast("long").alias("n_email"),
            F.sum("c_ssn").cast("long").alias("n_ssn"),
            F.sum("c_num").cast("long").alias("n_num"),
            F.count_distinct("redacted").alias("n_distinct_redacted"),
            F.min("redacted").alias("min_redacted"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# t08 — repetition-based quality signals (Gopher-style repetition rules)
# ---------------------------------------------------------------------------
@register(
    "t08_repetition_stats",
    oracle=f"""
WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
base AS (
  SELECT doc_id,
         len(tk) AS n_words,
         list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
                        i -> array_to_string(tk[i:i+2], ' ')) AS tri
  FROM tk
),
uni AS (
  SELECT doc_id, max(c) AS top1_cnt FROM (
    SELECT doc_id, u, count(*) AS c
    FROM (SELECT doc_id, unnest(tk) AS u FROM tk) g
    GROUP BY doc_id, u
  ) cc GROUP BY doc_id
),
big AS (
  SELECT doc_id, max(c) AS top_bigram_cnt FROM (
    SELECT doc_id, u, count(*) AS c
    FROM (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(tk) - 1, 1)),
                                   i -> array_to_string(tk[i:i+1], ' '))) AS u
      FROM tk
    ) g
    GROUP BY doc_id, u
  ) cc GROUP BY doc_id
)
SELECT doc_id, n_words, top1_cnt,
       round(top1_cnt * 1.0 / greatest(n_words, 1), 4) AS top1_ratio,
       top_bigram_cnt,
       round(top_bigram_cnt * 1.0 / greatest(n_words - 1, 1), 4) AS top_bigram_ratio,
       round(1.0 - len(list_distinct(tri)) * 1.0 / len(tri), 4) AS dup_trigram_frac,
       CAST(top1_cnt * 1.0 / greatest(n_words, 1) > 0.2
            OR (1.0 - len(list_distinct(tri)) * 1.0 / len(tri)) > 0.3
            AS INT) AS repetitive
FROM base JOIN uni USING (doc_id) JOIN big USING (doc_id)
ORDER BY doc_id
""",
    tags=("text", "quality", "repetition"),
    doc="Per-document repetition signals in the Gopher-rules family: "
    "top-unigram fraction, top-bigram fraction, duplicate-trigram "
    "fraction, and the combined repetitive flag. Unigram/bigram modes "
    "via explode + two (doc_id, gram) count shuffles (never a per-doc "
    "O(n^2) array scan); trigram dup fraction stays array-local with "
    "zero shuffle. All shuffles are keyed by doc_id — embarrassingly "
    "parallel at 100 TB.",
)
def t08_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import spread

    d = load_table(spark, sf_dir, "documents")
    # Tokenize ONCE: three branches (base/uni/big) consume tk, and an
    # unmaterialized plan re-runs the scan+tokenizer per branch (on one
    # core for an unsplittable input — session.spread). The checkpoint
    # holds one tokenized row per doc and is ContextCleaner-collected.
    from ..session import maybe_local_checkpoint

    tk = maybe_local_checkpoint(
        spread(d).select("doc_id", T.tokens("text").alias("tk"))
    )
    tri = T.word_shingles("tk", 3)
    base = tk.select(
        "doc_id",
        F.size("tk").alias("n_words"),
        F.size(F.array_distinct(tri)).alias("n_tri_distinct"),
        F.size(tri).alias("n_tri"),
    )
    uni = (
        tk.select("doc_id", F.explode("tk").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top1_cnt"))
    )
    big = (
        tk.select("doc_id", F.explode(T.word_shingles("tk", 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_cnt"))
    )
    top1_ratio = F.col("top1_cnt") / F.greatest(F.col("n_words"), F.lit(1))
    topb_ratio = F.col("top_bigram_cnt") / F.greatest(F.col("n_words") - 1, F.lit(1))
    dup3 = F.lit(1.0) - F.col("n_tri_distinct") / F.col("n_tri")
    return (
        base.join(uni, "doc_id")
        .join(big, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "top1_cnt",
            F.round(top1_ratio, 4).alias("top1_ratio"),
            "top_bigram_cnt",
            F.round(topb_ratio, 4).alias("top_bigram_ratio"),
            F.round(dup3, 4).alias("dup_trigram_frac"),
            ((top1_ratio > 0.2) | (dup3 > 0.3)).cast("int").alias("repetitive"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t09 — exact token heavy hitters (frequent-items over the corpus vocab)
# ---------------------------------------------------------------------------
_HH_THRESHOLD_PPM = 30_000  # tokens holding >= 3% of all token occurrences


@register(
    "t09_token_heavy_hitters",
    oracle=f"""
WITH toks AS (
  SELECT unnest({_TOKS_SQL}) AS tok FROM documents
),
counts AS (SELECT tok, count(*) AS n FROM toks WHERE tok <> '' GROUP BY tok),
total AS (
  SELECT CAST(sum(len(list_filter({_TOKS_SQL}, x -> x <> ''))) AS BIGINT)
         AS total_n
  FROM documents
)
SELECT tok, n, CAST(n * 1000000 // total_n AS BIGINT) AS share_ppm
FROM counts, total
WHERE n * 1000000 >= {_HH_THRESHOLD_PPM} * total_n
ORDER BY n DESC, tok
""",
    tags=("text", "heavy_hitters", "agg"),
    doc="Exact frequent-items: tokens holding >= 3% of all corpus token "
    "occurrences. Two aggregations — the vocabulary groupBy (map-side "
    "partial combine absorbs the explode volume) and a narrow per-doc "
    "size sum for the total (a second SCAN, not a second shuffle; "
    "cheaper than recomputing the exploded groupBy branch and avoids a "
    "single-partition global window over the vocabulary). Shares are "
    "exact integer ppm (n*1e6 div total) — engine-independent, no float "
    "rounding in the hash. The approx_top_k sketch is cross-checked "
    "against this exact set in tests/test_properties.py.",
)
def t09_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(T.tokens("text")).alias("tok")).where(
        F.col("tok") != ""
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = d.select(
        F.filter(T.tokens("text"), lambda x: x != "").alias("tk")
    ).agg(F.sum(F.size("tk")).cast("long").alias("total_n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("n") * 1_000_000 >= F.lit(_HH_THRESHOLD_PPM) * F.col("total_n"))
        .select(
            "tok",
            "n",
            F.expr("CAST(n * 1000000 div total_n AS BIGINT)").alias("share_ppm"),
        )
        .orderBy(F.desc("n"), "tok")
    )


# ---------------------------------------------------------------------------
# t10 — unigram-LM commonness scoring (CCNet-style quality filter, exact)
# ---------------------------------------------------------------------------
@register(
    "t10_unigram_commonness",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
),
toks_ne AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
counts AS (SELECT tok, count(*) AS n FROM toks_ne GROUP BY tok),
total AS (SELECT CAST(sum(n) AS BIGINT) AS total_n FROM counts)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum(n) * 1000000 // (count(*) * total_n) AS BIGINT)
         AS commonness_ppm
FROM toks_ne JOIN counts USING (tok), total
GROUP BY doc_id, total_n
ORDER BY doc_id
""",
    tags=("text", "quality", "lm_filter"),
    doc="Unigram-LM quality signal: per-document mean corpus frequency "
    "of its tokens, in exact integer ppm — the arithmetic-mean analogue "
    "of a CCNet-style LM likelihood filter (low score = rare/garbled "
    "vocabulary, high = common fluent text), chosen over mean log-prob "
    "so the oracle hash has NO float rounding (ln() differs by ulps "
    "across libms). Plan: one vocab aggregation, token->count equi-join "
    "(AQE broadcasts the vocab side when small), one per-doc "
    "aggregation; corpus total arrives as a 1-row broadcast. At "
    "extreme scale the sum(n)*1e6 product upgrades to DECIMAL(38,0) — "
    "bigint holds to ~1e12 total tokens.",
)
def t10_unigram_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(T.tokens("text")).alias("tok")
    ).where(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").cast("long").alias("total_n"))
    return (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "total_n")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.sum("n").alias("_sum_n"),
        )
        .select(
            "doc_id",
            "n_toks",
            F.expr("CAST(_sum_n * 1000000 div (n_toks * total_n) AS BIGINT)").alias(
                "commonness_ppm"
            ),
        )
        .orderBy("doc_id")
    )
