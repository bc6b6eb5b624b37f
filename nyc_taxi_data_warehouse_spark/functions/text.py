"""Text-analysis expressions — JVM-side Spark SQL built-ins, no UDFs.

Every builder takes a SQL fragment ``str`` (a column name or an
expression, see ``functions.sql.fragment``) and returns ONE ``F.expr``,
so the whole text pipeline stays inside whole-stage codegen and scales
linearly with input bytes at 100 TB. One parse per expression keeps
plan-build time flat: building the same trees through python-lambda
higher-order functions cost ~40 ms of py4j round trips per lambda, and
``simhash32`` alone needs 64 lambdas (~1.5 s of driver work per query
build, measured). Hash-based operators (fingerprints, MinHash) use
``md5`` rather than Spark's ``xxhash64`` so a DuckDB oracle can
reproduce the exact signatures cross-engine.

Builders that reference an input inside a lambda (``word_shingles``,
``minhash_signature``, ``simhash32``, ``stopword_count``) want a bound
column: Catalyst does no common-subexpression elimination across lambda
boundaries, so an expression input re-evaluates per element. Bind it in
a prior projection and pass its name.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sql import fragment

# Tiny per-language stopword sets for the n-gram/stopword lang-ID
# heuristic. Deterministic + cross-engine reproducible by construction.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "en", "est", "que"),
    "de": ("der", "die", "und", "das", "ist", "ein", "zu", "den"),
}


def normalize_sql(col: str) -> str:
    return (
        "trim(regexp_replace(regexp_replace("
        f"lower({fragment(col)}), '[^a-z0-9 ]', ''), ' +', ' '))"
    )


def tokens_sql(col: str) -> str:
    return f"split({normalize_sql(col)}, ' ')"


def normalize(col: str) -> Column:
    """lowercase, strip non-alphanumerics, collapse whitespace."""
    return F.expr(normalize_sql(col))


def tokens(col: str) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.expr(tokens_sql(col))


def token_count(col: str) -> Column:
    return F.expr(f"size({tokens_sql(col)})")


def bpe_ish_token_estimate(col: str) -> Column:
    """Byte-pair-ish token-count estimate without a tokenizer model:
    ceil(chars/4) bounded below by the word count — the standard
    chars/4 heuristic, deterministic and portable."""
    return F.expr(
        f"greatest(CAST(ceil(length({normalize_sql(col)}) / 4.0D) AS BIGINT), "
        f"CAST(size({tokens_sql(col)}) AS BIGINT))"
    )


def _sql_str_array(words: tuple[str, ...]) -> str:
    quoted = (w.replace("\\", "\\\\").replace("'", "\\'") for w in words)
    return "array(" + ", ".join(f"'{w}'" for w in quoted) + ")"


def stopword_count(toks: str, words: tuple[str, ...]) -> Column:
    """Total (non-distinct) stopword occurrences."""
    return F.expr(
        f"size(filter({fragment(toks)}, t -> "
        f"array_contains({_sql_str_array(words)}, t)))"
    )


def fingerprint(col: str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    (Exact near-identity dedup key; MinHash covers fuzzier matches.)"""
    return F.expr(f"md5({normalize_sql(col)})")


def word_shingles(toks: str, k: int = 3) -> Column:
    """k-word shingles (array<string>); the unit set for MinHash/Jaccard.

    Index-based O(1) element access per shingle keeps the build O(n·k).
    The naive ``transform(sequence(...), i -> array_join(slice(toks, i,
    k)))`` form is quadratic per doc, because slice() is O(n) per
    element. A doc shorter than k tokens yields its single partial
    shingle: ``try_element_at`` gives NULL past the end and concat_ws
    skips NULLs.

    NULL maps to NULL and [] to []. Both are special-cased: without the
    guard ``greatest(size(NULL) - (k-1), 1)`` is 1, not NULL (greatest
    SKIPS nulls), so a NULL token array would yield [''] and give two
    null-text docs Jaccard 1.0 (caught by the degenerate-corpus gate)."""
    toks = fragment(toks)
    parts = ", ".join(f"try_element_at({toks}, i + {j})" for j in range(k))
    return F.expr(
        f"CASE WHEN {toks} IS NULL THEN NULL "
        f"WHEN size({toks}) = 0 THEN slice({toks}, 1, 0) "
        f"ELSE transform(sequence(1, greatest(size({toks}) - {k - 1}, 1)), "
        f"i -> concat_ws(' ', {parts})) END"
    )


def minhash_signature(shingles: str, n_hashes: int) -> list[Column]:
    """n_hashes MinHash components mh0..mh{n-1}: min over shingles of
    md5(seed|shingle).

    Using string-min over md5 hex keeps the signature identical in any
    engine with md5 — the cross-engine analogue of k independent hash
    functions (each seed prefix re-randomizes the order).
    """
    shingles = fragment(shingles)
    return [
        F.expr(
            f"array_min(transform({shingles}, s -> md5(concat('{i}|', s))))"
        ).alias(f"mh{i}")
        for i in range(n_hashes)
    ]


def simhash32(toks: str) -> Column:
    """32-bit SimHash of the token multiset as a BIGINT.

    Bit k of each token comes from hex digit k//4 of md5(token)
    (sub-bit k%4); the signature bit is the sign of the per-bit
    majority vote. Pure integer arithmetic — identical in DuckDB.
    """
    toks = fragment(toks)
    terms = []
    for k in range(32):
        digit_pos = k // 4 + 1
        shift = 2 ** (k % 4)
        vote = (
            f"transform({toks}, t -> "
            f"(floor((instr('0123456789abcdef', substr(md5(t), {digit_pos}, 1))"
            f" - 1) / {shift}) % 2) * 2 - 1)"
        )
        s = f"aggregate({vote}, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        terms.append(
            f"(CASE WHEN {s} > 0 THEN CAST({2 ** k} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr("(CAST(0 AS BIGINT) + " + " + ".join(terms) + ")")


def simhash32_duckdb_sql(tokens_expr: str) -> str:
    """The DuckDB expression computing the identical SimHash value."""
    terms = []
    for k in range(32):
        digit_pos = k // 4 + 1
        shift = 2 ** (k % 4)
        vote = (
            f"list_transform({tokens_expr}, t -> "
            f"(((strpos('0123456789abcdef', substr(md5(t), {digit_pos}, 1)) - 1)"
            f" // {shift}) % 2) * 2 - 1)"
        )
        terms.append(
            f"CASE WHEN list_sum({vote}) > 0 THEN CAST({2**k} AS BIGINT) ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"
