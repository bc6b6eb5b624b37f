"""End-to-end training-data curation pipeline over the documents table —
the flagship composition: every stage is an operator the catalog already
verifies in isolation, chained the way a real LLM-data pipeline chains
them, and the WHOLE chain is value-checked against one SQL replay
(including the recursive-CTE duplicate-cluster resolution).

Stages:
1. quality filter  (t02 semantics: 5..1000 words, digit ratio < 0.3)
2. exact dedup     (d02 semantics: keep smallest doc_id per text)
3. near-dup dedup  (d03 pairs -> d07 transitive clusters -> keep the
                    cluster representative = smallest id)
4. deterministic split (t05 semantics: md5 hash-bucket 80/10/10)

Scale shape: stages 1-2 are one filter + one groupBy/semi-join; stage 3
is the bucketed LSH pipeline (never all-pairs) plus shallow label
propagation; stage 4 is a narrow map. Nothing in the chain collects,
broadcasts the corpus, or shuffles payloads larger than hashed
signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import dedup as D
from ..sources import load_table
from .dedup import BANDS, N_HASHES, SHINGLE_K, _PAIRS_CTES
from .registry import register
from .text import _SPLIT_BUCKET_SQL, _TOKS_SQL

_QUALITY_SQL = (
    f"len({_TOKS_SQL}) BETWEEN 5 AND 1000 "
    "AND length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 "
    "/ greatest(length(text), 1) < 0.3"
)

_SPLIT_BUCKET = _SPLIT_BUCKET_SQL


def _p01_oracle() -> str:
    # _PAIRS_CTES reads FROM documents exactly once (the shingle CTE);
    # repoint it at the quality-filtered, exact-deduped survivors.
    pairs_over_src = _PAIRS_CTES.replace("FROM documents", "FROM src")
    return f"""
WITH RECURSIVE src AS (
  SELECT doc_id, text, lang FROM (
    SELECT doc_id, text, lang,
           row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM documents
    WHERE {_QUALITY_SQL}
  ) WHERE rn = 1
),
{pairs_over_src},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, root) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
),
labels AS (SELECT id, min(root) AS cluster_id FROM reach GROUP BY id),
kept AS (
  SELECT s.doc_id, s.lang FROM src s
  LEFT JOIN labels l ON l.id = s.doc_id
  WHERE l.id IS NULL OR l.cluster_id = s.doc_id
)
SELECT split, lang,
       count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM (
  SELECT doc_id, lang,
         CASE WHEN {_SPLIT_BUCKET} < 80 THEN 'train'
              WHEN {_SPLIT_BUCKET} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM kept
) t
GROUP BY split, lang
ORDER BY split, lang
"""


@register(
    "p01_curation_pipeline",
    oracle=_p01_oracle(),
    tags=("pipeline", "dedup", "quality", "split", "curation"),
    doc="Quality filter -> exact dedup -> MinHash-LSH near-dup cluster "
    "keep-one -> hash-bucket train/val/test split, value-checked as ONE "
    "chain (per split x lang counts and id sums) against a SQL replay "
    "with a recursive-CTE closure. The composition test that catches "
    "stage-interaction bugs isolated operator tests cannot.",
)
def p01_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import spread

    # spread(): the quality filter tokenizes every doc before the first
    # shuffle — narrow work an unsplittable input would serialize.
    d = spread(load_table(spark, sf_dir, "documents"))
    txt = F.col("text")
    n_words = T.token_count("text")
    dig = F.length(F.regexp_replace(txt, "[^0-9]", "")) / F.greatest(
        F.length(txt), F.lit(1)
    )
    survivors = d.where(n_words.between(5, 1000) & (dig < 0.3))
    # Materialize the filter+dedup result once: three downstream branches
    # (signature build, verify join, final keep anti-join) would each
    # re-run the tokenize+groupBy+semi-join plan otherwise. Checkpoint
    # blocks are ContextCleaner-collected when unreferenced (no cache
    # leak), and the survivors table is corpus-sized at most — at scale
    # this is the natural stage boundary a pipeline would persist anyway.
    from ..session import maybe_local_checkpoint

    survivors = maybe_local_checkpoint(D.exact_dedup(survivors, ["text"], "doc_id"))

    pairs = D.minhash_lsh_pairs(
        survivors,
        "text",
        "doc_id",
        n_hashes=N_HASHES,
        bands=BANDS,
        shingle_k=SHINGLE_K,
        jaccard_threshold=0.1,
    )
    non_reps = (
        D.dup_clusters(pairs)
        .where(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias("doc_id"))
    )
    kept = survivors.join(non_reps, "doc_id", "left_anti")

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
        kept.select("doc_id", "lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
        )
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# p02 — train/eval decontamination (cross-split n-gram overlap)
# ---------------------------------------------------------------------------
from .dedup import _SHINGLES_SQL  # noqa: E402  (shared shingle definition)

_P02_MIN_OVERLAP = 2


def _p02_oracle() -> str:
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
split AS (
  SELECT doc_id,
         CASE WHEN {_SPLIT_BUCKET} < 80 THEN 'train'
              WHEN {_SPLIT_BUCKET} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
grams AS (
  SELECT sh.doc_id, s.split, unnest(sh.sh) AS gram
  FROM sh JOIN split s USING (doc_id)
),
train_grams AS (SELECT DISTINCT doc_id, gram FROM grams WHERE split = 'train'),
eval_grams  AS (SELECT DISTINCT gram FROM grams WHERE split IN ('val', 'test'))
SELECT t.doc_id AS train_doc_id,
       count(*) AS n_shared_grams
FROM train_grams t JOIN eval_grams e USING (gram)
GROUP BY t.doc_id
HAVING count(*) >= {_P02_MIN_OVERLAP}
ORDER BY train_doc_id
"""


@register(
    "p02_decontamination",
    oracle=_p02_oracle(),
    tags=("pipeline", "decontamination", "dedup", "ngram"),
    doc=f"Benchmark-leakage check: train-split documents sharing >= "
    f"{_P02_MIN_OVERLAP} distinct 3-word shingles with ANY val/test "
    "document. Distinct-gram equi-join (hash-shuffled on the gram), "
    "never a doc x doc comparison — the shape that scales to a 100 TB "
    "train set vs a fixed eval suite, where the eval gram set is small "
    "enough to broadcast.",
)
def p02_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    # Tokenize in a separate projection: word_shingles references the
    # token array k+1 times, and Catalyst will not duplicate a non-cheap
    # aliased expression across a projection boundary — so the two regex
    # passes of the tokenizer run once per doc, not once per reference.
    # spread(): tokenize+shingle+explode are narrow — parallelize over
    # an unsplittable input (no-op at scale; session.spread).
    from ..session import spread

    tk = spread(d).select(
        "doc_id", split.alias("split"), T.tokens("text").alias("_tk")
    )
    grams = tk.select(
        "doc_id",
        "split",
        F.explode(F.array_distinct(T.word_shingles("_tk", SHINGLE_K))).alias(
            "gram"
        ),
    )
    # (doc_id, gram) is already distinct: the explode is over the
    # per-document array_distinct, so no extra distinct (= no extra
    # shuffle of the largest intermediate) is needed on the train side.
    train_grams = grams.where(F.col("split") == "train").select("doc_id", "gram")
    # The eval gram set is bounded by the eval suite's vocabulary — small
    # by construction (a fixed benchmark suite vs a 100 TB train set), so
    # broadcast it: the train side then never shuffles for the join.
    eval_grams = (
        grams.where(F.col("split").isin("val", "test")).select("gram").distinct()
    )
    return (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(F.col("doc_id").alias("train_doc_id"))
        .agg(F.count("*").alias("n_shared_grams"))
        .where(F.col("n_shared_grams") >= _P02_MIN_OVERLAP)
        .select("train_doc_id", "n_shared_grams")
        .orderBy("train_doc_id")
    )


# ---------------------------------------------------------------------------
# p03 — sequence packing into fixed context windows
# ---------------------------------------------------------------------------
from ..operators import packing as P  # noqa: E402

_P03_CAP = 512
_P03_GROUPS = 8
_P03_GRP_SQL = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) "
    f"% {_P03_GROUPS}"
)


def _p03_oracle() -> str:
    return f"""
WITH RECURSIVE lens AS (
  SELECT doc_id,
         {_P03_GRP_SQL} AS grp,
         least(CAST(len({_TOKS_SQL}) AS BIGINT), {_P03_CAP}) AS seq_len
  FROM documents
),
docs AS (
  SELECT *, row_number() OVER (PARTITION BY grp ORDER BY doc_id) AS rn
  FROM lens
),
pack(grp, rn, doc_id, seq_len, bin_id, fill) AS (
  SELECT grp, rn, doc_id, seq_len, CAST(0 AS BIGINT), seq_len
  FROM docs WHERE rn = 1
  UNION ALL
  SELECT d.grp, d.rn, d.doc_id, d.seq_len,
         CASE WHEN p.fill + d.seq_len > {_P03_CAP}
              THEN p.bin_id + 1 ELSE p.bin_id END,
         CASE WHEN p.fill + d.seq_len > {_P03_CAP}
              THEN d.seq_len ELSE p.fill + d.seq_len END
  FROM pack p JOIN docs d ON d.grp = p.grp AND d.rn = p.rn + 1
)
SELECT grp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(bin_id) + 1 AS BIGINT) AS n_bins,
       CAST(sum(seq_len) AS BIGINT) AS sum_tokens,
       CAST((max(bin_id) + 1) * {_P03_CAP} - sum(seq_len) AS BIGINT)
         AS pad_tokens,
       CAST(sum(doc_id * (bin_id + 1)) AS BIGINT) AS assign_checksum,
       CAST(sum(fill - seq_len) AS BIGINT) AS offset_checksum
FROM pack
GROUP BY grp
ORDER BY grp
"""


@register(
    "p03_sequence_packing",
    oracle=_p03_oracle(),
    tags=("pipeline", "packing", "training", "applyInPandas"),
    doc=f"Greedy sequence packing of token-counted documents into "
    f"{_P03_CAP}-token context windows, sharded into {_P03_GROUPS} "
    "hash-groups that pack independently (the distributed-packing "
    "strategy: global greedy is sequential, per-shard greedy is "
    "embarrassingly parallel and wastes at most one tail bin per shard). "
    "Only (grp, id, len) ints shuffle; the per-group O(n) pass runs in an "
    "Arrow-batched applyInPandas. Verified bin-for-bin against a DuckDB "
    "recursive-CTE replay via per-group assignment and offset checksums.",
)
def p03_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    grp = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % _P03_GROUPS
    )
    lens = d.select(
        "doc_id",
        grp.alias("grp"),
        T.token_count("text").alias("n_tok"),
    )
    asg = P.pack_sequences(lens, "doc_id", "n_tok", "grp", _P03_CAP)
    return (
        asg.groupBy("grp")
        .agg(
            F.count("*").alias("n_docs"),
            (F.max("bin_id") + 1).alias("n_bins"),
            F.sum("seq_len").alias("sum_tokens"),
            ((F.max("bin_id") + 1) * _P03_CAP - F.sum("seq_len")).alias(
                "pad_tokens"
            ),
            F.sum(F.col("doc_id") * (F.col("bin_id") + 1)).alias(
                "assign_checksum"
            ),
            F.sum("bin_offset").alias("offset_checksum"),
        )
        .orderBy("grp")
    )
