"""Full-text keyword search over the ``documents`` table: inverted
index construction and BM25 ranking — the retrieval side of a training
-data / RAG pipeline.

Absent from the reference (its query surface is Redshift ad-hoc SQL,
``/root/reference/README.md:77``); built Spark-first as compositions of
built-in DataFrame ops:

- ``postings``     — the inverted index as a (term, doc_id, tf) table.
  At scale this IS the index: partitioned/bucketed by term, a keyword
  lookup becomes a partition-pruned equi-join, never a corpus scan.
- ``doc_lengths``  — per-document token counts (the BM25 length norm).
- ``term_stats``   — per-term document frequency / total frequency.
- ``bm25_topk``    — classic Okapi BM25 over a small query-term set.
  The per-term score rows are generated by a broadcast semi-filter on
  the postings (only matching terms survive the scan), then one
  groupBy(doc) sums term contributions — two shuffles total, both on
  uniformly-distributed keys.

Scale notes (100 TB): the postings build is explode → groupBy(term,
doc) with map-side partial aggregation absorbing the token volume; df/
idf stats are a second groupBy on term alone. Both shuffles are keyed by
(hash-distributed) vocabulary terms — no skew beyond stopwords, and a
``max_df_ratio`` guard drops degenerate stopword postings the same way
LSH drops degenerate buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T


def postings(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Inverted-index postings: one row per (term, doc_id) with term
    frequency. Write this partitioned by ``term`` and keyword lookups
    prune to single partitions."""
    from ..session import spread

    # spread(): tokenize+explode+partial-agg are narrow — an
    # unsplittable docs input would serialize them on one core.
    toks = spread(docs).select(
        F.col(id_col).alias("doc_id"), F.explode(T.tokens(text_col)).alias("term")
    ).where(F.col("term") != "")
    return toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))


def write_postings_index(
    post: DataFrame, path: str, hash_partitions: int | None = None
) -> None:
    """Persist the postings AS the on-disk index, partitioned so a
    keyword lookup is partition-pruned at the scan (never a corpus
    read). Two layouts:

    - ``hash_partitions=None``: ``partitionBy("term")`` — one directory
      per term, exact pruning. Right for a bounded vocabulary (e.g. a
      curated tag set); a web-scale vocabulary would explode the
      filesystem namespace.
    - ``hash_partitions=N``: partition by ``term_bkt = xxhash64(term)
      % N`` — N directories total regardless of vocabulary size.
      Lookups prune to the term's bucket directory, and the residual
      ``term = ...`` predicate pushes into the parquet row-group
      filter inside it. The scale layout.

    The layout dial is recorded in a ``_meta.json`` sidecar and
    validated by ``lookup_postings`` — probing a bucketed index with a
    different ``hash_partitions`` would prune to the WRONG directory
    and silently return nothing. The overwrite is scoped to STATIC
    partitionOverwriteMode so a rebuild after the vocabulary shrinks
    fully replaces the prior term/bucket directories (the engine
    session's dynamic mode would leave the removed ones stale).
    """
    from ..session import static_partition_overwrite
    from .indexmeta import write_index_meta

    spark = post.sparkSession
    with static_partition_overwrite(spark):
        if hash_partitions is None:
            post.write.mode("overwrite").partitionBy("term").parquet(path)
        else:
            (
                post.withColumn(
                    "term_bkt", F.pmod(F.xxhash64("term"), F.lit(hash_partitions))
                )
                .write.mode("overwrite")
                .partitionBy("term_bkt")
                .parquet(path)
            )
    write_index_meta(
        spark, path, {"kind": "postings", "hash_partitions": hash_partitions}
    )


def upsert_postings_for_docs(
    post: DataFrame,
    path: str,
    assume_new_docs: bool = False,
) -> None:
    """Incrementally MERGE one batch of documents' postings into a
    ``write_postings_index`` table, rewriting ONLY the touched term /
    bucket partitions — a growing or re-ingested corpus must not pay a
    full O(corpus-tokens) index rebuild per batch (the same touched-
    partition dynamic-overwrite pattern as ``upsert_ivf_cells``, with
    the postings layout's partition column as the merge key).

    ``post`` is the batch's postings — ``postings(new_or_edited_docs)``
    — and REPLACES all prior postings of those doc_ids. Touched
    partitions = the batch's term/bucket partitions PLUS — unless
    ``assume_new_docs`` — any partition currently holding a batch
    doc_id (an EDITED document may have dropped terms whose postings
    live in partitions the new text no longer touches; finding them
    costs one column-pruned (doc_id, partition) scan). With
    ``assume_new_docs=True`` that scan is skipped: correct only for
    genuinely new doc_ids, the append-mostly ingest fast path.

    The layout dial comes from the index's ``_meta.json`` sidecar, so
    an upsert can never mix bucket hashes.
    """
    from ..session import dynamic_partition_overwrite
    from .indexmeta import check_index_meta, read_index_meta

    spark = post.sparkSession
    check_index_meta(spark, path, {"kind": "postings"})
    hp = read_index_meta(spark, path)["hash_partitions"]
    part_col = "term" if hp is None else "term_bkt"
    if hp is None:
        new = post.select("term", "doc_id", "tf")
    else:
        new = post.select(
            "term",
            "doc_id",
            "tf",
            F.pmod(F.xxhash64("term"), F.lit(hp)).alias("term_bkt"),
        )
    # The touched-partition set is collected ONCE (metadata-sized: the
    # discovery scan inside _postings_touched_partitions is the only
    # full-index read, column-pruned to (doc_id, partition)) and reused
    # for BOTH the survivor plan — where it lands as a STATIC partition
    # filter, pruned at planning — and the emptied-partition diff.
    if assume_new_docs:
        touched_df = new.select(part_col).distinct()
    else:
        touched_df = _postings_touched_partitions(spark, new, path, part_col)
    touched_parts = sorted(r[part_col] for r in touched_df.collect())
    merged = _postings_upsert_merged(spark, new, path, part_col, touched_parts)
    # The write replaces partitions the plan still reads — cut lineage
    # first (same reasoning as upsert_ivf_cells).
    merged = merged.localCheckpoint(eager=True)
    # An EDITED document may have been the only one holding some of its
    # old terms: those touched partitions end up with ZERO merged rows,
    # and dynamic overwrite cannot delete a partition it writes no rows
    # into — the dropped terms would stay retrievable (the same emptied-
    # partition hazard delete_postings_for_docs handles). Diff touched
    # vs merged partition values (both metadata-sized) and drop the
    # emptied directories explicitly.
    from .indexmeta import delete_partition_dirs

    if assume_new_docs:
        emptied: list = []  # new docs never empty an existing partition
    else:
        merged_parts = {
            r[part_col] for r in merged.select(part_col).distinct().collect()
        }
        emptied = sorted(set(touched_parts) - merged_parts)
    with dynamic_partition_overwrite(spark):
        merged.write.mode("overwrite").partitionBy(part_col).parquet(path)
    if emptied:
        delete_partition_dirs(
            spark, path, [f"{part_col}={p}" for p in emptied]
        )


def _read_postings_like(spark: SparkSession, path: str, like: DataFrame) -> DataFrame:
    """Read a postings index, tolerating a ZERO-FILE layout: an index
    bootstrapped from an empty table version (the sync_* docstrings'
    recommended cursor-first setup) writes no parquet files, and a bare
    ``spark.read.parquet`` would crash the first sync with
    UNABLE_TO_INFER_SCHEMA. Fall back to a typed-empty frame shaped
    like the incoming batch — delegated to the shared
    ``indexmeta.read_index_parquet`` (one implementation for all index
    kinds)."""
    from .indexmeta import read_index_parquet

    return read_index_parquet(spark, path, like.schema).select(*like.columns)


def _postings_touched_partitions(
    spark: SparkSession, new: DataFrame, path: str, part_col: str
) -> DataFrame:
    """Partitions an upsert batch touches: the batch's own partitions
    plus any currently holding a batch doc_id (column-pruned scan)."""
    index = _read_postings_like(spark, path, new)
    doc_ids = new.select("doc_id").distinct()
    old_parts = (
        index.join(F.broadcast(doc_ids), "doc_id", "left_semi")
        .select(part_col)
        .distinct()
    )
    return new.select(part_col).distinct().unionByName(old_parts).distinct()


def _postings_upsert_merged(
    spark: SparkSession,
    new: DataFrame,
    path: str,
    part_col: str,
    touched_parts: list,
) -> DataFrame:
    """The upsert's merged-partitions plan (split out so the layout test
    can assert its scan shape: the collected touched-partition values
    land as a STATIC partition filter on the index scan — untouched
    term/bucket directories are pruned at planning, never read)."""
    index = _read_postings_like(spark, path, new)
    doc_ids = new.select("doc_id").distinct()
    survivors = index.where(F.col(part_col).isin(touched_parts)).join(
        doc_ids, "doc_id", "left_anti"
    )
    return survivors.unionByName(new)


def delete_postings_for_docs(
    doc_ids: DataFrame,
    path: str,
) -> None:
    """Remove all postings of the given doc_ids from a persisted
    postings index — the retrieval side of decontamination: a removed
    document must stop being retrievable without an O(corpus-tokens)
    index rebuild. Touched term/bucket partitions are found with a
    column-pruned (doc_id, partition) scan and rewritten without the
    victims' rows; partitions emptied entirely (the only documents
    containing a term were deleted) have their directories dropped
    explicitly — dynamic overwrite cannot delete a partition it writes
    no rows into, and leaving them would keep the victims retrievable.
    """
    from ..session import dynamic_partition_overwrite
    from .indexmeta import check_index_meta, delete_partition_dirs, read_index_meta

    spark = doc_ids.sparkSession
    check_index_meta(spark, path, {"kind": "postings"})
    hp = read_index_meta(spark, path)["hash_partitions"]
    part_col = "term" if hp is None else "term_bkt"
    from .indexmeta import read_index_parquet

    index = read_index_parquet(spark, path)
    if index is None:
        return  # zero-file (bootstrap-empty) index: nothing to delete
    victims = F.broadcast(doc_ids.select("doc_id").distinct())

    touched = (
        index.join(victims, "doc_id", "left_semi").select(part_col).distinct()
    )
    touched_parts = [r[part_col] for r in touched.collect()]  # metadata-sized
    if not touched_parts:
        return
    survivors = (
        index.where(F.col(part_col).isin(touched_parts))
        .join(victims, "doc_id", "left_anti")
        .select(*index.columns)
    )
    survivors = survivors.localCheckpoint(eager=True)
    surviving = {
        r[part_col] for r in survivors.select(part_col).distinct().collect()
    }
    with dynamic_partition_overwrite(spark):
        survivors.write.mode("overwrite").partitionBy(part_col).parquet(path)
    emptied = [p for p in touched_parts if p not in surviving]
    delete_partition_dirs(spark, path, [f"{part_col}={p}" for p in emptied])


def lookup_postings(
    spark: SparkSession,
    path: str,
    terms: list[str],
    hash_partitions: int | None = None,
) -> DataFrame:
    """Read postings for ``terms`` from a ``write_postings_index``
    layout. The filter lands on the PARTITION column, so the scan
    lists only the matching directories (asserted in the layout test —
    PartitionFilters, not a post-scan filter). ``hash_partitions`` must
    match the write-time dial — validated against the index sidecar, so
    a mismatch fails fast instead of pruning to the wrong bucket."""
    from .indexmeta import check_index_meta

    check_index_meta(
        spark, path, {"kind": "postings", "hash_partitions": hash_partitions}
    )
    idx = spark.read.parquet(path)
    if hash_partitions is None:
        return idx.where(F.col("term").isin(terms))
    # The term -> bucket map is metadata-sized; compute it with the same
    # engine hash (one tiny job, never a corpus scan).
    buckets = [
        r["b"]
        for r in spark.createDataFrame([(t,) for t in terms], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(hash_partitions)).alias("b"))
        .distinct()
        .collect()
    ]
    return idx.where(
        F.col("term_bkt").isin(buckets) & F.col("term").isin(terms)
    )


def doc_lengths(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token count (non-empty tokens) — the BM25 length norm.
    Computed array-local from the token array: no shuffle at all."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.filter(T.tokens(text_col), lambda x: x != "")).alias("dl"),
    )


def term_stats(post: DataFrame) -> DataFrame:
    """Per-term stats over the postings: document frequency and corpus
    term frequency."""
    return post.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").cast("long").alias("total_tf")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 top-k documents for a bag of query terms.

    score(D, Q) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    with idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)).

    Float scores are for ranking, not for cross-engine hashing — the
    catalog's s02 uses an integer-exact scoring variant for the strict
    oracle gate; this operator is verified against a pure-Python
    reference in tests/test_search.py.
    """
    post = postings(docs, text_col, id_col)
    dls = doc_lengths(docs, text_col, id_col)
    # Global constants (N, avgdl) ride along as a broadcast single row —
    # never a driver-side collect.
    consts = dls.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    matched = post.where(F.col("term").isin(query_terms))
    stats = term_stats(matched)  # df over the full corpus for these terms
    scored = (
        matched.join(F.broadcast(stats.select("term", "df")), "term")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(consts))
        .withColumn(
            "idf",
            F.log1p((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("term_score").alias("score"),
            F.count("*").alias("n_terms_matched"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )


def set_postings_sync_cursor(
    spark: SparkSession, index_path: str, version: int
) -> None:
    """Record which snapshot-table version a postings index reflects
    (the ``synced_version`` cursor in the index sidecar). Call once
    after building the index from ``read_snapshot(table, version)``;
    ``sync_postings_from_snapshot`` advances it on every sync."""
    from .indexmeta import check_index_meta, read_index_meta, write_index_meta

    check_index_meta(spark, index_path, {"kind": "postings"})
    meta = read_index_meta(spark, index_path)
    meta["synced_version"] = int(version)
    write_index_meta(spark, index_path, meta)


def sync_postings_from_snapshot(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    to_version: int | None = None,
) -> dict:
    """Propagate snapshot-table DML into the postings index by
    consuming the row-level change feed since the index's
    ``synced_version`` cursor — appends, updates (delete+insert),
    targeted deletes, redactions, and restores all arrive as one
    stream of row changes, so the search index follows ANY warehouse
    mutation without an O(corpus-tokens) rebuild and without each DML
    call-site knowing an index exists.

    Net effect per document: its LAST change in the range wins (within
    one commit an insert outranks the delete of the old image — that
    pair IS an update). Final-state inserts upsert their postings
    (dropped-term cleanup included); final-state deletes remove the
    document's postings and drop emptied partitions. Cost is
    proportional to the CHANGES (feed reads only touched files; index
    rewrites only touched term partitions), never table or index size.

    Returns ``{"synced_from", "synced_to", "docs_upserted",
    "docs_deleted"}``; the cursor advances only after both index
    mutations complete (a crash in between re-syncs the same range —
    both mutations are idempotent replacements, so re-application
    converges).
    """
    from pyspark.sql.window import Window

    from ..warehouse.manifestlog import list_versions
    from ..warehouse.snapshots import snapshot_changes
    from .indexmeta import check_index_meta, read_index_meta

    check_index_meta(spark, index_path, {"kind": "postings"})
    meta = read_index_meta(spark, index_path)
    from_v = meta.get("synced_version")
    if from_v is None:
        raise ValueError(
            f"{index_path}: no synced_version cursor — build the index "
            "from read_snapshot(table, v) and record v with "
            "set_postings_sync_cursor first"
        )
    if to_version is None:
        to_version = list_versions(table_path)[-1]
    if to_version <= from_v:
        return {
            "synced_from": from_v, "synced_to": from_v,
            "docs_upserted": 0, "docs_deleted": 0,
        }
    ch = snapshot_changes(spark, table_path, from_v, to_version)
    # last change per doc wins; "insert" > "delete" so within one
    # commit the new image outranks the old image's delete
    w = Window.partitionBy(id_col).orderBy(
        F.desc("_commit_version"), F.desc("_change_type")
    )
    last = (
        ch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=True)
    )
    upserts = last.where(F.col("_change_type") == "insert").drop(
        "_change_type", "_commit_version"
    )
    deletes = last.where(F.col("_change_type") == "delete").select(
        F.col(id_col).alias("doc_id")
    )
    # A doc whose NEW text tokenizes to zero terms (NULL-the-PII
    # redaction, punctuation-only) produces no postings rows, so the
    # upsert — which derives its doc set FROM the postings — would
    # never remove its old terms. Such docs are index-DELETES even
    # though they still exist in the table.
    new_post = postings(upserts, text_col, id_col).localCheckpoint(
        eager=True
    )
    termless = upserts.select(F.col(id_col).alias("doc_id")).join(
        new_post.select("doc_id").distinct(), "doc_id", "left_anti"
    )
    deletes = deletes.unionByName(termless)
    n_del = deletes.count()
    if n_del:
        delete_postings_for_docs(deletes, index_path)
    n_up = new_post.select("doc_id").distinct().count()
    if n_up:
        upsert_postings_for_docs(new_post, index_path)
    set_postings_sync_cursor(spark, index_path, to_version)
    return {
        "synced_from": from_v, "synced_to": to_version,
        "docs_upserted": n_up, "docs_deleted": n_del,
    }
