"""Dedup-on-ingest: a document stream whose every micro-batch is
near-dup-filtered against the full already-kept corpus before landing.

The batch form of this (run the LSH pipeline over corpus ∪ batch per
ingest) re-reads and re-signs the whole corpus every time — quadratic
total work over a corpus built from N batches. Composing the persisted
MinHash index (``operators/dedup.py``) with foreachBatch makes each
batch cost O(batch + matched candidates):

per micro-batch:
  1. redelivery guard — drop docs whose id is already indexed
     (column-pruned anti-join; makes checkpoint replays no-ops)
  2. corpus filter — ``incremental_minhash_pairs`` against the index;
     batch docs near-duplicating ANY kept doc are dropped (batch band
     keys broadcast; the corpus never shuffles)
  3. within-batch filter — ``minhash_lsh_pairs`` + transitive
     ``dup_clusters`` over the survivors; each cluster keeps its
     min-id doc (A~B, B~C collapse to one kept doc)
  4. land survivors — into ``kept_path/ingest_batch=<epoch>`` and the
     index (signatures + band buckets), so batch N+1 dedups against
     everything batch N kept

Exactly-once across restarts, without a transaction spanning the two
sinks: the checkpoint makes Spark replay at most the failed batch, and
both landing writes are idempotent under that replay — the kept write
OVERWRITES its epoch-keyed directory (a re-run reproduces the same
survivors, since they are a deterministic function of batch content and
index state, and rewrites the same files), and the index append
anti-joins already-indexed ids. Whichever write the crash interrupted,
the replay completes it; whichever already committed, the replay
no-ops it. The epoch directory is the replay unit — ordinary
``mode("append")`` here would duplicate kept rows on every replay.
There is no corpus-wide state in memory; recovery needs no rebuild.

Scale: every stage is the already-audited index machinery; the stream
adds no new shuffle. The kept table accumulates small files across
batches, one epoch directory each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import (
    append_to_minhash_index,
    dup_clusters,
    incremental_minhash_pairs,
    minhash_lsh_pairs,
    write_minhash_index,
)


def init_dedup_index(
    spark: SparkSession,
    index_path: str,
    text_col: str,
    id_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> None:
    """Create an EMPTY minhash index so the first micro-batch has a
    corpus to probe (zero buckets — everything survives step 2)."""
    empty = spark.createDataFrame([], f"{id_col} long, {text_col} string")
    write_minhash_index(
        spark, empty, text_col, id_col, index_path,
        n_hashes=n_hashes, bands=bands, shingle_k=shingle_k,
    )


def stream_dedup_ingest(
    spark: SparkSession,
    docs: DataFrame,
    index_path: str,
    kept_path: str,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.5,
    checkpoint: str | None = None,
    dedup_within_batch: bool = True,
) -> None:
    """Drain the streaming ``docs`` (availableNow), landing only
    documents that near-duplicate neither the kept corpus nor an
    earlier doc of their own batch. ``index_path`` must exist
    (``init_dedup_index`` or a prior ``write_minhash_index``)."""

    def apply_batch(batch: DataFrame, epoch: int) -> None:
        if batch.isEmpty():
            return
        import pyspark.sql.functions as F

        # 1. redelivery guard (also: docs kept by an earlier batch)
        indexed = batch.sparkSession.read.parquet(f"{index_path}/shingles").select(
            "_id"
        )
        fresh = batch.join(
            indexed, batch[id_col] == indexed["_id"], "left_anti"
        ).localCheckpoint(eager=True)  # file-source batch is re-read per action below
        if fresh.isEmpty():
            return

        # 2. near-dups of the kept corpus
        corpus_hits = incremental_minhash_pairs(
            spark, fresh, text_col, id_col, index_path, jaccard_threshold
        ).select(F.col("new_id").alias(id_col))
        survivors = fresh.join(corpus_hits, id_col, "left_anti")

        # 3. within-batch near-dup clusters keep their min id
        if dedup_within_batch:
            pairs = minhash_lsh_pairs(
                survivors, text_col, id_col,
                jaccard_threshold=jaccard_threshold,
            )
            losers = (
                dup_clusters(pairs)
                .where(F.col("id") != F.col("cluster_id"))
                .select(F.col("id").alias(id_col))
            )
            survivors = survivors.join(losers, id_col, "left_anti")

        # 4. land: epoch-keyed overwrite + guarded index append — each
        # idempotent under checkpoint replay (see module docstring)
        survivors = survivors.localCheckpoint(eager=True)
        survivors.write.mode("overwrite").parquet(
            f"{kept_path}/ingest_batch={epoch}"
        )
        append_to_minhash_index(spark, survivors, text_col, id_col, index_path)

    writer = docs.writeStream.foreachBatch(apply_batch)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
