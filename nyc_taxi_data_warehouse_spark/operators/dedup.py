"""Deduplication operators for large-scale training-data pipelines.

Absent from the reference (its only idempotency is file-level S3 HEAD
checks, ``/root/reference/data/airflow/dags/save_nyc_data_to_s3.py:58-78``);
these are the north-star extensions, built as compositions of built-in
DataFrame ops so Catalyst plans them like any other query:

- exact:       hash groupBy on the content key (deterministic keep-min).
- MinHash+LSH: shingle → md5-min signature → band buckets → bucket-join
               → exact Jaccard verify. The self-join only materializes
               same-bucket pairs, never the O(n²) cross product.
- SimHash:     32-bit majority-vote signature; pairs via prefix blocking
               + XOR bit_count Hamming filter.

Scale notes (100 TB): every pair-generating stage shuffles on a
hash-derived key (band key / simhash prefix), which is uniformly
distributed by construction except for degenerate content (e.g. empty
docs collapsing to one bucket) — ``max_bucket_size`` drops those buckets,
the standard LSH skew guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.sql import column


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep exactly one row per key — the one with the smallest id.

    groupBy+min instead of dropDuplicates: dropDuplicates keeps an
    arbitrary (partition-order-dependent) row; this is deterministic.

    Contract: ``id_col`` uniquely identifies rows (it is the keep key —
    duplicated ids make "keep the row with the smallest id" ill-defined
    to begin with). That makes the keep-one semi-join an ID-ONLY join:
    a row whose id equals some group's min id IS that group's min row.
    The previous form also carried every ``key_cols`` value (null-safe)
    in the join condition — at corpus scale that ships the full dedup
    payload (e.g. document text) through BOTH sides of the semi-join
    exchange, where this form ships it once, into the groupBy, and
    joins on a bigint (guide §2.3 — shuffle keys, not payloads). SQL
    GROUP BY puts all-null keys in one group, so null-keyed rows still
    dedup to one survivor (the id-only join cannot drop them the way a
    plain equality join on the keys would).
    """
    keep = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col)).select(id_col)
    return df.join(keep, id_col, "left_semi")


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """One row per document: ``(_id, _shingles, mh0..mh{n-1})``.

    ZERO-SHUFFLE signature build (guide §2.4 — remove shuffles
    outright): tokenize, build the distinct k-shingle array with
    ``word_shingles`` (the index-based O(n·k) form; ``_shs`` is bound in
    its own projection so every minhash column references a cheap
    column, not the tokenize tree — CollapseProject keeps the boundary
    for a non-cheap alias referenced 9×), then each mh_i is an
    ``array_min`` over the per-shingle salted md5s — all narrow maps.

    The previous shape (posexplode → lead() window → groupBy-min)
    produced the identical signatures but shuffled every TOKEN row
    (id, pos, token) through one exchange+sort: at sf0.1 that is 260k
    rows for 5k docs (measured 2.44 s vs 1.72 s for this form), and at
    100 TB it is a full-corpus token shuffle that this form simply does
    not do. Value-equivalence (all mh_i and the distinct shingle set,
    5k-doc fixture) is pinned by ``test_narrow_signature_equivalence``.

    Docs whose tokenization is NULL (null text) produce NO signature
    row — same as the explode form, which emitted no token rows for
    them; ``sync_minhash_from_snapshot`` relies on exactly this for
    redacted docs.

    Shingles are carried as xxhash64 ints, not strings: the verify join
    ships both sides' shingle sets through a shuffle, and at corpus
    scale the payload is dominated by those arrays. Hashing preserves
    set semantics (intersect/union sizes, hence Jaccard — both dedup
    values) with ~10x fewer bytes; a 64-bit collision inside one
    document's set is negligible at any realistic shingle cardinality.
    """
    # Null-text docs drop HERE, on the raw column: tokenize/shingle are
    # null-propagating unary chains, so ``_shs IS NULL ⟺ text IS NULL``
    # — and a filter on the raw column pushes to the scan, while a
    # filter on ``_shs`` would be rewritten below the projection and
    # re-evaluate the whole shingle tree per row (measured 2.3x).
    from ..session import spread

    # spread(): the whole signature build is narrow, so an unsplittable
    # input (single row group / gzip) would otherwise run it on ONE core
    # — no-op when the scan already parallelizes (see session.spread).
    tk = spread(df.where(column(text_col).isNotNull())).select(
        F.col(id_col).alias("_id"), T.tokens(text_col).alias("_tk")
    )
    sh = tk.select(
        "_id", F.array_distinct(T.word_shingles("_tk", shingle_k)).alias("_shs")
    )
    # One F.expr parse per column, as in functions/text.py: a python-
    # lambda HOF would cost ~40 ms of py4j round trips per construction,
    # n_hashes+1 of them here, per query build (guide §1.2 fixed driver
    # work).
    return sh.select(
        "_id",
        F.expr("transform(_shs, s -> xxhash64(s))").alias("_shingles"),
        *T.minhash_signature("_shs", n_hashes),
    )


def band_key_buckets(sig: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """LSH band keys of a signature table: ``(_id, band_idx, key)`` —
    one row per (doc, band), key = md5 over the band's signature rows."""
    rows_per_band = n_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    keyed = sig.select("_id", *band_cols)
    return keyed.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("key"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", "bk.band_idx", "bk.key")


def _bucket_pairs(buckets: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any (band_idx, key)
    bucket — via per-key ``collect_list`` + array pair explosion, NOT a
    self-join (guide §2.4 — remove shuffles outright).

    The previous self-join shape computed the bucket subtree TWICE (the
    build side of the join re-ran explode+guard under its own exchange;
    at broadcast-crossover scale it becomes a sort-merge join: two
    exchanges plus two sorts of the full bucket table). This form pays
    ONE exchange of (_id, band_idx, key) — the groupBy — and generates
    each bucket's a<b pairs map-side from the member array. Identical
    pair set: same-bucket membership is symmetric, so grouping members
    and emitting ordered pairs enumerates exactly the join's matches.

    The skew guard stays the count-over-window form: it shares the ONE
    (band_idx, key) exchange with the groupBy below (same keys → no
    second exchange), and dropping over-cap rows BEFORE collect_list
    bounds the aggregation buffer at ``max_bucket_size`` ids per key —
    a degenerate boilerplate bucket at corpus scale can never OOM the
    collect. Measured-rejected alternatives (same results, min-of-3,
    sf0.1): two-phase groupBy-count + broadcast-anti-join guard, 2.16 s
    vs 1.63 s — the anti-join's broadcast build is a fixed extra job
    that removes the window sort, the right trade only if bucket-table
    sorts ever dominate at extreme scale; single-pass collect_list with
    a post-hoc size() filter, 1.76 s and an UNBOUNDED degenerate-bucket
    buffer.
    """
    if max_bucket_size is not None:
        from pyspark.sql.window import Window

        bw = Window.partitionBy("band_idx", "key")
        buckets = (
            buckets.withColumn("_n", F.count("*").over(bw))
            .where(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )
    grouped = buckets.groupBy("band_idx", "key").agg(
        F.collect_list("_id").alias("_ids")
    )
    return (
        grouped.select(F.explode("_ids").alias("id_a"), "_ids")
        .select(
            "id_a",
            F.explode(F.filter("_ids", lambda y: y > F.col("id_a"))).alias("id_b"),
        )
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with exact Jaccard >= threshold.

    Pipeline: signature → band keys → explode(bands) → per-bucket member
    grouping → map-side pair explosion (``_bucket_pairs``) → distinct
    candidate pairs → exact verify on shingle sets.
    """
    sig = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k)
    # Materialize: the signature table is tiny relative to the corpus
    # (id + 8 hex strings + hashed shingle set) and is consumed three
    # times (band keys, bucket explode, both sides of the verify join).
    # Unpersisted at the end of this function — the verified pair list is
    # eagerly localCheckpoint-ed first, so callers never re-trigger the
    # signature build and the cache entry does not leak across calls.
    sig_cached = sig.persist()
    sig = sig_cached

    buckets = band_key_buckets(sig, n_hashes, bands)
    cand = _bucket_pairs(buckets, max_bucket_size)

    sh = sig.select("_id", "_shingles")
    verified = (
        cand.join(sh.withColumnsRenamed({"_id": "id_a", "_shingles": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"_id": "id_b", "_shingles": "sh_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # Eager materialization: pairs are tiny relative to the corpus, and
    # checkpointed RDD blocks are ContextCleaner-collected once the
    # DataFrame is unreferenced (unlike cacheManager entries, which leak
    # until an explicit unpersist).
    from ..session import maybe_local_checkpoint

    verified = maybe_local_checkpoint(verified)
    sig_cached.unpersist()
    return verified


def write_minhash_index(
    spark,
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int | None = 1000,
) -> None:
    """Persist the corpus half of the LSH dedup pipeline so every new
    ingest batch dedups against the corpus WITHOUT recomputing corpus
    signatures — the incremental form of ``minhash_lsh_pairs``. Two
    tables under ``path``:

    - ``buckets/``: ``(_id, band_idx, key)`` — unpartitioned by choice:
      every probe touches every band so a ``band_idx=`` layout prunes
      nothing, and an unpartitioned table stays readable when empty
      (the ``init_dedup_index`` bootstrap; a zero-row partitioned
      write leaves no schema-bearing files behind)
    - ``shingles/``: ``(_id, _shingles)`` for the exact-Jaccard verify

    The LSH skew guard runs at WRITE time: buckets over
    ``max_bucket_size`` are dropped entirely (boilerplate/empty-doc
    keys), so no probe can quadratically blow up on a degenerate key.
    Dials land in the ``_meta.json`` sidecar; readers fail fast on a
    mismatch. STATIC overwrite scope — a rebuild with fewer bands must
    not leave stale band directories (same rule as the ANN indexes).
    """
    from ..session import static_partition_overwrite
    from .indexmeta import write_index_meta

    sig = minhash_signatures(df, text_col, id_col, n_hashes, shingle_k).persist()
    buckets = band_key_buckets(sig, n_hashes, bands)
    if max_bucket_size is not None:
        # same two-phase guard as _bucket_pairs: partial-agg'd count,
        # tiny over-cap key list broadcast into an anti-join — no
        # window sort over the full bucket table.
        hot = (
            buckets.groupBy("band_idx", "key")
            .count()
            .where(F.col("count") > max_bucket_size)
            .select("band_idx", "key")
        )
        buckets = buckets.join(F.broadcast(hot), ["band_idx", "key"], "left_anti")
    with static_partition_overwrite(spark):
        buckets.write.mode("overwrite").parquet(f"{path}/buckets")
        sig.select("_id", "_shingles").write.mode("overwrite").parquet(
            f"{path}/shingles"
        )
    sig.unpersist()
    write_index_meta(
        spark,
        path,
        {
            "kind": "minhash",
            "n_hashes": n_hashes,
            "bands": bands,
            "shingle_k": shingle_k,
            "max_bucket_size": max_bucket_size,
            "id_col": id_col,
        },
    )


def append_to_minhash_index(
    spark, df: DataFrame, text_col: str, id_col: str, path: str
) -> None:
    """Add a new batch's signatures to a persisted MinHash index. Build
    dials come from the sidecar (callers cannot drift them). Redelivery
    is idempotent: already-indexed ids are anti-joined out against a
    column-pruned ``_id``-only scan of the shingle table before any
    signature work.

    The write-time bucket-size cap is NOT re-enforced across appends
    (an append never rewrites existing rows); a corpus whose appends
    grow a degenerate bucket past the cap re-enforces it at the next
    ``write_minhash_index`` rebuild — same maintenance contract as
    partition compaction.
    """
    from .indexmeta import read_index_meta

    meta = read_index_meta(spark, path)
    if meta is None or meta.get("kind") != "minhash":
        from .indexmeta import IndexMetaError

        raise IndexMetaError(f"{path}: not a minhash index written by this engine")
    existing_ids = spark.read.parquet(f"{path}/shingles").select("_id")
    fresh = df.join(
        existing_ids, df[id_col] == existing_ids["_id"], "left_anti"
    )
    sig = minhash_signatures(
        fresh, text_col, id_col, meta["n_hashes"], meta["shingle_k"]
    ).persist()
    buckets = band_key_buckets(sig, meta["n_hashes"], meta["bands"])
    buckets.write.mode("append").parquet(f"{path}/buckets")
    sig.select("_id", "_shingles").write.mode("append").parquet(f"{path}/shingles")
    sig.unpersist()


def delete_from_minhash_index(spark, ids: DataFrame, id_col: str, path: str) -> None:
    """Remove documents from a persisted MinHash index by id — the
    takedown/decontamination path: a doc withdrawn from the kept corpus
    must stop suppressing future near-identical ingests. Victim ids
    broadcast into anti-joins over both tables; survivors are eagerly
    materialized (the write replaces the files the plan reads), then
    STATIC-overwritten in place.

    Unlike the cell-partitioned IVF delete, the minhash tables are
    unpartitioned (see ``write_minhash_index``), so a delete rewrites
    both tables in full — the right trade while deletes are rare
    takedown events; a delete-heavy corpus should rebuild on a
    partitioned layout instead. Deleting an id absent from the index is
    a no-op (idempotent redelivery).
    """
    from ..session import static_partition_overwrite
    from .indexmeta import check_index_meta

    check_index_meta(spark, path, {"kind": "minhash"})
    victims = F.broadcast(ids.select(F.col(id_col).alias("_id")).distinct())
    # Redelivered / no-op batches skip the full rewrite — but the
    # presence probe must check BOTH subtables (a crash between the
    # append's buckets and shingles writes can leave bucket-only ids;
    # a shingles-only probe would declare them absent and the stale
    # bucket rows would persist forever). Two column-pruned id scans.
    present = any(
        not spark.read.parquet(f"{path}/{t}")
        .select("_id")
        .join(victims, "_id", "left_semi")
        .isEmpty()
        for t in ("buckets", "shingles")
    )
    if not present:
        return
    with static_partition_overwrite(spark):
        for table in ("buckets", "shingles"):
            df = spark.read.parquet(f"{path}/{table}")
            survivors = df.join(victims, "_id", "left_anti").localCheckpoint(
                eager=True
            )
            survivors.write.mode("overwrite").parquet(f"{path}/{table}")


def set_minhash_sync_cursor(spark, index_path: str, version: int) -> None:
    """Record which snapshot-table version a MinHash dedup index
    reflects (the ``synced_version`` cursor in the index sidecar). Call
    once after building the index from ``read_snapshot(table, v)``;
    ``sync_minhash_from_snapshot`` advances it on every sync."""
    from .indexmeta import check_index_meta, read_index_meta, write_index_meta

    check_index_meta(spark, index_path, {"kind": "minhash"})
    meta = read_index_meta(spark, index_path)
    meta["synced_version"] = int(version)
    write_index_meta(spark, index_path, meta)


def sync_minhash_from_snapshot(
    spark,
    table_path: str,
    index_path: str,
    text_col: str = "text",
    id_col: str | None = None,
    to_version: int | None = None,
) -> dict:
    """Propagate snapshot-table DML into the MinHash dedup index by
    consuming the row-level change feed since the index's
    ``synced_version`` cursor — the third leg of the change-feed→index
    triad (postings: ``search.sync_postings_from_snapshot``; IVF:
    ``similarity.sync_ivf_from_snapshot``). Document updates,
    redactions, deletes, and restores now reach dedup SUPPRESSION the
    same way they reach retrieval and ANN: a withdrawn document stops
    suppressing future near-identical ingests; an edited document
    suppresses by its new text, not its old.

    Net effect per document: its LAST change in the range wins (within
    one commit an insert outranks the delete of the old image — that
    pair IS an update). The apply order is DELETE-FIRST: every
    final-state doc (updated or deleted) is removed from both index
    subtables in ONE rewrite, then final-state inserts re-append their
    fresh signatures. Delete-first also makes text-redacted docs
    correct for free — a doc whose new text tokenizes to zero shingles
    produces no signature row, so the delete removes its old signature
    and the append simply adds nothing (the postings sync needs an
    explicit termless-doc pass for this; here it falls out of the
    order).

    Cost: the feed reads only touched files; the append computes only
    changed docs' signatures. The delete is a full rewrite of the two
    unpartitioned subtables — ``delete_from_minhash_index``'s
    documented trade for takedown-rare workloads.

    Crash-safe and idempotent: the cursor advances only after both
    mutations. A replay re-deletes (no-op once absent) and re-appends
    (guarded by the shingle-table id probe), converging to the same
    index a rebuild from the target version produces.
    """
    from pyspark.sql.window import Window

    from ..warehouse.manifestlog import list_versions
    from ..warehouse.snapshots import snapshot_changes
    from .indexmeta import check_index_meta, read_index_meta

    check_index_meta(spark, index_path, {"kind": "minhash"})
    meta = read_index_meta(spark, index_path)
    if id_col is None:
        id_col = meta.get("id_col", "doc_id")
    from_v = meta.get("synced_version")
    if from_v is None:
        raise ValueError(
            f"{index_path}: no synced_version cursor — build the index "
            "from read_snapshot(table, v) and record v with "
            "set_minhash_sync_cursor first"
        )
    if to_version is None:
        to_version = list_versions(table_path)[-1]
    if to_version <= from_v:
        return {
            "synced_from": from_v, "synced_to": from_v,
            "docs_upserted": 0, "docs_deleted": 0,
        }
    ch = snapshot_changes(spark, table_path, from_v, to_version)
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
    deletes = last.where(F.col("_change_type") == "delete").select(id_col)
    n_up = upserts.count()
    n_del = deletes.count()
    # one combined rewrite: updated docs must lose their OLD signature
    # before the append (whose redelivery guard would otherwise see the
    # id present and skip the new text entirely)
    victims = deletes.unionByName(upserts.select(id_col))
    if n_up or n_del:
        delete_from_minhash_index(spark, victims, id_col, index_path)
    if n_up:
        append_to_minhash_index(spark, upserts, text_col, id_col, index_path)
    set_minhash_sync_cursor(spark, index_path, to_version)
    return {
        "synced_from": from_v, "synced_to": to_version,
        "docs_upserted": n_up, "docs_deleted": n_del,
    }


def incremental_minhash_pairs(
    spark,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    jaccard_threshold: float = 0.5,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and the persisted corpus
    index: ``(corpus_id, new_id, jaccard)`` with exact Jaccard >=
    threshold. The batch's signatures are computed fresh; the corpus
    side comes entirely from the index — no corpus text is re-read,
    no corpus signature is recomputed.

    Scale shape: with ``broadcast_batch`` (the normal ingest case —
    batch ≪ corpus) the batch's band keys broadcast, so the corpus
    bucket table is scanned once map-side and NEVER shuffles; only
    matched candidates (and the shingle sets of exactly those corpus
    docs) move. With a huge batch, set it False for a shuffle equi-join
    on (band_idx, key). Within-batch duplicates are ``minhash_lsh_pairs``'
    job — compose both in an ingest pipeline.
    """
    from .indexmeta import check_index_meta, read_index_meta

    meta = read_index_meta(spark, path) or {}
    check_index_meta(spark, path, {"kind": "minhash"})
    n_hashes, bands = meta["n_hashes"], meta["bands"]
    shingle_k = meta["shingle_k"]

    sig = minhash_signatures(new_df, text_col, id_col, n_hashes, shingle_k).persist()
    new_buckets = band_key_buckets(sig, n_hashes, bands).withColumnsRenamed(
        {"_id": "new_id"}
    )
    if broadcast_batch:
        new_buckets = F.broadcast(new_buckets)
    corpus_buckets = spark.read.parquet(f"{path}/buckets").withColumnsRenamed(
        {"_id": "corpus_id"}
    )
    cand = (
        corpus_buckets.join(new_buckets, ["band_idx", "key"])
        .where(F.col("corpus_id") != F.col("new_id"))
        .select("corpus_id", "new_id")
        .distinct()
    )
    corpus_sh = spark.read.parquet(f"{path}/shingles").withColumnsRenamed(
        {"_id": "corpus_id", "_shingles": "sh_corpus"}
    )
    new_sh = sig.select(
        F.col("_id").alias("new_id"), F.col("_shingles").alias("sh_new")
    )
    if broadcast_batch:
        new_sh = F.broadcast(new_sh)
    verified = (
        cand.join(corpus_sh, "corpus_id")
        .join(new_sh, "new_id")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_corpus", "sh_new"))
                / F.size(F.array_union("sh_corpus", "sh_new")),
                6,
            ),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("corpus_id", "new_id", "jaccard")
    )
    from ..session import maybe_local_checkpoint

    verified = maybe_local_checkpoint(verified)
    sig.unpersist()
    return verified


def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Resolve near-dup pairs into transitive clusters (connected
    components) via iterative min-label propagation.

    ``pairs`` is the output of a pair generator (``minhash_lsh_pairs``,
    ``simhash_pairs``, embedding near-dup): columns ``id_a``/``id_b``.
    Returns ``(id, cluster_id)`` where ``cluster_id`` is the smallest id
    in the component — the canonical "keep" document.

    This is the step real dedup pipelines need after pair generation:
    A~B and B~C must collapse to ONE kept doc, which pairwise dedup
    alone cannot decide.

    Scale notes: each iteration is one shuffle (join on dst + groupBy on
    id); rounds needed = graph diameter, and near-dup graphs are shallow
    (clusters are quasi-cliques), so 3-5 rounds typically converge.
    ``localCheckpoint`` cuts the lineage every round so the plan does not
    grow exponentially; the edge list is persisted once and reused.
    Iterative — intentionally NOT expressible as one SQL statement in
    Spark; the DuckDB oracle uses a recursive CTE (see d07).
    """
    from pyspark.sql import Observation

    # The pair plan (an LSH pipeline upstream) is expensive; both halves of
    # the symmetric edge list read it, so materialize it exactly once. No
    # distinct() on edges: the generators emit unique (id_a < id_b) pairs,
    # and min-propagation is idempotent over duplicate edges anyway.
    pairs = pairs.persist()
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), "label")
        )
        # The old label rides through the union tagged with _own, so the
        # SAME groupBy that computes the new label also recovers the old
        # one (each id has exactly one own row) — convergence detection
        # without the per-round labels re-join the previous form paid
        # (one fewer stage per iteration at identical results).
        merged = (
            labels.select("id", "label", F.lit(True).alias("_own"))
            .unionByName(neighbor_min.select("id", "label", F.lit(False).alias("_own")))
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("_own"), F.col("label"))).alias("_old"),
            )
        )
        # Convergence detection piggybacks on the checkpoint action via an
        # Observation — one Spark job per round instead of two.
        obs = Observation()
        cmp = merged.observe(
            obs, F.max((F.col("label") != F.col("_old")).cast("int")).alias("changed")
        )
        labels = cmp.select("id", "label").localCheckpoint(eager=True)
        if not obs.get["changed"]:  # None on an empty graph, 0 at fixpoint
            break
    pairs.unpersist()
    edges.unpersist()
    return labels.select("id", F.col("label").alias("cluster_id"))


def with_simhash(df: DataFrame, text_col: str) -> DataFrame:
    # Tokenize in its own projection first: simhash32 references the
    # token array 32 times (one aggregate per signature bit), and each
    # reference would re-run the regex tokenizer if passed the raw
    # expression (no CSE across aggregate/lambda scopes).
    tk = df.withColumn("_tk", T.tokens(text_col))
    return tk.withColumn("simhash", T.simhash32("_tk")).drop("_tk")


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 6,
    prefix_bits: int = 8,
) -> DataFrame:
    """Pairs within Hamming distance via prefix blocking + XOR popcount.

    Blocking on the low ``prefix_bits`` bits bounds the join fan-out
    (docs differing inside the prefix are missed — the standard
    recall/cost trade; run b rotations for full recall).
    """
    sig = with_simhash(df, text_col).select(
        F.col(id_col).alias("_id"),
        "simhash",
        (F.col("simhash") % (2**prefix_bits)).alias("_block"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a._block") == F.col("b._block"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))),
        )
        .where(F.col("hamming") <= max_hamming)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            "hamming",
        )
    )


