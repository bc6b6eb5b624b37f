"""Similarity search over embedding columns (``array<float>``).

Two tiers, per the standard ANN playbook:
- ``cosine_topk`` — brute force: broadcast the (small) query set against
  the full corpus, rank with a per-query window. Exact; O(|Q|·N) dot
  products, all JVM-side. The right baseline, and the right answer
  whenever |Q| is small.
- ``lsh_buckets`` / ``ann_topk`` — random-hyperplane LSH: b sign-bits →
  2^b buckets; candidates only within the query's bucket. The scale
  path: the corpus-side work becomes a hash-partitioned equi-join on
  bucket id instead of a full scan per query. Hyperplanes are derived
  from md5 bytes, so any engine can reproduce the bucketing exactly.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import vector as V
from ..functions.sql import column


def hyperplanes(n_planes: int, dim: int, seed: str = "hp") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-0.5, 0.5]^dim.

    Component (p, d) = md5(f"{seed}|{p}|{d}") first byte scaled — no RNG
    state, bit-identical in any language (the DuckDB oracle re-derives
    the same matrix).
    """
    out = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()
            row.append(int(h[:2], 16) / 255.0 - 0.5)
        out.append(row)
    return out


def _bucket_expr_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """LSH bucket id as ONE SQL string: bit p = (dot(vec, plane_p) > 0).

    Built as parser text rather than nested Column calls: a plane matrix
    is n_planes x dim literals, and constructing it via F.lit/F.array
    costs thousands of py4j round-trips PER TABLE (measured ~1 s/table
    of driver time); one expr parse is milliseconds.
    """
    terms = []
    for p, row in enumerate(planes):
        plane = "array(" + ", ".join(f"{x!r}D" for x in row) + ")"
        terms.append(
            f"CAST({V.dot_sql(vec_sql, plane)} > 0 AS BIGINT) * CAST({2 ** p} AS BIGINT)"
        )
    return "(" + " + ".join(terms) + ")"


def _bucket_expr(vec_col: str, planes: list[list[float]]) -> Column:
    """LSH bucket id for the named array column (floats widened first)."""
    return F.expr(_bucket_expr_sql(V.as_double_sql(vec_col), planes))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Output: qid, cid, sim (round 6), rn — deterministic tie-break on cid.

    Scale contract (declared semantics, not an accident of the plan):
    exact top-k is a |Q| x N pair loop executed as a BROADCAST nested
    join — the query side must fit in a broadcast (~10^5 rows at 64
    dims; the 8 GB / 512M-row broadcast cap is the hard ceiling). The
    corpus side streams and never shuffles. For unbounded |Q| use the
    ANN paths (ann_topk / ann_topk_multi with broadcast_queries=False),
    which trade exactness for an equi-join on bucket keys.
    """
    from ..session import spread

    # Norms are hoisted to once-per-row on each side (guide §2.3 "shuffle
    # fewer bytes"/§1.2 per-task work): the |Q|·N pair loop then pays ONE
    # interpreted fold per pair instead of three. Bit-identical — see
    # V.cosine_hoisted. spread(): the |Q|·N pair loop runs where the
    # corpus rows sit — an unsplittable corpus input would put ALL pair
    # compute on one core.
    q = queries.select(
        F.col(id_col).alias("qid"), V.as_double(vec_col).alias("qv")
    ).withColumn("_qn", V.norm("qv"))
    c = spread(corpus).select(
        F.col(id_col).alias("cid"), V.as_double(vec_col).alias("cv")
    ).withColumn("_cn", V.norm("cv"))
    sims = (
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("cid"))
        .withColumn(
            "sim",
            F.round(
                V.cosine_hoisted("qv", "cv", "_qn", "_cn"),
                6,
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "cid")
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "cid", "sim", "rn")
        .orderBy("qid", "rn")
    )


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Majority label among the k nearest neighbors (ties → smaller label)."""
    nn = cosine_topk(queries, corpus, id_col, vec_col, k)
    labeled = nn.join(
        corpus.select(F.col(id_col).alias("cid"), F.col(label_col).alias("nlabel")),
        "cid",
    )
    votes = labeled.groupBy("qid", "nlabel").agg(F.count("*").alias("votes"))
    w = Window.partitionBy("qid").orderBy(F.desc("votes"), "nlabel")
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("qid", F.col("nlabel").alias("predicted_label"), "votes")
        .orderBy("qid")
    )


def table_seed(t: int) -> str:
    """Seed for LSH table ``t``; table 0 keeps the original single-table
    seed so adding tables never changes existing bucketings."""
    return "hp" if t == 0 else f"hp|{t}"


def probe_masks(n_planes: int, radius: int) -> list[int]:
    """All XOR masks of popcount <= radius — multi-probe LSH: probing
    ``code ^ mask`` visits every bucket within Hamming distance
    ``radius`` of the query's code. The standard way to buy recall
    without adding tables (memory) — sum(C(P, r)) probes per table."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_planes), r):
            masks.append(sum(1 << b for b in bits))
    return masks


def multi_table_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    dim: int,
    n_tables: int,
    id_alias: str,
    vec_alias: str,
    norm_alias: str | None = None,
) -> DataFrame:
    """One row per (vector, table): columns (id_alias, vec_alias, tbl,
    bucket). All tables' codes are computed in a single narrow pass
    (no shuffle); the explode multiplies rows n_tables-fold, which is
    the memory-for-recall trade every multi-table LSH index makes.

    ``norm_alias``: also carry ``norm(vec)`` — computed ONCE per vector
    in the pre-explode projection (not per (vector, table) row), so the
    downstream candidate join's cosine can skip both per-pair self-dots
    (see ``V.cosine_hoisted``)."""
    # Cast the vector to double ONCE in a prior projection; every one of
    # the n_tables x n_planes dot products then references the cast
    # column instead of re-running the element-wise cast transform
    # (Catalyst won't duplicate the non-cheap alias — measured ~40%
    # faster index build, bucket values identical). No spread() HERE:
    # this builder also runs on tiny QUERY sides, where the exchange is
    # pure waste — corpus-side callers spread their input instead.
    pre = df.select(
        F.col(id_col).alias(id_alias), V.as_double(vec_col).alias(vec_alias)
    )
    extra: list[str] = []
    if norm_alias is not None:
        pre = pre.withColumn(norm_alias, V.norm(vec_alias))
        extra = [norm_alias]
    entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                F.expr(
                    _bucket_expr_sql(
                        vec_alias, hyperplanes(n_planes, dim, table_seed(t))
                    )
                ).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    return pre.select(id_alias, vec_alias, *extra, F.explode(entries).alias("_e")).select(
        id_alias,
        vec_alias,
        *extra,
        F.col("_e.tbl").alias("tbl"),
        F.col("_e.bucket").alias("bucket"),
    )


def ann_topk_multi(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 8,
    probe_radius: int = 2,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Multi-table, multi-probe ANN top-k — the recall-tunable scale
    path (single-table ``ann_topk``'s recall ceiling is whatever one
    code gives; e07 measures it).

    Candidates = same bucket as the query's code XOR any popcount<=r
    mask, in ANY of the ``n_tables`` independent tables; exact cosine
    ranks the deduped candidate set. At scale: the corpus index is an
    equi-join-ready (tbl, bucket) table (n_tables x corpus rows, no
    shuffle to build); the query side explodes to |Q| x tables x masks
    probe rows. Recall/cost dials: n_tables (memory), probe_radius
    (compute), n_planes (bucket granularity).

    ``broadcast_queries`` picks the join strategy for the probe set,
    which is |Q| x n_tables x n_masks rows (37 masks at radius 2 /
    8 planes). True (default) broadcasts it — right for interactive
    |Q| up to ~10^5, and the corpus side never shuffles at all. For a
    batch query set (|Q| ~ 10^7, probe set too big for a broadcast)
    pass False: both sides shuffle-hash-join on (tbl, bucket), which
    scales with partition count instead of driver/executor memory.
    """
    from ..session import spread

    # spread() only the CORPUS side: its n_tables×n_planes hyperplane
    # folds (and the downstream pair loop) are the heavy narrow work an
    # unsplittable input serializes; the query side is small by contract.
    qb = multi_table_buckets(
        queries, id_col, vec_col, n_planes, dim, n_tables, "qid", "qv", "_qn"
    )
    cb = multi_table_buckets(
        spread(corpus), id_col, vec_col, n_planes, dim, n_tables, "cid", "cv", "_cn"
    )
    return _ann_rank_probed(qb, cb, k, n_planes, probe_radius, broadcast_queries)


def _ann_rank_probed(
    qb: DataFrame,
    cb: DataFrame,
    k: int,
    n_planes: int,
    probe_radius: int,
    broadcast_queries: bool,
) -> DataFrame:
    """Shared tail of the multi-probe ANN path: explode the query codes
    into probe buckets, candidate-join against the (tbl, bucket) corpus
    index, exact-cosine rank the deduped candidates.

    Norm hoist: sides built by ``multi_table_buckets(..., norm_alias=)``
    arrive with ``_qn``/``_cn`` computed once per VECTOR; sides that
    lack them (the persisted-index scan — norms are not part of the
    on-disk layout) get them here, once per (vector, table) row. Either
    way the candidate pair loop pays one fold, not three."""
    if "_qn" not in qb.columns:
        qb = qb.withColumn("_qn", V.norm("qv"))
    if "_cn" not in cb.columns:
        cb = cb.withColumn("_cn", V.norm("cv"))
    masks = probe_masks(n_planes, probe_radius)
    qprobe = qb.withColumn(
        "bucket",
        F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])),
    )
    if broadcast_queries:
        qside = F.broadcast(qprobe)
    else:
        # Large |Q|: hint both sides to a shuffle hash join on the
        # bucket keys — no sort needed (bucket joins are n:m equi), no
        # single-node materialization of the probe set.
        qside = qprobe.hint("shuffle_hash")
    cand = (
        qside
        .join(cb, ["tbl", "bucket"])
        .where(F.col("qid") != F.col("cid"))
    )
    scored = (
        cand.withColumn(
            "sim",
            F.round(
                V.cosine_hoisted("qv", "cv", "_qn", "_cn"),
                6,
            ),
        )
        .select("qid", "cid", "sim")
        .distinct()
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "cid")
    return (
        scored.withColumn("n_candidates", F.count("*").over(Window.partitionBy("qid")))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "n_candidates", "cid", "sim", "rn")
        .orderBy("qid", "rn")
    )


def write_ann_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 8,
) -> None:
    """Persist the multi-table LSH corpus index so repeated query
    batches amortize the build: every per-query-batch run of
    ``ann_topk_multi`` recomputes n_tables x n_planes hyperplane dot
    products over the whole corpus; the index table precomputes them
    ONCE. Layout: one directory per LSH table (``tbl=0..n-1``), rows of
    (cid, cv, bucket). The vector is stored per table — the same
    memory-for-recall trade the in-memory index makes, paid in disk.

    The dials (n_planes/dim/n_tables) are baked into the written
    buckets; they are recorded in a ``_meta.json`` sidecar and
    ``ann_topk_from_index`` validates against it (wrong-width probe
    masks would silently return wrong candidates otherwise).

    The overwrite is scoped to STATIC partitionOverwriteMode: the
    engine session pins dynamic mode (for the warehouse's partition-
    replacing loads), under which a rebuild with fewer ``n_tables``
    would only replace the ``tbl=`` directories present in the new
    data and leave the rest stale on disk for probes to read.
    """
    from ..session import static_partition_overwrite
    from .indexmeta import write_index_meta

    from ..session import spread

    spark = corpus.sparkSession
    with static_partition_overwrite(spark):
        multi_table_buckets(
            spread(corpus), id_col, vec_col, n_planes, dim, n_tables, "cid", "cv"
        ).write.mode("overwrite").partitionBy("tbl").parquet(path)
    write_index_meta(
        spark,
        path,
        {"kind": "ann", "n_planes": n_planes, "dim": dim, "n_tables": n_tables},
    )


def append_to_ann_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add NEW vectors to a ``write_ann_index`` table —
    a growing corpus must not pay a full O(corpus) rebuild per arrival
    batch. The batch's codes are computed with the dials read from the
    index sidecar (so an append can never mix code widths) and appended;
    append touches no existing file, so no overwrite-mode hazard exists.

    Redelivery-safe: ids already present in the index are anti-joined
    away first (the scan is column-pruned to ``cid``), so re-appending
    a batch is a no-op rather than a duplicate. CHANGED vectors (same
    id, new embedding) are not handled here — their old codes live in
    every ``tbl=`` partition, so removal means rewriting the whole
    index: that is ``write_ann_index`` (rebuild), by design.
    """
    from .indexmeta import check_index_meta, read_index_meta

    spark = new_vectors.sparkSession
    check_index_meta(spark, path, {"kind": "ann"})
    meta = read_index_meta(spark, path)
    codes = multi_table_buckets(
        new_vectors,
        id_col,
        vec_col,
        meta["n_planes"],
        meta["dim"],
        meta["n_tables"],
        "cid",
        "cv",
    )
    fresh = codes.join(_ann_existing_ids(spark, path), "cid", "left_anti")
    fresh.write.mode("append").partitionBy("tbl").parquet(path)


def _read_ann_rows(spark, path: str) -> DataFrame:
    """The (cid, cv, tbl, bucket) rows of a ``write_ann_index`` table.
    A freshly-initialized EMPTY index (``streaming/semantic_ingest.py``
    starts from one) has a ``_meta.json`` but zero parquet files —
    partitioned writes of zero rows emit no footers — so schema
    inference fails; fall back to a typed empty frame rather than make
    every consumer special-case bootstrap (shared
    ``indexmeta.read_index_parquet``)."""
    from .indexmeta import read_index_parquet

    return read_index_parquet(
        spark, path, "cid long, cv array<double>, tbl int, bucket bigint"
    )


def _ann_existing_ids(spark, path: str) -> DataFrame:
    """Ids already in an ANN index — the append's redelivery guard.
    Every id appears once per LSH table, so reading ``tbl=0`` alone
    suffices: the filter prunes the scan to ONE table's directory
    (static PartitionFilters) and column pruning shrinks it to the id —
    vectors never leave disk for this check (plan-asserted)."""
    return (
        _read_ann_rows(spark, path)
        .where(F.col("tbl") == 0)
        .select("cid")
        .distinct()
    )


def ann_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 8,
    probe_radius: int = 2,
    broadcast_queries: bool = True,
) -> DataFrame:
    """``ann_topk_multi`` against a ``write_ann_index`` table: the
    corpus side is a plain parquet scan of precomputed (tbl, bucket,
    cid, cv) rows — no hyperplane math over the corpus at query time.
    Same results as the in-memory path for identical dials; the dials
    are validated against the index's ``_meta.json`` sidecar, so a
    mismatch fails fast instead of probing with the wrong code width."""
    from .indexmeta import check_index_meta

    check_index_meta(
        spark,
        index_path,
        {"kind": "ann", "n_planes": n_planes, "dim": dim, "n_tables": n_tables},
    )
    qb = multi_table_buckets(
        queries, id_col, vec_col, n_planes, dim, n_tables, "qid", "qv"
    )
    cb = _read_ann_rows(spark, index_path).select("cid", "cv", "tbl", "bucket")
    return _ann_rank_probed(qb, cb, k, n_planes, probe_radius, broadcast_queries)


def lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    planes = hyperplanes(n_planes, dim)
    # Same pre-cast trick as multi_table_buckets: one element-wise cast,
    # referenced by all n_planes dots, then dropped (schema unchanged).
    # No spread() here: a single table's 8 plane folds are light, and
    # e04-style consumers aggregate immediately — the exchange costs
    # more than the folds (measured 2.15x ON e04). Consumers whose
    # downstream pair loop is heavy (ann_topk) spread their corpus side.
    return (
        df.select(
            F.col(id_col),
            column(vec_col),
            V.as_double(vec_col).alias("_vd"),
        )
        .select(
            F.col(id_col),
            column(vec_col),
            F.expr(_bucket_expr_sql("_vd", planes)).alias("bucket"),
        )
    )


def ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 1,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: exact ranking within the query's LSH bucket.

    Output keeps bucket + candidate count so recall/latency trade-offs
    are observable. At scale the corpus side is partitioned by bucket —
    the per-query probe is one partition, not a scan.
    """
    from ..session import spread

    # Per-row norm hoist on both sides — see V.cosine_hoisted.
    # spread(corpus): the per-pair cosine loop runs where the corpus
    # rows sit; an unsplittable corpus would serialize it on one core.
    qb = lsh_buckets(queries, id_col, vec_col, n_planes, dim).select(
        F.col(id_col).alias("qid"),
        V.as_double(vec_col).alias("qv"),
        "bucket",
    ).withColumn("_qn", V.norm("qv"))
    cb = lsh_buckets(spread(corpus), id_col, vec_col, n_planes, dim).select(
        F.col(id_col).alias("cid"),
        V.as_double(vec_col).alias("cv"),
        "bucket",
    ).withColumn("_cn", V.norm("cv"))
    cand = F.broadcast(qb).join(cb, on="bucket").where(F.col("qid") != F.col("cid"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "cid")
    ranked = (
        cand.withColumn(
            "sim",
            F.round(
                V.cosine_hoisted("qv", "cv", "_qn", "_cn"),
                6,
            ),
        )
        .withColumn("n_candidates", F.count("*").over(Window.partitionBy("qid")))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "bucket", "n_candidates", "cid", "sim", "rn")
        .orderBy("qid", "rn")
    )
    return ranked


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 1,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH candidate generation.

    Self-join restricted to same-bucket candidates (random-hyperplane
    LSH), then exact cosine verification against ``threshold``. At scale
    this is a hash-partitioned equi-join on bucket id — O(sum of squared
    bucket sizes) dot products instead of O(N^2). Each vector lands in
    exactly one bucket, so no pair-dedup pass is needed; pairs whose
    vectors disagree on any hyperplane sign are missed (standard LSH
    recall trade — add rotations/band tables to tighten).

    ``max_bucket_size`` is the LSH skew guard (the embedding sibling of
    the MinHash path's dial in ``dedup.py``): a degenerate bucket (zero
    vectors, a boilerplate embedding repeated across the corpus)
    otherwise produces a QUADRATIC pair blow-up on one join key — the
    measured d08 pair-density growth. Over-full buckets are dropped
    entirely; their members are by construction near-identical
    boilerplate, the standard LSH trade. The guard costs one
    SCALARS-ONLY aggregation (bucket ids + partial counts, map-side
    combined) whose over-full output is bounded by N/max_bucket_size
    keys — broadcast anti-joined, so the candidate join's own plan
    (broadcast at small scale, hash-partitioned at 100 TB) is untouched
    and vectors never enter the guard's shuffle.

    When the guard is on, the bucketed table is localCheckpoint'ed
    first: the hyperplane hashing would otherwise be recomputed three
    times (guard branch + both join sides — the measured d06
    regression; even the un-guarded path recomputes it twice). One
    eager materialization to executor-local storage replaces every
    recompute — it holds exactly the rows the candidate join was about
    to shuffle anyway — and the guard's scalar aggregation plus the
    hot-bucket anti-join still run BEFORE the join's exchange, so a
    boilerplate flood still never enters a shuffle.
    """
    if n_tables > 1:
        # Multi-table recall path: pairs sharing a bucket in ANY table.
        # A pair can collide in several tables, so dedup on the
        # (id_a, id_b, sim) triple — sim is deterministic per pair, and
        # vectors never enter the dedup shuffle. No bucket column in
        # this mode (a pair has up to n_tables of them).
        # Norms ride along from the pre-explode projection (once per
        # vector, materialized with the checkpoint) — see V.cosine_hoisted.
        from ..session import spread

        a = multi_table_buckets(
            spread(df), id_col, vec_col, n_planes, dim, n_tables, "id_a", "av", "_an"
        )
        if max_bucket_size is not None:
            from ..session import maybe_local_checkpoint

            a = maybe_local_checkpoint(a)
            hot = (
                a.groupBy("tbl", "bucket")
                .agg(F.count("*").alias("_n"))
                .where(F.col("_n") > max_bucket_size)
                .select("tbl", "bucket")
            )
            a = a.join(F.broadcast(hot), ["tbl", "bucket"], "left_anti")
        # the other side is the SAME capped bucketing, renamed — buckets
        # are computed (and capped) once
        c = a.select(
            F.col("id_a").alias("id_b"),
            F.col("av").alias("bv"),
            F.col("_an").alias("_bn"),
            "tbl",
            "bucket",
        )
        return (
            a.join(c, ["tbl", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "sim",
                F.round(
                    V.cosine_hoisted("av", "bv", "_an", "_bn"),
                    6,
                ),
            )
            .where(F.col("sim") >= threshold)
            .select("id_a", "id_b", "sim")
            .distinct()
            .orderBy("id_a", "id_b")
        )
    # Cast + norm once per row BEFORE the (possibly checkpointed) table
    # both join sides read: the old shape re-ran the double cast per
    # side and the two self-dots per PAIR — see V.cosine_hoisted.
    b = lsh_buckets(df, id_col, vec_col, n_planes, dim).select(
        F.col(id_col),
        V.as_double(vec_col).alias("_v"),
        "bucket",
    ).withColumn("_n2", V.norm("_v"))
    if max_bucket_size is not None:
        from ..session import maybe_local_checkpoint

        b = maybe_local_checkpoint(b)
        hot = (
            b.groupBy("bucket")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > max_bucket_size)
            .select("bucket")
        )
        b = b.join(F.broadcast(hot), "bucket", "left_anti")
    a = b.select(
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("av"),
        F.col("_n2").alias("_an"),
        "bucket",
    )
    c = b.select(
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("bv"),
        F.col("_n2").alias("_bn"),
        "bucket",
    )
    return (
        a.join(c, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            F.round(
                V.cosine_hoisted("av", "bv", "_an", "_bn"),
                6,
            ),
        )
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "bucket", "sim")
        .orderBy("id_a", "id_b")
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid (max cosine; centroid id breaks ties). Centroids are a tiny
    broadcast table — the assignment is one narrow map-side pass, and the
    corpus can then be written partitioned/bucketed by ``cell`` so a probe
    touches one cell's files only."""
    # Norm hoist (V.cosine_hoisted): the corpus-side self-dot runs once
    # per vector instead of once per (vector, centroid) pair — k× fewer
    # interpreted folds in the assignment pass.
    c = centroids.select(
        F.col(id_col).alias("cent_id"), V.as_double(vec_col).alias("cent_v")
    ).withColumn("_cn", V.norm("cent_v"))
    from ..session import spread

    v = spread(df).select(
        F.col(id_col), column(vec_col), V.as_double(vec_col).alias("_v")
    ).withColumn("_vn", V.norm("_v"))
    scored = v.join(F.broadcast(c)).withColumn(
        "cos",
        F.round(
            V.cosine_hoisted("_v", "cent_v", "_vn", "_cn"),
            6,
        ),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cos"), "cent_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(id_col, column(vec_col), F.col("cent_id").alias("cell"))
    )


def _ivf_query_cells(
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    n_probe: int,
) -> DataFrame:
    """Each query's n_probe nearest cells: (qid, qv, cell)."""
    c = centroids.select(
        F.col(id_col).alias("cent_id"), V.as_double(vec_col).alias("cent_v")
    ).withColumn("_cn", V.norm("cent_v"))
    q = queries.select(
        F.col(id_col).alias("qid"), V.as_double(vec_col).alias("qv")
    ).withColumn("_qn", V.norm("qv"))
    q_scored = q.join(F.broadcast(c)).withColumn(
        "cos",
        F.round(
            V.cosine_hoisted("qv", "cent_v", "_qn", "_cn"),
            6,
        ),
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("cos"), "cent_id")
    return (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= n_probe)
        .select("qid", "qv", "_qn", F.col("cent_id").alias("cell"))
    )


def _ivf_rank_candidates(
    q_cells: DataFrame, corpus_cells: DataFrame, k: int
) -> DataFrame:
    """Shared IVF tail: candidate join within probed cells, exact-cosine
    rank. Norms are hoisted to once-per-row (computed here when the
    side lacks them — the persisted-index scan does not store norms);
    see ``V.cosine_hoisted``."""
    if "_qn" not in q_cells.columns:
        q_cells = q_cells.withColumn("_qn", V.norm("qv"))
    if "_cn" not in corpus_cells.columns:
        corpus_cells = corpus_cells.withColumn("_cn", V.norm("cv"))
    cand = (
        F.broadcast(q_cells)
        .join(corpus_cells, "cell")
        .where(F.col("qid") != F.col("cid"))
        .withColumn(
            "sim",
            F.round(
                V.cosine_hoisted("qv", "cv", "_qn", "_cn"),
                6,
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "cid")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "cell", "cid", "sim", "rn")
        .orderBy("qid", "rn")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_probe: int = 1,
) -> DataFrame:
    """IVF probe: rank candidates only within the query's ``n_probe``
    nearest cells. Recall/latency dial = n_probe; n_probe == #centroids
    degrades gracefully to exact brute force."""
    q_cells = _ivf_query_cells(queries, centroids, id_col, vec_col, n_probe)
    corpus_cells = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("cid"), V.as_double(vec_col).alias("cv"), "cell"
    )
    return _ivf_rank_candidates(q_cells, corpus_cells, k)


def write_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF cell assignment as the on-disk index the
    ``ivf_assign`` docstring promises: one directory per cell. A probe
    against it reads ONLY the probed cells' files — the cell filter
    arrives at the scan as a dynamic-partition-pruning subquery from the
    broadcast query side (plan-asserted in the layout test), so at
    corpus scale an n_probe=2 query over 1024 cells touches ~0.2% of
    the files. Rebuild when centroids move (IVF's standard trade) — the
    centroid set is fingerprinted into a ``_meta.json`` sidecar, and
    probes validate against it, so a stale index fails fast instead of
    returning wrong candidates. The overwrite is scoped to STATIC
    partitionOverwriteMode: under the engine session's dynamic mode a
    rebuild would only replace the cells present in the new assignment
    and leave removed/renumbered cells stale on disk."""
    from ..session import static_partition_overwrite
    from .indexmeta import centroid_fingerprint, write_index_meta

    spark = corpus.sparkSession
    with static_partition_overwrite(spark):
        # Unindexable vectors (NULL/empty/zero-norm/NaN) would get a
        # tie-broken cell anyway (null cosine + row_number) and then
        # pollute probes: null sims FILL top-k slots, NaN sims sort
        # FIRST under desc and hijack rank 1
        ivf_assign(corpus, centroids, id_col, vec_col).where(
            V.indexable(vec_col)
        ).write.mode("overwrite").partitionBy("cell").parquet(path)
    write_index_meta(
        spark,
        path,
        {
            "kind": "ivf",
            "n_centroids": centroids.count(),
            "centroid_fp": centroid_fingerprint(centroids, id_col, vec_col),
        },
    )


def upsert_ivf_cells(
    new_vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assume_new_ids: bool = False,
) -> None:
    """Incrementally MERGE a batch of vectors into a ``write_ivf_index``
    table, rewriting ONLY the touched cell partitions — the growing-
    corpus path that avoids a full rebuild per batch (a touched-
    partition dynamic overwrite, with ``cell`` as the partition key).

    Touched cells = the batch's newly-assigned cells, PLUS — unless
    ``assume_new_ids`` — any cell currently holding a batch id (an
    updated vector may migrate cells; its old row must be rewritten
    away, and finding it costs one column-pruned (id, cell) scan of the
    index). With ``assume_new_ids=True`` that scan is skipped: correct
    only for genuinely new ids, the append-mostly ingest fast path.

    Centroids must be the build-time set (fingerprint-validated): IVF
    cell geometry is defined by the centroids, so "new centroids" is by
    definition a rebuild, not an upsert.
    """
    from ..session import dynamic_partition_overwrite
    from .indexmeta import centroid_fingerprint, check_index_meta

    spark = new_vectors.sparkSession
    check_index_meta(
        spark,
        path,
        {
            "kind": "ivf",
            "centroid_fp": centroid_fingerprint(centroids, id_col, vec_col),
        },
    )
    # Assignment is computed once and lineage-cut (it feeds the merged
    # plan AND the touched-cell discovery); the touched-cell set is
    # collected ONCE (metadata-sized; its discovery scan is the only
    # full-index read, column-pruned to (id, cell)) and reused for both
    # the survivor plan — a STATIC partition filter, pruned at
    # planning — and the emptied-cell diff.
    assigned = ivf_assign(
        new_vectors, centroids, id_col, vec_col
    ).localCheckpoint(eager=True)
    # NEW-cell discovery uses only indexable rows — an unindexable
    # (NULL/zero-norm/NaN) vector's tie-broken cell must not force a
    # needless rewrite of that partition; OLD-cell discovery and the
    # anti-join keep EVERY batch id, so a vector redacted to NULL still
    # loses its old row, and unindexable rows never enter the written
    # index — same rule as write_ivf_index.
    indexable = assigned.where(V.indexable(vec_col))
    if assume_new_ids:
        touched_df = indexable.select("cell").distinct()
    else:
        touched_df = _ivf_touched_cells(spark, assigned, indexable, path, id_col)
    touched_cells = sorted(r["cell"] for r in touched_df.collect())
    merged = _ivf_upsert_merged(
        spark, assigned, path, id_col, vec_col, touched_cells
    ).where(V.indexable(vec_col))
    # The write replaces partitions the plan is still reading from —
    # cut the lineage first.
    merged = merged.localCheckpoint(eager=True)
    # A migrating vector that was the SOLE occupant of its old cell
    # leaves that touched cell with zero merged rows; dynamic overwrite
    # writes nothing into it, so the stale row — the vector's OLD
    # embedding — would stay on disk and keep answering probes (worse
    # than stale: the id would exist twice with different vectors).
    # Same emptied-partition hazard delete_from_ivf_index handles; diff
    # touched vs merged cells (metadata-sized) and drop the emptied
    # directories.
    from .indexmeta import delete_partition_dirs

    if assume_new_ids:
        emptied: list = []  # new ids never empty an existing cell
    else:
        merged_cells = {
            r["cell"] for r in merged.select("cell").distinct().collect()
        }
        emptied = sorted(set(touched_cells) - merged_cells)
    with dynamic_partition_overwrite(spark):
        merged.write.mode("overwrite").partitionBy("cell").parquet(path)
    if emptied:
        delete_partition_dirs(spark, path, [f"cell={c}" for c in emptied])


def _read_ivf_like(spark, path: str, like: DataFrame) -> DataFrame:
    """Read an IVF index, tolerating a ZERO-FILE layout: an index
    bootstrapped from an empty table version (the sync_* docstrings'
    recommended cursor-first setup) writes no parquet files, and a bare
    ``spark.read.parquet`` would crash the first sync with
    UNABLE_TO_INFER_SCHEMA. Fall back to a typed-empty frame shaped
    like the incoming assignment — delegated to the shared
    ``indexmeta.read_index_parquet``."""
    from .indexmeta import read_index_parquet

    return read_index_parquet(spark, path, like.schema).select(*like.columns)


def _ivf_touched_cells(
    spark, assigned: DataFrame, indexable: DataFrame, path: str, id_col: str
) -> DataFrame:
    """Cells an upsert batch touches: its newly-assigned INDEXABLE
    cells — an unindexable row's tie-broken cell must not force a
    rewrite — plus any cell currently holding a batch id (ALL batch
    ids, including unindexable: a vector redacted to NULL must still
    lose its old row; column-pruned scan)."""
    index = _read_ivf_like(spark, path, assigned)
    old_cells = (
        index.join(
            F.broadcast(assigned.select(id_col).distinct()), id_col, "left_semi"
        )
        .select("cell")
        .distinct()
    )
    return (
        indexable.select("cell").distinct().unionByName(old_cells).distinct()
    )


def _ivf_upsert_merged(
    spark,
    assigned: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    touched_cells: list,
) -> DataFrame:
    """The upsert's merged-partitions plan (split out so the layout test
    can assert its scan shape: the collected touched-cell values land
    as a STATIC partition filter on the index scan — untouched cells'
    directories are pruned at planning, never read, let alone
    rewritten)."""
    index = _read_ivf_like(
        spark, path, assigned.select(id_col, vec_col, "cell")
    )
    survivors = (
        index.where(F.col("cell").isin(touched_cells))
        .join(assigned.select(id_col).distinct(), id_col, "left_anti")
        .select(id_col, vec_col, "cell")
    )
    return survivors.unionByName(assigned.select(id_col, vec_col, "cell"))


def delete_from_ivf_index(
    ids: DataFrame,
    path: str,
    id_col: str = "vec_id",
) -> None:
    """Remove vectors from a ``write_ivf_index`` table by id — the
    decontamination path: a poisoned/duplicate batch leaves the corpus
    index without an O(corpus) rebuild. Touched cells are found with a
    column-pruned (id, cell) scan; only their partitions are rewritten
    (the same shape as ``upsert_ivf_cells`` with an empty insert side).

    The empty-cell trap is handled explicitly: dynamic overwrite only
    replaces partitions PRESENT in the output, so a cell whose every
    row is deleted would otherwise keep its directory — and its stale
    rows — on disk. Emptied cells are detected from the survivor counts
    and their directories dropped through the filesystem API.
    """
    from ..session import dynamic_partition_overwrite
    from .indexmeta import check_index_meta, delete_partition_dirs

    spark = ids.sparkSession
    check_index_meta(spark, path, {"kind": "ivf"})
    from .indexmeta import read_index_parquet

    index = read_index_parquet(spark, path)
    if index is None:
        return  # zero-file (bootstrap-empty) index: nothing to delete
    victim_ids = F.broadcast(ids.select(id_col).distinct())

    touched = (
        index.join(victim_ids, id_col, "left_semi").select("cell").distinct()
    )
    touched_cells = [r["cell"] for r in touched.collect()]  # metadata-sized
    if not touched_cells:
        return
    payload_cols = [c for c in index.columns if c not in (id_col, "cell")]
    survivors = (
        index.where(F.col("cell").isin(touched_cells))
        .join(victim_ids, id_col, "left_anti")
        .select(id_col, *payload_cols, "cell")
    )
    survivors = survivors.localCheckpoint(eager=True)
    surviving_cells = {
        r["cell"] for r in survivors.select("cell").distinct().collect()
    }
    with dynamic_partition_overwrite(spark):
        survivors.write.mode("overwrite").partitionBy("cell").parquet(path)
    emptied = [c for c in touched_cells if c not in surviving_cells]
    delete_partition_dirs(spark, path, [f"cell={c}" for c in emptied])


def ivf_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_probe: int = 1,
) -> DataFrame:
    """``ivf_topk`` against a ``write_ivf_index`` table: corpus-side
    assignment is a plain scan of precomputed cells, partition-pruned to
    the probed cells. Same results as the in-memory path for the same
    centroids — enforced: the caller's centroids are fingerprinted
    against the index's ``_meta.json`` sidecar, so probing after
    centroids moved (stale index) fails fast."""
    from .indexmeta import centroid_fingerprint, check_index_meta

    check_index_meta(
        spark,
        index_path,
        {
            "kind": "ivf",
            "centroid_fp": centroid_fingerprint(centroids, id_col, vec_col),
        },
    )
    q_cells = _ivf_query_cells(queries, centroids, id_col, vec_col, n_probe)
    corpus_cells = spark.read.parquet(index_path).select(
        F.col(id_col).alias("cid"), V.as_double(vec_col).alias("cv"), "cell"
    )
    return _ivf_rank_candidates(q_cells, corpus_cells, k)


def set_ivf_sync_cursor(spark, index_path: str, version: int) -> None:
    """Record which snapshot-table version an IVF index reflects (the
    ``synced_version`` cursor; see ``sync_ivf_from_snapshot``)."""
    from .indexmeta import check_index_meta, read_index_meta, write_index_meta

    check_index_meta(spark, index_path, {"kind": "ivf"})
    meta = read_index_meta(spark, index_path)
    meta["synced_version"] = int(version)
    write_index_meta(spark, index_path, meta)


def sync_ivf_from_snapshot(
    spark,
    table_path: str,
    index_path: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    to_version: int | None = None,
) -> dict:
    """Propagate snapshot-table DML on an embeddings table into the IVF
    index via the row-level change feed — the vector sibling of
    ``search.sync_postings_from_snapshot`` (same cursor protocol, same
    net-effect-per-id resolution, same crash-convergence argument:
    upsert and delete are idempotent replacements, and the cursor
    advances only after both land). Centroids must be the build-time
    set (fingerprint-validated by the underlying upsert/delete)."""
    from pyspark.sql.window import Window

    from ..warehouse.manifestlog import list_versions
    from ..warehouse.snapshots import snapshot_changes
    from .indexmeta import check_index_meta, read_index_meta

    check_index_meta(spark, index_path, {"kind": "ivf"})
    from_v = read_index_meta(spark, index_path).get("synced_version")
    if from_v is None:
        raise ValueError(
            f"{index_path}: no synced_version cursor — build the index "
            "from read_snapshot(table, v) and record v with "
            "set_ivf_sync_cursor first"
        )
    if to_version is None:
        to_version = list_versions(table_path)[-1]
    if to_version <= from_v:
        return {
            "synced_from": from_v, "synced_to": from_v,
            "vecs_upserted": 0, "vecs_deleted": 0,
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
    upserts = last.where(F.col("_change_type") == "insert").select(
        id_col, vec_col
    )
    deletes = last.where(F.col("_change_type") == "delete").select(id_col)
    n_del = deletes.count()
    if n_del:
        delete_from_ivf_index(deletes, index_path, id_col)
    n_up = upserts.count()
    if n_up:
        upsert_ivf_cells(upserts, centroids, index_path, id_col, vec_col)
    set_ivf_sync_cursor(spark, index_path, to_version)
    return {
        "synced_from": from_v, "synced_to": to_version,
        "vecs_upserted": n_up, "vecs_deleted": n_del,
    }


def delete_from_ann_index(
    ids: DataFrame,
    path: str,
    id_col: str = "vec_id",
) -> None:
    """Remove vectors from a ``write_ann_index`` table by id — the
    decontamination path for the multi-table LSH index. Every id has
    one row in EVERY ``tbl=`` partition, so unlike the IVF/postings
    deletes there is no partition pruning to exploit: all table
    directories are rewritten. That is still ~half a rebuild (the
    surviving rows' codes are reused, no hyperplane math re-runs) and
    it preserves the sidecar dials. The rewrite is STATIC-scoped and
    lineage-cut, the same pattern as ``write_ann_index`` rebuilds; an
    index emptied entirely still reads back (the typed-empty fallback
    in ``_read_ann_rows`` covers zero-file layouts).
    """
    from ..session import static_partition_overwrite
    from .indexmeta import check_index_meta, read_index_meta, write_index_meta

    spark = ids.sparkSession
    check_index_meta(spark, path, {"kind": "ann"})
    meta = read_index_meta(spark, path)
    victims = F.broadcast(
        ids.select(F.col(id_col).alias("cid")).distinct()
    )
    # redelivered / no-op batches (ids already gone, empty frame) must
    # not pay the full rewrite — one id-pruned tbl=0 semi-join decides
    if (
        _ann_existing_ids(spark, path)
        .join(victims, "cid", "left_semi")
        .isEmpty()
    ):
        return
    survivors = (
        _read_ann_rows(spark, path)
        .join(victims, "cid", "left_anti")
        .select("cid", "cv", "bucket", "tbl")
        .localCheckpoint(eager=True)
    )
    with static_partition_overwrite(spark):
        survivors.write.mode("overwrite").partitionBy("tbl").parquet(path)
    write_index_meta(spark, path, meta)
