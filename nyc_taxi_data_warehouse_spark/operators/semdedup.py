"""Semantic deduplication (SemDeDup-style): cluster embeddings, then
greedily drop near-duplicates WITHIN each cluster.

MinHash/SimHash (operators/dedup.py) catch lexical near-duplicates;
embedding_near_dup (operators/similarity.py) catches pairs above a
cosine threshold via LSH buckets. Semantic dedup is the third standard
tool (Abbas et al., "SemDeDup", arXiv:2303.09540 — public paper): a
k-means partition makes the quadratic within-cluster comparison
tractable, and a deterministic greedy sweep keeps exactly one
representative per semantic neighborhood, so the pruned corpus has NO
kept pair above the threshold inside any cluster.

Spark shape:
- Clustering reuses ``operators/clustering``'s assignment/recenter
  rounds (broadcast centroids; vectors move once per round), seeded
  with the k smallest ids.
- The greedy sweep is one ``applyInPandas`` over ``groupBy(cell)`` —
  the single place quadratic work happens, bounded by
  ``max_cluster_size``: oversized clusters are processed in contiguous
  chunks of the centroid-similarity order (near-duplicates have
  near-identical centroid similarity, so true pairs co-chunk — the
  standard large-scale approximation; the cap bounds the cost at
  O(chunk² · dim) instead of letting one degenerate cluster explode).
- Determinism: the sweep order is (centroid sim DESC, id ASC), both
  computed with rounded/exact values, so the kept set is independent
  of partitioning — pytest replays it against a pure-numpy reference.

Rows that cannot be judged (NULL id, NULL/empty vector) pass through
with ``kept=true, cell=NULL`` — an erasure bug here is the exact class
the degenerate-corpus gate exists for.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from ..functions import vector as V
from ..functions.sql import column
from .clustering import kmeans_assign, kmeans_recenter

_OUT_FIELDS = [
    StructField("cell", LongType()),
    StructField("kept", BooleanType()),
]


def _greedy_keep(vecs, threshold: float, chunk: int):
    """Pure-python/numpy greedy sweep; shared by the Spark operator and
    the test reference. Returns the kept flags aligned with the input
    order, which MUST already be (sim desc, id asc)."""
    import numpy as np

    n = len(vecs)
    kept = np.zeros(n, dtype=bool)
    mat = np.asarray(vecs, dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0  # zero vectors: cosine treated as 0
    unit = mat / norms[:, None]
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        kept_rows: list[int] = []
        for i in range(lo, hi):
            if kept_rows:
                best = float((unit[kept_rows] @ unit[i]).max())
            else:
                best = float("-inf")
            if best < threshold:
                kept[i] = True
                kept_rows.append(i)
    return kept


def cluster_greedy_dedup(
    assigned: DataFrame,
    id_col: str,
    threshold: float,
    max_cluster_size: int = 10_000,
) -> DataFrame:
    """Greedy within-cluster sweep. ``assigned``: (id_col, cell, sim,
    _v). Output: (id_col, cell, kept)."""
    out_schema = StructType(
        [assigned.schema[id_col], *_OUT_FIELDS]
    )

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["sim", id_col], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        kept = _greedy_keep(list(pdf["_v"]), threshold, max_cluster_size)
        return pd.DataFrame(
            {id_col: pdf[id_col], "cell": pdf["cell"], "kept": kept}
        )

    return assigned.groupBy("cell").applyInPandas(sweep, out_schema)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.95,
    max_cluster_size: int = 10_000,
) -> DataFrame:
    """Full pipeline: k-means → within-cluster greedy dedup. Returns
    (id_col, cell, kept); filter ``kept`` to prune the corpus."""
    judge_cond = (
        F.col(id_col).isNotNull()
        & column(vec_col).isNotNull()
        & (F.size(column(vec_col)) > 0)
    )
    passthrough = (
        df.where(~F.coalesce(judge_cond, F.lit(False)))
        .select(id_col)
        .withColumn("cell", F.lit(None).cast("long"))
        .withColumn("kept", F.lit(True))
    )
    v = df.where(judge_cond).select(
        F.col(id_col).alias("_id"), V.as_double(vec_col).alias("_v")
    )
    # seed = the k smallest ids (robust to sparse/offset id spaces,
    # unlike clustering.kmeans' fixture-shaped `_id < k` seed rule)
    cents = (
        v.orderBy("_id")
        .limit(k)
        .select(F.col("_id").alias("cell"), F.col("_v").alias("_cv"))
    )
    assigned = kmeans_assign(v, cents)
    for _ in range(n_iter - 1):
        assigned = kmeans_assign(v, kmeans_recenter(assigned))
    with_vec = assigned.select(
        F.col("_id").alias(id_col), "cell", "sim", "_v"
    )
    return cluster_greedy_dedup(
        with_vec, id_col, threshold, max_cluster_size
    ).unionByName(passthrough)
