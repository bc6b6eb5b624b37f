"""PCA / whitening for embedding columns — the decorrelation step
embedding pipelines run before LSH bucketing, IVF clustering, or
低-dim visualization (decorrelated dimensions make random-hyperplane
codes and Euclidean cells noticeably better behaved).

Scale shape — the classic two-sided split:

- The SUFFICIENT STATISTICS are distributed: one pass over the corpus
  aggregates the mean vector and the Gramian (sum of x·xᵀ as a flat
  d·d array) with ``F.aggregate``/``F.transform`` — JVM-side, map-side
  combined, one shuffle of d + d² doubles per partition, nothing else.
- The EIGENDECOMPOSITION is driver-side numpy over the d×d covariance
  — d is an embedding dimension (64–4096), so this is microseconds of
  O(d³) on metadata-sized input, the textbook "small dense problem on
  the driver" (same family as k-means centroids or quantile cuts).
- The PROJECTION is distributed again: the component matrix broadcasts
  back as a literal array and each vector maps through
  ``F.transform(dot)`` — a narrow op, no shuffle, no Python.

``fit_pca`` → ``{mean, components, eigenvalues}``; ``project`` applies
an optional whitening rescale (unit variance per component).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from ..functions.sql import column


def fit_pca(df: DataFrame, vec_col: str, n_components: int | None = None) -> dict:
    """One distributed pass for mean + Gramian, driver-side eigh.

    Returns ``{"mean": [d], "components": [[k][d]] (rows = principal
    axes, descending variance), "eigenvalues": [k], "n": int}``.

    The element-wise sums run as posexplode → groupBy(position): the
    explode streams through the partial hash aggregate, so only
    ``d + d²`` per-partition partials ever shuffle, and the collected
    statistics are ``d + d²`` rows — metadata at any corpus size
    (d=1024 → ~8 MB on the driver; the corpus never leaves executors).
    """
    # null vectors are excluded from the fit (a mean over nothing is
    # meaningless); an empty/all-null corpus fails fast with a clear
    # error instead of a driver-side TypeError on first()
    df = df.where(column(vec_col).isNotNull())
    first = df.select(column(vec_col)).first()
    if first is None:
        raise ValueError("fit_pca: no non-null vectors to fit")
    d = len(first[0])
    xs = df.select(V.as_double(vec_col).alias("x"))
    n = xs.count()
    if n < 2:
        raise ValueError("need at least 2 vectors to fit a covariance")
    # flat [x ++ row-major x·xᵀ] per vector, summed by position
    flat = F.concat(
        F.col("x"),
        F.flatten(
            F.transform(
                F.col("x"),
                lambda xi: F.transform(F.col("x"), lambda xj: xi * xj),
            )
        ),
    )
    sums_rows = (
        xs.select(F.posexplode(flat))
        .groupBy("pos")
        .agg(F.sum("col").alias("s"))
        .collect()
    )
    sums = np.zeros(d + d * d)
    for r in sums_rows:
        sums[r["pos"]] = r["s"]
    mean = sums[:d] / n
    gram = sums[d:].reshape(d, d) / n
    cov = gram - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    k = n_components or d
    return {
        "mean": mean.tolist(),
        "components": evecs[:, order[:k]].T.tolist(),
        "eigenvalues": np.maximum(evals[order[:k]], 0.0).tolist(),
        "n": n,
    }


def project(
    df: DataFrame,
    model: dict,
    vec_col: str,
    out_col: str = "projected",
    whiten: bool = False,
    eps: float = 1e-9,
) -> DataFrame:
    """Append ``out_col``: the centered vector projected onto the
    principal axes (k doubles), optionally whitened to unit variance
    per component. Narrow plan — the model rides along as literal
    arrays, no join, no shuffle, no Python."""
    mean = F.array(*[F.lit(float(m)) for m in model["mean"]])
    centered = F.zip_with(
        V.as_double(vec_col),
        mean,
        lambda x, m: x - m,
    )
    comps = []
    for ci, comp in enumerate(model["components"]):
        row = F.array(*[F.lit(float(c)) for c in comp])
        proj = F.aggregate(
            F.zip_with(centered, row, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        if whiten:
            proj = proj / F.lit(float(np.sqrt(model["eigenvalues"][ci] + eps)))
        comps.append(proj)
    return df.withColumn(out_col, F.array(*comps))
