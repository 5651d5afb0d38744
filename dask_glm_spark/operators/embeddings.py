"""Embedding-space linear transforms: distributed moments, PCA fit, and
batched projection/whitening.

Beyond-reference surface (similarity-pipeline preprocessing). ANN recall
and cosine semantics both improve when the embedding space is centered
and decorrelated — the classic pre-index step. The shapes here follow the
engine's solver conventions:

- moments/covariance: ONE Arrow partial-aggregation scan (n, Σx, ΣxxᵀT
  per partition — O(d²) floats each, d = embedding dim), pid-sorted
  driver fold (``kernels._arrow_partials_generic``) so the float
  reduction is run-invariant;
- the eigendecomposition is driver-side numpy on the d×d covariance
  (d is 64-1024 for real embedding tables — never data-scale);
- projection is a literal-free ``mapInArrow`` GEMM per Arrow batch (the
  k-means convention: the matrix rides the closure, the plan is
  byte-stable, no per-call Janino recompile).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from dask_glm_spark.functions.kernels import (
    _arrow_partials_generic,
    _flat_rows,
    _with_columns,
)


def embedding_moments(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, mean, covariance) of a vector column in one Arrow scan.

    Covariance is the population form ``E[xxᵀ] − μμᵀ`` assembled from the
    exact partials (n, Σx, Σxxᵀ); symmetry is enforced after the driver
    fold (float addition noise only)."""

    def batch_partial(rb):
        X = _flat_rows(rb.column(0))
        return {
            "n": np.float64(len(X)),
            "s": X.sum(axis=0),
            "ss": (X.T @ X).ravel(),
        }

    acc = _arrow_partials_generic(
        df, batch_partial,
        "n double, s array<double>, ss array<double>",
        {"n": 0.0, "s": 0.0, "ss": 0.0},  # d is discovered from the vectors
        columns=[vec_col],
    )
    n, s, ss = acc["n"], acc["s"], acc["ss"]
    if n == 0:
        raise ValueError("empty input DataFrame")
    d = len(s)
    mean = s / n
    cov = ss.reshape(d, d) / n - np.outer(mean, mean)
    cov = (cov + cov.T) / 2.0
    return int(n), mean, cov


def fit_pca(
    df: DataFrame, vec_col: str = "embedding", k: int | None = None
) -> dict:
    """PCA of a vector column: ``{"mean", "components" (k×d, rows =
    descending-eigenvalue principal axes), "explained_variance" (k,),
    "n"}``. One distributed covariance scan + a driver ``eigh`` on the
    d×d matrix — never a shuffle of the vectors themselves. Sign
    convention: each component's largest-|coefficient| entry is made
    positive, so the fit is deterministic (eigh's sign is arbitrary)."""
    n, mean, cov = embedding_moments(df, vec_col)
    d = len(mean)
    k = d if k is None else k  # `k or d` would silently promote k=0 to d
    if not 0 < k <= d:
        raise ValueError(f"k must be in (0, {d}], got {k}")
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, d)
    ev = np.maximum(evals[order], 0.0)
    for i in range(k):  # deterministic sign
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return {
        "mean": mean,
        "components": comps,
        "explained_variance": ev,
        "n": n,
    }


def project_embeddings(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "projected",
    whiten: bool = False,
    eps: float = 1e-9,
) -> DataFrame:
    """Append ``out_col`` = the centered projection ``(x − μ) @ componentsᵀ``
    (``whiten=True`` additionally scales each axis by
    ``1/sqrt(variance + eps)``, so the output covariance is ~identity).
    One batched GEMM per Arrow batch; the projection matrix rides the
    closure — the plan carries no giant literal and is byte-stable across
    calls (the k-means lesson)."""
    mean = np.asarray(model["mean"], dtype=np.float64)
    comps = np.asarray(model["components"], dtype=np.float64)
    if whiten:
        scale = 1.0 / np.sqrt(
            np.asarray(model["explained_variance"], dtype=np.float64) + eps
        )
        comps = comps * scale[:, None]
    cols = df.columns

    def op(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = _flat_rows(rb.column(rb.schema.get_field_index(vec_col)))
            yield _with_columns(rb, {out_col: (X - mean) @ comps.T})

    fields = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in cols
    )
    return df.mapInArrow(op, schema=f"{fields}, {out_col} array<double>")
