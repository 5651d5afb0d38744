"""Spark-SQL reference forms of the dense GLM kernels, kept as a test oracle.

The library computes every dense kernel in one Arrow partial-aggregation
scan (``kernels._arrow_partials``). The functions here compute the same
sums as unrolled Column aggregates over the families' Column forms
(``loglike_terms``, ``residual``, ``hess_weight``) and
``kernels.matvec_expr``: an independent evaluation of the same algebra by
Spark's codegen. They take the signatures of the kernels they mirror, so
a test can run either side against the same numpy twin.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from dask_glm_spark.functions.kernels import matvec_expr


def _sums(df, cols) -> np.ndarray:
    row = df.agg(
        *[F.coalesce(F.sum(c), F.lit(0.0)).alias(f"c{i}") for i, c in enumerate(cols)]
    ).collect()[0]
    return np.array([row[f"c{i}"] for i in range(len(cols))], dtype=np.float64)


def _terms(family, beta, features_col, label_col, weight_col, offset_col):
    """Per-row (loglike term, residual, Hessian weight), sample-weighted."""
    xb = matvec_expr(beta, features_col)
    if offset_col is not None:
        xb = xb + F.col(offset_col)
    y = F.col(label_col)
    ll, r, hw = family.loglike_terms(xb, y), family.residual(xb, y), family.hess_weight(xb)
    if weight_col is not None:
        w = F.col(weight_col)
        ll, r, hw = w * ll, w * r, w * hw
    return ll, r, hw


def loss_gradient(
    df, family, beta, p=None, features_col="features", label_col="label",
    weight_col=None, offset_col=None,
):
    beta = np.asarray(beta, dtype=np.float64)
    p = p or len(beta)
    ll, r, _ = _terms(family, beta, features_col, label_col, weight_col, offset_col)
    x = F.col(features_col)
    s = _sums(df, [ll] + [x[j] * r for j in range(p)])
    return float(s[0]), s[1:]


def gradient_hessian(
    df, family, beta, p=None, features_col="features", label_col="label",
    weight_col=None, offset_col=None,
):
    beta = np.asarray(beta, dtype=np.float64)
    p = p or len(beta)
    _, r, hw = _terms(family, beta, features_col, label_col, weight_col, offset_col)
    x = F.col(features_col)
    s = _sums(
        df,
        [x[j] * r for j in range(p)]
        + [hw * x[i] * x[j] for i in range(p) for j in range(p)],
    )
    return s[:p], s[p:].reshape(p, p)


def multi_loss_gradient(
    df, family, betas, features_col="features", label_col="label",
    weight_col=None, offset_col=None,
):
    out = [
        loss_gradient(
            df, family, b, None, features_col, label_col, weight_col, offset_col
        )
        for b in betas
    ]
    return np.array([l for l, _ in out]), np.column_stack([g for _, g in out])


def multi_loss(
    df, family, betas, features_col="features", label_col="label",
    weight_col=None, offset_col=None,
):
    return multi_loss_gradient(
        df, family, betas, features_col, label_col, weight_col, offset_col
    )[0]
