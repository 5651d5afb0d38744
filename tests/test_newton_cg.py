"""Matrix-free Newton-CG (round 12) — the wide-p replacement for ``newton``.

Serves the same semantics as the reference's ``newton``
(``dask_glm/algorithms.py:170-221``) via Hessian-vector products only:
no p² partial, no p×p driver object. Tests pin (a) the driver-side CG
against numpy's exact solve, (b) the Hvp kernel against its numpy twin on
both physical paths, (c) solver parity with ``newton`` to 1e-6 across
families/weights/offsets, and (d) estimator dispatch."""

from __future__ import annotations

import numpy as np
import pytest

# Tests that take >= 4 s each are marked slow one by one: skipped by the
# default serial run, always run by scripts/partest.py (see conftest).

from dask_glm_spark import LogisticRegression
from dask_glm_spark.functions import kernels
from dask_glm_spark.functions.families import Gamma, Logistic, Normal, Poisson, Tweedie
from dask_glm_spark.operators import solvers
from dask_glm_spark.operators.solvers import _cg_solve, newton, newton_cg
from dask_glm_spark.sources.datasets import make_poisson, make_regression


# ---------------------------------------------------------------------------
# driver-side CG vs exact solve (no Spark)
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("p", [3, 17, 60])
def test_cg_matches_exact_solve(p):
    rng = np.random.RandomState(p)
    A_ = rng.randn(p, p)
    A = A_ @ A_.T + p * np.eye(p)  # SPD, well-conditioned
    b = rng.randn(p)
    x, n_mv, rel = _cg_solve(lambda v: A @ v, b, rtol=1e-12, maxiter=10 * p)
    assert n_mv <= 10 * p
    np.testing.assert_allclose(x, np.linalg.solve(A, b), rtol=1e-8, atol=1e-10)


def test_cg_respects_rtol_and_maxiter():
    rng = np.random.RandomState(0)
    A_ = rng.randn(40, 40)
    A = A_ @ A_.T + 40 * np.eye(40)
    b = rng.randn(40)
    x, n_mv, rel = _cg_solve(lambda v: A @ v, b, rtol=1e-2, maxiter=3)
    assert n_mv <= 3
    # loose solve still reduces the residual vs x=0
    assert np.linalg.norm(A @ x - b) < np.linalg.norm(b)


def test_cg_negative_curvature_first_step_returns_gradient():
    # A = -I: dAd < 0 immediately -> truncated-Newton fallback x = b
    b = np.array([1.0, -2.0, 3.0])
    x, n_mv, rel = _cg_solve(lambda v: -v, b, rtol=1e-10, maxiter=10)
    assert n_mv == 1
    np.testing.assert_allclose(x, b)


# ---------------------------------------------------------------------------
# Hvp kernel vs numpy twin
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def clf_data(spark):
    import pandas as pd

    rng = np.random.RandomState(1212)
    n, p = 300, 4
    X = rng.randn(n, p)
    beta_true = np.array([1.0, -0.7, 0.4, 0.0])
    y = (rng.rand(n) < 1 / (1 + np.exp(-(X @ beta_true)))).astype(np.float64)
    df = spark.createDataFrame(
        pd.DataFrame({"features": list(X), "label": y})
    ).repartition(4)
    df = df.persist()
    yield df, X, y
    df.unpersist()


@pytest.mark.parametrize("family", [Logistic, Normal, Poisson])
def test_hvp_matches_numpy_twin(clf_data, family, as_blocks):
    df, X, y = clf_data
    rng = np.random.RandomState(7)
    beta = rng.randn(X.shape[1]) * 0.3
    v = rng.randn(X.shape[1])
    hw = family.hess_weight_np(X @ beta)
    expected = X.T @ (hw * (X @ v))
    for src in (df, as_blocks(df)):  # the frame and a fit's block cache
        got = kernels.hessian_vector_product(src, family, beta, v)
        np.testing.assert_allclose(got, expected, rtol=1e-10, atol=1e-10)


def test_hvp_weighted_offset(spark, as_blocks):
    import pandas as pd

    rng = np.random.RandomState(42)
    n, p = 200, 3
    X = rng.randn(n, p)
    y = (rng.rand(n) < 0.5).astype(np.float64)
    w = rng.rand(n) + 0.5
    o = rng.randn(n) * 0.1
    df = spark.createDataFrame(
        pd.DataFrame(
            {"features": list(X), "label": y, "w": w, "o": o}
        )
    ).repartition(3)
    beta = rng.randn(p) * 0.2
    v = rng.randn(p)
    hw = w * Logistic.hess_weight_np(X @ beta + o)
    expected = X.T @ (hw * (X @ v))
    for src in (df, as_blocks(df, weight_col="w", offset_col="o")):
        got = kernels.hessian_vector_product(
            src, Logistic, beta, v, weight_col="w", offset_col="o"
        )
        np.testing.assert_allclose(got, expected, rtol=1e-10, atol=1e-10)


# ---------------------------------------------------------------------------
# solver parity with newton
# ---------------------------------------------------------------------------
@pytest.mark.slow
def test_newton_cg_matches_newton_logistic(clf_data):
    df, X, y = clf_data
    b_newton = newton(df, max_iter=50, tol=1e-10)
    b_cg = newton_cg(df, max_iter=50, tol=1e-10, cg_tol=1e-10)
    np.testing.assert_allclose(b_cg, b_newton, rtol=1e-6, atol=1e-8)


@pytest.mark.slow
def test_newton_cg_matches_newton_poisson(spark):
    df = make_poisson(
        spark, n_samples=300, n_features=3, seed=77, npartitions=3
    )[0]
    b_newton = newton(df, family=Poisson, max_iter=50, tol=1e-10)
    b_cg = newton_cg(df, family=Poisson, max_iter=50, tol=1e-10, cg_tol=1e-10)
    np.testing.assert_allclose(b_cg, b_newton, rtol=1e-6, atol=1e-8)


@pytest.mark.slow
def test_newton_cg_matches_newton_normal(spark):
    df = make_regression(
        spark, n_samples=300, n_features=3, seed=88, npartitions=3
    )[0]
    b_newton = newton(df, family=Normal, max_iter=50, tol=1e-10)
    b_cg = newton_cg(df, family=Normal, max_iter=50, tol=1e-10, cg_tol=1e-10)
    np.testing.assert_allclose(b_cg, b_newton, rtol=1e-6, atol=1e-8)


@pytest.mark.slow
def test_newton_cg_eisenstat_walker_default_converges(clf_data):
    # default forcing sequence (cg_tol=None) must reach the same optimum,
    # just possibly with more outer iterations
    df, X, y = clf_data
    b_newton = newton(df, max_iter=50, tol=1e-10)
    info: dict = {}
    b_cg = newton_cg(df, max_iter=50, tol=1e-8, fit_info=info)
    assert info["converged"] is True
    assert info["cg_iters"] >= 1
    np.testing.assert_allclose(b_cg, b_newton, rtol=1e-5, atol=1e-7)


@pytest.mark.slow
def test_newton_cg_weighted_offset_parity(spark):
    import pandas as pd

    rng = np.random.RandomState(5)
    n, p = 400, 3
    X = rng.randn(n, p)
    beta_true = np.array([0.8, -0.5, 0.3])
    y = (rng.rand(n) < 1 / (1 + np.exp(-(X @ beta_true)))).astype(np.float64)
    w = rng.randint(1, 4, n).astype(np.float64)
    o = rng.randn(n) * 0.05
    df = spark.createDataFrame(
        pd.DataFrame({"features": list(X), "label": y, "w": w, "o": o})
    ).repartition(4)
    kw = dict(max_iter=50, tol=1e-10, weight_col="w", offset_col="o")
    b_newton = newton(df, **kw)
    b_cg = newton_cg(df, cg_tol=1e-10, **kw)
    np.testing.assert_allclose(b_cg, b_newton, rtol=1e-6, atol=1e-8)


@pytest.mark.slow
def test_newton_cg_gamma_tweedie_parity(spark):
    # non-canonical log links: both solvers Fisher-score with the same
    # hess_weight, so the iterates agree step-for-step
    import pandas as pd

    rng = np.random.RandomState(9)
    n, p = 300, 3
    X = rng.randn(n, p) * 0.4
    mu = np.exp(X @ np.array([0.5, -0.3, 0.2]))
    y = rng.gamma(shape=2.0, scale=mu / 2.0) + 1e-3
    df = spark.createDataFrame(
        pd.DataFrame({"features": list(X), "label": y})
    ).repartition(3)
    for fam in (Gamma, Tweedie(1.5)):
        b_newton = newton(df, family=fam, max_iter=50, tol=1e-10)
        b_cg = newton_cg(df, family=fam, max_iter=50, tol=1e-10, cg_tol=1e-10)
        np.testing.assert_allclose(b_cg, b_newton, rtol=1e-6, atol=1e-8)


@pytest.mark.slow
def test_estimator_dispatch_newton_cg(clf_data):
    df, X, y = clf_data
    lr_cg = LogisticRegression(solver="newton_cg", max_iter=50, tol=1e-10).fit(df)
    lr_n = LogisticRegression(solver="newton", max_iter=50, tol=1e-10).fit(df)
    np.testing.assert_allclose(lr_cg.coef_, lr_n.coef_, rtol=1e-5, atol=1e-7)
    np.testing.assert_allclose(
        lr_cg.intercept_, lr_n.intercept_, rtol=1e-5, atol=1e-7
    )
    assert lr_cg.converged_ is True


def test_newton_cg_in_registry():
    assert solvers._solvers["newton_cg"] is newton_cg


# ---------------------------------------------------------------------------
# wide-sparse newton_cg (round 12: sparse features get Newton semantics)
# ---------------------------------------------------------------------------
@pytest.mark.slow
def test_newton_cg_sparse_matches_dense(clf_data):
    from dask_glm_spark.operators.solvers import newton_cg_sparse
    from dask_glm_spark.sources import vectors as V

    df, X, y = clf_data
    sd = V.to_sparse_columns(df)
    b_dense = newton_cg(
        df, max_iter=50, tol=1e-10, cg_tol=1e-10, normalize=False
    )
    b_sparse = newton_cg_sparse(sd, max_iter=50, tol=1e-10, cg_tol=1e-10, p=4)
    np.testing.assert_allclose(b_sparse, b_dense, rtol=1e-8, atol=1e-10)


def test_hvp_sparse_matches_numpy_twin(clf_data):
    from dask_glm_spark.functions.kernels_sparse import (
        hessian_vector_product_sparse,
    )
    from dask_glm_spark.sources import vectors as V

    df, X, y = clf_data
    sd = V.to_sparse_columns(df)
    rng = np.random.RandomState(3)
    beta = rng.randn(4) * 0.3
    v = rng.randn(4)
    hw = Logistic.hess_weight_np(X @ beta)
    expected = X.T @ (hw * (X @ v))
    got = hessian_vector_product_sparse(sd, Logistic, beta, v, 4)
    np.testing.assert_allclose(got, expected, rtol=1e-10, atol=1e-10)


@pytest.mark.slow
def test_estimator_sparse_newton_cg_with_intercept(clf_data):
    """The round-12 combo: wide-sparse + fit_intercept + newton_cg —
    matches the dense intercept-extended newton fit."""
    from dask_glm_spark.sources import vectors as V

    df, X, y = clf_data
    sd = V.to_sparse_columns(df)
    dense = LogisticRegression(
        solver="newton", fit_intercept=True, max_iter=50, tol=1e-10
    ).fit(df, normalize=False)
    sparse = LogisticRegression(
        solver="newton_cg", fit_intercept=True, max_iter=50, tol=1e-10
    ).fit(sd, p=4, cg_tol=1e-10)
    np.testing.assert_allclose(sparse.coef_, dense.coef_, rtol=1e-6, atol=1e-8)
    np.testing.assert_allclose(
        sparse.intercept_, dense.intercept_, rtol=1e-6, atol=1e-8
    )


# ---------------------------------------------------------------------------
# round 13: joint-softmax Newton-CG (VERDICT r12 #5)
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def softmax_data(spark):
    import pandas as pd

    rng = np.random.RandomState(1313)
    n, p, k = 300, 4, 3
    X = rng.randn(n, p)
    W = rng.randn(p, k) * 0.6
    # labels SAMPLED from the true softmax (not argmax): a well-specified
    # multinomial with a finite MLE — argmax labels are near-separable and
    # the unpenalized MLE weakly identified, where no two optimizers agree
    Z = X @ W
    Pm = np.exp(Z - Z.max(axis=1, keepdims=True))
    Pm /= Pm.sum(axis=1, keepdims=True)
    y = np.array(
        [rng.choice(k, p=Pm[i]) for i in range(n)], dtype=np.float64
    )
    df = spark.createDataFrame(
        pd.DataFrame({"features": list(X), "label": y})
    ).repartition(4)
    df = df.persist()
    yield df, X, y, k
    df.unpersist()


def _np_softmax_hvp(X, B, V, w=None):
    Z = X @ B
    Z = Z - Z.max(axis=1, keepdims=True)
    P = np.exp(Z)
    P /= P.sum(axis=1, keepdims=True)
    A = X @ V
    M = P * (A - (A * P).sum(axis=1, keepdims=True))
    if w is not None:
        M = M * w[:, None]
    return X.T @ M


def test_softmax_hvp_matches_numpy_twin(softmax_data, as_blocks):
    df, X, y, k = softmax_data
    rng = np.random.RandomState(3)
    B = rng.randn(X.shape[1], k) * 0.3
    V = rng.randn(X.shape[1], k)
    for src in (df, as_blocks(df)):  # the frame and a fit's block cache
        got = kernels.softmax_hessian_vector_product(src, B, V)
        np.testing.assert_allclose(
            got, _np_softmax_hvp(X, B, V), rtol=1e-10, atol=1e-10
        )
        # output columns sum to zero per feature (range(H) is orthogonal
        # to the softmax shift null space) — the identification invariant
        np.testing.assert_allclose(got.sum(axis=1), 0.0, atol=1e-10)


def test_softmax_hvp_weighted(spark, as_blocks):
    import pandas as pd

    rng = np.random.RandomState(21)
    n, p, k = 200, 3, 3
    X = rng.randn(n, p)
    y = rng.randint(0, k, n).astype(np.float64)
    w = rng.rand(n) + 0.5
    df = spark.createDataFrame(
        pd.DataFrame({"features": list(X), "label": y, "w": w})
    ).repartition(3)
    B = rng.randn(p, k) * 0.2
    V = rng.randn(p, k)
    for src in (df, as_blocks(df, weight_col="w")):
        got = kernels.softmax_hessian_vector_product(
            src, B, V, weight_col="w"
        )
        np.testing.assert_allclose(
            got, _np_softmax_hvp(X, B, V, w), rtol=1e-10, atol=1e-10
        )


def test_softmax_hvp_sparse_matches_dense(softmax_data):
    from dask_glm_spark.functions import kernels_sparse
    from dask_glm_spark.sources import vectors as V_

    df, X, y, k = softmax_data
    sd = V_.to_sparse_columns(df)
    rng = np.random.RandomState(5)
    p = X.shape[1]
    B = rng.randn(p, k) * 0.3
    V = rng.randn(p, k)
    got = kernels_sparse.softmax_hessian_vector_product_sparse(
        sd, B, V, p
    )
    np.testing.assert_allclose(
        got, _np_softmax_hvp(X, B, V), rtol=1e-10, atol=1e-10
    )


@pytest.mark.slow
def test_softmax_newton_cg_matches_lbfgs(softmax_data):
    df, X, y, k = softmax_data
    B_lbfgs = solvers.softmax_lbfgs(
        df, k, regularizer=None, max_iter=400, tol=1e-12
    )
    B_cg = solvers.softmax_newton_cg(
        df, k, max_iter=50, tol=1e-10, cg_tol=1e-10
    )
    # direct parity is bounded by L-BFGS's own convergence (~4e-6 here);
    # the gradient pin below is the sharper optimality statement
    np.testing.assert_allclose(B_cg, B_lbfgs, rtol=1e-5, atol=1e-5)
    # newton_cg's endpoint is a TRUE stationary point (quadratic local
    # convergence): its gradient must be at machine-level, and no larger
    # than L-BFGS's
    _, g_cg = kernels.softmax_loss_gradient(df, B_cg)
    _, g_lb = kernels.softmax_loss_gradient(df, B_lbfgs)
    assert np.abs(g_cg).max() < 1e-8
    assert np.abs(g_cg).max() <= np.abs(g_lb).max() + 1e-12
    # sum-zero representation: the shift projection keeps newton_cg in
    # the same identified subspace L-BFGS converges to
    np.testing.assert_allclose(B_cg.sum(axis=1), 0.0, atol=1e-10)


@pytest.mark.slow
def test_softmax_newton_cg_sparse_matches_dense(softmax_data):
    from dask_glm_spark.sources import vectors as V_

    df, X, y, k = softmax_data
    sd = V_.to_sparse_columns(df)
    B_dense = solvers.softmax_newton_cg(
        df, k, max_iter=50, tol=1e-10, cg_tol=1e-10, normalize=False
    )
    B_sparse = solvers.softmax_newton_cg_sparse(
        sd, k, max_iter=50, tol=1e-10, cg_tol=1e-10, p=X.shape[1]
    )
    np.testing.assert_allclose(B_sparse, B_dense, rtol=1e-8, atol=1e-9)


@pytest.mark.slow
def test_softmax_estimator_dispatch_newton_cg(softmax_data):
    from dask_glm_spark.operators.estimators import SoftmaxRegression

    df, X, y, k = softmax_data
    m_cg = SoftmaxRegression(
        solver="newton_cg", fit_intercept=True, max_iter=50, tol=1e-10
    ).fit(df)
    m_lb = SoftmaxRegression(
        solver="lbfgs", regularizer=None, fit_intercept=True,
        max_iter=400, tol=1e-12,
    ).fit(df)
    assert m_cg.classes_ == m_lb.classes_
    np.testing.assert_allclose(m_cg.coefs_, m_lb.coefs_, atol=5e-5)
    np.testing.assert_allclose(
        m_cg.intercepts_, m_lb.intercepts_, atol=5e-5
    )
    assert m_cg.score(df) == m_lb.score(df)
    assert m_cg.n_iter_ is not None and m_cg.converged_ is not None


@pytest.mark.slow
def test_softmax_estimator_sparse_newton_cg(softmax_data):
    from dask_glm_spark.operators.estimators import SoftmaxRegression
    from dask_glm_spark.sources import vectors as V_

    df, X, y, k = softmax_data
    sd = V_.to_sparse_columns(df)
    m_s = SoftmaxRegression(
        solver="newton_cg", fit_intercept=True, max_iter=50, tol=1e-10
    ).fit(sd, p=X.shape[1])
    m_d = SoftmaxRegression(
        solver="newton_cg", fit_intercept=True, max_iter=50, tol=1e-10
    ).fit(df, normalize=False)
    np.testing.assert_allclose(m_s.coefs_, m_d.coefs_, atol=1e-6)
    np.testing.assert_allclose(m_s.intercepts_, m_d.intercepts_, atol=1e-6)
