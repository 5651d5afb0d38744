"""L1/FISTA for the multinomial (softmax) objective — round 12
(VERDICT r11 #4). The solver runs ``solvers._fista`` over the flattened
(p, k) matrix with the elementwise L1 soft-threshold; tests pin it
against a driver-side numpy FISTA twin (objective gap), dense vs sparse
parity, and the feature-selection contract (noise buckets zeroed)."""

from __future__ import annotations

import numpy as np
import pytest

# Tests that take >= 4 s each are marked slow one by one: skipped by the
# default serial run, always run by scripts/partest.py (see conftest).

from dask_glm_spark.operators import solvers
from dask_glm_spark.operators.estimators import SoftmaxRegression
from dask_glm_spark.sources import vectors as V

N, P, K = 500, 6, 3
LAM = 2.0


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.RandomState(42)
    X = rng.standard_normal((N, P))
    # only the first 2 features are informative; 4 are pure noise
    Btrue = np.zeros((P, K))
    Btrue[0] = [1.5, -1.0, 0.0]
    Btrue[1] = [-0.8, 1.2, 0.0]
    Z = X @ Btrue
    Pm = np.exp(Z - Z.max(axis=1, keepdims=True))
    Pm /= Pm.sum(axis=1, keepdims=True)
    y = np.array([rng.choice(K, p=Pm[i]) for i in range(N)], dtype=np.float64)
    rows = [([float(v) for v in X[i]], float(y[i])) for i in range(N)]
    df = spark.createDataFrame(
        rows, "features array<double>, label double"
    ).repartition(4).persist()
    yield df, X, y
    df.unpersist()


def _np_softmax_loss_grad(bflat, X, y):
    B = bflat.reshape(P, K)
    Z = X @ B
    m = Z.max(axis=1, keepdims=True)
    ez = np.exp(Z - m)
    se = ez.sum(axis=1)
    lse = m[:, 0] + np.log(se)
    yi = y.astype(np.int64)
    rows = np.arange(len(yi))
    loss = float((lse - Z[rows, yi]).sum())
    Pr = ez / se[:, None]
    Pr[rows, yi] -= 1.0
    return loss, (X.T @ Pr).ravel()


def _np_fista_l1(X, y, lam, max_iter=500):
    """Plain numpy FISTA with backtracking — the objective-level oracle."""
    x = np.zeros(P * K)
    yk = x.copy()
    t = 1.0
    s = 1.0
    for _ in range(max_iter):
        fy, gy = _np_softmax_loss_grad(yk, X, y)
        while True:
            cand = np.sign(yk - s * gy) * np.maximum(
                np.abs(yk - s * gy) - s * lam, 0.0
            )
            fc, _ = _np_softmax_loss_grad(cand, X, y)
            d = cand - yk
            if fc <= fy + gy @ d + (d @ d) / (2.0 * s) or s < 1e-12:
                break
            s *= 0.5
        tn = (1.0 + np.sqrt(1.0 + 4.0 * t * t)) / 2.0
        yk = cand + ((t - 1.0) / tn) * (cand - x)
        x, t = cand, tn
        s *= 1.25
    return x.reshape(P, K)


def _objective(B, X, y, lam):
    loss, _ = _np_softmax_loss_grad(np.ravel(B), X, y)
    return loss + lam * np.abs(B).sum()


@pytest.mark.slow
def test_softmax_fista_objective_matches_numpy_twin(data):
    df, X, y = data
    info: dict = {}
    B = solvers.softmax_proximal(
        df, K, regularizer="l1", lamduh=LAM, max_iter=300, tol=1e-12,
        normalize=False, fit_info=info,
    )
    B_np = _np_fista_l1(X, y, LAM)
    f_spark = _objective(B, X, y, LAM)
    f_np = _objective(B_np, X, y, LAM)
    # same objective to 1e-5 relative (the VERDICT done-criterion)
    assert abs(f_spark - f_np) / max(abs(f_np), 1.0) < 1e-5
    assert info["n_iter"] >= 1


@pytest.mark.slow
def test_softmax_prox_sparse_matches_dense(data):
    df, X, y = data
    sd = V.to_sparse_columns(df)
    Bd = solvers.softmax_proximal(
        df, K, regularizer="l1", lamduh=LAM, max_iter=200, tol=1e-12,
        normalize=False,
    )
    Bs = solvers.softmax_proximal_sparse(
        sd, K, regularizer="l1", lamduh=LAM, max_iter=200, tol=1e-12, p=P,
    )
    np.testing.assert_allclose(Bs, Bd, atol=1e-6)


@pytest.mark.slow
def test_softmax_l1_zeroes_noise_features(data):
    """Feature selection: with a meaningful λ the 4 noise rows of B are
    EXACTLY zero (the soft-threshold's raison d'être) while the 2
    informative rows survive."""
    df, X, y = data
    B = solvers.softmax_proximal(
        df, K, regularizer="l1", lamduh=25.0, max_iter=300, tol=1e-12,
        normalize=False,
    )
    informative = np.abs(B[:2]).max(axis=1)
    noise = np.abs(B[2:]).max(axis=1)
    assert (informative > 1e-3).all()
    assert (noise == 0.0).sum() >= 3  # at least 3 of 4 noise rows exact-zero


@pytest.mark.slow
def test_estimator_proximal_grad_dispatch(data):
    df, X, y = data
    est = SoftmaxRegression(
        solver="proximal_grad", regularizer="l1", lamduh=LAM,
        fit_intercept=False, max_iter=200, tol=1e-12,
    ).fit(df, normalize=False)
    assert est.coefs_.shape == (K, P)
    assert 0.4 <= est.score(df) <= 1.0
    # warm start reuses the previous B
    est2 = SoftmaxRegression(
        solver="proximal_grad", regularizer="l1", lamduh=LAM,
        fit_intercept=False, max_iter=200, tol=1e-12, warm_start=True,
    )
    est2.fit(df, normalize=False)
    b1 = est2.coefs_.copy()
    est2.fit(df, normalize=False)
    # a warm refit re-enters FISTA at the previous optimum and may drift
    # within the objective-tolerance flat region — same point to ~1e-4
    np.testing.assert_allclose(est2.coefs_, b1, atol=1e-4)


@pytest.mark.slow
def test_estimator_proximal_grad_sparse_dispatch(data):
    df, X, y = data
    sd = V.to_sparse_columns(df)
    ed = SoftmaxRegression(
        solver="proximal_grad", regularizer="l1", lamduh=LAM,
        fit_intercept=False, max_iter=200, tol=1e-12,
    ).fit(df, normalize=False)
    es = SoftmaxRegression(
        solver="proximal_grad", regularizer="l1", lamduh=LAM,
        fit_intercept=False, max_iter=200, tol=1e-12,
    ).fit(sd, p=P)
    np.testing.assert_allclose(es.coefs_, ed.coefs_, atol=1e-6)


def test_softmax_multi_loss_kernels_match(data, as_blocks):
    from dask_glm_spark.functions import kernels, kernels_sparse

    df, X, y = data
    sd = V.to_sparse_columns(df)
    rng = np.random.RandomState(7)
    cands = [rng.standard_normal((P, K)) * 0.2 for _ in range(3)]
    dense = kernels.softmax_multi_loss(df, cands)
    blocks = kernels.softmax_multi_loss(as_blocks(df), cands)
    sparse = kernels_sparse.softmax_multi_loss_sparse(sd, cands, P)
    expected = np.array(
        [_np_softmax_loss_grad(np.ravel(c), X, y)[0] for c in cands]
    )
    np.testing.assert_allclose(dense, expected, rtol=1e-10)
    np.testing.assert_allclose(blocks, expected, rtol=1e-10)
    np.testing.assert_allclose(sparse, expected, rtol=1e-10)


def test_softmax_multi_loss_gradient_kernels_match(data, as_blocks):
    # round 13: the fused multi-candidate loss+gradient (the batched-λ
    # FISTA evaluation kernel) against the numpy oracle, and the c=1
    # column against the single-candidate kernel (same per-candidate
    # arithmetic → exact equality); over the frame and over a dense
    # fit's block cache
    from dask_glm_spark.functions import kernels

    df, X, y = data
    rng = np.random.RandomState(11)
    cands = [rng.standard_normal((P, K)) * 0.2 for _ in range(3)]
    for src in (df, as_blocks(df)):
        dl, dg = kernels.softmax_multi_loss_gradient(src, cands)
        for i, c in enumerate(cands):
            el, eg = _np_softmax_loss_grad(np.ravel(c), X, y)
            np.testing.assert_allclose(dl[i], el, rtol=1e-10)
            np.testing.assert_allclose(dg[:, i], eg, rtol=1e-8)
        l1, g1 = kernels.softmax_loss_gradient(src, cands[0])
        assert dl[0] == l1
        assert np.array_equal(dg[:, 0], np.ravel(g1))


@pytest.mark.slow
def test_softmax_path_batched_matches_sequential(data):
    from dask_glm_spark.operators.model_selection import (
        softmax_regularization_path,
    )

    df, X, y = data
    lams = [5.0, 0.5]
    kw = dict(max_iter=300, tol=1e-12, normalize=False)
    seq = softmax_regularization_path(
        df, lams, K, regularizer="l1", warm=False, **kw
    )
    bat = softmax_regularization_path(
        df, lams, K, regularizer="l1", batched=True, **kw
    )
    assert bat.shape == seq.shape == (2, P, K)
    np.testing.assert_allclose(bat, seq, atol=5e-5, rtol=0)


@pytest.mark.slow
def test_softmax_path_sparse_matches_dense(data):
    # sequential mode runs wide-sparse input on softmax_proximal_sparse per
    # λ (never standardized): the same iterates as the dense raw-space path
    from dask_glm_spark.operators.model_selection import (
        softmax_regularization_path,
    )

    df, X, y = data
    lams = [5.0, 0.5]
    kw = dict(regularizer="l1", max_iter=15, tol=1e-10)
    dense = softmax_regularization_path(df, lams, K, normalize=False, **kw)
    sdf = V.to_sparse_columns(df).persist()
    try:
        sparse = softmax_regularization_path(sdf, lams, K, **kw)
    finally:
        sdf.unpersist()
    np.testing.assert_allclose(sparse, dense, atol=1e-8, rtol=0)


def test_softmax_path_batched_rejects_sparse(data):
    # no multi-point sparse softmax gradient kernel: batched mode refuses
    # sparse input up front, before any job
    from dask_glm_spark.operators.model_selection import (
        softmax_regularization_path,
    )

    sdf = V.to_sparse_columns(data[0])
    with pytest.raises(ValueError, match="dense"):
        softmax_regularization_path(sdf, [1.0], K, batched=True)


@pytest.mark.slow
def test_softmax_lamduh_max_kills_all_coefficients(data):
    from dask_glm_spark.operators.model_selection import softmax_lamduh_max

    df, X, y = data
    lmax = softmax_lamduh_max(df, K)
    # numpy twin: gradient at B=0
    _, g0 = _np_softmax_loss_grad(np.zeros(P * K), X, y)
    np.testing.assert_allclose(lmax, np.max(np.abs(g0)), rtol=1e-10)
    B = solvers.softmax_proximal(
        df, K, regularizer="l1", lamduh=lmax * 1.001, max_iter=100,
        normalize=False,
    )
    assert np.all(B == 0.0)
    B = solvers.softmax_proximal(
        df, K, regularizer="l1", lamduh=lmax * 0.25, max_iter=200,
        normalize=False,
    )
    assert np.any(np.abs(B) > 1e-10)


def test_softmax_path_sparse_ignores_normalize(data):
    # normalize=False is the natural raw-space setting for sparse input;
    # like the binary path, the sparse softmax solver accepts and ignores it
    from dask_glm_spark.operators.model_selection import (
        softmax_regularization_path,
    )

    sdf = V.to_sparse_columns(data[0])
    B = softmax_regularization_path(
        sdf, [5.0], K, normalize=False, max_iter=1,
    )
    assert B.shape == (1, P, K)
    assert np.all(np.isfinite(B))
