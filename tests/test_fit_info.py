"""Convergence diagnostics (``fit_info`` / ``n_iter_``) and λ_max —
round-10 extension."""

from __future__ import annotations

import numpy as np
import pytest

# Tests that take >= 4 s each are marked slow one by one: skipped by the
# default serial run, always run by scripts/partest.py (see conftest).

from dask_glm_spark import (
    LogisticRegression,
    MulticlassLogisticRegression,
    SoftmaxRegression,
)
from dask_glm_spark.operators import solvers
from dask_glm_spark.operators.model_selection import lamduh_max
from dask_glm_spark.sources.datasets import make_classification


@pytest.fixture(scope="module")
def data(spark):
    df, X, y = make_classification(
        spark, n_samples=400, n_features=3, seed=606, npartitions=4
    )
    df = df.persist()
    yield df
    df.unpersist()


@pytest.mark.parametrize(
    "name,kw",
    [
        pytest.param(
            "gradient_descent", dict(max_iter=50), marks=pytest.mark.slow
        ),
        ("newton", dict(max_iter=50)),
        ("lbfgs", dict(regularizer=None, max_iter=200)),
        ("proximal_grad", dict(regularizer="l2", lamduh=0.1, max_iter=200)),
        (
            "proximal_grad",
            dict(regularizer="l2", lamduh=0.1, max_iter=200, accelerate=True),
        ),
        pytest.param(
            "admm", dict(regularizer="l2", lamduh=0.1, max_iter=100),
            marks=pytest.mark.slow,
        ),
    ],
)
def test_solver_fit_info(data, name, kw):
    info: dict = {}
    getattr(solvers, name)(data, fit_info=info, **kw)
    assert info["converged"] is True
    assert 1 <= info["n_iter"] <= kw["max_iter"]


def test_budget_exhausted_reports_not_converged(data):
    info: dict = {}
    solvers.newton(data, max_iter=1, tol=1e-14, fit_info=info)
    assert info["converged"] is False
    info = {}
    solvers.admm(data, regularizer="l2", max_iter=1, abstol=1e-12,
                 reltol=1e-12, fit_info=info)
    assert info == {"n_iter": 1, "converged": False}


@pytest.mark.slow
def test_estimator_diagnostics(data):
    est = LogisticRegression(solver="lbfgs", regularizer=None,
                             max_iter=200).fit(data)
    assert est.converged_ is True
    assert isinstance(est.n_iter_, int) and est.n_iter_ >= 1
    est = LogisticRegression(solver="admm", max_iter=100).fit(data)
    assert est.converged_ is True and est.n_iter_ >= 1


@pytest.mark.slow
def test_multiclass_diagnostics(spark):
    df, *_ = make_classification(
        spark, n_samples=300, n_features=3, seed=99, npartitions=3
    )
    df = df.persist()
    try:
        ovr = MulticlassLogisticRegression(
            solver="lbfgs", regularizer=None, max_iter=200
        ).fit(df)
        assert len(ovr.n_iter_) == len(ovr.classes_)
        assert ovr.converged_ is True
        sm = SoftmaxRegression(
            solver="lbfgs", regularizer=None, max_iter=200
        ).fit(df)
        assert sm.converged_ is True and sm.n_iter_ >= 1
    finally:
        df.unpersist()


@pytest.mark.slow
def test_lamduh_max_kills_all_coefficients(data):
    lmax = lamduh_max(data)
    assert lmax > 0
    beta = solvers.proximal_grad(
        data, regularizer="l1", lamduh=lmax * 1.001, max_iter=100,
        normalize=False,
    )
    assert np.all(beta == 0.0)
    beta = solvers.proximal_grad(
        data, regularizer="l1", lamduh=lmax * 0.5, max_iter=200,
        normalize=False,
    )
    assert np.any(np.abs(beta) > 1e-10)


def test_newton_budget_diagnostics_exact(data):
    # review fix: converged_ reports the tol test, n_iter_ the true count
    # (tol=0 can never pass — float steps are nonzero — so the loop must
    # exhaust the budget; newton is quadratically convergent, so any
    # realistic tol converges in a handful of steps on this problem)
    info: dict = {}
    solvers.newton(data, max_iter=3, tol=0.0, fit_info=info)
    assert info["converged"] is False
    assert info["n_iter"] == 4  # reference loop runs max_iter+1 steps


def test_path_per_lamduh_fit_info(data):
    from dask_glm_spark.operators.model_selection import regularization_path

    info: dict = {}
    regularization_path(
        data, [0.1, 2.0], solver="lbfgs", regularizer="l2", max_iter=200,
        fit_info=info,
    )
    per = info["per_lamduh"]
    assert len(per) == 2
    assert all("n_iter" in d and "converged" in d for d in per)


def test_estimator_fit_info_passthrough(data):
    """ADVICE r10: a caller-supplied fit_info dict through fit(**extra)
    must receive the diagnostics AND n_iter_/converged_ must still be set
    (setdefault previously kept the caller's dict but read a fresh one)."""
    info: dict = {}
    lr = LogisticRegression(solver="lbfgs", max_iter=200).fit(
        data, fit_info=info
    )
    assert info.get("n_iter", 0) >= 1
    assert lr.n_iter_ == info["n_iter"]
    assert lr.converged_ == info["converged"] is True
