"""Solver property tests — the reference's core oracle strategy
(``dask_glm/tests/test_algos_families.py``, SURVEY.md §5.2-5.3):
fitted loss beats a random vector; calibration; determinism.

Iteration budgets are reduced vs library defaults to keep the suite fast —
the properties are monotone in iterations, so passing at a lower budget is
strictly harder."""

import numpy as np
import pytest

# Tests that take >= 4 s each are marked slow one by one: skipped by the
# default serial run, always run by scripts/partest.py (see conftest).

from dask_glm_spark.functions import kernels
from dask_glm_spark.functions.families import Logistic, Normal, Poisson
from dask_glm_spark.operators import solvers
from dask_glm_spark.sources.datasets import (
    make_classification,
    make_intercept_data,
    make_poisson,
    make_regression,
)


@pytest.fixture(scope="module")
def logistic_data(spark):
    df = make_intercept_data(spark, 200, 2, seed=20009, npartitions=5)
    return df.persist()


@pytest.mark.parametrize(
    "solver_name", [pytest.param("lbfgs", marks=pytest.mark.slow), "newton"]
)
def test_calibration(logistic_data, solver_name, spark):
    """sum(sigmoid(X beta_hat)) ~= sum(y) within 0.1
    (reference tests/test_algos_families.py:59-69)."""
    from pyspark.sql import functions as F

    df = logistic_data
    beta = solvers._solvers[solver_name](df, family=Logistic)
    xb = kernels.matvec_expr(beta)
    row = df.agg(
        F.sum(F.lit(1.0) / (F.lit(1.0) + F.exp(-xb))).alias("p"),
        F.sum("label").alias("y"),
    ).collect()[0]
    assert abs(row["p"] - row["y"]) < 0.1


FAMILY_MAKER = [
    (Logistic, make_classification),
    (Normal, make_regression),
    (Poisson, make_poisson),
]


SLOW_FITS = {("admm", "logistic"), ("admm", "normal"), ("proximal_grad", "normal")}


@pytest.mark.parametrize(
    "solver_name,family,maker",
    [
        pytest.param(
            s, fam, mk, id=f"{s}-{fam.name}-",
            marks=[pytest.mark.slow] if (s, fam.name) in SLOW_FITS else [],
        )
        for s in ["admm", "lbfgs", "proximal_grad", "gradient_descent", "newton"]
        for fam, mk in FAMILY_MAKER
    ],
)
def test_fit_beats_random(spark, family, maker, solver_name):
    """f(beta_hat) < f(beta_random) (reference :84-102)."""
    df, _, _ = maker(spark, n_samples=300, n_features=3, seed=20009, npartitions=3)
    df = df.persist()
    kw = {"max_iter": 15} if solver_name in ("admm", "gradient_descent") else {}
    beta = solvers._solvers[solver_name](df, family=family, **kw)
    rng = np.random.RandomState(0)
    brand = rng.normal(0, 0.3, 3)
    fit_loss = kernels.loss(df, family, beta)
    rand_loss = kernels.loss(df, family, brand)
    assert np.isfinite(fit_loss)
    assert fit_loss < rand_loss
    df.unpersist()


@pytest.mark.parametrize("reg", ["l1", "l2", "elastic_net"])
@pytest.mark.parametrize("lam", [0.01, 1.2])
def test_regularized_fit_beats_random(spark, reg, lam):
    """Regularized objective at beta_hat beats a random vector
    (reference :105-138)."""
    from dask_glm_spark.functions.regularizers import Regularizer

    df, _, _ = make_classification(spark, n_samples=300, n_features=2, seed=90210,
                                  npartitions=3)
    df = df.persist()
    beta = solvers.admm(df, regularizer=reg, lamduh=lam, max_iter=15, family=Logistic)
    r = Regularizer.get(reg)
    rng = np.random.RandomState(1)
    brand = rng.normal(0, 0.3, 2)
    obj_fit = kernels.loss(df, Logistic, beta) + lam * r.f(beta)
    obj_rand = kernels.loss(df, Logistic, brand) + lam * r.f(brand)
    assert obj_fit < obj_rand
    df.unpersist()


@pytest.mark.slow
def test_determinism_same_inputs_same_beta(spark):
    """Two runs on the same input produce bit-identical coefficients
    (reference :141-160) — via the sorted-merge arrow path."""
    df, _, _ = make_classification(spark, n_samples=400, n_features=3, seed=70605,
                                  npartitions=4)
    df = df.persist()
    b1 = solvers.lbfgs(df, family=Logistic)
    b2 = solvers.lbfgs(df, family=Logistic)
    np.testing.assert_array_equal(b1, b2)
    df.unpersist()


def test_normalize_improves_conditioning_without_changing_solution(spark):
    """normalize=True/False converge to the same unpenalized optimum."""
    df, _, _ = make_classification(spark, n_samples=400, n_features=3, seed=20009,
                                  npartitions=4)
    df = df.persist()
    b_norm = solvers.newton(df, family=Logistic, normalize=True)
    b_raw = solvers.newton(df, family=Logistic, normalize=False)
    np.testing.assert_allclose(b_norm, b_raw, atol=1e-6)
    df.unpersist()
