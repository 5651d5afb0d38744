"""Gamma family (log link) — round-10 extension. MLlib GLR
``family="gamma", link="log"`` oracle; the β-MLE is dispersion-free."""

from __future__ import annotations

import numpy as np
import pytest

# Tests that take >= 4 s each are marked slow one by one: skipped by the
# default serial run, always run by scripts/partest.py (see conftest).

from dask_glm_spark import GammaRegression
from dask_glm_spark.functions import kernels
from dask_glm_spark.functions.families import Gamma
from dask_glm_spark.operators import solvers


@pytest.fixture(scope="module")
def gdata(spark):
    rng = np.random.RandomState(23)
    n = 500
    X = rng.standard_normal((n, 2)) * 0.4
    mu = np.exp(X @ np.array([0.6, -0.4]) + 0.5)
    shape = 2.0
    y = rng.gamma(shape, mu / shape)  # mean mu, strictly positive
    rows = [([float(a) for a in X[i]], float(y[i])) for i in range(n)]
    df = spark.createDataFrame(
        rows, "features array<double>, label double"
    ).repartition(4).persist()
    yield df, X, y
    df.unpersist()


def test_kernel_numpy_twin(gdata):
    df, X, y = gdata
    beta = np.array([0.2, -0.1])
    loss, grad = kernels.loss_gradient(df, Gamma, beta)
    xb = X @ beta
    np.testing.assert_allclose(
        loss, float(np.sum(Gamma.loglike_terms_np(xb, y))), rtol=1e-12
    )
    np.testing.assert_allclose(grad, X.T @ Gamma.residual_np(xb, y),
                               rtol=1e-10)


@pytest.mark.slow
def test_mllib_gamma_oracle(gdata):
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.regression import GeneralizedLinearRegression

    df, *_ = gdata
    est = GammaRegression(
        solver="newton", fit_intercept=True, max_iter=100, tol=1e-10
    ).fit(df)
    mdf = df.select(array_to_vector("features").alias("features"), "label")
    theirs = GeneralizedLinearRegression(
        family="gamma", link="log", regParam=0.0, fitIntercept=True,
        tol=1e-12, maxIter=200,
    ).fit(mdf)
    np.testing.assert_allclose(
        np.asarray(est.coef_),
        np.array(theirs.coefficients.toArray()),
        atol=1e-4, rtol=0,
    )
    np.testing.assert_allclose(
        est.intercept_, theirs.intercept, atol=1e-4, rtol=0
    )


@pytest.mark.slow
def test_solvers_agree_and_weighted(gdata):
    from pyspark.sql import functions as F

    df, X, y = gdata
    bn = solvers.newton(df, family=Gamma, max_iter=100)
    bl = solvers.lbfgs(df, family=Gamma, regularizer=None, max_iter=300,
                       tol=1e-10)
    np.testing.assert_allclose(bn, bl, atol=1e-5, rtol=0)
    # weighted replication oracle
    dfw = df.withColumn("w", (F.abs(F.hash("label")) % 2 + 1).cast("double"))
    w = np.array([r["w"] for r in dfw.select("w").collect()])
    del w  # weights collected per-row are layout-ordered; use direct oracle
    bw = solvers.lbfgs(
        dfw, family=Gamma, regularizer=None, max_iter=300, tol=1e-10,
        weight_col="w", normalize=False,
    )
    rows = dfw.select("features", "label", "w").collect()
    Xc = np.array([r["features"] for r in rows])
    yc = np.array([r["label"] for r in rows])
    wc = np.array([r["w"] for r in rows])

    def obj_grad(beta):
        xb = Xc @ beta
        return (
            float(np.dot(wc, Gamma.loglike_terms_np(xb, yc))),
            Xc.T @ (wc * Gamma.residual_np(xb, yc)),
        )

    from dask_glm_spark.functions.optimize import fmin_l_bfgs_b

    ref, _, _ = fmin_l_bfgs_b(obj_grad, np.zeros(2), pgtol=1e-12,
                              maxiter=500)
    np.testing.assert_allclose(bw, ref, atol=1e-5, rtol=0)


def test_estimator_surface(gdata):
    df, *_ = gdata
    est = GammaRegression(solver="newton", max_iter=100).fit(df)
    assert est.converged_ is True
    pred = est.predict(df).select("prediction").collect()
    assert all(r["prediction"] > 0 for r in pred)
    dev = est.get_deviance(df)
    assert np.isfinite(dev) and dev >= 0
    assert est.score(df) == dev


def test_deviance_poisons_on_nonpositive_labels(gdata, spark):
    # review fix: y<=0 must poison the deviance (NULL-skip hid it)
    from pyspark.sql import functions as F

    df, *_ = gdata
    est = GammaRegression(solver="newton", max_iter=50).fit(df)
    bad = df.limit(10).withColumn("label", F.lit(0.0)).union(df.limit(50))
    assert np.isnan(est.get_deviance(bad))


def test_summary_deviance_poisons_on_nonpositive_labels(gdata):
    """The summary's deviance and the deviance residuals run the same
    Gamma unit deviance as get_deviance: a label y <= 0 makes them NaN
    instead of a NULL that the aggregate would skip."""
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import inference

    df, *_ = gdata
    bad = kernels.add_intercept(
        df.limit(10).withColumn("label", F.lit(0.0)).union(df.limit(50))
    )
    beta = np.array([0.6, -0.4, 0.5])
    assert np.isnan(inference.glm_summary(bad, Gamma, beta).deviance)
    res = inference.glm_residuals(bad, Gamma, beta, "deviance")
    zero = res.where(F.col("label") == 0.0).collect()
    assert zero and all(np.isnan(r["residual"]) for r in zero)


def test_weighted_deviance_equals_replicated(gdata, spark):
    """ADVICE r10: get_deviance/score accept weight_col — Σw·d/Σw equals
    the unweighted mean deviance of the integer-weight replicated frame."""
    from pyspark.sql import functions as F

    df, *_ = gdata
    est = GammaRegression(solver="newton", max_iter=100).fit(df)
    dfw = df.withColumn(
        "w", (F.monotonically_increasing_id() % 3 + 1).cast("double")
    ).persist()
    repl = dfw.withColumn(
        "_k", F.explode(F.sequence(F.lit(1), F.col("w").cast("int")))
    ).drop("_k", "w")
    try:
        dw = est.get_deviance(dfw, weight_col="w")
        dr = est.get_deviance(repl)
        assert abs(dw - dr) < 1e-9
        assert est.score(dfw, weight_col="w") == dw
    finally:
        dfw.unpersist()


@pytest.mark.slow
def test_deviance_matches_mllib_summary(gdata):
    """VERDICT r10 #6 (gamma face): mean unit deviance × n vs MLlib GLR
    ``summary.deviance`` on a shared gamma/log fit."""
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.regression import GeneralizedLinearRegression

    df, *_ = gdata
    n = df.count()
    est = GammaRegression(
        solver="newton", fit_intercept=True, max_iter=100, tol=1e-10
    ).fit(df)
    mdf = df.select(array_to_vector("features").alias("features"), "label")
    theirs = GeneralizedLinearRegression(
        family="gamma", link="log", regParam=0.0, fitIntercept=True,
        tol=1e-12, maxIter=200,
    ).fit(mdf)
    np.testing.assert_allclose(
        est.get_deviance(df) * n, theirs.summary.deviance, rtol=1e-6
    )
