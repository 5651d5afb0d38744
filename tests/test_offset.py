"""Offset/exposure (``offset_col``) support — round-10 extension.

MLlib ``offsetCol`` semantics: a fixed per-row additive term in the
linear predictor (log-exposure in Poisson rate models — THE canonical
GLM use the reference has no answer for). Oracles:

1. constant-offset shift: with a constant offset c and an intercept,
   the fit equals the no-offset fit with the intercept shifted by c;
2. MLlib GeneralizedLinearRegression ``offsetCol`` cross-check;
3. numpy twins on both kernel paths;
4. prediction re-applies the row's own offset.
"""

from __future__ import annotations

import numpy as np
import pytest

# Tests that take >= 4 s each are marked slow one by one: skipped by the
# default serial run, always run by scripts/partest.py (see conftest).
from pyspark.sql import functions as F

from dask_glm_spark import PoissonRegression
from dask_glm_spark.functions import kernels
from dask_glm_spark.functions.families import Poisson
from dask_glm_spark.operators import solvers
from tests import sql_reference


@pytest.fixture(scope="module")
def pdata(spark):
    """Poisson counts with a real exposure column: y ~ Poisson(T·exp(Xβ)),
    offset = log T."""
    rng = np.random.RandomState(31)
    n = 400
    X = rng.standard_normal((n, 2)) * 0.4
    T = rng.uniform(0.5, 4.0, size=n)  # exposure
    beta = np.array([0.5, -0.3])
    y = rng.poisson(T * np.exp(X @ beta + 0.2)).astype(np.float64)
    rows = [
        ([float(a) for a in X[i]], float(y[i]), float(np.log(T[i])))
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "features array<double>, label double, off double"
    ).repartition(4).persist()
    yield df, X, y, np.log(T)
    df.unpersist()


@pytest.mark.parametrize("path", ["sql", "arrow", "blocks"])
def test_kernel_numpy_twin(pdata, path, as_blocks):
    """"arrow" runs the kernels, "blocks" the kernels over a dense fit's
    block cache, "sql" the in-test Spark-SQL reference."""
    k = kernels if path != "sql" else sql_reference
    df, X, y, o = pdata
    if path == "blocks":
        df = as_blocks(df, offset_col="off")
    beta = np.array([0.3, -0.1])
    loss, grad = k.loss_gradient(
        df, Poisson, beta, offset_col="off"
    )
    xb = X @ beta + o
    np.testing.assert_allclose(
        loss, float(np.sum(Poisson.loglike_terms_np(xb, y))), rtol=1e-12
    )
    np.testing.assert_allclose(
        grad, X.T @ Poisson.residual_np(xb, y), rtol=1e-10
    )
    g, h = k.gradient_hessian(
        df, Poisson, beta, offset_col="off"
    )
    hw = Poisson.hess_weight_np(xb)
    np.testing.assert_allclose(g, X.T @ Poisson.residual_np(xb, y), rtol=1e-10)
    np.testing.assert_allclose(h, X.T @ (hw[:, None] * X), rtol=1e-10)
    losses, grads = k.multi_loss_gradient(
        df, Poisson, [beta, np.zeros(2)], offset_col="off"
    )
    np.testing.assert_allclose(losses[0], loss, rtol=1e-10)
    np.testing.assert_allclose(grads[:, 0], grad, rtol=1e-10)


@pytest.mark.slow
def test_constant_offset_shifts_intercept(pdata):
    df, *_ = pdata
    from dask_glm_spark.functions import kernels as K

    dfc = K.add_intercept(df.withColumn("c", F.lit(0.7)), "features")
    b_off = solvers.newton(dfc, family=Poisson, max_iter=60, offset_col="c")
    b_plain = solvers.newton(dfc, family=Poisson, max_iter=60)
    # slope coefficients identical; intercept absorbs the constant
    np.testing.assert_allclose(b_off[:2], b_plain[:2], atol=1e-7)
    np.testing.assert_allclose(b_off[2], b_plain[2] - 0.7, atol=1e-7)


@pytest.mark.slow
def test_mllib_offsetcol_oracle(pdata):
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.regression import GeneralizedLinearRegression

    df, *_ = pdata
    est = PoissonRegression(
        solver="newton", fit_intercept=True, max_iter=80, tol=1e-10,
        offset_col="off",
    ).fit(df)
    mdf = df.select(
        array_to_vector("features").alias("features"), "label", "off"
    )
    theirs = GeneralizedLinearRegression(
        family="poisson", link="log", offsetCol="off", regParam=0.0,
        fitIntercept=True, tol=1e-12, maxIter=200,
    ).fit(mdf)
    np.testing.assert_allclose(
        np.asarray(est.coef_),
        np.array(theirs.coefficients.toArray()),
        atol=1e-4, rtol=0,
    )
    np.testing.assert_allclose(
        est.intercept_, theirs.intercept, atol=1e-4, rtol=0
    )


def test_predict_applies_offset(pdata):
    df, X, y, o = pdata
    est = PoissonRegression(
        solver="newton", max_iter=80, offset_col="off"
    ).fit(df)
    rows = (
        est.predict(df.orderBy("off"))
        .select("features", "off", "prediction")
        .collect()
    )
    # exp(coef·x + intercept + off) — the row's own exposure re-enters
    # (the returned features column is intercept-extended: dot with _coef)
    for r in rows[:100]:
        xb = float(np.dot(est._coef, r["features"])) + r["off"]
        assert abs(np.exp(xb) - r["prediction"]) < 1e-9 * max(1.0, np.exp(xb))


def test_weighted_and_offset_compose(pdata):
    df, X, y, o = pdata
    dfw = df.withColumn("w", (F.col("label") % 2 + 1).cast("double"))
    b = solvers.lbfgs(
        dfw, regularizer=None, family=Poisson, max_iter=200, tol=1e-10,
        weight_col="w", offset_col="off",
    )
    # numpy oracle: minimize sum w*(exp(xb+o) - y*(xb+o)) directly
    Xn = np.asarray(X)
    w = (y % 2 + 1).astype(np.float64)

    def obj_grad(beta):
        xb = Xn @ beta + o
        return (
            float(np.dot(w, np.exp(xb) - y * xb)),
            Xn.T @ (w * (np.exp(xb) - y)),
        )

    from dask_glm_spark.functions.optimize import fmin_l_bfgs_b

    ref, _, _ = fmin_l_bfgs_b(obj_grad, np.zeros(2), pgtol=1e-12,
                              maxiter=500)
    np.testing.assert_allclose(b, ref, atol=1e-5, rtol=0)


@pytest.mark.slow
def test_admm_offset_matches_lbfgs(pdata):
    # offset rides inside the blocks (_AugmentedFamily) — same L2
    # objective solved by two independent paths
    df, *_ = pdata
    ba = solvers.admm(
        df, family=Poisson, regularizer="l2", lamduh=0.5, rho=5.0,
        max_iter=200, abstol=1e-7, reltol=1e-5, offset_col="off",
    )
    bl = solvers.lbfgs(
        df, family=Poisson, regularizer="l2", lamduh=0.5, max_iter=300,
        tol=1e-10, offset_col="off",
    )
    np.testing.assert_allclose(ba, bl, atol=1e-3, rtol=0)


@pytest.mark.slow
def test_sparse_offset_matches_dense(pdata):
    df, *_ = pdata
    from dask_glm_spark.sources import vectors as V

    sp = V.to_sparse_columns(df).persist()
    try:
        dense = solvers.lbfgs(
            df, family=Poisson, regularizer=None, max_iter=300, tol=1e-10,
            offset_col="off", normalize=False,
        )
        sparse = solvers.lbfgs_sparse(
            sp, family=Poisson, regularizer=None, max_iter=300, tol=1e-10,
            offset_col="off",
        )
        np.testing.assert_allclose(sparse, dense, atol=1e-6, rtol=0)
        sp_admm = solvers.admm_sparse(
            sp, family=Poisson, regularizer="l2", lamduh=0.5, rho=5.0,
            max_iter=200, abstol=1e-7, reltol=1e-5, offset_col="off",
        )
        d_admm = solvers.admm(
            df, family=Poisson, regularizer="l2", lamduh=0.5, rho=5.0,
            max_iter=200, abstol=1e-7, reltol=1e-5, offset_col="off",
            normalize=False,
        )
        np.testing.assert_allclose(sp_admm, d_admm, atol=1e-3, rtol=0)
    finally:
        sp.unpersist()


def test_predict_without_offset_column_raises(pdata):
    df, *_ = pdata
    est = PoissonRegression(
        solver="newton", max_iter=60, offset_col="off"
    ).fit(df)
    with pytest.raises(ValueError, match="offset_col"):
        est.predict(df.drop("off")).collect()


def test_unsupported_paths_raise(pdata):
    df, *_ = pdata
    from dask_glm_spark import MulticlassLogisticRegression

    with pytest.raises(NotImplementedError, match="offset_col"):
        MulticlassLogisticRegression(offset_col="off").fit(df)
    with pytest.raises(NotImplementedError, match="offset_col"):
        solvers.softmax_lbfgs_sparse(df, 2, offset_col="off")


def test_params_roundtrip():
    est = PoissonRegression(offset_col="off")
    params = est.get_params()
    assert params["offset_col"] == "off"
    assert PoissonRegression(**params).offset_col == "off"


def test_sparse_predict_applies_offset(pdata):
    # review fix: sparse scoring must honor (and require) the offset too
    df, X, y, o = pdata
    from dask_glm_spark.sources import vectors as V

    sp = V.to_sparse_columns(df).persist()
    try:
        est = PoissonRegression(
            solver="lbfgs", regularizer=None, fit_intercept=False,
            offset_col="off", max_iter=200,
        ).fit(sp)
        rows = est.predict(sp).select("findices", "fvalues", "off",
                                      "prediction").collect()
        for r in rows[:50]:
            xb = sum(
                est._coef[i] * v for i, v in zip(r["findices"], r["fvalues"])
            ) + r["off"]
            assert abs(np.exp(xb) - r["prediction"]) < 1e-9 * max(
                1.0, np.exp(xb)
            )
        with pytest.raises(ValueError, match="offset_col"):
            est.predict(sp.drop("off")).collect()
    finally:
        sp.unpersist()
