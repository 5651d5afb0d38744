"""Sample-weight (``weight_col``) support — beyond-reference, round 10.

The reference has no weighted fits; MLlib's ``weightCol`` is the public
contract being matched. Semantics: loss = Σ w_i·ll_i, gradient = Xᵀ(w⊙r),
Hessian = Xᵀdiag(w⊙hw)X. Oracles, strongest first:

1. *Replication*: integer weights are EXACTLY equivalent to repeating each
   row that many times — fits must agree to optimizer tolerance.
2. *MLlib weightCol*: the weighted MLE must match MLlib's weighted
   LogisticRegression (JVM breeze vs our Arrow/numpy kernels — zero
   shared code).
3. *numpy twin*: both physical kernel paths (sql/arrow) against direct
   driver-side weighted math.
4. *Ones parity*: weight_col of all-1.0 equals the unweighted fit.

Every solver — dense, wide-sparse, ADMM (weights inside the blocks),
and the joint softmax — supports weights; weighted evaluation metrics
share the replication oracle.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_glm_spark import LogisticRegression, SoftmaxRegression
from dask_glm_spark.functions import kernels
from dask_glm_spark.functions.families import Logistic, Poisson
from dask_glm_spark.operators import solvers
from tests import sql_reference

N, P = 300, 3


@pytest.fixture(scope="module")
def wdata(spark):
    """(df with integer weight column, replicated df, X, y, w) — weights
    in {1,2,3} keyed off a deterministic hash so both frames derive from
    the same rows."""
    rng = np.random.RandomState(42)
    X = rng.standard_normal((N, P))
    beta = np.array([1.0, -0.5, 0.25])
    y = (1 / (1 + np.exp(-X @ beta)) > rng.uniform(size=N)).astype(np.float64)
    w = (np.arange(N) % 3 + 1).astype(np.float64)
    rows = [
        ([float(v) for v in X[i]], float(y[i]), float(w[i])) for i in range(N)
    ]
    df = spark.createDataFrame(
        rows, "features array<double>, label double, w double"
    ).repartition(4)
    repl = df.withColumn(
        "_k", F.explode(F.sequence(F.lit(1), F.col("w").cast("int")))
    ).drop("_k", "w")
    df = df.persist()
    repl = repl.persist()
    yield df, repl, X, y, w
    df.unpersist()
    repl.unpersist()


def test_weighted_equals_replicated_lbfgs(wdata):
    df, repl, *_ = wdata
    bw = solvers.lbfgs(df, regularizer=None, max_iter=300, tol=1e-10,
                       weight_col="w")
    br = solvers.lbfgs(repl, regularizer=None, max_iter=300, tol=1e-10)
    np.testing.assert_allclose(bw, br, atol=1e-5, rtol=0)


def test_weighted_equals_replicated_newton(wdata):
    df, repl, *_ = wdata
    bw = solvers.newton(df, max_iter=50, weight_col="w")
    br = solvers.newton(repl, max_iter=50)
    np.testing.assert_allclose(bw, br, atol=1e-8, rtol=0)


def test_weighted_equals_replicated_gd_prox(wdata):
    df, repl, *_ = wdata
    bw = solvers.proximal_grad(
        df, regularizer="l2", lamduh=0.5, max_iter=300, tol=1e-12,
        accelerate=True, weight_col="w",
    )
    br = solvers.proximal_grad(
        repl, regularizer="l2", lamduh=0.5, max_iter=300, tol=1e-12,
        accelerate=True,
    )
    np.testing.assert_allclose(bw, br, atol=5e-4, rtol=0)
    bw = solvers.gradient_descent(df, max_iter=150, weight_col="w")
    br = solvers.gradient_descent(repl, max_iter=150)
    # GD's relative-decrease stop fires at slightly different iterates on
    # the two (identical-objective) problems — coarse agreement only
    np.testing.assert_allclose(bw, br, atol=5e-2, rtol=0)


@pytest.mark.parametrize("path", ["sql", "arrow", "blocks"])
def test_kernel_numpy_twin(wdata, path, as_blocks):
    """"arrow" runs the kernels, "blocks" the kernels over a dense fit's
    block cache, "sql" the in-test Spark-SQL reference."""
    k = kernels if path != "sql" else sql_reference
    df, _, X, y, w = wdata
    if path == "blocks":
        df = as_blocks(df, weight_col="w")
    beta = np.array([0.3, -0.2, 0.1])
    loss, grad = k.loss_gradient(
        df, Logistic, beta, weight_col="w"
    )
    xb = X @ beta
    exp_loss = float(np.dot(w, Logistic.loglike_terms_np(xb, y)))
    exp_grad = X.T @ (w * Logistic.residual_np(xb, y))
    np.testing.assert_allclose(loss, exp_loss, rtol=1e-12)
    np.testing.assert_allclose(grad, exp_grad, rtol=1e-10)

    g, h = k.gradient_hessian(
        df, Logistic, beta, weight_col="w"
    )
    hw = w * Logistic.hess_weight_np(xb)
    np.testing.assert_allclose(g, exp_grad, rtol=1e-10)
    np.testing.assert_allclose(h, X.T @ (hw[:, None] * X), rtol=1e-10)

    cands = [beta, np.zeros(P)]
    losses, grads = k.multi_loss_gradient(
        df, Logistic, cands, weight_col="w"
    )
    np.testing.assert_allclose(losses[0], exp_loss, rtol=1e-12)
    np.testing.assert_allclose(grads[:, 0], exp_grad, rtol=1e-10)
    ml = k.multi_loss(df, Logistic, cands, weight_col="w")
    np.testing.assert_allclose(ml[0], exp_loss, rtol=1e-12)


def test_unit_weights_match_unweighted(wdata):
    df, *_ = wdata
    df1 = df.withColumn("ones", F.lit(1.0))
    beta = np.array([0.3, -0.2, 0.1])
    a = kernels.loss_gradient(df1, Logistic, beta)
    b = kernels.loss_gradient(df1, Logistic, beta, weight_col="ones")
    np.testing.assert_allclose(a[0], b[0], rtol=1e-12)
    np.testing.assert_allclose(a[1], b[1], rtol=1e-12)


def test_mllib_weightcol_oracle(wdata):
    from pyspark.ml.classification import LogisticRegression as MLLR
    from pyspark.ml.functions import array_to_vector

    df, *_ = wdata
    ours = LogisticRegression(
        solver="lbfgs", regularizer=None, fit_intercept=True, tol=1e-10,
        weight_col="w", max_iter=300,
    ).fit(df)
    mdf = df.select(
        array_to_vector("features").alias("features"), "label", "w"
    )
    theirs = MLLR(
        regParam=0.0, fitIntercept=True, standardization=False,
        weightCol="w", tol=1e-12, maxIter=300,
    ).fit(mdf)
    np.testing.assert_allclose(
        np.asarray(ours.coef_),
        np.array(theirs.coefficients.toArray()),
        atol=1e-4, rtol=0,
    )
    np.testing.assert_allclose(
        ours.intercept_, theirs.intercept, atol=1e-4, rtol=0
    )


def test_weighted_poisson_replication(spark):
    rng = np.random.RandomState(7)
    X = rng.standard_normal((200, 2)) * 0.5
    y = rng.poisson(np.exp(X @ np.array([0.4, -0.3]))).astype(np.float64)
    w = (np.arange(200) % 2 + 1).astype(np.float64)
    rows = [([float(a) for a in X[i]], float(y[i]), float(w[i]))
            for i in range(200)]
    df = spark.createDataFrame(
        rows, "features array<double>, label double, w double"
    ).repartition(3).persist()
    repl = df.withColumn(
        "_k", F.explode(F.sequence(F.lit(1), F.col("w").cast("int")))
    ).drop("_k", "w").persist()
    try:
        bw = solvers.newton(df, family=Poisson, max_iter=50, weight_col="w")
        br = solvers.newton(repl, family=Poisson, max_iter=50)
        np.testing.assert_allclose(bw, br, atol=1e-8, rtol=0)
    finally:
        df.unpersist()
        repl.unpersist()


def test_weighted_admm_matches_weighted_lbfgs(wdata):
    # both minimize sum(w*ll) + lamduh*||b||^2/2 — independent solvers,
    # and admm's weights ride inside the blocks (_WeightedFamily)
    df, repl, *_ = wdata
    ba = solvers.admm(
        df, regularizer="l2", lamduh=0.5, rho=5.0, max_iter=200,
        abstol=1e-7, reltol=1e-5, weight_col="w",
    )
    bl = solvers.lbfgs(
        df, regularizer="l2", lamduh=0.5, max_iter=300, tol=1e-10,
        weight_col="w",
    )
    np.testing.assert_allclose(ba, bl, atol=1e-3, rtol=0)
    # and the replication oracle holds for admm too
    br = solvers.admm(
        repl, regularizer="l2", lamduh=0.5, rho=5.0, max_iter=200,
        abstol=1e-7, reltol=1e-5,
    )
    np.testing.assert_allclose(ba, br, atol=1e-3, rtol=0)


def test_estimator_weighted_admm(wdata):
    df, *_ = wdata
    est = LogisticRegression(
        solver="admm", regularizer="l2", lamduh=0.5, weight_col="w"
    ).fit(df)
    assert est.coef_.shape == (P,)
    assert 0.5 <= est.score(df) <= 1.0


def test_weighted_sparse_matches_weighted_dense(wdata):
    # sparse kernels (O(nnz) scatter) vs dense kernels on identical data
    df, *_ = wdata
    from dask_glm_spark.sources import vectors as V

    sp = V.to_sparse_columns(df).persist()
    try:
        dense = solvers.lbfgs(
            df, regularizer=None, max_iter=300, tol=1e-10, weight_col="w",
            normalize=False,
        )
        sparse = solvers.lbfgs_sparse(
            sp, regularizer=None, max_iter=300, tol=1e-10, weight_col="w"
        )
        np.testing.assert_allclose(sparse, dense, atol=1e-6, rtol=0)
        sparse_admm = solvers.admm_sparse(
            sp, regularizer="l2", lamduh=0.5, rho=5.0, max_iter=200,
            abstol=1e-7, reltol=1e-5, weight_col="w",
        )
        dense_admm = solvers.admm(
            df, regularizer="l2", lamduh=0.5, rho=5.0, max_iter=200,
            abstol=1e-7, reltol=1e-5, weight_col="w", normalize=False,
        )
        np.testing.assert_allclose(sparse_admm, dense_admm, atol=1e-3, rtol=0)
    finally:
        sp.unpersist()


def test_weighted_softmax_k2_matches_weighted_binary(wdata):
    # the k=2 softmax coefficient DIFFERENCE equals the binary sigmoid
    # fit (the existing unweighted parity, now under weights): weights
    # flow through the joint (p, k) kernel identically
    df, *_ = wdata
    est = SoftmaxRegression(
        solver="lbfgs", regularizer=None, weight_col="w", max_iter=300,
        tol=1e-10,
    ).fit(df)
    diff = est._coefs[1] - est._coefs[0]
    binary = LogisticRegression(
        solver="lbfgs", regularizer=None, weight_col="w", max_iter=300,
        tol=1e-10,
    ).fit(df)
    np.testing.assert_allclose(diff, binary._coef, atol=5e-4, rtol=0)


def test_weighted_softmax_replication(wdata):
    # integer weights == repeated rows for the joint softmax too
    df, repl, *_ = wdata
    a = solvers.softmax_lbfgs(
        df, 2, regularizer=None, max_iter=300, tol=1e-10, weight_col="w",
        normalize=False,
    )
    b = solvers.softmax_lbfgs(
        repl, 2, regularizer=None, max_iter=300, tol=1e-10,
        normalize=False,
    )
    # softmax coefficients are identified only up to a shared shift —
    # compare the class-1 minus class-0 difference
    np.testing.assert_allclose(
        a[:, 1] - a[:, 0], b[:, 1] - b[:, 0], atol=1e-4, rtol=0
    )


def test_offset_softmax_raises(wdata):
    df, *_ = wdata
    with pytest.raises(NotImplementedError, match="offset_col"):
        SoftmaxRegression(solver="lbfgs", offset_col="o").fit(df)


def test_estimator_params_roundtrip():
    est = LogisticRegression(weight_col="w")
    params = est.get_params()
    assert params["weight_col"] == "w"
    assert LogisticRegression(**params).weight_col == "w"


def test_weighted_metrics(wdata):
    # weighted metric == metric over the replicated frame (integer w)
    from dask_glm_spark.functions import metrics

    df, repl, X, y, w = wdata
    dfp = df.withColumn("pred", (F.col("features")[0] > 0).cast("double"))
    replp = repl.withColumn("pred", (F.col("features")[0] > 0).cast("double"))
    aw = metrics.accuracy_score(dfp, "label", "pred", weight_col="w")
    ar = metrics.accuracy_score(replp, "label", "pred")
    assert abs(aw - ar) < 1e-12
    mw = metrics.mean_squared_error(dfp, "label", "pred", weight_col="w")
    mr = metrics.mean_squared_error(replp, "label", "pred")
    assert abs(mw - mr) < 1e-12
    dfp2 = dfp.withColumn("pred", F.col("pred") + 0.5)
    replp2 = replp.withColumn("pred", F.col("pred") + 0.5)
    dw = metrics.poisson_deviance(dfp2, "label", "pred", weight_col="w")
    dr = metrics.poisson_deviance(replp2, "label", "pred")
    assert abs(dw - dr) < 1e-9


def test_weighted_auc_equals_replicated(wdata):
    from dask_glm_spark.functions import metrics

    df, repl, *_ = wdata
    dfp = df.withColumn("score", F.col("features")[0] + F.col("features")[1])
    replp = repl.withColumn(
        "score", F.col("features")[0] + F.col("features")[1]
    )
    aw = metrics.roc_auc_score(dfp, "label", "score", weight_col="w")
    ar = metrics.roc_auc_score(replp, "label", "score")
    assert abs(aw - ar) < 1e-12


def test_auc_pregrouped_rejects_weight_col(wdata):
    """ADVICE r10: pregrouped=True means the pos/neg masses are already
    formed — combining it with weight_col must raise, not silently return
    the unweighted AUC."""
    from dask_glm_spark.functions import metrics

    df, *_ = wdata
    hist = df.groupBy(F.col("features")[0].alias("score")).agg(
        F.sum("label").alias("pos"),
        (F.count("*") - F.sum("label")).alias("neg"),
    )
    with pytest.raises(ValueError, match="pregrouped"):
        metrics.roc_auc_score(
            hist, y_score="score", pregrouped=True, weight_col="w"
        )


def test_weighted_moments_equal_replicated(wdata):
    """ADVICE r10: standardization moments under weight_col are the
    WEIGHTED population moments — identical to the unweighted moments of
    the integer-weight row-replicated frame; n_rows stays the raw count."""
    from dask_glm_spark.functions import kernels

    df, repl, X, y, w = wdata
    n_w, m_w, s_w = kernels.column_moments_full(df, weight_col="w")
    n_r, m_r, s_r = kernels.column_moments_full(repl)
    assert n_w == N  # raw row count: sizes physical layout, not math
    np.testing.assert_allclose(m_w, m_r, rtol=1e-12)
    np.testing.assert_allclose(s_w, s_r, rtol=1e-12)
    # numpy twin: direct weighted moments
    np.testing.assert_allclose(m_w, (X * w[:, None]).sum(0) / w.sum(), rtol=1e-12)


def test_weighted_equals_replicated_lbfgs_normalized_l2(wdata):
    """The ADVICE r10 combination — weight_col + normalize=True (default)
    + L2 — now penalizes in the replication-consistent standardized space,
    so the equivalence holds at optimizer tolerance, not loosely."""
    df, repl, *_ = wdata
    bw = solvers.lbfgs(df, regularizer="l2", lamduh=0.5, max_iter=300,
                       tol=1e-10, weight_col="w")
    br = solvers.lbfgs(repl, regularizer="l2", lamduh=0.5, max_iter=300,
                       tol=1e-10)
    np.testing.assert_allclose(bw, br, atol=1e-6, rtol=0)
