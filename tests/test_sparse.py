"""Sparse feature support: MLlib VectorUDT ingest, (indices, values)
wide-sparse kernels, and estimator routing — parity-checked against the
dense kernels on identical data."""

from __future__ import annotations

import numpy as np
import pytest

# Tests that take >= 4 s each are marked slow one by one: skipped by the
# default serial run, always run by scripts/partest.py (see conftest).
from pyspark.sql import functions as F

from dask_glm_spark.functions import kernels, kernels_sparse
from dask_glm_spark.functions.families import Logistic
from dask_glm_spark.operators.estimators import LogisticRegression
from dask_glm_spark.sources import vectors as V

P = 24
N = 400
BETA_SEED = 11


@pytest.fixture(scope="module")
def sparse_data():
    rng = np.random.RandomState(BETA_SEED)
    X = np.zeros((N, P))
    for i in range(N):  # ~4 nonzeros per row (one-hot-ish)
        nz = rng.choice(P, size=4, replace=False)
        X[i, nz] = rng.standard_normal(4)
    true_beta = rng.standard_normal(P) * 0.5
    y = (1 / (1 + np.exp(-X @ true_beta)) > rng.uniform(size=N)).astype(np.float64)
    return X, y


@pytest.fixture(scope="module")
def dense_df(spark, sparse_data):
    X, y = sparse_data
    rows = [([float(v) for v in X[i]], float(y[i])) for i in range(N)]
    return spark.createDataFrame(rows, "features array<double>, label double").repartition(5)


@pytest.fixture(scope="module")
def sparse_df(dense_df):
    return V.to_sparse_columns(dense_df)


def test_to_sparse_columns_roundtrip(sparse_df, sparse_data):
    X, _ = sparse_data
    rows = sparse_df.limit(50).collect()
    for r in rows:
        assert len(r["findices"]) == len(r["fvalues"])
        assert all(v != 0 for v in r["fvalues"])


def test_sparse_p(sparse_df):
    assert V.sparse_p(sparse_df) <= P  # highest populated index + 1


def test_mllib_vector_ingest(spark):
    ml = pytest.importorskip("pyspark.ml.linalg")
    rows = [
        (ml.Vectors.sparse(4, [0, 2], [1.0, 3.0]), 1.0),
        (ml.Vectors.dense([0.0, 2.0, 0.0, 4.0]), 0.0),
    ]
    df = spark.createDataFrame(rows, ["features", "label"])
    assert V.is_vector_column(df)
    dense = V.from_vector_column(df)
    got = [r["features"] for r in dense.orderBy(F.desc("label")).collect()]
    assert got[0] == [1.0, 0.0, 3.0, 0.0]
    assert got[1] == [0.0, 2.0, 0.0, 4.0]
    sp = V.to_sparse_columns(df)
    r0 = sp.orderBy(F.desc("label")).first()
    assert list(r0["findices"]) == [0, 2]
    assert list(r0["fvalues"]) == [1.0, 3.0]


def test_sparse_loss_gradient_matches_dense(dense_df, sparse_df, sparse_data):
    X, y = sparse_data
    beta = np.linspace(-0.5, 0.5, P)
    dl, dg = kernels.loss_gradient(dense_df, Logistic, beta)
    sl, sg = kernels_sparse.loss_gradient_sparse(sparse_df, Logistic, beta, p=P)
    np.testing.assert_allclose(sl, dl, rtol=1e-12)
    np.testing.assert_allclose(sg, dg, rtol=1e-12, atol=1e-12)
    # and against driver numpy
    np.testing.assert_allclose(sl, Logistic.pointwise_loss(beta, X, y), rtol=1e-9)


@pytest.mark.slow
def test_lbfgs_sparse_matches_dense_fit(dense_df, sparse_df):
    dense_lr = LogisticRegression(
        solver="lbfgs", regularizer=None, fit_intercept=False
    ).fit(dense_df, normalize=False)
    sparse_lr = LogisticRegression(
        solver="lbfgs", regularizer=None, fit_intercept=False
    ).fit(sparse_df, p=P)
    np.testing.assert_allclose(sparse_lr.coef_, dense_lr.coef_, rtol=1e-5, atol=1e-6)


@pytest.mark.slow
def test_proximal_grad_sparse_matches_dense_fit(dense_df, sparse_df):
    """VERDICT r2 #4: L1 prox-grad on sparse features — the canonical
    hashed-text workload — must agree with the dense solver exactly (same
    control flow, different kernels)."""
    kw = dict(regularizer="l1", lamduh=0.01, max_iter=40, fit_intercept=False)
    dense_lr = LogisticRegression(solver="proximal_grad", **kw).fit(
        dense_df, normalize=False
    )
    sparse_lr = LogisticRegression(solver="proximal_grad", **kw).fit(sparse_df, p=P)
    np.testing.assert_allclose(sparse_lr.coef_, dense_lr.coef_, rtol=1e-8, atol=1e-10)


@pytest.mark.slow
def test_fista_sparse_matches_dense_fit(dense_df, sparse_df):
    """Round 8: the accelerated (FISTA) loop runs the same control flow
    over both kernel surfaces — sparse must equal dense bit-tight."""
    kw = dict(regularizer="l1", lamduh=0.01, max_iter=40, fit_intercept=False)
    dense_lr = LogisticRegression(solver="proximal_grad", **kw).fit(
        dense_df, normalize=False, accelerate=True
    )
    sparse_lr = LogisticRegression(solver="proximal_grad", **kw).fit(
        sparse_df, p=P, accelerate=True
    )
    np.testing.assert_allclose(sparse_lr.coef_, dense_lr.coef_, rtol=1e-8, atol=1e-10)


@pytest.mark.slow
def test_gradient_descent_sparse_matches_dense_fit(dense_df, sparse_df):
    kw = dict(max_iter=25, fit_intercept=False)
    dense_lr = LogisticRegression(solver="gradient_descent", **kw).fit(
        dense_df, normalize=False
    )
    sparse_lr = LogisticRegression(solver="gradient_descent", **kw).fit(sparse_df, p=P)
    np.testing.assert_allclose(sparse_lr.coef_, dense_lr.coef_, rtol=1e-8, atol=1e-10)


@pytest.mark.slow
def test_admm_sparse_matches_dense_fit(dense_df, sparse_df):
    """ADMM on CSR blocks: identical consensus rounds to the dense path
    (same block partitioning via nblocks=0 on the co-partitioned frames),
    so coefficients must agree to float-reduction tolerance."""
    kw = dict(regularizer="l2", lamduh=0.1, max_iter=20, fit_intercept=False)
    dense_lr = LogisticRegression(solver="admm", **kw).fit(
        dense_df, normalize=False, nblocks=0
    )
    sparse_lr = LogisticRegression(solver="admm", **kw).fit(
        sparse_df, p=P, nblocks=0
    )
    np.testing.assert_allclose(sparse_lr.coef_, dense_lr.coef_, rtol=1e-5, atol=1e-7)


def test_ragged_csr_rows_raise(spark):
    """A row whose index and value lists differ in length must raise, not
    shift values onto other rows: the flat reader shared by the kernels
    (``_batch_csr``) and the CSR ADMM blocks (``_CSRBlock``) compares the
    two lists' lengths. Row 0 has 2 indices but 1 value; row 1 the
    reverse, so the flat arrays have equal totals."""
    import pyarrow as pa
    from pyspark.errors import PythonException

    from dask_glm_spark.operators import solvers

    rb = pa.RecordBatch.from_pydict(
        {
            "findices": pa.array([[0, 2], [1]], type=pa.list_(pa.int64())),
            "fvalues": [[1.0], [2.0, 3.0]],
            "label": [1.0, 0.0],
        }
    )
    with pytest.raises(ValueError, match="same length"):
        kernels_sparse._batch_csr(rb, "findices", "fvalues", 3)
    with pytest.raises(ValueError, match="same length"):
        solvers._CSRBlock(3).read(rb)
    df = spark.createDataFrame(
        [([0, 2], [1.0], 1.0), ([1], [2.0, 3.0], 0.0)],
        "findices array<int>, fvalues array<double>, label double",
    ).coalesce(1)
    with pytest.raises(PythonException, match="same length"):
        kernels_sparse.loss_gradient_sparse(df, Logistic, np.ones(3), 3)
    with pytest.raises(PythonException, match="same length"):
        solvers.admm_sparse(df, p=3, max_iter=2)


def test_csr_matrix_duck_type(sparse_data):
    from dask_glm_spark.functions.kernels_sparse import CSRMatrix

    X, y = sparse_data
    nz = np.nonzero(X)
    m = CSRMatrix(nz[1], X[nz], nz[0], X.shape)
    v = np.linspace(-1, 1, P)
    np.testing.assert_allclose(m.dot(v), X @ v, rtol=1e-12)
    r = np.linspace(0, 1, N)
    np.testing.assert_allclose(m.T.dot(r), X.T @ r, rtol=1e-12)

    # `@` against dense numpy, exactly: the test matrix has at most two
    # nonzeros per row (and per column), a row with none, and small
    # integer values, so every sum is exact in any order
    Xs = np.zeros((6, 5))
    Xs[0, [1, 3]] = [2.0, -1.0]
    Xs[1, 4] = 3.0
    Xs[3, [0, 2]] = [1.0, 4.0]
    Xs[4, 1] = -2.0
    Xs[5, 3] = 5.0  # row 2 has no nonzeros
    nz = np.nonzero(Xs)
    ms = CSRMatrix(nz[1], Xs[nz], nz[0], Xs.shape)
    vs = np.arange(5.0) - 2.0
    Bs = np.arange(15.0).reshape(5, 3) - 7.0
    rs = np.arange(6.0) - 1.0
    Rs = np.arange(12.0).reshape(6, 2) - 5.0
    assert np.array_equal(ms @ vs, Xs @ vs)
    assert np.array_equal(ms @ Bs, Xs @ Bs)
    assert np.array_equal(ms.T @ rs, Xs.T @ rs)
    assert np.array_equal(ms.T @ Rs, Xs.T @ Rs)
    assert np.array_equal(ms.dot(vs), ms @ vs)
    # a batch with zero nonzeros: products are exact zeros of full shape
    e = np.zeros(0, dtype=np.int64)
    m0 = CSRMatrix(e, np.zeros(0), e, (4, 5))
    assert np.array_equal(m0 @ vs, np.zeros(4))
    assert np.array_equal(m0 @ Bs, np.zeros((4, 3)))
    assert np.array_equal(m0.T @ np.ones(4), np.zeros(5))
    assert np.array_equal(m0.T @ np.ones((4, 2)), np.zeros((5, 2)))


@pytest.mark.slow
def test_sparse_intercept_matches_dense_lbfgs(dense_df, sparse_df):
    """fit_intercept over sparse features (round 12; the reference xfails
    this combination, tests/test_estimators.py:47-54, but it's the normal
    hashed-text-classifier configuration): the appended constant-1
    coordinate makes the sparse problem IDENTICAL to the dense
    intercept-extended one, so coefficients and intercept agree."""
    kw = dict(regularizer=None, fit_intercept=True, max_iter=300, tol=1e-10)
    dense_lr = LogisticRegression(solver="lbfgs", **kw).fit(
        dense_df, normalize=False
    )
    sparse_lr = LogisticRegression(solver="lbfgs", **kw).fit(sparse_df, p=P)
    np.testing.assert_allclose(sparse_lr.coef_, dense_lr.coef_, rtol=1e-6, atol=1e-8)
    np.testing.assert_allclose(
        sparse_lr.intercept_, dense_lr.intercept_, rtol=1e-6, atol=1e-8
    )
    # scoring round-trips the stored intercept (the _sparse_xb split)
    acc_s = sparse_lr.score(sparse_df)
    acc_d = dense_lr.score(dense_df)
    assert acc_s == acc_d


@pytest.mark.slow
def test_sparse_intercept_matches_dense_admm(dense_df, sparse_df):
    kw = dict(regularizer="l2", lamduh=0.1, fit_intercept=True, max_iter=20)
    dense_lr = LogisticRegression(solver="admm", **kw).fit(
        dense_df, normalize=False, nblocks=0
    )
    sparse_lr = LogisticRegression(solver="admm", **kw).fit(
        sparse_df, p=P, nblocks=0
    )
    np.testing.assert_allclose(sparse_lr.coef_, dense_lr.coef_, rtol=1e-5, atol=1e-7)
    np.testing.assert_allclose(
        sparse_lr.intercept_, dense_lr.intercept_, rtol=1e-5, atol=1e-7
    )


@pytest.mark.slow
def test_sparse_intercept_mllib_oracle(spark, dense_df, sparse_df):
    """MLlib LogisticRegression (standardization off, no penalty) is an
    independent optimizer for the same intercept-extended MLE."""
    ml = pytest.importorskip("pyspark.ml.classification")
    from pyspark.ml.feature import VectorAssembler  # noqa: F401
    from pyspark.ml.functions import array_to_vector

    mdf = dense_df.withColumn("fv", array_to_vector("features"))
    m = ml.LogisticRegression(
        featuresCol="fv", labelCol="label", regParam=0.0,
        standardization=False, fitIntercept=True, maxIter=300, tol=1e-12,
    ).fit(mdf)
    sparse_lr = LogisticRegression(
        solver="lbfgs", regularizer=None, fit_intercept=True,
        max_iter=300, tol=1e-10,
    ).fit(sparse_df, p=P)
    np.testing.assert_allclose(
        sparse_lr.coef_, np.array(m.coefficients), rtol=1e-4, atol=1e-5
    )
    np.testing.assert_allclose(
        sparse_lr.intercept_, m.intercept, rtol=1e-4, atol=1e-5
    )


def test_sparse_non_lbfgs_raises(sparse_df):
    with pytest.raises(NotImplementedError, match="lbfgs"):
        LogisticRegression(solver="newton", fit_intercept=False).fit(sparse_df)


@pytest.mark.slow
def test_sparse_predict_matches_dense(dense_df, sparse_df):
    dense_lr = LogisticRegression(
        solver="lbfgs", regularizer=None, fit_intercept=False
    ).fit(dense_df, normalize=False)
    sparse_lr = LogisticRegression(
        solver="lbfgs", regularizer=None, fit_intercept=False
    ).fit(sparse_df, p=P)
    dp = [r["probability"] for r in dense_lr.predict_proba(dense_df).collect()]
    sp = [r["probability"] for r in sparse_lr.predict_proba(sparse_df).collect()]
    assert len(dp) == len(sp) == N
    np.testing.assert_allclose(sorted(sp), sorted(dp), rtol=1e-4)
    # score on the sparse frame end-to-end
    acc = sparse_lr.score(sparse_df)
    assert 0.5 <= acc <= 1.0


def test_from_coo_matches_to_sparse_columns(spark, sparse_data):
    """COO triplet ingest == the array-derived sparse columns (indices
    sorted, duplicate (row, col) entries summed)."""
    X, _ = sparse_data
    trips = [
        (i, j, float(X[i, j]))
        for i in range(N)
        for j in range(P)
        if X[i, j] != 0
    ]
    # split one entry into two triplets to exercise duplicate summing
    i0, j0, v0 = trips[0]
    trips[0] = (i0, j0, v0 / 2)
    trips.append((i0, j0, v0 / 2))
    coo = spark.createDataFrame(trips, "row long, col int, value double").repartition(7)
    got = {
        r["row"]: (list(r["findices"]), list(r["fvalues"]))
        for r in V.from_coo(coo).collect()
    }
    for i in range(N):
        nz = np.nonzero(X[i])[0]
        if len(nz) == 0:
            assert i not in got
            continue
        idx, vals = got[i]
        assert idx == [int(j) for j in nz]
        np.testing.assert_allclose(vals, X[i, nz], rtol=1e-12)


@pytest.mark.slow
def test_from_coo_feeds_sparse_fit(spark, sparse_data, dense_df):
    """End-to-end: COO ingest -> lbfgs_sparse == the dense fit (the
    reference's sparse.COO -> solver path, re-expressed)."""
    from dask_glm_spark.operators.solvers import lbfgs, lbfgs_sparse

    X, y = sparse_data
    trips = [
        (i, j, float(X[i, j]), float(y[i]))
        for i in range(N)
        for j in range(P)
        if X[i, j] != 0
    ]
    coo = spark.createDataFrame(trips, "row long, col int, value double, label double")
    labels = coo.select("row", "label").distinct()
    sp = V.from_coo(coo).join(labels, "row")
    beta_sp = lbfgs_sparse(sp, p=P, max_iter=50)
    beta_dn = lbfgs(dense_df, max_iter=50, normalize=False)
    np.testing.assert_allclose(beta_sp, beta_dn, atol=1e-5)


@pytest.mark.slow
def test_softmax_sparse_matches_dense_fit(spark, dense_df, sparse_df):
    """Sparse softmax kernel + solver + estimator routing: identical
    (p, k) coefficients to the dense softmax fit of the same L2 objective
    (unique optimum) on the same rows, and parity on predict /
    predict_proba through the sparse scoring pass."""
    from dask_glm_spark.operators.estimators import SoftmaxRegression

    # 3-class label: one shared dense frame, sparse derived row-wise from
    # it (to_sparse_columns is a per-row transform, so labels line up)
    dd = dense_df.withColumn(
        "label", (F.abs(F.hash(F.col("features"))) % 3).cast("double")
    )
    sd = V.to_sparse_columns(dd)
    md = SoftmaxRegression(
        solver="lbfgs", regularizer="l2", lamduh=1e-2,
        fit_intercept=False, max_iter=200,
    ).fit(dd, normalize=False)
    ms = SoftmaxRegression(
        solver="lbfgs", regularizer="l2", lamduh=1e-2,
        fit_intercept=False, max_iter=200,
    ).fit(sd)
    assert md.classes_ == ms.classes_
    np.testing.assert_allclose(ms.coefs_, md.coefs_, atol=1e-6)

    pd_ = {r["label"]: r["prediction"] for r in md.predict(dd).collect()}
    ps_ = {r["label"]: r["prediction"] for r in ms.predict(sd).collect()}
    # same rows -> same predictions keyed by... label is not unique; use
    # full-row comparison instead: sort probabilities
    probs_d = sorted(
        tuple(np.round(r["probabilities"], 8))
        for r in md.predict_proba(dd).collect()
    )
    probs_s = sorted(
        tuple(np.round(r["probabilities"], 8))
        for r in ms.predict_proba(sd).collect()
    )
    assert probs_d == probs_s


@pytest.mark.slow
def test_softmax_sparse_intercept_matches_dense(dense_df, sparse_df):
    """Sparse softmax + intercept (round 12): same constant-1 coordinate
    trick — joint coefficients, intercepts, and probabilities match the
    dense intercept-extended fit."""
    from dask_glm_spark.operators.estimators import SoftmaxRegression

    dd = dense_df.withColumn(
        "label", (F.abs(F.hash(F.col("features"))) % 3).cast("double")
    )
    sd = V.to_sparse_columns(dd)
    kw = dict(
        solver="lbfgs", regularizer="l2", lamduh=1e-2, fit_intercept=True,
        max_iter=300, tol=1e-10,
    )
    md = SoftmaxRegression(**kw).fit(dd, normalize=False)
    ms = SoftmaxRegression(**kw).fit(sd, p=P)
    assert md.classes_ == ms.classes_
    np.testing.assert_allclose(ms.coefs_, md.coefs_, atol=1e-6)
    np.testing.assert_allclose(ms.intercepts_, md.intercepts_, atol=1e-6)
    probs_d = sorted(
        tuple(np.round(r["probabilities"], 6))
        for r in md.predict_proba(dd).collect()
    )
    probs_s = sorted(
        tuple(np.round(r["probabilities"], 6))
        for r in ms.predict_proba(sd).collect()
    )
    assert probs_d == probs_s


@pytest.mark.slow
def test_sparse_intercept_proba_roundtrip(dense_df, sparse_df):
    """predict_proba on the sparse frame uses the stored intercept — the
    probabilities match the dense intercept fit row-for-row."""
    kw = dict(
        solver="lbfgs", regularizer=None, fit_intercept=True,
        max_iter=300, tol=1e-10,
    )
    dense_lr = LogisticRegression(**kw).fit(dense_df, normalize=False)
    sparse_lr = LogisticRegression(**kw).fit(sparse_df, p=P)
    dp = sorted(
        round(r["probability"], 6)
        for r in dense_lr.predict_proba(dense_df).collect()
    )
    sp = sorted(
        round(r["probability"], 6)
        for r in sparse_lr.predict_proba(sparse_df).collect()
    )
    assert dp == sp


# ---------------------------------------------------------------------------
# round 12: matrix-free per-coordinate Wald SEs for sparse fits
# ---------------------------------------------------------------------------
@pytest.mark.slow
def test_sparse_coef_se_matches_dense_summary(dense_df, sparse_df):
    """summary(coords=...) on a sparse MLE fit equals the dense full
    summary's SEs/p-values at the same coordinates (CG solves of
    I x = e_j over O(nnz) Hvp scans vs the dense p^2 inverse)."""
    kw = dict(
        solver="lbfgs", regularizer=None, fit_intercept=True,
        max_iter=300, tol=1e-10,
    )
    dense_lr = LogisticRegression(**kw).fit(dense_df, normalize=False)
    s_dense = dense_lr.summary(dense_df)
    sparse_lr = LogisticRegression(**kw).fit(sparse_df, p=P)
    coords = [0, 3, 7, P]  # three slopes + the intercept coordinate
    s = sparse_lr.summary(sparse_df, coords=coords)
    assert s.statistic_kind == "z" and s.dispersion == 1.0
    np.testing.assert_allclose(
        s.coefficients,
        np.asarray(dense_lr._coef)[coords],
        rtol=1e-6, atol=1e-8,
    )
    np.testing.assert_allclose(
        s.std_errors, s_dense.std_errors[coords], rtol=1e-6
    )
    np.testing.assert_allclose(
        s.p_values, s_dense.p_values[coords], atol=1e-8
    )


def test_sparse_coef_se_guards(sparse_df):
    from dask_glm_spark.functions.inference import sparse_coef_se
    from dask_glm_spark.functions.families import Logistic

    lr = LogisticRegression(
        solver="lbfgs", regularizer=None, fit_intercept=False,
        max_iter=100, tol=1e-8,
    ).fit(sparse_df, p=P)
    # full-summary rejection still stands without coords
    with pytest.raises(NotImplementedError, match="coords"):
        lr.summary(sparse_df)
    # a never-observed coordinate is not identified -> loud error
    beta_ext = np.concatenate([lr.coef_, [0.0]])
    with pytest.raises(ValueError, match="not identified"):
        sparse_coef_se(sparse_df, Logistic, beta_ext, [P], P + 1)
    # out-of-range coordinate
    with pytest.raises(ValueError, match="outside"):
        sparse_coef_se(sparse_df, Logistic, lr.coef_, [P + 5], P)


def test_sparse_coef_se_penalized_rejected(sparse_df):
    lr = LogisticRegression(
        solver="lbfgs", regularizer="l2", lamduh=1.0, fit_intercept=False
    ).fit(sparse_df, p=P)
    with pytest.raises(ValueError, match="penalized"):
        lr.summary(sparse_df, coords=[0])


@pytest.mark.slow
def test_sparse_coef_se_gaussian_dispersion(spark, sparse_data):
    """The t/dispersion path: gaussian sparse fit — SEs and Pearson
    dispersion match the dense summary (sparse Pearson scan + CG)."""
    from dask_glm_spark.operators.estimators import LinearRegression

    X, _ = sparse_data
    rng = np.random.RandomState(5)
    yr = X @ np.linspace(-0.4, 0.4, P) + rng.standard_normal(N) * 0.5
    rows = [([float(v) for v in X[i]], float(yr[i])) for i in range(N)]
    dd = spark.createDataFrame(
        rows, "features array<double>, label double"
    ).repartition(5)
    sd = V.to_sparse_columns(dd)
    kw = dict(
        solver="lbfgs", regularizer=None, fit_intercept=False,
        max_iter=300, tol=1e-12,
    )
    dense_lr = LinearRegression(**kw).fit(dd, normalize=False)
    s_dense = dense_lr.summary(dd)
    sparse_lr = LinearRegression(**kw).fit(sd, p=P)
    s = sparse_lr.summary(sd, coords=[1, 5])
    assert s.statistic_kind == "t" and not s.dispersion_fixed
    assert s.dispersion == pytest.approx(s_dense.dispersion, rel=1e-6)
    np.testing.assert_allclose(
        s.std_errors, s_dense.std_errors[[1, 5]], rtol=1e-5
    )
    np.testing.assert_allclose(
        s.p_values, s_dense.p_values[[1, 5]], atol=1e-6
    )


# ---------------------------------------------------------------------------
# round 13: HC0 robust SEs for sparse coords, per-row residuals and
# mean-response intervals over wide-sparse scoring rows (VERDICT r12 #2/#3)
# ---------------------------------------------------------------------------
@pytest.mark.slow
def test_sparse_coef_se_robust_matches_dense_hc0(dense_df, sparse_df):
    """summary(coords=..., robust=True) on a sparse MLE fit equals the
    dense glm_summary(robust=True) sandwich SEs at the same coordinates —
    the matrix-free x_c' M x_c quadratic form vs the dense H^-1 M H^-1."""
    kw = dict(
        solver="lbfgs", regularizer=None, fit_intercept=True,
        max_iter=300, tol=1e-10,
    )
    dense_lr = LogisticRegression(**kw).fit(dense_df, normalize=False)
    s_dense = dense_lr.summary(dense_df, robust=True)
    sparse_lr = LogisticRegression(**kw).fit(sparse_df, p=P)
    coords = [0, 3, 7, P]  # three slopes + the intercept coordinate
    s = sparse_lr.summary(sparse_df, coords=coords, robust=True)
    np.testing.assert_allclose(
        s.std_errors, s_dense.std_errors[coords], rtol=1e-6
    )
    np.testing.assert_allclose(
        s.p_values, s_dense.p_values[coords], atol=1e-8
    )


@pytest.mark.slow
def test_sparse_coef_se_robust_gaussian_scale(spark, sparse_data):
    """Gaussian HC0 via the sparse path: exercises the objective-Hessian
    rescale (the SSE objective is 2x the unit information) — any scale
    slip would miss by exactly 4x."""
    from dask_glm_spark.operators.estimators import LinearRegression

    X, _ = sparse_data
    rng = np.random.RandomState(5)
    yr = X @ np.linspace(-0.4, 0.4, P) + rng.standard_normal(N) * 0.5
    rows = [([float(v) for v in X[i]], float(yr[i])) for i in range(N)]
    dd = spark.createDataFrame(
        rows, "features array<double>, label double"
    ).repartition(5)
    sd = V.to_sparse_columns(dd)
    kw = dict(
        solver="lbfgs", regularizer=None, fit_intercept=False,
        max_iter=300, tol=1e-12,
    )
    dense_lr = LinearRegression(**kw).fit(dd, normalize=False)
    s_dense = dense_lr.summary(dd, robust=True)
    sparse_lr = LinearRegression(**kw).fit(sd, p=P)
    s = sparse_lr.summary(sd, coords=[1, 5], robust=True)
    np.testing.assert_allclose(
        s.std_errors, s_dense.std_errors[[1, 5]], rtol=1e-5
    )


def _rid_frames(dense_df):
    """(dense+rid, sparse+rid) twins — rid is content-hashed so the
    per-row comparison never depends on partition layout."""
    dd = dense_df.withColumn("rid", F.xxhash64("features", "label"))
    return dd, V.to_sparse_columns(dd)


@pytest.mark.slow
@pytest.mark.parametrize(
    "kind", ["deviance", "pearson", "response", "working"]
)
def test_sparse_residuals_match_dense(dense_df, kind):
    """residuals() over wide-sparse rows == the dense projection
    row-for-row (intercept model; all four kinds)."""
    kw = dict(
        solver="lbfgs", regularizer=None, fit_intercept=True,
        max_iter=300, tol=1e-10,
    )
    lr = LogisticRegression(**kw).fit(dense_df, normalize=False)
    dd, sd = _rid_frames(dense_df)
    want = {
        r["rid"]: r["residual"] for r in lr.residuals(dd, kind).collect()
    }
    got = {
        r["rid"]: r["residual"] for r in lr.residuals(sd, kind).collect()
    }
    assert set(got) == set(want)
    for rid, v in want.items():
        assert got[rid] == pytest.approx(v, rel=1e-8, abs=1e-10)


@pytest.mark.slow
def test_sparse_residuals_no_intercept(dense_df):
    kw = dict(
        solver="lbfgs", regularizer=None, fit_intercept=False,
        max_iter=200, tol=1e-9,
    )
    lr = LogisticRegression(**kw).fit(dense_df, normalize=False)
    dd, sd = _rid_frames(dense_df)
    want = {r["rid"]: r["residual"] for r in lr.residuals(dd).collect()}
    got = {r["rid"]: r["residual"] for r in lr.residuals(sd).collect()}
    for rid, v in want.items():
        assert got[rid] == pytest.approx(v, rel=1e-8, abs=1e-10)


@pytest.mark.slow
@pytest.mark.parametrize("scale", ["mean", "link"])
def test_sparse_predict_interval_matches_dense(dense_df, scale):
    """predict_interval() over wide-sparse scoring rows == the dense
    path row-for-row: prediction, se_link, lo, hi (the sparse x'Sx
    quadratic form vs the folded-literal SQL one)."""
    lr = LogisticRegression(solver="newton", fit_intercept=True).fit(
        dense_df
    )
    summ = lr.summary(dense_df)
    dd, sd = _rid_frames(dense_df)
    cols = ("prediction", "se_link", "lo", "hi")
    want = {
        r["rid"]: tuple(r[c] for c in cols)
        for r in lr.predict_interval(dd, summ, scale=scale).collect()
    }
    got = {
        r["rid"]: tuple(r[c] for c in cols)
        for r in lr.predict_interval(sd, summ, scale=scale).collect()
    }
    assert set(got) == set(want)
    for rid, vals in want.items():
        for g, w in zip(got[rid], vals):
            assert g == pytest.approx(w, rel=1e-8, abs=1e-10)


@pytest.mark.slow
def test_sparse_predict_interval_needs_covariance(dense_df):
    """A coords-only sparse summary carries no covariance — the sparse
    interval surface refuses it loudly instead of guessing."""
    lr = LogisticRegression(solver="newton", fit_intercept=True).fit(
        dense_df
    )
    _, sd = _rid_frames(dense_df)
    sparse_summ = lr.summary(sd, coords=[0, 1])
    with pytest.raises(ValueError, match="covariance"):
        lr.predict_interval(sd, sparse_summ)


# ---------------------------------------------------------------------------
# round 13: wide-sparse one-vs-rest multiclass (VERDICT r12 #4)
# ---------------------------------------------------------------------------
@pytest.mark.slow
def test_sparse_ovr_matches_dense(dense_df):
    """Sparse OvR multiclass == dense OvR: per-class coefficients (unique
    L2 optimum), predictions, and OvR probabilities row-for-row."""
    from dask_glm_spark.operators.estimators import (
        MulticlassLogisticRegression,
    )

    dd = dense_df.withColumn(
        "label", (F.abs(F.hash(F.col("features"))) % 3).cast("double")
    ).withColumn("rid", F.xxhash64("features", "label"))
    sd = V.to_sparse_columns(dd)
    kw = dict(
        solver="lbfgs", regularizer="l2", lamduh=1e-2, fit_intercept=True,
        max_iter=300, tol=1e-10,
    )
    md = MulticlassLogisticRegression(**kw).fit(dd, normalize=False)
    ms = MulticlassLogisticRegression(**kw).fit(sd, p=P)
    assert md.classes_ == ms.classes_
    np.testing.assert_allclose(ms.coefs_, md.coefs_, rtol=1e-6, atol=1e-6)
    np.testing.assert_allclose(
        ms.intercepts_, md.intercepts_, rtol=1e-6, atol=1e-6
    )
    want = {r["rid"]: r["prediction"] for r in md.predict(dd).collect()}
    got = {r["rid"]: r["prediction"] for r in ms.predict(sd).collect()}
    assert got == want
    wantp = {
        r["rid"]: r["probabilities"]
        for r in md.predict_proba(dd).collect()
    }
    gotp = {
        r["rid"]: r["probabilities"]
        for r in ms.predict_proba(sd).collect()
    }
    assert set(gotp) == set(wantp)
    for rid, pv in wantp.items():
        np.testing.assert_allclose(gotp[rid], pv, atol=1e-5)
    # accuracy surface composes through the sparse predict
    assert ms.score(sd) == pytest.approx(md.score(dd), abs=1e-12)


@pytest.mark.slow
def test_sparse_ovr_fit_intercept_false(dense_df):
    from dask_glm_spark.operators.estimators import (
        MulticlassLogisticRegression,
    )

    dd = dense_df.withColumn(
        "label", (F.abs(F.hash(F.col("features"))) % 3).cast("double")
    )
    sd = V.to_sparse_columns(dd)
    kw = dict(
        solver="lbfgs", regularizer="l2", lamduh=1e-2,
        fit_intercept=False, max_iter=200,
    )
    md = MulticlassLogisticRegression(**kw).fit(dd, normalize=False)
    ms = MulticlassLogisticRegression(**kw).fit(sd, p=P)
    np.testing.assert_allclose(ms.coefs_, md.coefs_, atol=1e-6)
    assert list(ms.intercepts_) == [0.0, 0.0, 0.0]


@pytest.mark.slow
def test_sparse_ovr_summary_guard(dense_df):
    from dask_glm_spark.operators.estimators import (
        MulticlassLogisticRegression,
    )

    dd = dense_df.withColumn(
        "label", (F.abs(F.hash(F.col("features"))) % 3).cast("double")
    )
    sd = V.to_sparse_columns(dd)
    m = MulticlassLogisticRegression(
        solver="lbfgs", regularizer=None, fit_intercept=False, max_iter=50
    ).fit(sd, p=P)
    with pytest.raises(NotImplementedError, match="coords"):
        m.summary(sd)
