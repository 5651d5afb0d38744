"""regularization_path (round-10 extension; CV + persistence are covered
in test_estimators.py against the existing estimators-module utilities)."""

from __future__ import annotations

import numpy as np
import pytest

# Tests that take >= 4 s each are marked slow one by one: skipped by the
# default serial run, always run by scripts/partest.py (see conftest).

from dask_glm_spark.operators import solvers
from dask_glm_spark.operators.model_selection import regularization_path
from dask_glm_spark.sources.datasets import make_classification


@pytest.fixture(scope="module")
def data(spark):
    df, X, y = make_classification(
        spark, n_samples=400, n_features=4, seed=2024, npartitions=4
    )
    df = df.persist()
    yield df
    df.unpersist()


@pytest.mark.slow
def test_path_matches_cold_fits(data):
    lams = [2.0, 0.5, 0.1]
    path = regularization_path(
        data, lams, solver="proximal_grad", regularizer="l1",
        max_iter=250, tol=1e-12, accelerate=True,
    )
    assert path.shape == (3, 4)
    for lam, warm_beta in zip(lams, path):
        cold = solvers.proximal_grad(
            data, regularizer="l1", lamduh=lam, max_iter=250, tol=1e-12,
            accelerate=True,
        )
        np.testing.assert_allclose(warm_beta, cold, atol=5e-4, rtol=0)


@pytest.mark.slow
def test_path_l1_sparsity_monotone(data):
    # heavier λ → no fewer zeros; a big-enough λ kills every coefficient
    lams = [1000.0, 5.0, 0.01]
    path = regularization_path(
        data, lams, solver="proximal_grad", regularizer="l1",
        max_iter=300, tol=1e-12, accelerate=True,
    )
    nnz = [(np.abs(b) > 1e-8).sum() for b in path]
    assert nnz[0] == 0
    assert nnz[0] <= nnz[1] <= nnz[2]


@pytest.mark.slow
def test_path_input_order_preserved(data):
    lams = [0.1, 2.0]  # ascending input; fits run descending internally
    path = regularization_path(
        data, lams, solver="lbfgs", regularizer="l2", max_iter=200,
    )
    direct_01 = solvers.lbfgs(
        data, regularizer="l2", lamduh=0.1, max_iter=200
    )
    np.testing.assert_allclose(path[0], direct_01, atol=1e-3, rtol=0)


@pytest.mark.slow
def test_path_hoisted_moments_bit_exact(data):
    """regularization_path builds ONE block cache (its moments folded in)
    and passes it to every fit as ``_blocks`` instead of a per-fit build.
    The cache holds the identical blocks and moments each per-fit build
    would compute over the same frame, so the path must equal a manual
    warm-started per-fit loop (which still builds per fit) BIT-exactly —
    not merely to tolerance."""
    lams = [0.3, 0.1]
    path = regularization_path(
        data, lams, solver="proximal_grad", regularizer="l1", max_iter=7,
    )
    prev = None
    for lam, row in zip(lams, path):  # descending order == input order here
        kw = {} if prev is None else {"init_beta": prev}
        beta = solvers.proximal_grad(
            data, regularizer="l1", lamduh=lam, max_iter=7, **kw
        )
        assert np.array_equal(row, np.asarray(beta, dtype=np.float64))
        prev = beta


def test_path_validation(data):
    with pytest.raises(ValueError, match="solver"):
        regularization_path(data, [0.1], solver="newton")
    with pytest.raises(ValueError, match="non-empty"):
        regularization_path(data, [])
    with pytest.raises(ValueError, match=">= 0"):
        regularization_path(data, [-1.0])


@pytest.mark.slow
def test_path_warm_equals_cold_sweep(data):
    # warm=False is the A/B face: same answers, independent starts
    lams = [1.0, 0.2]
    a = regularization_path(
        data, lams, solver="lbfgs", regularizer="l2", max_iter=300,
        tol=1e-10,
    )
    b = regularization_path(
        data, lams, solver="lbfgs", regularizer="l2", max_iter=300,
        tol=1e-10, warm=False,
    )
    np.testing.assert_allclose(a, b, atol=1e-4, rtol=0)


# ---------------------------------------------------------------------------
# round 12: CV λ selection (cv.glmnet analogue)
# ---------------------------------------------------------------------------
@pytest.mark.slow
def test_cv_lamduh_selects_small_lambda_on_informative_data(data):
    """On clearly informative data, a tiny λ must beat a CRUSHING one on
    held-out NLL, and the returned artifacts have the declared shapes.
    (The loss is a row-SUM, so λ must rival ||∇L(0)||_∞ ≈ n/2-scale to
    zero the fit — λ=200 does at n=400; a mildly-shrinking λ can
    legitimately win CV, which an earlier λ=5 draft of this test
    re-discovered.)"""
    from dask_glm_spark.operators.model_selection import cv_lamduh

    lams = [200.0, 0.01]
    out = cv_lamduh(
        data, lams, solver="proximal_grad", regularizer="l1",
        n_folds=3, max_iter=150, tol=1e-10, accelerate=True,
    )
    assert out["best_lamduh"] == 0.01
    assert out["mean_test_loss"].shape == (2,)
    assert out["fold_test_loss"].shape == (3, 2)
    assert out["betas"].shape == (2, 4)
    # held-out NLL at λ=200 (all-zero fit, ~ln 2/row) is strictly worse
    assert out["mean_test_loss"][0] > out["mean_test_loss"][1]
    # λ=200 crushes everything to zero; λ=0.01 keeps signal
    assert np.abs(out["betas"][0]).max() < 1e-8
    assert np.abs(out["betas"][1]).max() > 1e-3


@pytest.mark.slow
def test_cv_lamduh_deterministic_across_partitionings(data):
    """Content-hash folds: identical losses regardless of layout."""
    from dask_glm_spark.operators.model_selection import cv_lamduh

    kw = dict(
        solver="proximal_grad", regularizer="l1", n_folds=3,
        max_iter=60, tol=1e-10, accelerate=True,
    )
    a = cv_lamduh(data, [0.5, 0.05], **kw)
    b = cv_lamduh(data.repartition(11), [0.5, 0.05], **kw)
    np.testing.assert_allclose(
        a["fold_test_loss"], b["fold_test_loss"], rtol=1e-9
    )
    assert a["best_lamduh"] == b["best_lamduh"]


@pytest.mark.slow
def test_cv_lamduh_wiring_matches_manual_loop(spark, data):
    """Integration twin: the per-fold held-out losses equal a manual
    regularization_path + kernels.multi_loss loop over the same
    xxhash64 folds."""
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels
    from dask_glm_spark.functions.families import Logistic
    from dask_glm_spark.operators.model_selection import (
        cv_lamduh,
        regularization_path,
    )

    lams = [0.5, 0.05]
    kw = dict(max_iter=60, tol=1e-10, accelerate=True)
    out = cv_lamduh(
        data, lams, solver="proximal_grad", regularizer="l1",
        n_folds=3, **kw,
    )
    folded = data.withColumn(
        "_cvfold", F.pmod(F.xxhash64("features", "label"), F.lit(3))
    )
    for i in range(3):
        train = folded.where(F.col("_cvfold") != i).drop("_cvfold")
        test = folded.where(F.col("_cvfold") == i).drop("_cvfold")
        betas = regularization_path(
            train, lams, solver="proximal_grad", regularizer="l1", **kw
        )
        losses = kernels.multi_loss(
            test, Logistic, [betas[0], betas[1]]
        ) / float(test.count())
        np.testing.assert_allclose(out["fold_test_loss"][i], losses, rtol=1e-9)


def test_cv_lamduh_validation(data):
    from dask_glm_spark.operators.model_selection import cv_lamduh

    with pytest.raises(ValueError, match="non-empty"):
        cv_lamduh(data, [])
    with pytest.raises(ValueError, match="n_folds"):
        cv_lamduh(data, [0.1], n_folds=1)


@pytest.mark.slow
def test_cv_lamduh_weighted_scoring(spark, data):
    """Review r12: held-out scoring must use the SAME weighted objective
    the fits minimize — fold losses equal the manual weighted
    multi_loss / Σw."""
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels
    from dask_glm_spark.functions.families import Logistic
    from dask_glm_spark.operators.model_selection import (
        cv_fold_column,
        cv_lamduh,
        regularization_path,
    )

    dfw = data.withColumn(
        "w", (F.abs(F.hash("label", F.col("features")[0])) % 3 + 1)
        .cast("double")
    )
    lams = [0.5, 0.05]
    kw = dict(max_iter=60, tol=1e-10, accelerate=True, weight_col="w")
    out = cv_lamduh(
        dfw, lams, solver="proximal_grad", regularizer="l1",
        n_folds=3, **kw,
    )
    folded = cv_fold_column(dfw, 3)
    for i in range(3):
        train = folded.where(F.col("_cvfold") != i).drop("_cvfold")
        test = folded.where(F.col("_cvfold") == i).drop("_cvfold")
        betas = regularization_path(
            train, lams, solver="proximal_grad", regularizer="l1", **kw
        )
        sw = float(test.agg(F.sum("w").alias("s")).first()["s"])
        losses = kernels.multi_loss(
            test, Logistic, [betas[0], betas[1]], weight_col="w"
        ) / sw
        np.testing.assert_allclose(
            out["fold_test_loss"][i], losses, rtol=1e-9
        )


@pytest.mark.slow
def test_softmax_regularization_path(spark):
    """Multinomial λ-path: monotone sparsity along descending λ, warm ≡
    cold endpoints, input order preserved."""
    from dask_glm_spark.operators.model_selection import (
        softmax_regularization_path,
    )
    from dask_glm_spark.operators.solvers import softmax_proximal

    import pandas as pd

    rng = np.random.RandomState(8)
    n, p, k = 400, 5, 3
    X = rng.standard_normal((n, p))
    Btrue = np.zeros((p, k))
    Btrue[0] = [1.2, -0.8, 0.0]
    Btrue[1] = [-0.6, 0.9, 0.0]
    Z = X @ Btrue
    Pm = np.exp(Z - Z.max(axis=1, keepdims=True))
    Pm /= Pm.sum(axis=1, keepdims=True)
    y = np.array([rng.choice(k, p=Pm[i]) for i in range(n)], dtype=np.float64)
    df = spark.createDataFrame(
        pd.DataFrame({"features": list(X), "label": y})
    ).repartition(4).persist()
    try:
        lams = [20.0, 2.0, 0.2]
        path = softmax_regularization_path(
            df, lams, k, regularizer="l1", max_iter=150, tol=1e-11,
            normalize=False,
        )
        assert path.shape == (3, p, k)
        # sparsity decreases as λ decreases
        nnz = [(np.abs(path[i]) > 1e-10).sum() for i in range(3)]
        assert nnz[0] <= nnz[1] <= nnz[2]
        # endpoint equals a cold standalone fit (same unique-enough optimum)
        cold = softmax_proximal(
            df, k, regularizer="l1", lamduh=0.2, max_iter=300, tol=1e-12,
            normalize=False,
        )
        np.testing.assert_allclose(path[2], cold, atol=2e-3)
    finally:
        df.unpersist()


# ---------------------------------------------------------------------------
# round 13: cv_lamduh for the softmax path (VERDICT r12 #6)
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def softmax_cv_data(spark):
    import pandas as pd

    rng = np.random.RandomState(9)
    n, p, k = 400, 5, 3
    X = rng.standard_normal((n, p))
    Btrue = np.zeros((p, k))
    Btrue[0] = [1.2, -0.8, 0.0]
    Btrue[1] = [-0.6, 0.9, 0.0]
    Z = X @ Btrue
    Pm = np.exp(Z - Z.max(axis=1, keepdims=True))
    Pm /= Pm.sum(axis=1, keepdims=True)
    y = np.array(
        [rng.choice(k, p=Pm[i]) for i in range(n)], dtype=np.float64
    )
    df = (
        spark.createDataFrame(pd.DataFrame({"features": list(X), "label": y}))
        .repartition(4)
        .persist()
    )
    yield df, k, p
    df.unpersist()


@pytest.mark.slow
def test_softmax_cv_lamduh_selects_small_lambda(softmax_cv_data):
    from dask_glm_spark.operators.model_selection import softmax_cv_lamduh

    df, k, p = softmax_cv_data
    lams = [500.0, 0.01]
    out = softmax_cv_lamduh(
        df, lams, k, regularizer="l1", n_folds=2, max_iter=80,
        tol=1e-10, normalize=False,
    )
    assert out["best_lamduh"] == 0.01
    assert out["mean_test_loss"].shape == (2,)
    assert out["fold_test_loss"].shape == (2, 2)
    assert out["betas"].shape == (2, p, k)
    assert out["mean_test_loss"][0] > out["mean_test_loss"][1]
    assert np.abs(out["betas"][0]).max() < 1e-8  # λ=500 crushes to zero
    assert np.abs(out["betas"][1]).max() > 1e-3


@pytest.mark.slow
def test_softmax_cv_lamduh_deterministic_across_layouts(softmax_cv_data):
    from dask_glm_spark.operators.model_selection import softmax_cv_lamduh

    df, k, p = softmax_cv_data
    kw = dict(
        regularizer="l1", n_folds=2, max_iter=40, tol=1e-10,
        normalize=False,
    )
    a = softmax_cv_lamduh(df, [1.0, 0.1], k, **kw)
    b = softmax_cv_lamduh(df.repartition(11), [1.0, 0.1], k, **kw)
    np.testing.assert_allclose(
        a["fold_test_loss"], b["fold_test_loss"], rtol=1e-9
    )
    assert a["best_lamduh"] == b["best_lamduh"]


@pytest.mark.slow
def test_softmax_cv_lamduh_matches_manual_loop(softmax_cv_data):
    """Integration twin: per-fold held-out losses equal a manual
    softmax_regularization_path + softmax_multi_loss loop over the same
    xxhash64 folds."""
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels
    from dask_glm_spark.operators.model_selection import (
        softmax_cv_lamduh,
        softmax_regularization_path,
    )

    df, k, p = softmax_cv_data
    lams = [1.0, 0.1]
    kw = dict(max_iter=40, tol=1e-10, normalize=False)
    out = softmax_cv_lamduh(
        df, lams, k, regularizer="l1", n_folds=2, **kw
    )
    folded = df.withColumn(
        "_cvfold", F.pmod(F.xxhash64("features", "label"), F.lit(2))
    )
    for i in range(2):
        train = folded.where(F.col("_cvfold") != i).drop("_cvfold")
        test = folded.where(F.col("_cvfold") == i).drop("_cvfold")
        betas = softmax_regularization_path(
            train, lams, k, regularizer="l1", **kw
        )
        losses = kernels.softmax_multi_loss(
            test, [betas[j] for j in range(len(lams))]
        ) / float(test.count())
        np.testing.assert_allclose(
            out["fold_test_loss"][i], losses, rtol=1e-9
        )


@pytest.mark.slow
def test_softmax_cv_lamduh_weighted_scoring(spark, softmax_cv_data):
    """weight_col routes into BOTH the fold fits and the held-out
    scoring: per-unit weighted NLL Σw·ll/Σw."""
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels
    from dask_glm_spark.operators.model_selection import (
        softmax_cv_lamduh,
        softmax_regularization_path,
    )

    df, k, p = softmax_cv_data
    dfw = df.withColumn(
        "w", (F.abs(F.xxhash64("features")) % 3 + 1).cast("double")
    ).persist()
    try:
        lams = [1.0, 0.1]
        kw = dict(max_iter=40, tol=1e-10, normalize=False, weight_col="w")
        out = softmax_cv_lamduh(
            dfw, lams, k, regularizer="l1", n_folds=2, **kw
        )
        folded = dfw.withColumn(
            "_cvfold", F.pmod(F.xxhash64("features", "label"), F.lit(2))
        )
        test0 = folded.where(F.col("_cvfold") == 0).drop("_cvfold")
        train0 = folded.where(F.col("_cvfold") != 0).drop("_cvfold")
        betas = softmax_regularization_path(
            train0, lams, k, regularizer="l1", **kw
        )
        sw = float(test0.agg(F.sum("w")).first()[0])
        losses = kernels.softmax_multi_loss(
            test0, [betas[j] for j in range(len(lams))], weight_col="w"
        ) / sw
        np.testing.assert_allclose(out["fold_test_loss"][0], losses, rtol=1e-9)
    finally:
        dfw.unpersist()


# ---------------------------------------------------------------------------
# batched λ-path (round 13): every λ's ISTA advanced by shared fused scans
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_batched_path_matches_sequential_cold(data):
    # batched runs the single fit's ISTA body over all λs, so it must land
    # on the same points as the cold (warm=False) sequential sweep
    lams = [0.5, 0.1, 0.02]
    kw = dict(regularizer="l1", max_iter=200, tol=1e-10)
    seq = regularization_path(
        data, lams, solver="proximal_grad", warm=False, **kw
    )
    bat = regularization_path(
        data, lams, solver="proximal_grad", batched=True, **kw
    )
    assert bat.shape == seq.shape == (3, 4)
    np.testing.assert_allclose(bat, seq, atol=1e-6, rtol=0)


@pytest.mark.slow
def test_batched_path_no_normalize_matches_sequential(data):
    lams = [0.3, 0.05]
    kw = dict(regularizer="l1", max_iter=200, tol=1e-10, normalize=False)
    seq = regularization_path(
        data, lams, solver="proximal_grad", warm=False, **kw
    )
    bat = regularization_path(
        data, lams, solver="proximal_grad", batched=True, **kw
    )
    np.testing.assert_allclose(bat, seq, atol=1e-6, rtol=0)


@pytest.mark.parametrize("batched", [True, False])
@pytest.mark.slow
def test_batched_path_sparse_matches_dense(data, batched):
    # both path modes run wide-sparse input on the sparse solver body
    # (sequential: proximal_grad_sparse per λ)
    from dask_glm_spark.sources.vectors import to_sparse_columns

    lams = [0.3, 0.05]
    kw = dict(regularizer="l1", max_iter=200, tol=1e-10)
    dense = regularization_path(
        data, lams, solver="proximal_grad", batched=batched,
        normalize=False, **kw
    )
    sdf = to_sparse_columns(data.select("features", "label"))
    sparse = regularization_path(
        sdf, lams, solver="proximal_grad", batched=batched, **kw
    )
    np.testing.assert_allclose(sparse, dense, atol=1e-8, rtol=0)


def test_batched_path_fit_info_and_validation(data):
    fi = {}
    out = regularization_path(
        data, [1000.0, 0.1], solver="proximal_grad", batched=True,
        regularizer="l1", max_iter=50, tol=1e-8, fit_info=fi,
    )
    assert out.shape == (2, 4)
    per = fi["per_lamduh"]
    assert len(per) == 2
    assert all({"n_iter", "converged"} <= set(d) for d in per)
    # λ=1000 crushes everything to zero
    assert np.abs(out[0]).max() < 1e-10
    with pytest.raises(ValueError, match="proximal_grad"):
        regularization_path(
            data, [0.1], solver="lbfgs", batched=True
        )
    with pytest.raises(ValueError, match="non-empty"):
        regularization_path(data, [], batched=True)
    with pytest.raises(ValueError, match=">= 0"):
        regularization_path(data, [-0.1], batched=True)


@pytest.mark.slow
def test_cv_lamduh_batched_forwarding(data):
    # batched=True rides **kwargs into every per-fold path AND the
    # full-data refit — selection still lands on the informative λ
    from dask_glm_spark.operators.model_selection import cv_lamduh

    out = cv_lamduh(
        data, [500.0, 0.01], regularizer="l1", n_folds=2, max_iter=80,
        tol=1e-10, normalize=False, batched=True,
    )
    assert out["best_lamduh"] == 0.01
    assert out["betas"].shape == (2, 4)
    assert out["fold_test_loss"].shape == (2, 2)
    assert np.abs(out["betas"][0]).max() < 1e-8


def _numpy_logistic(seed, n, beta):
    """Logistic loss/gradient closures over a numpy design (the
    families.py formulas): ``multi_lg(cands) -> (losses, grads (p, c))``."""
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, len(beta)))
    yv = (rng.random(n) < 1 / (1 + np.exp(-(X @ beta)))).astype(float)

    def lg(b):
        xb = X @ b
        loss = float(np.sum(np.logaddexp(0, xb) - yv * xb))
        grad = X.T @ (1 / (1 + np.exp(-xb)) - yv)
        return loss, grad

    def multi_lg(cands):
        pairs = [lg(np.asarray(c)) for c in cands]
        return (
            np.array([p[0] for p in pairs]),
            np.column_stack([p[1] for p in pairs]),
        )

    return multi_lg


def _assert_multi_lambda_equals_single(body, multi_lg, p, lams, max_iter, tol):
    # No Spark: ONE multi-λ call of the body (the batched λ-path's
    # candidate budget) against one-λ calls with the single-fit budget,
    # driven by the SAME numpy closures. Co-evaluating λs only changes
    # which scan evaluates a candidate, never which candidate is
    # accepted — so the iterates must be EXACTLY equal (==, not allclose)
    # for every λ, including backtracking and stopping.
    from dask_glm_spark.operators.model_selection import _BATCH_PROBE_TOTAL

    infos = [{} for _ in lams]
    batched = body(
        multi_lg, multi_lg, p, "l1", lams, max_iter, tol, None, infos,
        _BATCH_PROBE_TOTAL,
    )
    for i, lam in enumerate(lams):
        info = {}
        (single,) = body(
            multi_lg, multi_lg, p, "l1", [lam], max_iter, tol, None, [info],
            solvers.PROBE_BATCH,
        )
        assert np.array_equal(batched[i], single), (
            f"λ={lam}: batched {batched[i]} != single {single}"
        )
        assert infos[i] == info
    assert all({"n_iter", "converged"} <= set(d) for d in infos)


def test_batched_core_bitwise_mirrors_prox_loop():
    multi_lg = _numpy_logistic(42, 200, [1, -2, 0.5, 0, 3])
    _assert_multi_lambda_equals_single(
        solvers._ista, multi_lg, 5, [3.0, 0.5, 0.05, 0.0], 60, 1e-9
    )


def test_batched_fista_core_bitwise_mirrors_fista_loop():
    # accelerate=True twin (momentum, majorization acceptance, and
    # full-objective stopping included)
    multi_lg = _numpy_logistic(3, 150, [2, -1, 0, 0.5])
    _assert_multi_lambda_equals_single(
        solvers._fista, multi_lg, 4, [2.0, 0.3, 0.01], 80, 1e-10
    )


@pytest.mark.slow
def test_batched_path_accelerate_matches_sequential(data):
    # Spark integration: batched+accelerate lands on the same optima as
    # the cold sequential FISTA sweep
    lams = [0.5, 0.05]
    kw = dict(
        regularizer="l1", max_iter=250, tol=1e-12, normalize=False,
        accelerate=True,
    )
    seq = regularization_path(
        data, lams, solver="proximal_grad", warm=False, **kw
    )
    bat = regularization_path(
        data, lams, solver="proximal_grad", batched=True, **kw
    )
    np.testing.assert_allclose(bat, seq, atol=1e-6, rtol=0)


@pytest.mark.slow
def test_softmax_cv_lamduh_batched_forwarding(softmax_cv_data):
    # batched=True rides **kwargs into every per-fold softmax path and
    # the full-data refit
    from dask_glm_spark.operators.model_selection import softmax_cv_lamduh

    df, k, p = softmax_cv_data
    out = softmax_cv_lamduh(
        df, [500.0, 0.01], k, regularizer="l1", n_folds=2, max_iter=60,
        tol=1e-10, normalize=False, batched=True,
    )
    assert out["best_lamduh"] == 0.01
    assert out["betas"].shape == (2, p, k)
    assert np.abs(out["betas"][0]).max() < 1e-8
