"""Estimator API tests (``dask_glm/tests/test_estimators.py``, SURVEY §5.4)."""

import numpy as np
import pytest

# Tests measured at >= 4 s each carry their own ``slow`` mark: skipped by
# the default serial run, always run by scripts/partest.py (see conftest).

from dask_glm_spark import LinearRegression, LogisticRegression, PoissonRegression
from dask_glm_spark.sources.datasets import (
    make_classification,
    make_poisson,
    make_regression,
)


@pytest.fixture(scope="module")
def cls_data(spark):
    df, _, _ = make_classification(spark, n_samples=400, n_features=3, seed=20009,
                                  npartitions=4)
    return df.persist()


@pytest.mark.parametrize(
    "fit_intercept", [pytest.param(True, marks=pytest.mark.slow), False]
)
def test_logistic_fit_predict(cls_data, fit_intercept):
    lr = LogisticRegression(
        solver="lbfgs", regularizer=None, fit_intercept=fit_intercept
    ).fit(cls_data)
    assert len(lr.coef_) == 3
    assert (lr.intercept_ is not None) == fit_intercept
    pred = lr.predict(cls_data)
    # lazy DataFrame contract; probabilities in (0,1); predictions binary
    rows = pred.select("probability", "prediction").collect()
    assert all(0.0 < r["probability"] < 1.0 for r in rows)
    assert set(r["prediction"] for r in rows) <= {0.0, 1.0}
    assert 0.5 <= lr.score(cls_data) <= 1.0


@pytest.mark.slow
def test_solver_kwarg_routing(cls_data):
    # admm must not receive tol; newton must not receive regularizer
    for solver in ["admm", "newton", "lbfgs", "proximal_grad", "gradient_descent"]:
        est = LogisticRegression(solver=solver, max_iter=3)
        kw = est._routed_kwargs()
        if solver == "admm":
            assert "tol" not in kw and "rho" in kw
        elif solver in ("lbfgs", "proximal_grad"):
            assert "regularizer" in kw and "rho" not in kw
        else:
            assert "regularizer" not in kw
        est.fit(cls_data)  # smoke: every solver runs through the estimator


def test_linear_regression_score_is_mse(spark):
    df, _, _ = make_regression(spark, n_samples=300, n_features=3, seed=90210,
                              npartitions=3)
    df = df.persist()
    est = LinearRegression(solver="lbfgs", regularizer=None).fit(df)
    # reference quirk: score == MSE (lower is better), NOT R^2
    mse = est.score(df)
    assert 0.0 <= mse < 1.0  # y ~ U(0,1): MSE of any fit is < var-ish bound
    df.unpersist()


def test_poisson_regression_deviance(spark):
    df, _, _ = make_poisson(spark, n_samples=300, n_features=3, seed=70605,
                           npartitions=3)
    df = df.persist()
    est = PoissonRegression(solver="lbfgs", regularizer=None).fit(df)
    dev = est.get_deviance(df)
    assert np.isfinite(dev) and dev >= 0
    pred = est.predict(df)
    assert all(r["prediction"] > 0 for r in pred.select("prediction").collect())
    df.unpersist()


def test_sklearn_style_clone_params(cls_data):
    est = LogisticRegression(solver="lbfgs", lamduh=0.5)
    params = est.get_params()
    est2 = LogisticRegression(**params)
    assert est2.get_params() == params
    est2.set_params(lamduh=2.0)
    assert est2.lamduh == 2.0


@pytest.mark.slow
def test_dense_fit_intercept_scores_sparse_input(spark):
    """Review r5: a dense fit with fit_intercept=True must apply the
    intercept when scoring wide-sparse (findices/fvalues) input."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_glm_spark.sources import vectors as V

    rng = np.random.RandomState(9)
    X = rng.standard_normal((300, 4))
    beta = np.array([0.8, -0.5, 0.3, 0.1])
    y = (1 / (1 + np.exp(-(X @ beta + 1.5))) > rng.uniform(size=300)).astype(float)
    rows = [([float(v) for v in X[i]], float(y[i])) for i in range(300)]
    dense = spark.createDataFrame(rows, "features array<double>, label double")
    lr = LogisticRegression(solver="lbfgs", regularizer=None, fit_intercept=True).fit(
        dense, normalize=False
    )
    sp = V.to_sparse_columns(dense)
    p_dense = [r["probability"] for r in
               lr.predict_proba(dense).orderBy(F.col("probability")).collect()]
    p_sparse = [r["probability"] for r in
                lr.predict_proba(sp).orderBy(F.col("probability")).collect()]
    np.testing.assert_allclose(p_sparse, p_dense, rtol=1e-12)


class TestMulticlassLogistic:
    """Beyond-reference OvR multiclass (the reference's predict is
    binary-only with a 'multiclass broken' TODO, estimators.py:146)."""

    @staticmethod
    def _blobs(spark, labels=(0, 1, 2)):
        rng = np.random.RandomState(5)
        centers = np.array([[3, 0], [-3, 2], [0, -4]], dtype=np.float64)
        rows = []
        for k, lab in enumerate(labels):
            X = centers[k] + rng.standard_normal((60, 2))
            rows += [(lab, [float(a), float(b)]) for a, b in X]
        lab_t = "string" if isinstance(labels[0], str) else "long"
        return spark.createDataFrame(rows, f"label {lab_t}, features array<double>")

    @pytest.mark.slow
    def test_fit_predict_separable_blobs(self, spark):
        from dask_glm_spark.operators.estimators import MulticlassLogisticRegression

        df = self._blobs(spark)
        m = MulticlassLogisticRegression(solver="lbfgs", regularizer=None).fit(df)
        assert m.classes_ == [0, 1, 2]
        assert m.coefs_.shape == (3, 2)
        assert m.score(df) > 0.95
        probs = m.predict_proba(df).select("probabilities").first()[0]
        assert len(probs) == 3
        assert abs(sum(probs) - 1.0) < 1e-9
        assert all(p > 0 for p in probs)

    @pytest.mark.slow
    def test_string_labels_and_ovr_parity(self, spark):
        """String labels work, and each OvR column equals the standalone
        binary fit on the same relabeling (same solver, same data)."""
        from dask_glm_spark.operators.estimators import (
            LogisticRegression,
            MulticlassLogisticRegression,
        )
        from pyspark.sql import functions as F

        df = self._blobs(spark, labels=("ant", "bee", "cat"))
        m = MulticlassLogisticRegression(solver="lbfgs", regularizer=None).fit(df)
        assert m.classes_ == ["ant", "bee", "cat"]
        pred = m.predict(df).select("label", "prediction").collect()
        acc = sum(r["label"] == r["prediction"] for r in pred) / len(pred)
        assert acc > 0.95
        bin_df = df.withColumn(
            "label", (F.col("label") == "bee").cast("double")
        )
        b = LogisticRegression(solver="lbfgs", regularizer=None).fit(bin_df)
        np.testing.assert_allclose(m.coefs_[1], b.coef_, rtol=1e-6, atol=1e-8)

    def test_single_class_raises(self, spark):
        from dask_glm_spark.operators.estimators import MulticlassLogisticRegression

        df = self._blobs(spark, labels=(7,)).where("label = 7")
        with pytest.raises(ValueError, match="classes"):
            MulticlassLogisticRegression(solver="lbfgs").fit(df)


class TestModelPersistence:
    @pytest.mark.slow
    def test_binary_roundtrip_predict_parity(self, spark, tmp_path):
        from dask_glm_spark.operators.estimators import (
            LogisticRegression,
            load_model,
            save_model,
        )

        df = TestMulticlassLogistic._blobs(spark, labels=(0, 1))
        m = LogisticRegression(solver="lbfgs", regularizer=None).fit(df)
        p = str(tmp_path / "m.json")
        save_model(m, p)
        m2 = load_model(p)
        assert type(m2) is LogisticRegression
        np.testing.assert_array_equal(m2._coef, m._coef)
        a = m.predict(df).select("probability").collect()
        b = m2.predict(df).select("probability").collect()
        assert a == b

    @pytest.mark.slow
    def test_multiclass_roundtrip(self, spark, tmp_path):
        from dask_glm_spark.operators.estimators import (
            MulticlassLogisticRegression,
            load_model,
            save_model,
        )

        df = TestMulticlassLogistic._blobs(spark)
        m = MulticlassLogisticRegression(solver="lbfgs", regularizer=None).fit(df)
        p = str(tmp_path / "mc.json")
        save_model(m, p)
        m2 = load_model(p)
        assert m2.classes_ == m.classes_
        np.testing.assert_array_equal(m2.coefs_, m.coefs_)
        assert m2.score(df) == m.score(df)

    def test_unfit_and_unknown(self, tmp_path):
        from dask_glm_spark.operators.estimators import (
            LinearRegression,
            load_model,
            model_from_dict,
            save_model,
        )

        m = LinearRegression(solver="newton", max_iter=7)
        p = str(tmp_path / "unfit.json")
        save_model(m, p)
        m2 = load_model(p)
        assert m2.max_iter == 7 and m2._coef is None
        with pytest.raises(ValueError, match="unknown estimator"):
            model_from_dict({"estimator": "Nope", "params": {}})


class TestSoftmaxRegression:
    """True multinomial softmax (jointly-normalized; one fused scan per
    L-BFGS evaluation) — VERDICT r6 gap #1."""

    @pytest.mark.slow
    def test_fit_predict_separable_blobs(self, spark):
        from dask_glm_spark import SoftmaxRegression

        df = TestMulticlassLogistic._blobs(spark)
        m = SoftmaxRegression(solver="lbfgs", regularizer=None).fit(df)
        assert m.classes_ == [0, 1, 2]
        assert m.coefs_.shape == (3, 2)
        assert m.score(df) > 0.95
        probs = m.predict_proba(df).select("probabilities").first()[0]
        assert len(probs) == 3
        assert abs(sum(probs) - 1.0) < 1e-12
        assert all(p > 0 for p in probs)

    @pytest.mark.slow
    def test_matches_driver_numpy_softmax_fit(self, spark):
        """Distributed fused-scan fit == in-memory numpy fit of the SAME
        objective (normalize=False, L2 so the optimum is unique)."""
        from dask_glm_spark import SoftmaxRegression
        from dask_glm_spark.functions.optimize import fmin_l_bfgs_b

        df = TestMulticlassLogistic._blobs(spark)
        m = SoftmaxRegression(
            solver="lbfgs", regularizer="l2", lamduh=0.1, tol=1e-10
        ).fit(df, normalize=False)

        pdf = df.toPandas()
        X = np.array(pdf["features"].tolist())
        Xi = np.hstack([X, np.ones((len(X), 1))])
        y = pdf["label"].to_numpy().astype(np.int64)
        p, k = Xi.shape[1], 3

        def obj(bflat):
            B = bflat.reshape(p, k)
            Z = Xi @ B
            mx = Z.max(axis=1, keepdims=True)
            ez = np.exp(Z - mx)
            se = ez.sum(axis=1)
            lse = mx[:, 0] + np.log(se)
            rows = np.arange(len(y))
            loss = (lse - Z[rows, y]).sum() + 0.1 * 0.5 * (bflat**2).sum()
            P = ez / se[:, None]
            P[rows, y] -= 1.0
            return loss, (Xi.T @ P).ravel() + 0.1 * bflat

        bref, _, _ = fmin_l_bfgs_b(obj, np.zeros(p * k), pgtol=1e-10)
        Bref = bref.reshape(p, k)
        got = np.column_stack(m._coefs)
        np.testing.assert_allclose(got, Bref, rtol=1e-4, atol=1e-6)

    @pytest.mark.slow
    def test_two_class_probabilities_match_binary(self, spark):
        """k=2 softmax probabilities == binary sigmoid fit's (same data, no
        regularizer, both converged): P(1) = sigmoid(z1 - z0)."""
        from dask_glm_spark import LogisticRegression, SoftmaxRegression
        from pyspark.sql import functions as F

        df = TestMulticlassLogistic._blobs(spark, labels=(0, 1))
        sm = SoftmaxRegression(
            solver="lbfgs", regularizer=None, tol=1e-10
        ).fit(df)
        b = LogisticRegression(
            solver="lbfgs", regularizer=None, tol=1e-10
        ).fit(df.withColumn("label", F.col("label").cast("double")))
        ps = [
            r["probabilities"][1]
            for r in sm.predict_proba(df).orderBy("label").collect()
        ]
        pb = [
            r["probability"]
            for r in b.predict(df.withColumn("label", F.col("label").cast("double")))
            .orderBy("label")
            .collect()
        ]
        np.testing.assert_allclose(ps, pb, atol=2e-4)

    @pytest.mark.slow
    def test_string_labels_and_roundtrip(self, spark, tmp_path):
        from dask_glm_spark import SoftmaxRegression
        from dask_glm_spark.operators.estimators import load_model, save_model

        df = TestMulticlassLogistic._blobs(spark, labels=("ant", "bee", "cat"))
        m = SoftmaxRegression(solver="lbfgs", regularizer=None).fit(df)
        assert m.classes_ == ["ant", "bee", "cat"]
        assert m.score(df) > 0.95
        p = str(tmp_path / "sm.json")
        save_model(m, p)
        m2 = load_model(p)
        assert type(m2) is SoftmaxRegression
        np.testing.assert_array_equal(m2.coefs_, m.coefs_)
        assert m2.score(df) == m.score(df)

    def test_unsupported_solver_raises(self, spark):
        from dask_glm_spark import SoftmaxRegression

        df = TestMulticlassLogistic._blobs(spark)
        with pytest.raises(NotImplementedError, match="lbfgs"):
            SoftmaxRegression(solver="admm").fit(df)


def test_logistic_get_auc(cls_data):
    """get_auc == driver-side rank-sum oracle on the fitted probabilities,
    and a good fit separates (auc well above 0.5)."""
    import numpy as np

    from dask_glm_spark.functions.metrics import roc_auc_score_np

    lr = LogisticRegression(solver="lbfgs", regularizer=None).fit(cls_data)
    got = lr.get_auc(cls_data)
    rows = lr.predict_proba(cls_data).select("label", "probability").collect()
    want = roc_auc_score_np(
        np.array([r["label"] for r in rows]),
        np.array([r["probability"] for r in rows]),
    )
    assert abs(got - want) < 1e-12
    assert got > 0.7


def test_confusion_matrix_matches_oracle(spark):
    from dask_glm_spark.functions.metrics import (
        confusion_matrix,
        confusion_matrix_np,
    )

    rows = [(["a", "b", "c"][i % 3], ["a", "b", "c"][(i * 2) % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, "y string, yhat string").repartition(7)
    got = {
        (r["truth"], r["prediction"]): r["n"]
        for r in confusion_matrix(df, "y", "yhat").collect()
    }
    assert got == confusion_matrix_np(*zip(*rows))
    # diagonal sum == accuracy numerator
    assert sum(n for (t, p), n in got.items() if t == p) == sum(
        1 for t, p in rows if t == p
    )


def test_precision_recall_f1(spark):
    from dask_glm_spark.functions.metrics import precision_recall_f1

    #        pred:  a  a  b  b  b  c
    # truth:        a  b  b  b  c  c   -> a: tp1/p2/t1, b: tp2/p3/t3, c: tp1/p1/t2
    rows = [("a", "a"), ("b", "a"), ("b", "b"), ("b", "b"), ("c", "b"), ("c", "c")]
    df = spark.createDataFrame(rows, "y string, yhat string")
    got = precision_recall_f1(df, "y", "yhat")
    assert got["a"] == {"precision": 0.5, "recall": 1.0, "f1": 2/3, "support": 1}
    assert got["b"]["precision"] == 2/3 and got["b"]["recall"] == 2/3
    assert got["c"] == {"precision": 1.0, "recall": 0.5, "f1": 2/3, "support": 2}
    # a class never predicted: precision/f1 0, recall 0
    df2 = spark.createDataFrame([("a", "b"), ("b", "b")], "y string, yhat string")
    g2 = precision_recall_f1(df2, "y", "yhat")
    assert g2["a"] == {"precision": 0.0, "recall": 0.0, "f1": 0.0, "support": 1}


@pytest.mark.slow
def test_cross_val_score_deterministic_folds(spark):
    from dask_glm_spark import LogisticRegression
    from dask_glm_spark.operators.estimators import cross_val_score
    from dask_glm_spark.sources.glm_source import load_glm_fast

    df = load_glm_fast(spark, "/root/testdata/sf0.001")
    mk = lambda: LogisticRegression(
        solver="lbfgs", regularizer=None, fit_intercept=False, max_iter=20
    )
    a = cross_val_score(mk, df, n_folds=3)
    assert len(a) == 3 and all(0.0 <= s <= 1.0 for s in a)
    # layout independence: same folds, same scores
    b = cross_val_score(mk, df.repartition(11), n_folds=3)
    import numpy as np
    np.testing.assert_allclose(a, b, atol=1e-8)
