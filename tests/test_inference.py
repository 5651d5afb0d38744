"""Wald inference (``summary()`` / ``glm_summary``) — beyond-reference,
round 11. MLlib GLR's ``summary`` is the independent oracle: zero shared
code (JVM IRLS + breeze inverse + commons-math distributions vs our
kernels + numpy pinv + lgamma continued fraction), same statistical
contract (Cov = φ·(XᵀWX)⁻¹; z for binomial/poisson, t with Pearson
dispersion for gaussian/gamma/tweedie)."""

from __future__ import annotations

import numpy as np
import pytest

# Tests that take >= 4 s each are marked slow one by one: skipped by the
# default serial run, always run by scripts/partest.py (see conftest).

from dask_glm_spark import (
    GammaRegression,
    LinearRegression,
    LogisticRegression,
    PoissonRegression,
    TweedieRegression,
)
from dask_glm_spark.functions import inference


def _mllib_glr(df, **kw):
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.regression import GeneralizedLinearRegression

    cols = ["label"]
    if "weightCol" in kw:
        cols.append(kw["weightCol"])
    mdf = df.select(array_to_vector("features").alias("features"), *cols)
    return GeneralizedLinearRegression(
        regParam=0.0, fitIntercept=True, tol=1e-12, maxIter=200, **kw
    ).fit(mdf)


def _check_against_mllib(ours, theirs, se_rtol=2e-3, p_atol=2e-3,
                         check_dev=True):
    # MLlib order: coefficients then intercept — same as our _coef layout
    se_m = np.asarray(theirs.summary.coefficientStandardErrors)
    p_m = np.asarray(theirs.summary.pValues)
    np.testing.assert_allclose(ours.std_errors, se_m, rtol=se_rtol)
    np.testing.assert_allclose(ours.p_values, p_m, atol=p_atol)
    if check_dev:
        # deviance at our β vs theirs at their β: flat at the optimum,
        # so the 1e-4 coefficient agreement gives ~1e-8 relative here;
        # null deviance is fit-independent
        assert ours.deviance == pytest.approx(
            theirs.summary.deviance, rel=1e-6
        )
        assert ours.null_deviance == pytest.approx(
            theirs.summary.nullDeviance, rel=1e-6
        )


# ---------------------------------------------------------------------------
# special functions
# ---------------------------------------------------------------------------
def test_special_functions_sanity():
    assert inference.students_t_sf(0.0, 7.0) == pytest.approx(0.5)
    # symmetry
    assert inference.students_t_sf(-1.3, 5.0) == pytest.approx(
        1.0 - inference.students_t_sf(1.3, 5.0), rel=1e-12
    )
    # large df -> normal
    for z in (0.5, 1.0, 2.0, 3.0):
        assert inference.students_t_sf(z, 1e6) == pytest.approx(
            inference.normal_sf(z), rel=1e-4
        )
    # t(1) is Cauchy: P(T > 1) = 1/4
    assert inference.students_t_sf(1.0, 1.0) == pytest.approx(0.25, rel=1e-10)
    # I_x(a,b) + I_{1-x}(b,a) = 1
    assert inference.reg_inc_beta(2.5, 0.5, 0.3) + inference.reg_inc_beta(
        0.5, 2.5, 0.7
    ) == pytest.approx(1.0, rel=1e-12)


# ---------------------------------------------------------------------------
# family-by-family MLlib cross-checks
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def cls_data(spark):
    rng = np.random.RandomState(77)
    n = 600
    X = rng.standard_normal((n, 3)) * 0.8
    z = X @ np.array([0.9, -0.6, 0.3]) - 0.2
    y = (1 / (1 + np.exp(-z)) > rng.uniform(size=n)).astype(np.float64)
    rows = [([float(v) for v in X[i]], float(y[i])) for i in range(n)]
    df = spark.createDataFrame(
        rows, "features array<double>, label double"
    ).repartition(4).persist()
    yield df
    df.unpersist()


@pytest.mark.slow
def test_logistic_summary_vs_mllib(cls_data):
    est = LogisticRegression(solver="newton", max_iter=100, tol=1e-10).fit(
        cls_data
    )
    s = est.summary(cls_data)
    assert s.statistic_kind == "z" and s.dispersion_fixed
    assert s.dispersion == 1.0
    theirs = _mllib_glr(cls_data, family="binomial")
    _check_against_mllib(s, theirs)


@pytest.mark.slow
def test_gaussian_summary_vs_mllib(spark):
    rng = np.random.RandomState(31)
    n = 500
    X = rng.standard_normal((n, 2))
    y = X @ np.array([1.5, -0.7]) + 0.4 + rng.standard_normal(n) * 0.8
    df = spark.createDataFrame(
        [([float(v) for v in X[i]], float(y[i])) for i in range(n)],
        "features array<double>, label double",
    ).repartition(4)
    est = LinearRegression(solver="newton", max_iter=50, tol=1e-12).fit(df)
    s = est.summary(df)
    assert s.statistic_kind == "t" and not s.dispersion_fixed
    theirs = _mllib_glr(df, family="gaussian")
    # gaussian dispersion: Pearson/(n-p) — MLlib reports it directly
    assert s.dispersion == pytest.approx(theirs.summary.dispersion, rel=1e-6)
    _check_against_mllib(s, theirs, se_rtol=1e-5, p_atol=1e-6)


@pytest.mark.slow
def test_poisson_summary_vs_mllib(spark):
    rng = np.random.RandomState(41)
    n = 500
    X = rng.standard_normal((n, 2)) * 0.5
    y = rng.poisson(np.exp(X @ np.array([0.7, -0.4]) + 0.5)).astype(float)
    df = spark.createDataFrame(
        [([float(v) for v in X[i]], float(y[i])) for i in range(n)],
        "features array<double>, label double",
    ).repartition(4)
    est = PoissonRegression(solver="newton", max_iter=100, tol=1e-10).fit(df)
    s = est.summary(df)
    assert s.statistic_kind == "z"
    theirs = _mllib_glr(df, family="poisson")
    _check_against_mllib(s, theirs)


@pytest.mark.slow
def test_gamma_summary_vs_mllib(spark):
    rng = np.random.RandomState(23)
    n = 500
    X = rng.standard_normal((n, 2)) * 0.4
    mu = np.exp(X @ np.array([0.6, -0.4]) + 0.5)
    y = rng.gamma(2.0, mu / 2.0)
    df = spark.createDataFrame(
        [([float(v) for v in X[i]], float(y[i])) for i in range(n)],
        "features array<double>, label double",
    ).repartition(4)
    est = GammaRegression(solver="newton", max_iter=100, tol=1e-10).fit(df)
    s = est.summary(df)
    assert s.statistic_kind == "t"
    theirs = _mllib_glr(df, family="gamma", link="log")
    assert s.dispersion == pytest.approx(theirs.summary.dispersion, rel=1e-4)
    _check_against_mllib(s, theirs)


@pytest.mark.slow
def test_tweedie_summary_vs_mllib(spark):
    rng = np.random.RandomState(17)
    n = 500
    X = rng.standard_normal((n, 2)) * 0.4
    mu = np.exp(X @ np.array([0.6, -0.4]) + 0.3)
    ncl = rng.poisson(mu / 1.2)
    y = np.where(ncl > 0, rng.gamma(ncl + 1e-12, 1.2), 0.0)
    df = spark.createDataFrame(
        [([float(v) for v in X[i]], float(y[i])) for i in range(n)],
        "features array<double>, label double",
    ).repartition(4)
    est = TweedieRegression(
        var_power=1.5, solver="newton", max_iter=100, tol=1e-10
    ).fit(df)
    s = est.summary(df)
    assert s.statistic_kind == "t"
    theirs = _mllib_glr(
        df, family="tweedie", variancePower=1.5, linkPower=0.0
    )
    assert s.dispersion == pytest.approx(theirs.summary.dispersion, rel=1e-4)
    # check_dev=False: MLlib's tweedie deviance substitutes max(y, 0.1)
    # inside y^(1-q) — the raw fixture HAS labels in (0, 0.1), so its
    # deviance is NOT the true unit deviance there (the quirk pinned in
    # test_tweedie.py::test_deviance_matches_mllib_summary); ours is.
    _check_against_mllib(s, theirs, check_dev=False)
    assert np.isfinite(s.deviance) and s.deviance < s.null_deviance


@pytest.mark.slow
def test_weighted_logistic_summary_vs_mllib(cls_data, spark):
    from pyspark.sql import functions as F

    dfw = cls_data.withColumn(
        "w", (F.abs(F.hash("label", F.col("features")[0])) % 3 + 1)
        .cast("double")
    ).persist()
    try:
        est = LogisticRegression(
            solver="newton", max_iter=100, tol=1e-10, weight_col="w"
        ).fit(dfw)
        s = est.summary(dfw)
        theirs = _mllib_glr(dfw, family="binomial", weightCol="w")
        _check_against_mllib(s, theirs)
    finally:
        dfw.unpersist()


def test_summary_requires_fit_and_dense(spark, cls_data):
    with pytest.raises(ValueError, match="fitted"):
        LogisticRegression().summary(cls_data)
    est = LogisticRegression(
        solver="lbfgs", regularizer=None, max_iter=50, fit_intercept=False
    ).fit(cls_data)
    sp = spark.createDataFrame(
        [([0, 2], [1.0, 1.0], 1.0)],
        "findices array<int>, fvalues array<double>, label double",
    )
    # round 12: the sparse rejection now points at the coords= surface
    with pytest.raises(NotImplementedError, match="coords"):
        est.summary(sp)


@pytest.mark.slow
def test_ovr_summary_per_class_equals_binary(spark):
    """MulticlassLogisticRegression.summary: each class's GLMSummary is
    exactly the binary logistic summary on the y==class indicator (OvR =
    per-class binary fits, so the inference must replicate too)."""
    from pyspark.sql import functions as F

    from dask_glm_spark import (
        MulticlassLogisticRegression,
        SoftmaxRegression,
    )

    rng = np.random.RandomState(55)
    n = 450
    X = rng.standard_normal((n, 2))
    y = (np.argmax(X @ rng.standard_normal((2, 3)), axis=1)).astype(float)
    df = spark.createDataFrame(
        [([float(v) for v in X[i]], float(y[i])) for i in range(n)],
        "features array<double>, label double",
    ).repartition(4).persist()
    try:
        ovr = MulticlassLogisticRegression(
            solver="newton", max_iter=100, tol=1e-10
        ).fit(df)
        summaries = ovr.summary(df)
        assert len(summaries) == len(ovr.classes_)
        c = ovr.classes_[1]
        bin_est = LogisticRegression(
            solver="newton", max_iter=100, tol=1e-10
        ).fit(
            df.withColumn(
                "label", (F.col("label") == F.lit(c)).cast("double")
            )
        )
        bs = bin_est.summary(
            df.withColumn(
                "label", (F.col("label") == F.lit(c)).cast("double")
            )
        )
        np.testing.assert_allclose(
            summaries[1].std_errors, bs.std_errors, rtol=1e-8
        )
        np.testing.assert_allclose(
            summaries[1].p_values, bs.p_values, atol=1e-10
        )
        # round 12: joint softmax summary exists now — the default
        # (penalized) config still refuses. (This fixture's labels are
        # argmax-SEPARABLE, so the unpenalized multinomial MLE diverges
        # and its information is legitimately rank-deficient — the MLE
        # summary path is exercised on non-separable data in the
        # round-12 softmax tests below.)
        sm = SoftmaxRegression(solver="lbfgs", max_iter=50).fit(df)
        with pytest.raises(ValueError, match="penalized"):
            sm.summary(df)
        sm_mle = SoftmaxRegression(
            solver="lbfgs", regularizer=None, max_iter=100
        ).fit(df)
        with pytest.raises(ValueError, match="rank-deficient"):
            sm_mle.summary(df)  # separation -> singular information
    finally:
        df.unpersist()


def _mllib_residuals(theirs, kind):
    pdf = theirs.summary.residuals(kind).toPandas()
    return pdf[pdf.columns[-1]].to_numpy()


@pytest.mark.slow
@pytest.mark.parametrize("kind", ["deviance", "pearson"])
def test_residuals_match_mllib(spark, cls_data, kind):
    """glm_residuals evaluated AT MLlib's own coefficients must equal
    MLlib summary.residuals row for row — an exact-formula oracle with
    no fit-difference slack (binomial, gaussian, poisson, gamma)."""
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import inference
    from dask_glm_spark.functions.families import (
        Gamma,
        Logistic,
        Normal,
        Poisson,
    )
    from dask_glm_spark.functions.kernels import add_intercept

    rng = np.random.RandomState(13)
    n = 300
    X = rng.standard_normal((n, 2)) * 0.5
    cases = []
    yb = (1 / (1 + np.exp(-(X @ [0.8, -0.5]))) > rng.uniform(size=n))
    cases.append(("binomial", {}, Logistic, yb.astype(float)))
    cases.append(
        ("gaussian", {}, Normal, X @ [1.0, -0.3] + rng.standard_normal(n))
    )
    cases.append(
        ("poisson", {}, Poisson,
         rng.poisson(np.exp(X @ [0.6, -0.3] + 0.2)).astype(float))
    )
    cases.append(
        ("gamma", {"link": "log"}, Gamma,
         rng.gamma(2.0, np.exp(X @ [0.5, -0.2] + 0.3) / 2.0))
    )
    for fam_name, extra_kw, fam, y in cases:
        df = spark.createDataFrame(
            [(i, [float(v) for v in X[i]], float(y[i])) for i in range(n)],
            "rid long, features array<double>, label double",
        )
        theirs = _mllib_glr(df, family=fam_name, **extra_kw)
        beta = list(theirs.coefficients.toArray()) + [theirs.intercept]
        got = (
            inference.glm_residuals(
                add_intercept(df), fam, beta, kind
            )
            .orderBy("rid")
            .select("residual")
            .toPandas()["residual"]
            .to_numpy()
        )
        want = _mllib_residuals(theirs, kind)
        np.testing.assert_allclose(
            got, want, rtol=1e-8, atol=1e-10,
            err_msg=f"{fam_name}/{kind}",
        )


def test_residuals_estimator_surface(cls_data):
    est = LogisticRegression(solver="newton", max_iter=50).fit(cls_data)
    r = est.residuals(cls_data)  # deviance default
    vals = np.array([row["residual"] for row in r.collect()])
    assert np.isfinite(vals).all()
    # sum of squared deviance residuals == total deviance relationship:
    # for logistic, equals 2*NLL at the fit up to the saturated term (0)
    with pytest.raises(ValueError, match="kind"):
        est.residuals(cls_data, kind="nope")


def test_quantile_functions_known_values():
    # classic table values, plus sf/isf round trips
    assert inference.normal_isf(0.025) == pytest.approx(
        1.959963985, abs=1e-8
    )
    assert inference.normal_isf(0.005) == pytest.approx(
        2.575829304, abs=1e-8
    )
    assert inference.students_t_isf(0.025, 10) == pytest.approx(
        2.228138852, abs=1e-8
    )
    assert inference.students_t_isf(0.025, 1) == pytest.approx(
        12.7062047, abs=1e-6
    )
    for p in (0.4, 0.05, 1e-4):
        assert inference.normal_sf(inference.normal_isf(p)) == pytest.approx(
            p, rel=1e-10
        )


@pytest.mark.slow
def test_predict_interval_ties_to_summary_se(cls_data, spark):
    """At x = e_j (one-hot), se_link must equal the j-th coefficient's
    standard error exactly, and the interval is beta_j ± z*·SE_j — wiring
    the per-row quadratic form to the MLlib-verified covariance."""
    est = LogisticRegression(
        solver="newton", max_iter=100, tol=1e-10, fit_intercept=False
    ).fit(cls_data)
    s = est.summary(cls_data)
    p = len(s.coefficients)
    rows = [(j, [1.0 if i == j else 0.0 for i in range(p)], 0.0)
            for j in range(p)]
    score = spark.createDataFrame(
        rows, "j int, features array<double>, label double"
    )
    got = {
        r["j"]: r
        for r in est.predict_interval(score, s, level=0.95, scale="link")
        .collect()
    }
    z = inference.normal_isf(0.025)
    for j in range(p):
        assert got[j]["se_link"] == pytest.approx(s.std_errors[j], rel=1e-9)
        assert got[j]["prediction"] == pytest.approx(
            s.coefficients[j], rel=1e-9
        )
        assert got[j]["lo"] == pytest.approx(
            s.coefficients[j] - z * s.std_errors[j], rel=1e-8
        )
    # mean scale: endpoints are the sigmoid of the link endpoints
    gm = {
        r["j"]: r
        for r in est.predict_interval(score, s, level=0.95, scale="mean")
        .collect()
    }
    sig = lambda v: 1.0 / (1.0 + np.exp(-v))  # noqa: E731
    for j in range(p):
        assert gm[j]["lo"] == pytest.approx(sig(got[j]["lo"]), rel=1e-9)
        assert gm[j]["hi"] == pytest.approx(sig(got[j]["hi"]), rel=1e-9)


def test_predict_interval_quadratic_form_numpy_twin(cls_data, spark):
    est = LogisticRegression(solver="newton", max_iter=100, tol=1e-10).fit(
        cls_data
    )
    s = est.summary(cls_data)
    rng = np.random.RandomState(3)
    Xs = rng.standard_normal((20, 3))
    score = spark.createDataFrame(
        [(i, [float(v) for v in Xs[i]], 0.0) for i in range(20)],
        "rid int, features array<double>, label double",
    )
    got = (
        est.predict_interval(score, s, scale="link")
        .orderBy("rid")
        .select("se_link")
        .toPandas()["se_link"]
        .to_numpy()
    )
    Xi = np.column_stack([Xs, np.ones(20)])  # intercept appended
    want = np.sqrt(np.einsum("ij,jk,ik->i", Xi, s.covariance, Xi))
    np.testing.assert_allclose(got, want, rtol=1e-10)


def test_conf_int(cls_data):
    est = LogisticRegression(solver="newton", max_iter=100, tol=1e-10).fit(
        cls_data
    )
    s = est.summary(cls_data)
    ci = s.conf_int(0.95)
    z = inference.normal_isf(0.025)
    np.testing.assert_allclose(
        ci[:, 0], s.coefficients - z * s.std_errors, rtol=1e-12
    )
    np.testing.assert_allclose(
        ci[:, 1], s.coefficients + z * s.std_errors, rtol=1e-12
    )
    # wider level -> wider interval; invalid level raises
    ci99 = s.conf_int(0.99)
    assert (ci99[:, 1] - ci99[:, 0] > ci[:, 1] - ci[:, 0]).all()
    with pytest.raises(ValueError, match="level"):
        s.conf_int(1.5)


def test_working_residuals_use_link_derivative(spark):
    """Review r11: working = (y−μ)·dη/dμ — for the LOG-link gamma that is
    (y−μ)/μ, not the canonical-form (y−μ)/V = (y−μ)/μ²."""
    from dask_glm_spark.functions import inference
    from dask_glm_spark.functions.families import Gamma, Logistic

    rng = np.random.RandomState(8)
    X = rng.standard_normal((50, 2)) * 0.3
    y = rng.gamma(2.0, np.exp(X @ [0.4, -0.2]) / 2.0)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]], float(y[i])) for i in range(50)],
        "rid long, features array<double>, label double",
    )
    beta = [0.4, -0.2]
    got = (
        inference.glm_residuals(df, Gamma, beta, "working")
        .orderBy("rid").select("residual").toPandas()["residual"].to_numpy()
    )
    mu = np.exp(X @ beta)
    np.testing.assert_allclose(got, (y - mu) / mu, rtol=1e-10)
    # canonical logit link: working == (y−μ)/V(μ) — unchanged
    yb = (rng.uniform(size=50) > 0.5).astype(float)
    dfb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]], float(yb[i])) for i in range(50)],
        "rid long, features array<double>, label double",
    )
    gotb = (
        inference.glm_residuals(dfb, Logistic, beta, "working")
        .orderBy("rid").select("residual").toPandas()["residual"].to_numpy()
    )
    mub = 1 / (1 + np.exp(-(X @ beta)))
    np.testing.assert_allclose(
        gotb, (yb - mub) / (mub * (1 - mub)), rtol=1e-9
    )


@pytest.mark.slow
def test_summary_rejects_penalized_fits(cls_data):
    """Review r11: Wald SEs assume the MLE — a ridge-penalized fit (the
    estimator DEFAULT: admm + l2 + lamduh=1) must be rejected, matching
    MLlib GLR's refusal under regParam > 0."""
    est = LogisticRegression(
        solver="lbfgs", regularizer="l2", lamduh=0.5, max_iter=50
    ).fit(cls_data)
    with pytest.raises(ValueError, match="penalized"):
        est.summary(cls_data)
    # newton ignores the estimator's regularizer (pure MLE) — allowed
    est2 = LogisticRegression(solver="newton", max_iter=50).fit(cls_data)
    assert est2.summary(cls_data).statistic_kind == "z"


@pytest.mark.slow
def test_robust_hc0_sandwich_numpy_twins(spark, cls_data):
    """HC0 sandwich SEs (White 1980): exact numpy twins for logistic
    (canonical) and gaussian — the gaussian case also verifies that the
    SSE objective's factor 2 cancels in H⁻¹·M·H⁻¹ (our H is 2XᵀX and the
    scores carry 2(xb−y), yet the result must be the TEXTBOOK HC0
    inv(XᵀX)·Xᵀdiag(e²)X·inv(XᵀX))."""
    # logistic
    est = LogisticRegression(
        solver="newton", max_iter=100, tol=1e-10, fit_intercept=True
    ).fit(cls_data)
    s_rob = est.summary(cls_data, robust=True)
    s_mod = est.summary(cls_data)
    pdf = cls_data.toPandas()
    X = np.stack(pdf["features"].to_numpy())
    X = np.column_stack([X, np.ones(len(X))])
    y = pdf["label"].to_numpy()
    mu = 1 / (1 + np.exp(-(X @ est._coef)))
    H = X.T @ ((mu * (1 - mu))[:, None] * X)
    M = X.T @ (((mu - y) ** 2)[:, None] * X)
    want = np.linalg.inv(H) @ M @ np.linalg.inv(H)
    np.testing.assert_allclose(
        s_rob.std_errors, np.sqrt(np.diag(want)), rtol=1e-8
    )
    # correctly-specified logistic: robust and model SEs same ballpark
    assert (
        np.abs(s_rob.std_errors / s_mod.std_errors - 1.0) < 0.5
    ).all()

    # gaussian (objective-scaling cancellation)
    rng = np.random.RandomState(2)
    n = 400
    Xg = rng.standard_normal((n, 2))
    # heteroskedastic noise: robust and model SEs genuinely differ
    yg = Xg @ [1.0, -0.5] + rng.standard_normal(n) * (
        0.2 + np.abs(Xg[:, 0])
    )
    dfg = spark.createDataFrame(
        [([float(v) for v in Xg[i]], float(yg[i])) for i in range(n)],
        "features array<double>, label double",
    )
    lin = LinearRegression(
        solver="newton", max_iter=50, tol=1e-12, fit_intercept=True
    ).fit(dfg)
    sg = lin.summary(dfg, robust=True)
    Xi = np.column_stack([Xg, np.ones(n)])
    e = yg - Xi @ lin._coef
    XtXi = np.linalg.inv(Xi.T @ Xi)
    hc0 = XtXi @ (Xi.T @ ((e**2)[:, None] * Xi)) @ XtXi
    np.testing.assert_allclose(
        sg.std_errors, np.sqrt(np.diag(hc0)), rtol=1e-8
    )


# ---------------------------------------------------------------------------
# round 12: ADVICE r11 fixes
# ---------------------------------------------------------------------------
def test_isf_symmetry_and_median():
    """_isf handles p >= 0.5 by symmetry (ADVICE r11: it silently
    returned ~0 for any upper-half tail probability)."""
    assert inference.normal_isf(0.5) == 0.0
    assert inference.normal_isf(0.7) == pytest.approx(
        -inference.normal_isf(0.3), abs=1e-10
    )
    # known value: P(Z > -0.5244) ~= 0.70
    assert inference.normal_isf(0.7) == pytest.approx(-0.5244, abs=1e-3)
    assert inference.students_t_isf(0.8, 5.0) == pytest.approx(
        -inference.students_t_isf(0.2, 5.0), abs=1e-10
    )
    assert inference.students_t_isf(0.5, 5.0) == 0.0


def test_rank_deficient_design_raises(spark):
    """Collinear columns (here: a duplicated feature) make the information
    singular — summary must refuse, not report pinv pseudo-SEs
    (ADVICE r11; MLlib GLR likewise refuses)."""
    rng = np.random.RandomState(3)
    n = 200
    x0 = rng.standard_normal(n)
    y = (rng.uniform(size=n) < 1 / (1 + np.exp(-x0))).astype(np.float64)
    rows = [([float(v), float(v)], float(yi)) for v, yi in zip(x0, y)]
    df = spark.createDataFrame(rows, "features array<double>, label double")
    est = LogisticRegression(
        solver="gradient_descent", max_iter=5, fit_intercept=False
    ).fit(df, normalize=False)
    with pytest.raises(ValueError, match="rank-deficient"):
        est.summary(df)


@pytest.mark.slow
def test_null_deviance_no_intercept(spark, cls_data):
    """fit_intercept=False -> the null model is the ZERO linear predictor
    (mu0 = 1/2 for logit), not the intercept-only mean model
    (ADVICE r11). Numpy twin on the same rows."""
    est = LogisticRegression(
        solver="newton", max_iter=100, tol=1e-10, fit_intercept=False
    ).fit(cls_data)
    s = est.summary(cls_data)
    pdf = cls_data.toPandas()
    y = pdf["label"].to_numpy()
    # binomial null deviance at mu0 = 0.5: -2 sum(y log .5 + (1-y) log .5)
    expected0 = float(
        2.0 * np.sum(np.where(y > 0.5, -np.log(0.5), -np.log(0.5)))
    )
    assert s.null_deviance == pytest.approx(expected0, rel=1e-10)
    # with an intercept the null deviance is strictly smaller (mean fit)
    s_i = LogisticRegression(solver="newton", max_iter=100, tol=1e-10).fit(
        cls_data
    ).summary(cls_data)
    assert s_i.null_deviance < s.null_deviance


@pytest.mark.parametrize("robust", [False, True])
@pytest.mark.parametrize("family_name", ["logistic", "gamma"])
def test_summary_is_one_scan_plus_one_aggregate(spark, cls_data, robust,
                                                family_name):
    """A summary runs 2 Spark jobs: the Arrow scan (Hessian, dispersion
    and, with robust, the HC0 meat partials) and the deviance
    aggregate."""
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import families, kernels

    family = families.FAMILIES[family_name]
    df = kernels.add_intercept(
        cls_data.withColumn("label", F.col("label") + 0.5)
        if family_name == "gamma" else cls_data
    )
    df.count()  # materialize the fixture's cache outside the group
    sc = spark.sparkContext
    group = f"summary-{family_name}-{robust}"
    sc.setJobGroup(group, group)
    try:
        s = inference.glm_summary(
            df, family, np.array([0.9, -0.6, 0.3, -0.2]), robust=robust
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert np.isfinite(s.std_errors).all() and np.isfinite(s.deviance)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


def test_new_family_needs_no_inference_edits(spark):
    """A family defined only here — quasi-Poisson: Poisson's algebra with
    an estimated dispersion — runs the summary, the four residual kinds
    and the mean interval from its own members, against numpy twins."""
    from dask_glm_spark.functions.families import Poisson

    class QuasiPoisson(Poisson):
        name = "quasipoisson"
        dispersion_fixed = False

    rng = np.random.RandomState(41)
    n = 240
    X = np.column_stack([rng.standard_normal((n, 2)) * 0.5, np.ones(n)])
    beta = np.array([0.4, -0.3, 0.2])
    mu = np.exp(X @ beta)
    y = rng.poisson(mu * rng.gamma(2.0, 0.5, n)).astype(float)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]], float(y[i])) for i in range(n)],
        "id long, features array<double>, label double",
    ).repartition(3).persist()

    def unit_dev(m):
        ylogy = np.where(y > 0, y * np.log(np.where(y > 0, y, 1.0) / m), 0.0)
        return 2.0 * (ylogy - (y - m))

    try:
        s = inference.glm_summary(df, QuasiPoisson, beta)
        phi = np.sum((y - mu) ** 2 / mu) / (n - 3)
        cov = np.linalg.inv(X.T @ (mu[:, None] * X)) * phi
        se = np.sqrt(np.diag(cov))
        assert s.statistic_kind == "t" and not s.dispersion_fixed
        assert s.dispersion == pytest.approx(phi, rel=1e-10)
        np.testing.assert_allclose(s.std_errors, se, rtol=1e-9)
        np.testing.assert_allclose(
            s.p_values,
            [2.0 * inference.students_t_sf(abs(t), n - 3) for t in beta / se],
            rtol=1e-8,
        )
        assert s.deviance == pytest.approx(unit_dev(mu).sum(), rel=1e-10)
        assert s.null_deviance == pytest.approx(
            unit_dev(np.full(n, y.mean())).sum(), rel=1e-10
        )
        s0 = inference.glm_summary(df, QuasiPoisson, beta, fit_intercept=False)
        assert s0.null_deviance == pytest.approx(
            unit_dev(np.ones(n)).sum(), rel=1e-10
        )

        twins = {
            "response": y - mu,
            "pearson": (y - mu) / np.sqrt(mu),
            "working": (y - mu) / mu,
            "deviance": np.sign(y - mu) * np.sqrt(np.maximum(unit_dev(mu), 0)),
        }
        for kind, ref in twins.items():
            got = inference.glm_residuals(df, QuasiPoisson, beta, kind)
            got = got.orderBy("id").toPandas()["residual"].to_numpy()
            np.testing.assert_allclose(got, ref, rtol=1e-9, atol=1e-12)

        pi = inference.glm_predict_interval(df, QuasiPoisson, s, level=0.9)
        pi = pi.orderBy("id").toPandas()
        se_link = np.sqrt(np.einsum("ij,jk,ik->i", X, s.covariance, X))
        q = inference.students_t_isf(0.05, n - 3)
        xb = X @ beta
        np.testing.assert_allclose(pi["prediction"], mu, rtol=1e-12)
        np.testing.assert_allclose(pi["se_link"], se_link, rtol=1e-9)
        np.testing.assert_allclose(pi["lo"], np.exp(xb - q * se_link),
                                   rtol=1e-9)
        np.testing.assert_allclose(pi["hi"], np.exp(xb + q * se_link),
                                   rtol=1e-9)
    finally:
        df.unpersist()


# ---------------------------------------------------------------------------
# round 12: joint-softmax Wald inference
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def softmax_data(spark):
    rng = np.random.RandomState(12)
    n, p, k = 500, 2, 3
    X = rng.standard_normal((n, p))
    Btrue = np.array([[0.8, -0.5, 0.0], [-0.3, 0.6, 0.0]])
    Z = X @ Btrue
    P = np.exp(Z - Z.max(axis=1, keepdims=True))
    P /= P.sum(axis=1, keepdims=True)
    y = np.array([rng.choice(k, p=P[i]) for i in range(n)], dtype=np.float64)
    rows = [([float(v) for v in X[i]], float(y[i])) for i in range(n)]
    df = spark.createDataFrame(
        rows, "features array<double>, label double"
    ).repartition(4).persist()
    yield df, X, y
    df.unpersist()


def _numpy_softmax_info(X, B, w=None):
    """Exact-formula oracle: the (p(k-1))^2 pinned multinomial Fisher
    information, naive loops."""
    n, p = X.shape
    k = B.shape[1]
    Z = X @ B
    Z -= Z.max(axis=1, keepdims=True)
    P = np.exp(Z)
    P /= P.sum(axis=1, keepdims=True)
    m = p * (k - 1)
    info = np.zeros((m, m))
    ww = np.ones(n) if w is None else w
    for i in range(n):
        for c in range(k - 1):
            for d in range(k - 1):
                wcd = ww[i] * P[i, c] * ((1.0 if c == d else 0.0) - P[i, d])
                info[c * p:(c + 1) * p, d * p:(d + 1) * p] += (
                    wcd * np.outer(X[i], X[i])
                )
    return info


def test_softmax_information_numpy_twin(softmax_data):
    from dask_glm_spark.functions.inference import _softmax_information

    df, X, y = softmax_data
    rng = np.random.RandomState(5)
    B = rng.standard_normal((2, 3)) * 0.4
    info, n = _softmax_information(df, B, 2, 3, "features", None)
    assert n == len(X)
    expected = _numpy_softmax_info(X, B)
    np.testing.assert_allclose(info, expected, rtol=1e-9, atol=1e-9)


def test_softmax_summary_exact_oracle(softmax_data):
    """End-to-end: fit the joint softmax (unpenalized MLE), then check
    SEs/z/p against the exact numpy information inverse at the SAME
    fitted B, and the contrasts against the fitted columns."""
    from dask_glm_spark.operators.estimators import SoftmaxRegression

    df, X, y = softmax_data
    est = SoftmaxRegression(
        solver="lbfgs", regularizer=None, fit_intercept=True,
        max_iter=300, tol=1e-10,
    ).fit(df, normalize=False)
    s = est.summary(df)
    assert s.reference_class == est.classes_[-1]
    assert s.statistic_kind == "z"
    # numpy twin on the intercept-extended design at the fitted B
    X1 = np.column_stack([X, np.ones(len(X))])
    B = np.column_stack(est._coefs)
    info = _numpy_softmax_info(X1, B)
    cov = np.linalg.inv(info)
    p1, k = B.shape
    se = np.sqrt(np.diag(cov)).reshape(k - 1, p1).T
    np.testing.assert_allclose(s.std_errors, se, rtol=1e-8)
    D = B[:, :-1] - B[:, -1:]
    np.testing.assert_allclose(s.coefficients, D, rtol=1e-10)
    np.testing.assert_allclose(s.statistic, D / se, rtol=1e-8)
    # p-values consistent with the z statistics
    from dask_glm_spark.functions.inference import normal_sf

    np.testing.assert_allclose(
        s.p_values[0, 0], 2 * normal_sf(abs(s.statistic[0, 0])), rtol=1e-12
    )


@pytest.mark.slow
def test_softmax_summary_diverges_from_ovr(softmax_data):
    """Documented divergence: OvR per-class binary SEs are a DIFFERENT
    estimand than the joint multinomial contrasts — neither the point
    estimates nor the SEs coincide."""
    from dask_glm_spark.operators.estimators import (
        MulticlassLogisticRegression,
        SoftmaxRegression,
    )

    df, X, y = softmax_data
    kw = dict(
        solver="lbfgs", regularizer=None, fit_intercept=True,
        max_iter=200, tol=1e-9,
    )
    joint = SoftmaxRegression(**kw).fit(df, normalize=False).summary(df)
    ovr = MulticlassLogisticRegression(**kw).fit(df, normalize=False)
    ovr_summaries = ovr.summary(df)
    # compare class 0's slope SE: joint contrast-vs-reference vs OvR
    # one-vs-rest — materially different objects
    se_joint = joint.std_errors[0, 0]
    se_ovr = ovr_summaries[0].std_errors[0]
    assert abs(se_joint - se_ovr) / se_ovr > 0.01


def test_softmax_summary_guards(softmax_data):
    from dask_glm_spark.functions.inference import softmax_summary
    from dask_glm_spark.operators.estimators import SoftmaxRegression

    df, X, y = softmax_data
    # size guard
    with pytest.raises(ValueError, match="too wide"):
        softmax_summary(df, np.zeros((2000, 4)), [0.0, 1.0, 2.0, 3.0])
    # penalized fits refused (default config is l2-penalized)
    est = SoftmaxRegression(solver="lbfgs", max_iter=20).fit(
        df, normalize=False
    )
    with pytest.raises(ValueError, match="penalized"):
        est.summary(df)


def test_softmax_summary_weighted_numpy_twin(spark, softmax_data):
    from dask_glm_spark.functions.inference import _softmax_information
    from pyspark.sql import functions as F

    df, X, y = softmax_data
    dfw = df.withColumn(
        "w", (F.abs(F.hash(F.col("features").cast("string"))) % 3 + 1).cast("double")
    )
    rows = dfw.select("features", "w").collect()
    w = np.array([r["w"] for r in rows])
    Xc = np.array([r["features"] for r in rows])
    rng = np.random.RandomState(9)
    B = rng.standard_normal((2, 3)) * 0.3
    info, n = _softmax_information(dfw, B, 2, 3, "features", "w")
    expected = _numpy_softmax_info(Xc, B, w)
    np.testing.assert_allclose(info, expected, rtol=1e-9, atol=1e-9)


@pytest.mark.slow
def test_refit_mle_escape_hatch(cls_data):
    """The default estimator config is penalized -> summary() refuses;
    refit_mle() returns an UNpenalized warm-started clone whose summary
    matches a from-scratch MLE fit's inference (round 12, VERDICT r11
    #8)."""
    pen = LogisticRegression(max_iter=50).fit(cls_data)  # admm + l2 + λ=1
    with pytest.raises(ValueError, match="refit_mle"):
        pen.summary(cls_data)
    mle = pen.refit_mle(cls_data)
    assert type(mle) is LogisticRegression
    s = mle.summary(cls_data)
    ref = LogisticRegression(
        solver="newton", max_iter=100, tol=1e-10
    ).fit(cls_data)
    s_ref = ref.summary(cls_data)
    np.testing.assert_allclose(mle.coef_, ref.coef_, rtol=1e-4, atol=1e-6)
    np.testing.assert_allclose(s.std_errors, s_ref.std_errors, rtol=1e-4)
    np.testing.assert_allclose(s.p_values, s_ref.p_values, atol=1e-4)


@pytest.mark.slow
def test_refit_mle_multiclass_and_softmax(softmax_data):
    """Review r12: the penalized-inference refusal message advertises
    refit_mle(), which crashed on multiclass fits (_coefs vs _coef).
    Both the OvR and joint-softmax escape hatches must work end-to-end."""
    from dask_glm_spark.operators.estimators import (
        MulticlassLogisticRegression,
        SoftmaxRegression,
    )

    df, X, y = softmax_data
    # joint softmax: penalized FISTA fit -> warm-started lbfgs MLE refit
    pen = SoftmaxRegression(
        solver="proximal_grad", regularizer="l1", lamduh=0.5,
        fit_intercept=True, max_iter=100, tol=1e-10,
    ).fit(df, normalize=False)
    with pytest.raises(ValueError, match="refit_mle"):
        pen.summary(df)
    mle = pen.refit_mle(df, normalize=False)
    assert mle.converged_ is True
    s = mle.summary(df)
    assert np.isfinite(s.std_errors).all() and (s.std_errors > 0).all()
    ref = SoftmaxRegression(
        solver="lbfgs", regularizer=None, fit_intercept=True,
        max_iter=300, tol=1e-10,
    ).fit(df, normalize=False)
    # the unpenalized softmax is over-parameterized AND its likelihood
    # valley is shallow here (both optimizers stop on objective flatness
    # at coefficient matrices ~0.1 apart with losses equal to 8e-9) —
    # the supported refit_mle contract is loss-level: the refit reaches
    # the reference fit's optimum value
    from dask_glm_spark.functions import kernels

    dfe = kernels.add_intercept(df)
    lm, _ = kernels.softmax_loss_gradient(dfe, np.column_stack(mle._coefs))
    lr, _ = kernels.softmax_loss_gradient(dfe, np.column_stack(ref._coefs))
    assert abs(lm - lr) / max(abs(lr), 1.0) < 1e-8
    # OvR: penalized default -> cold unpenalized refit, summaries work
    ovr_pen = MulticlassLogisticRegression(
        solver="lbfgs", regularizer="l2", lamduh=1.0, max_iter=50
    ).fit(df)
    ovr_mle = ovr_pen.refit_mle(df)
    summaries = ovr_mle.summary(df)
    assert len(summaries) == len(ovr_mle.classes_)
