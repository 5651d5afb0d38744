"""sklearn-style estimator API over Spark DataFrames.

Replicates the reference's public surface (``dask_glm/estimators.py``):
same constructor signature and defaults (solver='admm', regularizer='l2',
``estimators.py:39-61``), same per-solver kwarg routing (:67-77), same
coef_/intercept_ split where the intercept is the LAST coefficient (:87-91),
and the same deferred-execution contract — ``predict*`` return lazy
DataFrames (the reference returns lazy dask arrays the user ``.compute()``s).

Reference quirks kept for parity:
- ``LogisticRegression.predict`` is ``predict_proba > 0.5`` (:146);
- ``LinearRegression.score`` is **MSE, not R²** (:203-204);
- ``PoissonRegression.get_deviance`` uses the nonstandard log1p deviance.

Input convention: ``fit(df)`` where ``df`` has a features array column and
a label column (names configurable). This fuses the reference's X and y
into one relation — co-partitioning for free (SURVEY §1.4).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_glm_spark.functions import families, kernels, metrics
from dask_glm_spark.functions.exprs import let as _let
from dask_glm_spark.operators import solvers

try:
    # Reference estimators subclass sklearn.base.BaseEstimator
    # (dask_glm/estimators.py:4,19) so clone/Pipeline/GridSearchCV work.
    # sklearn is optional here (not in the minimal cluster image); the
    # explicit get_params/set_params below keep clone-compatibility either
    # way, and tests/test_sklearn_compat.py exercises the real integration
    # when sklearn is importable.
    from sklearn.base import BaseEstimator
except ImportError:  # pragma: no cover - exercised only without sklearn

    class BaseEstimator:  # type: ignore[no-redef]
        """Minimal stand-in keeping the class hierarchy identical."""


class _GLM(BaseEstimator):
    """Base estimator. Subclass + set ``family`` (families.Logistic etc.)."""

    family = None

    def __init__(
        self,
        fit_intercept=True,
        solver="admm",
        regularizer="l2",
        max_iter=100,
        tol=1e-4,
        lamduh=1.0,
        rho=1,
        over_relax=1,
        abstol=1e-4,
        reltol=1e-2,
        features_col="features",
        label_col="label",
        warm_start=False,
        weight_col=None,
        offset_col=None,
    ):
        self.fit_intercept = fit_intercept
        self.solver = solver
        self.regularizer = regularizer
        self.max_iter = max_iter
        self.tol = tol
        self.lamduh = lamduh
        self.rho = rho
        self.over_relax = over_relax
        self.abstol = abstol
        self.reltol = reltol
        self.features_col = features_col
        self.label_col = label_col
        # sklearn-style warm start (beyond-reference, round 10): when True,
        # a second fit() resumes from the previous coefficients instead of
        # the solver's cold init — refit-after-append / hyperparameter
        # continuation at 100 TB costs a few rounds, not a full fit.
        self.warm_start = warm_start
        # per-row sample weights (MLlib weightCol analogue, round 10):
        # supported by EVERY solver — dense, wide-sparse, ADMM blocks,
        # and the joint softmax.
        self.weight_col = weight_col
        # per-row offset/exposure (MLlib offsetCol analogue, round 10):
        # a fixed additive term in the linear predictor — log-exposure in
        # Poisson rate models. Every binary solver, dense and wide-sparse
        # (multiclass raises loudly). predict() adds it back.
        self.offset_col = offset_col

        self.coef_ = None
        self.intercept_ = None
        self._coef = None  # coef, maybe with intercept appended
        # convergence diagnostics (round 10): filled by fit()
        self.n_iter_ = None
        self.converged_ = None

    def _routed_kwargs(self):
        # per-solver kwarg routing, reference estimators.py:67-77
        fit_kwargs = {"max_iter", "tol"}
        if self.solver == "admm":
            fit_kwargs.discard("tol")
            fit_kwargs.update(
                {"regularizer", "lamduh", "rho", "over_relax", "abstol", "reltol"}
            )
        elif self.solver in ("proximal_grad", "lbfgs"):
            fit_kwargs.update({"regularizer", "lamduh"})
        return {k: getattr(self, k) for k in fit_kwargs}

    # sklearn clone/grid-search compatibility
    def get_params(self, deep=True):
        return {
            k: getattr(self, k)
            for k in (
                "fit_intercept solver regularizer max_iter tol lamduh rho "
                "over_relax abstol reltol features_col label_col "
                "warm_start weight_col offset_col".split()
            )
        }

    def set_params(self, **params):
        for k, v in params.items():
            setattr(self, k, v)
        return self

    def _maybe_add_intercept(self, df: DataFrame) -> DataFrame:
        if self.fit_intercept:
            return kernels.add_intercept(df, self.features_col)
        return df

    # wide-sparse fits: every solver except newton (whose p x p Gram is
    # wrong for wide-sparse p); each routes to solvers.<solver>_sparse
    _SPARSE_SOLVERS = (
        "admm", "gradient_descent", "lbfgs", "newton_cg", "proximal_grad",
    )

    def fit(self, df: DataFrame, y=None, **extra):
        """Fit on a dense features array column or wide-sparse
        (findices, fvalues) columns; the solver's ``*_sparse`` twin runs
        the latter (ADMM blocks are scipy-free CSR, never densified).

        Sparse fit_intercept (round 12; the reference xfails this
        combination, ``dask_glm/tests/test_estimators.py:47-54``, but a
        hashed text classifier WITH an intercept is the normal
        configuration and MLlib supports it): a constant-1 coordinate is
        appended at index p_base to every row (``_sparse_design``) — one
        extra (int, double) pair per row, never a densification — exactly
        mirroring the dense path's ``add_intercept`` column append. The
        penalty then covers the intercept coordinate too, the same
        (reference-parity) behavior as the dense intercept-extended fit."""
        from dask_glm_spark.sources import vectors as V

        if V.is_vector_column(df, self.features_col):
            # MLlib VectorUDT input (HashingTF/VectorAssembler output):
            # convert JVM-side and disable standardization — reference
            # parity for sparse inputs (dask_glm/estimators.py:82-83)
            df = V.from_vector_column(df, self.features_col)
            extra.setdefault("normalize", False)
        kw = self._routed_kwargs()
        kw["label_col"] = self.label_col
        if V.is_sparse_columns(df):
            if self.solver not in self._SPARSE_SOLVERS:
                raise NotImplementedError(
                    "sparse features support solver in "
                    f"{list(self._SPARSE_SOLVERS)} (lbfgs recommended), "
                    f"got {self.solver!r}"
                )
            extra.pop("normalize", None)  # sparse path never standardizes
            df = self._sparse_design(df, extra)
            name = self.solver + "_sparse"
        else:
            df = self._maybe_add_intercept(df)
            kw["features_col"] = self.features_col
            name = self.solver
        kw.update(extra)
        if self.warm_start and self._coef is not None:
            # _coef lives in the intercept-extended original feature space —
            # exactly the space the solver's init_beta contract expects
            kw.setdefault("init_beta", self._coef)
        if self.weight_col is not None:
            kw.setdefault("weight_col", self.weight_col)
        if self.offset_col is not None:
            kw.setdefault("offset_col", self.offset_col)
        # setdefault RETURNS the existing dict when the caller passed
        # their own fit_info through **extra, so diagnostics land in the
        # dict the solver actually filled (ADVICE r10)
        info = kw.setdefault("fit_info", {})
        # looked up through the module at call time (a profiler's layer
        # trace wraps the public solvers by name)
        self._coef = np.asarray(
            getattr(solvers, name)(df, family=self.family, **kw)
        )
        self.n_iter_ = info.get("n_iter")
        self.converged_ = info.get("converged")
        if self.fit_intercept:
            self.coef_ = self._coef[:-1]
            self.intercept_ = self._coef[-1]
        else:
            self.coef_ = self._coef
        return self

    def _sparse_design(self, df: DataFrame, extra: dict) -> DataFrame:
        """The wide-sparse design a fit runs on: with fit_intercept, the
        constant-1 coordinate appended at index p_base (probed when the
        caller passed no ``p``); ``extra["p"]`` is set to the fit width.
        ``_sparse_xb`` scoring splits the stored intercept back out."""
        from dask_glm_spark.sources import vectors as V

        p_base = extra.pop("p", None)
        if self.fit_intercept:
            if p_base is None:
                p_base = V.sparse_p(df)
            df = V.append_intercept_coord(df, p_base)
            extra["p"] = int(p_base) + 1
        elif p_base is not None:
            extra["p"] = int(p_base)
        return df

    def summary(self, df: DataFrame, robust: bool = False, coords=None):
        """Wald inference at the fitted coefficients — beyond-reference
        (round 11; the statsmodels/R/MLlib ``summary`` surface): standard
        errors ``sqrt(diag(φ·(XᵀWX)⁻¹))``, z/t statistics, two-sided
        p-values, and the dispersion φ (1 fixed for logistic/poisson;
        Pearson χ²/(n−p) for gaussian/gamma/tweedie — the MLlib GLR
        contract, cross-checked in tests/test_inference.py). Two Spark
        jobs: one Arrow scan (the newton iteration's gradient+Gram
        partial fused with the dispersion partials) plus one deviance
        aggregate. Honors the estimator's ``weight_col``/``offset_col``.

        ``robust=True``: heteroskedasticity-robust HC0 sandwich SEs
        (White 1980) — the score-Gram "meat" rides the same scan; see
        ``inference.glm_summary``.

        Wide-sparse fits: the FULL p² covariance is rejected (the wrong
        object at 2^18 hashed dims), but ``coords=[j, ...]`` (round 12)
        returns Wald inference for the named coordinates only —
        matrix-free per-coordinate CG solves of ``I·x = e_j`` over
        O(nnz) Hessian-vector-product scans (``inference.
        sparse_coef_se``); exact vs the dense summary to CG tolerance,
        practical for tens of coordinates. ``robust=True`` composes
        (round 13): the HC0 sandwich diagonal reuses the same CG solves,
        and the one O(nnz) dispersion scan also computes all
        coordinates' meat quadratic forms — never a p² object."""
        from dask_glm_spark.functions import inference
        from dask_glm_spark.sources import vectors as V

        if self._coef is None:
            raise ValueError("summary() requires a fitted model")
        self._reject_penalized_inference("summary()")
        if V.is_vector_column(df, self.features_col):
            df = V.from_vector_column(df, self.features_col)
        if V.is_sparse_columns(df):
            if coords is None:
                raise NotImplementedError(
                    "summary() on wide-sparse features needs coords=[...]"
                    " (per-coordinate matrix-free SEs); the full p x p "
                    "covariance is the wrong object for wide-sparse fits"
                )
            p_total = len(self._coef)
            df_fit = df
            if self.fit_intercept:
                # re-append the constant-1 coordinate the fit used, so
                # coords address the SAME design (intercept = index p-1)
                df_fit = V.append_intercept_coord(df, p_total - 1)
            return inference.sparse_coef_se(
                df_fit, self.family, self._coef, coords, p_total,
                label_col=self.label_col, weight_col=self.weight_col,
                offset_col=self.offset_col, robust=robust,
            )
        if coords is not None:
            raise ValueError(
                "coords= is the wide-sparse surface; dense summaries "
                "report all coefficients"
            )
        df_ = self._maybe_add_intercept(df)
        return inference.glm_summary(
            df_, self.family, self._coef, self.features_col,
            self.label_col, weight_col=self.weight_col,
            offset_col=self.offset_col, robust=robust,
            fit_intercept=self.fit_intercept,
        )

    def refit_mle(self, df: DataFrame, **extra):
        """The documented escape hatch for inference on penalized fits
        (round 12, VERDICT r11 #8): ``summary()`` on the default
        (admm + L2 + λ=1) config refuses by design — Wald SEs assume the
        MLE. This returns a NEW estimator of the same class with the
        penalty removed (``regularizer=None``), fit on ``df`` warm-started
        at THIS fit's coefficients (usually a handful of iterations from
        the penalized point), whose ``summary()``/``conf_int`` are then
        honest MLE inference. Solvers that exist only to carry a penalty
        (admm / proximal_grad) switch to lbfgs for the refit."""
        if self._coef is None:
            raise ValueError("refit_mle() requires a fitted model")
        params = self.get_params()
        params["regularizer"] = None
        params["lamduh"] = 0.0
        if params.get("solver") in ("admm", "proximal_grad"):
            params["solver"] = "lbfgs"
        m = type(self)(**params)
        m.fit(df, init_beta=self._coef, **extra)
        return m

    def _reject_penalized_inference(self, what: str) -> None:
        """Wald SEs/p-values assume the MLE: Cov = φ·(XᵀWX)⁻¹ does NOT
        hold for penalized estimates (the penalty biases β toward 0 and
        shrinks its true sampling variance) — MLlib GLR likewise refuses
        coefficientStandardErrors when regParam > 0 (review r11). Only
        the solvers that actually receive the estimator's regularizer
        produce penalized fits (newton/gradient_descent are pure-MLE,
        reference parity)."""
        penalized = (
            self.solver in ("admm", "proximal_grad", "lbfgs")
            and self.regularizer is not None
            and self.lamduh > 0
        )
        if penalized:
            raise ValueError(
                f"{what} reports MLE Wald inference, but this fit is "
                f"penalized (solver={self.solver!r}, regularizer="
                f"{self.regularizer!r}, lamduh={self.lamduh}) — the "
                "sampling covariance is not phi*(X'WX)^-1 under a "
                "penalty. Call refit_mle(df).summary(df) for honest MLE "
                "inference (warm-started, usually a few iterations), or "
                "refit with regularizer=None / solver='newton'."
            )

    def predict_interval(
        self, df: DataFrame, summary, level: float = 0.95,
        scale: str = "mean",
    ) -> DataFrame:
        """Wald confidence intervals for the mean response at each row:
        ``prediction`` / ``se_link`` / ``lo`` / ``hi`` columns. ``summary``
        is REQUIRED and must be the ``summary()`` of the TRAINING frame —
        computing the covariance on the scoring frame would silently
        understate uncertainty. One narrow projection; the covariance
        rides as one folded literal (any p)."""
        from dask_glm_spark.functions import inference
        from dask_glm_spark.sources import vectors as V

        if V.is_vector_column(df, self.features_col):
            df = V.from_vector_column(df, self.features_col)
        if V.is_sparse_columns(df):
            # wide-sparse scoring rows (round 13, VERDICT r12 #2): same
            # semantics, one O(nnz·p) Arrow pass for xb + xᵀΣx — the
            # summary must still come from a dense TRAINING frame (a
            # coords-only sparse summary has no covariance; the loud
            # error lives in inference._interval_quantile)
            return inference.sparse_predict_interval(
                df, self.family, summary, level, scale,
                fit_intercept=self.fit_intercept,
                offset_col=self.offset_col,
            )
        df_ = self._maybe_add_intercept(df)
        return inference.glm_predict_interval(
            df_, self.family, summary, level, scale, self.features_col,
            offset_col=self.offset_col,
        )

    def residuals(self, df: DataFrame, kind: str = "deviance") -> DataFrame:
        """Per-row residuals at the fitted coefficients (R/MLlib
        ``residuals()``): ``deviance`` / ``pearson`` / ``response`` /
        ``working`` — one narrow codegen projection, no shuffle, honors
        ``weight_col``/``offset_col`` (MLlib sqrt-weight convention;
        cross-checked against GLR ``summary.residuals`` in
        tests/test_inference.py).

        Wide-sparse rows (round 13, VERDICT r12 #2): xb is scored in one
        O(nnz) Arrow pass (``_sparse_xb`` — intercept split out, offset
        included), then the SAME narrow residual projection runs over
        that column — all four kinds, parity-pinned against the dense
        path in tests/test_sparse.py."""
        from dask_glm_spark.functions import inference
        from dask_glm_spark.sources import vectors as V

        if self._coef is None:
            raise ValueError("residuals() requires a fitted model")
        if V.is_vector_column(df, self.features_col):
            df = V.from_vector_column(df, self.features_col)
        if V.is_sparse_columns(df):
            scored = self._sparse_xb(df, "_xb_res")
            return inference.glm_residuals(
                scored, self.family, None, kind,
                label_col=self.label_col, weight_col=self.weight_col,
                xb_col="_xb_res",
            ).drop("_xb_res")
        df_ = self._maybe_add_intercept(df)
        return inference.glm_residuals(
            df_, self.family, self._coef, kind, self.features_col,
            self.label_col, weight_col=self.weight_col,
            offset_col=self.offset_col,
        )

    def predict(self, df: DataFrame) -> DataFrame:
        """The fitted mean response ``g⁻¹(x·coef + offset)`` per row, as
        a ``prediction`` column."""
        return (
            self._with_xb(df, "_xb")
            .withColumn("prediction", self.family.mean(F.col("_xb")))
            .drop("_xb")
        )

    def _linear_expr(self):
        # X·coef over the (maybe intercept-extended) features column
        return kernels.matvec_expr(self._coef, self.features_col)

    def _with_xb(self, df: DataFrame, col_name: str = "_xb") -> DataFrame:
        """df + an X·coef column, routing by input kind: dense array
        (codegen mat-vec), VectorUDT (convert then dense), or wide-sparse
        columns (vectorized O(nnz) Arrow scoring)."""
        from dask_glm_spark.sources import vectors as V

        if V.is_vector_column(df, self.features_col):
            df = V.from_vector_column(df, self.features_col)
        if V.is_sparse_columns(df):
            return self._sparse_xb(df, col_name)
        df_ = self._maybe_add_intercept(df)
        xb = self._linear_expr()
        if self.offset_col is not None:
            if self.offset_col not in df.columns:
                # loud, not silent: scoring an offset model without the
                # exposure column would quietly predict at exposure 1
                raise ValueError(
                    f"offset_col {self.offset_col!r} is not a column of the "
                    "scoring DataFrame; add it (or score a model fitted "
                    "without offset_col) — predicting without the offset "
                    "would silently assume unit exposure"
                )
            # prediction at the row's own exposure (MLlib offsetCol
            # semantics): the offset re-enters the linear predictor
            xb = xb + F.col(self.offset_col)
        return df_.withColumn(col_name, xb)

    def _sparse_xb(self, df: DataFrame, col_name: str) -> DataFrame:
        from dask_glm_spark.functions.kernels import _with_columns
        from dask_glm_spark.functions.kernels_sparse import _batch_csr, _f64

        # A dense fit with fit_intercept=True stores the intercept as the
        # LAST coefficient; sparse indices only address the weights, so
        # split it out and add it explicitly — indexing the full _coef
        # silently dropped the intercept from every sparse-scored row
        # (review r5).
        beta = self._coef
        icpt = 0.0
        if self.fit_intercept:
            icpt = float(beta[-1])
            beta = beta[:-1]
        offset_col = self.offset_col
        if offset_col is not None and offset_col not in df.columns:
            # same loud contract as the dense path: scoring an offset
            # model without the exposure column would silently predict at
            # unit exposure (review: the dense guard alone left this path
            # silent)
            raise ValueError(
                f"offset_col {offset_col!r} is not a column of the scoring "
                "DataFrame; add it (or score a model fitted without "
                "offset_col)"
            )

        def op(batches):
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                X = _batch_csr(rb, "findices", "fvalues", len(beta))
                xb = X @ beta + icpt
                if offset_col is not None:
                    xb = xb + _f64(rb, offset_col)
                yield _with_columns(rb, {col_name: xb})

        fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        return df.mapInArrow(op, schema=f"{fields}, {col_name} double")


class LogisticRegression(_GLM):
    """Logistic regression (reference ``estimators.py:101-153``)."""

    family = families.Logistic

    def decision_function(self, df: DataFrame) -> DataFrame:
        return self._with_xb(df, "decision")

    def predict_proba(self, df: DataFrame) -> DataFrame:
        return (
            self._with_xb(df, "_xb")
            .withColumn("probability", self.family.mean(F.col("_xb")))
            .drop("_xb")
        )

    def predict(self, df: DataFrame) -> DataFrame:
        # reference: predict_proba > 0.5 (estimators.py:146)
        return self.predict_proba(df).withColumn(
            "prediction", (F.col("probability") > 0.5).cast("double")
        )

    def score(self, df: DataFrame, weight_col: str | None = None) -> float:
        pred = self.predict(df)
        return metrics.accuracy_score(
            pred, self.label_col, "prediction", weight_col=weight_col
        )

    def get_auc(self, df: DataFrame, weight_col: str | None = None) -> float:
        """Distributed ROC AUC of predict_proba vs the label column
        (``metrics.roc_auc_score`` — scale-safe rank-sum, round 7);
        ``weight_col`` weights the per-score class masses."""
        return metrics.roc_auc_score(
            self.predict_proba(df), self.label_col, "probability",
            weight_col=weight_col,
        )


class LinearRegression(_GLM):
    """OLS (reference ``estimators.py:156-204``)."""

    family = families.Normal

    def score(self, df: DataFrame, weight_col: str | None = None) -> float:
        # reference quirk: score is MSE, not R² (estimators.py:203-204)
        pred = self.predict(df)
        return metrics.mean_squared_error(
            pred, self.label_col, "prediction", weight_col=weight_col
        )


class PoissonRegression(_GLM):
    """Poisson regression (reference ``estimators.py:207-255``)."""

    family = families.Poisson

    def get_deviance(self, df: DataFrame, weight_col: str | None = None) -> float:
        pred = self.predict(df)
        return metrics.poisson_deviance(
            pred, self.label_col, "prediction", weight_col=weight_col
        )


class _MeanDevianceGLM(_GLM):
    """Estimators scored by the MEAN unit deviance of their family
    (lower is better)."""

    def get_deviance(
        self, df: DataFrame, weight_col: str | None = None
    ) -> float:
        """Mean unit deviance ``family.unit_deviance(y, μ)`` at the
        fitted means; with ``weight_col`` ``Σw·d / Σw`` (sklearn
        ``sample_weight`` semantics, matching the package's other
        weighted metrics — ADVICE r10)."""
        pred = self.predict(df)
        d = self.family.unit_deviance(
            F.col(self.label_col), F.col("prediction")
        )
        if weight_col is None:
            return metrics._agg_scalar(pred, F.avg(d))
        w = F.col(weight_col)
        return metrics._agg_scalar(pred, F.sum(w * d) / F.sum(w))

    def score(self, df: DataFrame, weight_col: str | None = None) -> float:
        return self.get_deviance(df, weight_col=weight_col)


class GammaRegression(_MeanDevianceGLM):
    """Gamma regression, log link — beyond-reference (MLlib GLR
    ``family="gamma", link="log"`` contract). Strictly positive
    responses (a label y <= 0 makes the deviance NaN); ``score`` is the
    MEAN unit deviance ``2·[−log(y/μ) + (y−μ)/μ]`` (lower is better)."""

    family = families.Gamma


class TweedieRegression(_MeanDevianceGLM):
    """Tweedie (compound-Poisson) regression, log link — beyond-reference
    (MLlib GLR ``family="tweedie"`` contract). ``var_power`` q ∈ (1, 2)
    selects the variance function V(μ)=μ^q: nonnegative responses with a
    point mass at zero plus a continuous tail. Every binary solver works
    (dense or wide-sparse; weights/offsets compose); ``score`` is the
    MEAN unit deviance (lower is better — the GLM-regression convention
    this package's LinearRegression also follows with MSE)."""

    def __init__(self, var_power: float = 1.5, **kwargs):
        super().__init__(**kwargs)
        self.var_power = var_power
        self.family = families.Tweedie(var_power)

    def get_params(self, deep=True):
        return {**super().get_params(deep), "var_power": self.var_power}

    def set_params(self, **params):
        super().set_params(**params)
        # keep the family object in sync when var_power changes
        self.family = families.Tweedie(self.var_power)
        return self


class MulticlassLogisticRegression(_GLM):
    """One-vs-rest multiclass logistic regression — beyond-reference.

    The reference's own ``predict`` is binary-only with a "multiclass
    broken" TODO (``dask_glm/estimators.py:146``); this estimator closes
    that gap Spark-first:

    - ``fit``: one distinct scan discovers the (sorted) label set, the
      input is persisted ONCE, and one binary ``LogisticRegression`` fits
      per class over a lazily relabeled view of the same cache (the
      sub-fits are told ``persist=False`` so k classes never means k
      copies of the data). Any solver/regularizer combination the binary
      estimator supports works unchanged.
    - ``predict`` / ``predict_proba``: ONE narrow codegen projection —
      all k sigmoid(X·β_c) scores fold into a single array expression
      (coefficients as plan literals, P8), argmax picks the class,
      probabilities are the standard OvR normalization (scores / Σscores,
      strictly positive so never 0/0). No joins, no shuffles, one scan
      regardless of k.

    State: ``classes_`` (sorted labels), ``coefs_`` (k, p),
    ``intercepts_`` (k,).

    Wide-sparse features (round 13, VERDICT r12 #4): the same design —
    the (findices, fvalues) input is persisted ONCE and each per-class
    binary fit runs the solver's ``solvers.<solver>_sparse`` twin (the
    binary ``fit``'s sparse branch) over a lazily relabeled view of that
    cache (``persist=False`` so k classes never means k
    cached copies; ``sparse_p`` resolves the width once, not per class).
    Scoring composes from the ``_sparse_scores_df`` O(k·nnz) Arrow pass.
    """

    family = families.Logistic

    def refit_mle(self, df: DataFrame, **extra):
        """Multiclass twin of the base ``refit_mle`` (review r12: the
        base method reads ``_coef``, which multiclass fits never set, so
        the advertised penalized-inference escape hatch crashed here):
        penalty removed, admm/proximal_grad switch to lbfgs, refit cold
        (the per-class warm-start plumbing isn't worth the coupling;
        ``SoftmaxRegression`` overrides to warm-start the joint fit)."""
        if getattr(self, "_coefs", None) is None:
            raise ValueError("refit_mle() requires a fitted model")
        params = self.get_params()
        params["regularizer"] = None
        params["lamduh"] = 0.0
        if params.get("solver") in ("admm", "proximal_grad"):
            params["solver"] = "lbfgs"
        m = type(self)(**params)
        m.fit(df, **extra)
        return m

    def fit(self, df: DataFrame, y=None, **extra):
        from pyspark import StorageLevel

        from dask_glm_spark.sources import vectors as V

        if V.is_vector_column(df, self.features_col):
            # MLlib VectorUDT: convert once here (per-class fits then see
            # dense arrays) and disable standardization — the _GLM.fit
            # convention for vector ingest
            df = V.from_vector_column(df, self.features_col)
            extra.setdefault("normalize", False)
        sparse_in = V.is_sparse_columns(df)
        if self.offset_col is not None:
            # sub-fits would honor the offset but the k-class argmax/score
            # projection would not — raise rather than predict wrong
            raise NotImplementedError(
                "multiclass estimators do not support offset_col"
            )
        # Persist BEFORE class discovery (r14, guide §5/§2.4): when the
        # input is an uncached derivation (e.g. the text featurizer's
        # mapInPandas scan), the classes-distinct job otherwise pays one
        # full derivation pass and the first sub-fit pays a second one to
        # materialize the cache — persisting first makes the distinct
        # materialize the cache, so the derivation runs exactly once.
        we_persisted = False
        if not df.is_cached:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            we_persisted = True
        try:
            with kernels.kernel_exec(df.sparkSession):
                classes = [
                    r[0]
                    for r in df.select(self.label_col)
                    .distinct()
                    .orderBy(self.label_col)
                    .collect()
                ]
            if len(classes) < 2:
                raise ValueError(f"need >= 2 classes, got {classes!r}")
            sparse_p_once = None
            if sparse_in:
                from dask_glm_spark.sources.vectors import sparse_p

                # resolve the width ONCE — each per-class sparse fit would
                # otherwise rerun the max-index scan
                sparse_p_once = extra.pop("p", None) or sparse_p(df)
            # per-class warm start only when the class set is unchanged —
            # otherwise coefficient columns would pair with the wrong class
            prev = (
                self._coefs
                if self.warm_start and getattr(self, "classes_", None) == classes
                else None
            )
            coefs = []
            n_iters: list = []
            convs: list = []
            for i, c in enumerate(classes):
                sub = df.withColumn(
                    self.label_col,
                    (F.col(self.label_col) == F.lit(c)).cast("double"),
                )
                sub_extra = dict(extra)
                if sparse_p_once is not None:
                    sub_extra["p"] = sparse_p_once
                if prev is not None:
                    sub_extra.setdefault("init_beta", prev[i])
                m = LogisticRegression(**self.get_params()).fit(
                    sub, persist=False, **sub_extra
                )
                coefs.append(np.asarray(m._coef))
                n_iters.append(m.n_iter_)
                convs.append(m.converged_)
        finally:
            if we_persisted:
                df.unpersist()
        self.classes_ = classes
        # per-class diagnostics (list, sklearn OvR convention)
        self.n_iter_ = n_iters
        self.converged_ = (
            all(convs) if all(c is not None for c in convs) else None
        )
        self._coefs = coefs  # per-class, intercept still appended
        if self.fit_intercept:
            self.coefs_ = np.stack([b[:-1] for b in coefs])
            self.intercepts_ = np.array([b[-1] for b in coefs])
        else:
            self.coefs_ = np.stack(coefs)
            self.intercepts_ = np.zeros(len(coefs))
        return self

    def _scores_expr(self):
        return F.array(
            *[
                families.sigmoid_expr(kernels.matvec_expr(b, self.features_col))
                for b in self._coefs
            ]
        )

    def _sparse_scores_df(self, df: DataFrame, col: str) -> DataFrame:
        """df + a linear (n, k) scores array column over wide-sparse rows:
        one vectorized O(k·nnz) Arrow pass (the _sparse_xb shape, k-wide).
        The fitted intercepts (zero for intercept-free fits) add onto each
        class score — sparse indices never address the intercept, exactly
        the ``_sparse_xb`` split. Shared by OvR (round 13) and softmax
        scoring; both argmax over these LINEAR scores (sigmoid and
        softmax are monotone per class / rank-preserving)."""
        from dask_glm_spark.functions.kernels import _with_columns
        from dask_glm_spark.functions.kernels_sparse import _batch_csr

        Bmat = self.coefs_.T.copy()  # (p, k), intercept split out
        icpt = np.asarray(self.intercepts_, dtype=np.float64)

        def op(batches):
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                Z = _batch_csr(rb, "findices", "fvalues", len(Bmat)) @ Bmat
                Z += icpt
                yield _with_columns(rb, {col: Z})

        fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        return df.mapInArrow(op, schema=f"{fields}, {col} array<double>")

    def predict_proba(self, df: DataFrame) -> DataFrame:
        from dask_glm_spark.sources import vectors as V

        if V.is_vector_column(df, self.features_col):
            df = V.from_vector_column(df, self.features_col)
        if V.is_sparse_columns(df):
            # OvR normalization over sigmoid(linear scores) — identical
            # algebra to the dense path, scores from one Arrow pass
            scored = self._sparse_scores_df(df, "_scores")
            probs = _let(
                F.transform(
                    F.col("_scores"), lambda z: families.sigmoid_expr(z)
                ),
                lambda s: _let(
                    F.aggregate(s, F.lit(0.0), lambda a, x: a + x),
                    lambda total: F.transform(s, lambda x: x / total),
                ),
            )
            return scored.withColumn("probabilities", probs).drop("_scores")
        df_ = self._maybe_add_intercept(df)
        # Let-bind the k-class score array ONCE, then the total ONCE:
        # unbound, Catalyst re-inlines the k sigmoid(matvec) expressions at
        # every reference, evaluating the score array ~k+2 times per row
        # (ADVICE r6).
        probs = _let(
            self._scores_expr(),
            lambda s: _let(
                F.aggregate(s, F.lit(0.0), lambda a, x: a + x),
                lambda total: F.transform(s, lambda x: x / total),
            ),
        )
        return df_.withColumn("probabilities", probs)

    def predict(self, df: DataFrame) -> DataFrame:
        from dask_glm_spark.sources import vectors as V

        if V.is_vector_column(df, self.features_col):
            df = V.from_vector_column(df, self.features_col)
        cls = F.array(*[F.lit(c) for c in self.classes_])
        if V.is_sparse_columns(df):
            # argmax over the LINEAR scores — rank-identical to the dense
            # argmax over sigmoids (monotone), same first-max tie-break
            scored = self._sparse_scores_df(df, "_scores")
            pred = _let(
                F.col("_scores"),
                lambda s: F.element_at(
                    cls, F.array_position(s, F.array_max(s)).cast("int")
                ),
            )
            return scored.withColumn("prediction", pred).drop("_scores")
        df_ = self._maybe_add_intercept(df)
        # first max wins: deterministic tie-break by class order; scores
        # bound once (two references otherwise each re-evaluate k matvecs)
        pred = _let(
            self._scores_expr(),
            lambda s: F.element_at(
                cls, F.array_position(s, F.array_max(s)).cast("int")
            ),
        )
        return df_.withColumn("prediction", pred)

    def score(self, df: DataFrame) -> float:
        pred = self.predict(df)
        return metrics.accuracy_score(pred, self.label_col, "prediction")

    def summary(self, df: DataFrame):
        """Per-class Wald inference: one ``GLMSummary`` per class (same
        order as ``classes_``), each the binary logistic summary at that
        class's OvR coefficients over the ``y == class`` indicator —
        exactly the inference a standalone binary fit on the indicator
        would report (replication-pinned in tests/test_inference.py)."""
        from pyspark import StorageLevel

        from dask_glm_spark.functions import inference
        from dask_glm_spark.sources import vectors as V

        if getattr(self, "_coefs", None) is None:
            raise ValueError("summary() requires a fitted model")
        self._reject_penalized_inference("summary()")
        if V.is_vector_column(df, self.features_col):
            df = V.from_vector_column(df, self.features_col)
        if V.is_sparse_columns(df):
            raise NotImplementedError(
                "per-class OvR summaries need dense features (k full p x p"
                " informations); for wide-sparse fits run a binary "
                "LogisticRegression per class indicator and use "
                "summary(coords=[...])"
            )
        # k Gram scans + k count jobs run below — persist ONCE around the
        # loop so an uncached input isn't rescanned 2k times (review r11)
        df_ = self._maybe_add_intercept(df)
        we_persisted = False
        if not df_.is_cached:
            df_ = df_.persist(StorageLevel.MEMORY_AND_DISK)
            we_persisted = True
        try:
            out = []
            for cls_label, b in zip(self.classes_, self._coefs):
                dfi = df_.withColumn(
                    self.label_col,
                    (F.col(self.label_col) == F.lit(cls_label)).cast(
                        "double"
                    ),
                )
                out.append(
                    inference.glm_summary(
                        dfi, self.family, b, self.features_col,
                        self.label_col, weight_col=self.weight_col,
                        offset_col=self.offset_col,
                        fit_intercept=self.fit_intercept,
                    )
                )
            return out
        finally:
            if we_persisted:
                df_.unpersist()


class SoftmaxRegression(MulticlassLogisticRegression):
    """True multinomial (softmax) logistic regression — beyond-reference.

    Unlike the OvR parent, the k class coefficient vectors are fit JOINTLY:
    each L-BFGS objective evaluation is one fused Arrow scan computing the
    softmax loss and all k gradients together (``kernels.
    softmax_loss_gradient`` — the P2 shape with a (p, k) partial), so an
    optimizer sweep costs one pass over the cache instead of OvR's k, and
    ``predict_proba`` returns the jointly-calibrated softmax instead of
    OvR's renormalized sigmoids. ``solver='lbfgs'`` fits smooth
    objectives; ``solver='proximal_grad'`` (round 12) runs FISTA over
    the flattened (p, k) matrix for non-smooth penalties — L1 feature
    selection on hashed text dims
    (``regularizer``/``lamduh``/``max_iter``/``tol`` route through);
    ``solver='newton_cg'`` (round 13) is matrix-free truncated Newton
    over the joint objective — pure MLE (no regularizer routes, the
    binary newton contract), each CG matvec one two-GEMM Hvp scan.

    Prediction reuses the parent's argmax machinery over LINEAR scores
    (argmax is monotone-invariant, so the sigmoid is unnecessary);
    ``predict_proba`` is a numerically-stable (max-shifted) softmax, with
    the score array let-bound once."""

    def refit_mle(self, df: DataFrame, **extra):
        """Softmax refit-at-MLE: like the OvR parent's, but warm-started
        at this fit's joint (p, k) coefficients — the unpenalized refit
        usually converges in a handful of sweeps. Solver pins to lbfgs
        (proximal_grad exists only to carry a penalty)."""
        if getattr(self, "_coefs", None) is None:
            raise ValueError("refit_mle() requires a fitted model")
        params = self.get_params()
        params["regularizer"] = None
        params["lamduh"] = 0.0
        params["solver"] = "lbfgs"
        m = type(self)(**params)
        m.fit(df, init_beta=np.column_stack(self._coefs), **extra)
        return m

    def summary(self, df: DataFrame):
        """Joint multinomial Wald inference (round 12) — NOT the OvR
        parent's per-class binary summaries (those are a different
        estimand; the divergence is pinned in tests): the (p·(k−1))²
        Fisher information of the reference-class-pinned softmax at the
        fitted probabilities, one Arrow scan (``inference.
        softmax_summary``). Coefficients reported as contrasts vs the
        LAST sorted class; loud guard past p·(k−1) = 2048."""
        from dask_glm_spark.functions import inference
        from dask_glm_spark.sources import vectors as V

        if getattr(self, "_coefs", None) is None:
            raise ValueError("summary() requires a fitted model")
        self._reject_penalized_inference("summary()")
        if V.is_vector_column(df, self.features_col):
            df = V.from_vector_column(df, self.features_col)
        if V.is_sparse_columns(df):
            raise NotImplementedError(
                "summary() supports dense features only: the (p*(k-1))^2 "
                "covariance is the wrong object for wide-sparse fits"
            )
        df_ = self._maybe_add_intercept(df)
        return inference.softmax_summary(
            df_, np.column_stack(self._coefs), self.classes_,
            features_col=self.features_col, weight_col=self.weight_col,
        )

    # estimator solver -> solvers.<name> (dense) / <name>_sparse
    _SOFTMAX_SOLVERS = {
        "lbfgs": "softmax_lbfgs",
        "proximal_grad": "softmax_proximal",
        "newton_cg": "softmax_newton_cg",
    }

    def fit(self, df: DataFrame, y=None, **extra):
        """Joint fit over a dense features array or wide-sparse
        (findices, fvalues) columns (one O(k·nnz) fused scan per
        evaluation, ``solvers.softmax_*_sparse``). Sparse fit_intercept
        (round 12) appends a constant-1 coordinate at index p_base per row
        — the binary ``_sparse_design``; standardization never applies to
        sparse input (it would densify)."""
        from dask_glm_spark.plans.layout import right_size_kernel_cache
        from dask_glm_spark.sources import vectors as V

        if V.is_vector_column(df, self.features_col):
            df = V.from_vector_column(df, self.features_col)
        if self.solver not in self._SOFTMAX_SOLVERS:
            raise NotImplementedError(
                "SoftmaxRegression supports solver in ('lbfgs', "
                f"'proximal_grad', 'newton_cg'), got {self.solver!r}"
            )
        if self.offset_col is not None:
            # a shared per-row offset is invariant under softmax (it
            # shifts every class logit equally) — reject the no-op
            raise NotImplementedError(
                "SoftmaxRegression does not support offset_col (an equal "
                "per-class offset cancels in the softmax)"
            )
        sparse = V.is_sparse_columns(df)
        # Sparse input: persist BEFORE class discovery (r14, guide
        # §5/§2.4): the input is typically an uncached featurizer
        # derivation (fit_text_classifier's mapInPandas scan), which would
        # otherwise run once for the classes job, once for a sparse width
        # probe, and once more when the solver materializes its own cache.
        # Persisting here makes the first of those jobs materialize the
        # cache, so the featurize runs exactly once; the solver is told
        # persist=False (the relabel / intercept views scan this cache
        # through narrow projections — the OvR "k classes never means k
        # cached copies" contract). A dense fit reads its input once into
        # its block cache, so dense input is not persisted.
        with solvers._cached(df, sparse) as (df, owned):
            if owned:
                extra["persist"] = False
            if sparse:
                df = self._sparse_design(df, extra)
                extra.pop("normalize", None)
                # class discovery as a grouped COUNT (same single job,
                # same class set/order as a distinct) so the row count
                # comes out for free — it sizes the kernel-cache coalesce
                # view below (r14 pass 3, guide §2.2)
                with kernels.kernel_exec(df.sparkSession):
                    _crows = (
                        df.groupBy(self.label_col)
                        .agg(F.count("*").alias("_n"))
                        .orderBy(self.label_col)
                        .collect()
                    )
                classes = [r[0] for r in _crows]
                if owned:
                    # every evaluation is a python-boundary scan of this
                    # cache — at small n each of its (core-count)
                    # partitions is a separate python-worker round trip
                    # (measured 0.40 -> 0.21 s/eval at bench shape). View
                    # only; the cache itself is what gets unpersisted.
                    df = right_size_kernel_cache(
                        df, sum(r["_n"] for r in _crows)
                    )
            else:
                with kernels.kernel_exec(df.sparkSession):
                    classes = [
                        r[0]
                        for r in df.select(self.label_col)
                        .distinct()
                        .orderBy(self.label_col)
                        .collect()
                    ]
            if len(classes) < 2:
                raise ValueError(f"need >= 2 classes, got {classes!r}")
            k = len(classes)
            # label -> class index (position in the sorted class array);
            # array_position is 1-based and the label column is replaced only
            # in the solver's view of the data
            cls_arr = F.array(*[F.lit(c) for c in classes])
            dfi = df.withColumn(
                self.label_col,
                (F.array_position(cls_arr, F.col(self.label_col)) - 1).cast(
                    "double"
                ),
            )
            kw = dict(max_iter=self.max_iter, tol=self.tol,
                      label_col=self.label_col)
            if not sparse:
                dfi = self._maybe_add_intercept(dfi)
                kw["features_col"] = self.features_col
            if self.solver != "newton_cg":
                # newton_cg is pure MLE (the binary newton/newton_cg
                # routing contract: no regularizer reaches it)
                kw.update(regularizer=self.regularizer, lamduh=self.lamduh)
            kw.update(extra)
            if self.warm_start and getattr(self, "classes_", None) == classes:
                kw.setdefault("init_beta", np.column_stack(self._coefs))
            if self.weight_col is not None:
                kw.setdefault("weight_col", self.weight_col)
            info = kw.setdefault("fit_info", {})
            name = self._SOFTMAX_SOLVERS[self.solver]
            B = getattr(solvers, name + "_sparse" if sparse else name)(
                dfi, k, **kw
            )
        self.classes_ = classes
        self.n_iter_ = info.get("n_iter")
        self.converged_ = info.get("converged")
        self._coefs = [np.asarray(B[:, c]) for c in range(k)]
        if self.fit_intercept:
            self.coefs_ = np.stack([b[:-1] for b in self._coefs])
            self.intercepts_ = np.array([b[-1] for b in self._coefs])
        else:
            self.coefs_ = np.stack(self._coefs)
            self.intercepts_ = np.zeros(k)
        return self

    # predict() and _sparse_scores_df are inherited from the OvR parent
    # (round 13): both argmax over the LINEAR scores this class's
    # _scores_expr returns, and the sparse scorer is shared verbatim.

    def predict_proba(self, df: DataFrame) -> DataFrame:
        from dask_glm_spark.sources import vectors as V

        if V.is_vector_column(df, self.features_col):
            df = V.from_vector_column(df, self.features_col)
        if not V.is_sparse_columns(df):
            return self._predict_proba_dense(df)
        scored = self._sparse_scores_df(df, "_scores")
        probs = _let(
            F.col("_scores"),
            lambda s: _let(
                F.transform(s, lambda x: F.exp(x - F.array_max(s))),
                lambda e: _let(
                    F.aggregate(e, F.lit(0.0), lambda a, x: a + x),
                    lambda total: F.transform(e, lambda x: x / total),
                ),
            ),
        )
        return scored.withColumn("probabilities", probs).drop("_scores")

    def _scores_expr(self):
        # LINEAR scores z_c = X·β_c (no sigmoid): predict()'s argmax is
        # unchanged, predict_proba softmaxes them
        return F.array(
            *[kernels.matvec_expr(b, self.features_col) for b in self._coefs]
        )

    def _predict_proba_dense(self, df: DataFrame) -> DataFrame:
        df_ = self._maybe_add_intercept(df)
        probs = _let(
            self._scores_expr(),
            lambda s: _let(
                F.transform(s, lambda x: F.exp(x - F.array_max(s))),
                lambda e: _let(
                    F.aggregate(e, F.lit(0.0), lambda a, x: a + x),
                    lambda total: F.transform(e, lambda x: x / total),
                ),
            ),
        )
        return df_.withColumn("probabilities", probs)


# ---------------------------------------------------------------------------
# Model persistence — beyond-reference (the reference has none; real
# pipelines need to fit once and score elsewhere). Plain JSON: the model
# IS its constructor params + driver-resident coefficients, so a file a
# human can read round-trips the estimator exactly — no pickle, no class
# versioning hazards across Spark upgrades.
# ---------------------------------------------------------------------------
_ESTIMATOR_REGISTRY: dict[str, type] = {}


def _register(cls):
    _ESTIMATOR_REGISTRY[cls.__name__] = cls
    return cls


def _to_jsonable(v):
    if isinstance(v, np.ndarray):
        return v.tolist()
    if isinstance(v, (np.floating, np.integer)):
        return v.item()
    return v


def model_to_dict(model) -> dict:
    """JSON-safe dict capturing params + fitted state (None if unfit)."""
    state = {
        "estimator": type(model).__name__,
        "params": {k: _to_jsonable(v) for k, v in model.get_params().items()},
        "coef": _to_jsonable(model._coef),
    }
    if hasattr(model, "classes_"):
        state["classes"] = list(model.classes_)
        state["coefs"] = [_to_jsonable(b) for b in model._coefs]
    return state


def model_from_dict(state: dict):
    cls = _ESTIMATOR_REGISTRY.get(state.get("estimator", ""))
    if cls is None:
        raise ValueError(
            f"unknown estimator {state.get('estimator')!r}; "
            f"expected one of {sorted(_ESTIMATOR_REGISTRY)}"
        )
    m = cls(**state["params"])
    if state.get("coef") is not None:
        m._coef = np.asarray(state["coef"], dtype=np.float64)
        if m.fit_intercept:
            m.coef_ = m._coef[:-1]
            m.intercept_ = m._coef[-1]
        else:
            m.coef_ = m._coef
    if "classes" in state:
        m.classes_ = state["classes"]
        m._coefs = [np.asarray(b, dtype=np.float64) for b in state["coefs"]]
        if m.fit_intercept:
            m.coefs_ = np.stack([b[:-1] for b in m._coefs])
            m.intercepts_ = np.array([b[-1] for b in m._coefs])
        else:
            m.coefs_ = np.stack(m._coefs)
            m.intercepts_ = np.zeros(len(m._coefs))
    return m


def save_model(model, path: str) -> None:
    import json

    with open(path, "w") as fh:
        json.dump(model_to_dict(model), fh)


def load_model(path: str):
    import json

    with open(path) as fh:
        return model_from_dict(json.load(fh))


for _cls in (
    LogisticRegression,
    LinearRegression,
    PoissonRegression,
    GammaRegression,
    TweedieRegression,
    MulticlassLogisticRegression,
    SoftmaxRegression,
):
    _register(_cls)


def cross_val_score(
    make_estimator,
    df: DataFrame,
    n_folds: int = 5,
    features_col: str = "features",
    label_col: str = "label",
) -> list:
    """Deterministic k-fold cross-validation over content-hash folds.

    Fold membership is ``xxhash64(features, label) % n_folds`` — a pure
    narrow expression, so folds are identical across partitionings,
    reruns, and cluster shapes (the sampling-operator reproducibility
    contract; ``randomSplit`` changes with layout). Each fold fits a
    fresh estimator from ``make_estimator()`` on the other folds and
    scores on the held-out one; returns the per-fold scores (the
    estimator's own ``score`` — accuracy / MSE / deviance by class).

    The folded frame is cached once; each of the k fits scans that cache
    with a narrow fold filter — no per-fold materialization."""
    from pyspark import StorageLevel

    from dask_glm_spark.operators.model_selection import cv_fold_column
    from dask_glm_spark.plans.layout import ensure_min_parallelism

    folded = ensure_min_parallelism(
        cv_fold_column(df, n_folds, features_col, label_col)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        scores = []
        for i in range(n_folds):
            train = folded.where(F.col("_cvfold") != i).drop("_cvfold")
            test = folded.where(F.col("_cvfold") == i).drop("_cvfold")
            m = make_estimator()
            m.fit(train)
            scores.append(float(m.score(test)))
        return scores
    finally:
        folded.unpersist()
