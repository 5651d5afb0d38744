"""Wald inference for fitted GLMs — beyond-reference (round 11).

The reference stops at point estimates; every practical GLM consumer
(statsmodels ``summary()``, R ``summary.glm``, MLlib GLR
``summary``) also reports standard errors, Wald statistics, and
p-values. A summary costs one Arrow scan of the training frame at the
fitted β — the gradient+Gram partial every newton iteration runs (the
observed/expected Fisher information ``XᵀWX``), fused with the row
count, the weighted response mean and, for dispersion-estimating
families, the Pearson χ² — plus one deviance aggregate; the p×p
information is inverted on the driver exactly like the newton solve.
Every family-specific quantity (inverse link, variance, link
derivative, unit deviance, null mean, dispersion kind, objective scale)
is a member of the family (``functions/families.py``).

Statistical contract (the MLlib GLR convention, which the tests
cross-check end-to-end):

- ``Cov(β) = φ · (XᵀWX)⁻¹`` with W the IRLS/Fisher weights at β;
- binomial/poisson: φ = 1 fixed, Wald statistic ~ N(0,1);
- gaussian/gamma/tweedie: φ = Pearson χ² / (n − p) estimated, Wald
  statistic ~ t(n − p);
- sample weights multiply both the information and the Pearson terms
  (MLlib ``weightCol``); offsets shift xb before the weights/means.

Student-t tail probabilities need the regularized incomplete beta
function; scipy is not a dependency, so ``reg_inc_beta`` implements the
standard continued-fraction evaluation (Lentz's algorithm — the classic
public formulation; see e.g. DLMF §8.17) on top of ``math.lgamma``.
Its values are pinned against MLlib's own t-based pValues in
tests/test_inference.py.

At 100 TB: both jobs are single scans with O(p²) and O(1) bytes leaving
each executor — the exact shape of one newton iteration, with the same
bytes-aware tree merge. The p×p inverse is the driver's; wide-sparse
fits (p = 2^18 hashed dims) are rejected loudly — a dense p² covariance
is the wrong object there.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_glm_spark.functions.kernels import kernel_exec


# ---------------------------------------------------------------------------
# Special functions (driver-side scalars; no scipy)
# ---------------------------------------------------------------------------
def normal_sf(z: float) -> float:
    """Standard normal survival function P(Z > z) via erfc."""
    return 0.5 * math.erfc(float(z) / math.sqrt(2.0))


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the regularized incomplete beta (modified
    Lentz). Converges in O(sqrt(max(a,b))) iterations for the t-test
    argument ranges used here."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 3e-16:
            return h
    raise RuntimeError("incomplete beta continued fraction did not converge")


def reg_inc_beta(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        math.lgamma(a + b)
        - math.lgamma(a)
        - math.lgamma(b)
        + a * math.log(x)
        + b * math.log1p(-x)
    )
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def students_t_sf(t: float, df: float) -> float:
    """Student-t survival function P(T > t) for df > 0."""
    t = float(t)
    x = df / (df + t * t)
    p_two_tail = reg_inc_beta(df / 2.0, 0.5, x)  # P(|T| > |t|)
    return 0.5 * p_two_tail if t >= 0 else 1.0 - 0.5 * p_two_tail


def _isf(sf_fn, p: float) -> float:
    """Inverse survival function by bisection on a monotone-decreasing
    sf (driver-side scalar, ~50 iterations to float precision — the
    quantile is computed once per interval call, not per row). Handles
    p >= 0.5 by symmetry of the zero-centered distributions used here
    (normal / Student-t): isf(p) = -isf(1-p) — the bisection itself only
    searches [0, inf) (ADVICE r11: it silently returned ~0 there)."""
    if not 0.0 < p < 1.0:
        raise ValueError(f"tail probability must be in (0, 1), got {p}")
    if p == 0.5:
        return 0.0
    if p > 0.5:
        return -_isf(sf_fn, 1.0 - p)
    lo, hi = 0.0, 1.0
    while sf_fn(hi) > p:
        hi *= 2.0
        if hi > 1e9:  # pragma: no cover — sf(1e9) is far below any p
            break
    for _ in range(200):
        mid = 0.5 * (lo + hi)
        if sf_fn(mid) > p:
            lo = mid
        else:
            hi = mid
        if hi - lo <= 1e-13 * max(1.0, hi):
            break
    return 0.5 * (lo + hi)


def normal_isf(p: float) -> float:
    """z with P(Z > z) = p (upper-tail quantile)."""
    return _isf(normal_sf, p)


def students_t_isf(p: float, df: float) -> float:
    """t with P(T > t) = p."""
    return _isf(lambda t: students_t_sf(t, df), p)


# ---------------------------------------------------------------------------
# Dispersion: one per-batch partial shared by the dense and sparse scans
# ---------------------------------------------------------------------------
def _dispersion_part(family, beta: np.ndarray, label_col: str):
    """``(zeros, part)`` for ``kernels._arrow_partials``: per batch the
    row count ``n``, ``Σw`` and ``Σw·y`` (the intercept-only null mean)
    and, unless the family's dispersion is fixed, the Pearson χ²
    ``Σ w·(y−μ)²/V(μ)`` at ``beta``."""
    fixed = family.dispersion_fixed

    def partial(X, y, w=None, o=None) -> dict:
        out = {
            "n": float(len(y)),
            "sw": float(len(y) if w is None else w.sum()),
            "swy": float(y.sum() if w is None else (w * y).sum()),
        }
        if not fixed:
            xb = X @ beta if o is None else X @ beta + o
            mu = family.mean_np(xb)
            term = (y - mu) ** 2 / family.variance_np(mu)
            if w is not None:
                term = term * w
            out["pearson"] = float(term.sum())
        return out

    zeros = {"n": 0.0, "sw": 0.0, "swy": 0.0}
    if not fixed:
        zeros["pearson"] = 0.0
    return zeros, (partial, label_col, "")


def _dispersion(acc: dict, family, p: int) -> tuple[float, float, float]:
    """``(n, df_residual, φ)`` from the folded dispersion partials: φ = 1
    for fixed-dispersion families (z statistics; df_residual is
    reporting-only and clamped — a hashed p > n is normal for sparse
    fits), else Pearson χ²/(n − p), which needs n > p."""
    n = acc["n"]
    if family.dispersion_fixed:
        return n, max(n - p, 0.0), 1.0
    df_resid = n - p
    if df_resid <= 0:
        raise ValueError(
            f"no residual degrees of freedom (n={n:.0f}, p={p}) — "
            "t-based dispersion inference needs n > p"
        )
    return n, df_resid, acc["pearson"] / df_resid


def _wald(coefs, se, family, n, df_resid, dispersion, **extra) -> "GLMSummary":
    """The GLMSummary of coefficients and their SEs: z statistics with
    normal tails when φ is fixed, t(df_residual) tails otherwise."""
    fixed = family.dispersion_fixed
    with np.errstate(divide="ignore", invalid="ignore"):
        stat = np.where(se > 0, coefs / se, np.nan)
    if fixed:
        pvals = np.array([2.0 * normal_sf(abs(z)) for z in stat])
    else:
        pvals = np.array(
            [2.0 * students_t_sf(abs(t), df_resid) for t in stat]
        )
    return GLMSummary(
        coefficients=coefs, std_errors=se, statistic=stat, p_values=pvals,
        statistic_kind="z" if fixed else "t", dispersion=float(dispersion),
        dispersion_fixed=fixed, df_residual=float(df_resid), n=float(n),
        **extra,
    )


def glm_residuals(
    df: DataFrame,
    family,
    beta,
    kind: str = "deviance",
    features_col: str = "features",
    label_col: str = "label",
    weight_col: str | None = None,
    offset_col: str | None = None,
    out_col: str = "residual",
    xb_col: str | None = None,
) -> DataFrame:
    """Per-row GLM residuals as ONE narrow codegen projection (no Python
    in the path, no shuffle) — the R/MLlib ``residuals()`` surface:

    - ``deviance``: sign(y−μ)·sqrt(w·d(y, μ));
    - ``pearson``: (y−μ)·sqrt(w)/sqrt(V(μ));
    - ``response``: y − μ; ``working``: (y−μ)·dη/dμ (the IRLS working
      residual; equals (y−μ)/V(μ) only for the canonical links —
      gamma/tweedie use the log link's 1/μ, ADVICE r11).

    Weights follow the MLlib convention (residuals scaled by sqrt(w) so
    their sum of squares is the weighted deviance/Pearson χ²).

    ``xb_col`` (round 13, the wide-sparse path): name of a PRECOMPUTED
    linear-predictor column — offset already included — in which case
    ``beta``/``features_col``/``offset_col`` are ignored and the residual
    is the same narrow projection over that column (the sparse estimator
    scores xb in one O(nnz) Arrow pass first)."""
    from dask_glm_spark.functions import kernels

    if xb_col is not None:
        xb = F.col(xb_col)
    else:
        beta = np.asarray(beta, dtype=np.float64).ravel()
        xb = kernels.matvec_expr(beta, features_col)
        if offset_col is not None:
            xb = xb + F.col(offset_col)
    y = F.col(label_col)
    mu = family.mean(xb)
    sqrt_w = (
        F.sqrt(F.col(weight_col)) if weight_col is not None else F.lit(1.0)
    )
    if kind == "deviance":
        d = family.unit_deviance(y, mu)
        r = F.signum(y - mu) * F.sqrt(F.greatest(d, F.lit(0.0))) * sqrt_w
    elif kind == "pearson":
        r = (y - mu) * sqrt_w / F.sqrt(family.variance(mu))
    elif kind == "response":
        r = y - mu
    elif kind == "working":
        r = (y - mu) * family.link_deriv(mu)
    else:
        raise ValueError(
            "kind must be one of 'deviance', 'pearson', 'response', "
            f"'working'; got {kind!r}"
        )
    return df.withColumn(out_col, r)


class GLMSummary:
    """Wald inference table for one fitted GLM.

    Attributes (arrays ordered like the estimator's ``_coef``:
    coefficients first, intercept LAST when ``fit_intercept`` — the MLlib
    GLR ``coefficientStandardErrors`` convention):

    - ``coefficients``, ``std_errors``, ``statistic``, ``p_values``
    - ``statistic_kind``: ``"z"`` (φ known) or ``"t"`` (φ estimated)
    - ``dispersion``, ``dispersion_fixed``, ``df_residual``, ``n``
    """

    def __init__(self, coefficients, std_errors, statistic, p_values,
                 statistic_kind, dispersion, dispersion_fixed,
                 df_residual, n, covariance=None, deviance=None,
                 null_deviance=None):
        self.coefficients = coefficients
        self.std_errors = std_errors
        self.statistic = statistic
        self.p_values = p_values
        self.statistic_kind = statistic_kind
        self.dispersion = dispersion
        self.dispersion_fixed = dispersion_fixed
        self.df_residual = df_residual
        self.n = n
        self.covariance = covariance  # φ·(XᵀWX)⁻¹, (p, p)
        self.deviance = deviance  # Σ w·d(y, μ̂) at the fit
        self.null_deviance = null_deviance  # Σ w·d(y, ȳ_w): intercept-only

    def conf_int(self, level: float = 0.95) -> np.ndarray:
        """(p, 2) Wald confidence bounds ``β ± q·SE`` with q the z or t
        upper-tail quantile matching ``statistic_kind`` (the R
        ``confint.default`` / statsmodels ``conf_int`` convention)."""
        if not 0.0 < level < 1.0:
            raise ValueError(f"level must be in (0, 1), got {level}")
        tail = (1.0 - level) / 2.0
        q = (
            normal_isf(tail)
            if self.dispersion_fixed
            else students_t_isf(tail, self.df_residual)
        )
        return np.column_stack(
            [
                self.coefficients - q * self.std_errors,
                self.coefficients + q * self.std_errors,
            ]
        )

    def __repr__(self):  # pragma: no cover — cosmetic
        rows = "\n".join(
            f"  b[{j}] = {c:+.6g}  se = {s:.4g}  "
            f"{self.statistic_kind} = {z:+.3f}  p = {p:.4g}"
            for j, (c, s, z, p) in enumerate(
                zip(self.coefficients, self.std_errors, self.statistic,
                    self.p_values)
            )
        )
        return (
            f"GLMSummary(n={self.n}, dispersion={self.dispersion:.6g}"
            f"{' (fixed)' if self.dispersion_fixed else ''})\n{rows}"
        )


def glm_summary(
    df: DataFrame,
    family,
    beta,
    features_col: str = "features",
    label_col: str = "label",
    weight_col: str | None = None,
    offset_col: str | None = None,
    robust: bool = False,
    fit_intercept: bool = True,
    rank_tol: float | None = None,
) -> GLMSummary:
    """Wald inference at a fitted coefficient vector (original feature
    space, intercept column included in ``features_col`` if fitted).

    ``rank_tol`` forwards to ``np.linalg.matrix_rank`` on the information
    matrix (ADVICE r12): numpy's default SVD tolerance is relative to the
    largest singular value, so a full-rank but extremely ill-conditioned
    design (feature scale ratios ~1e13+) can be rejected as
    rank-deficient — pass a smaller tolerance, or better, rescale the
    features.

    ``fit_intercept`` controls the NULL model for ``null_deviance``
    (ADVICE r11): True → intercept-only fit (μ̂₀ = weighted mean of y,
    the closed form under every link here); False → the zero-linear-
    predictor model (μ₀ = g⁻¹(0)), matching R's null model for
    no-intercept fits.

    ``robust=True`` (White 1980 / HC0): the covariance becomes the
    sandwich ``H⁻¹·(Σ s_i s_iᵀ)·H⁻¹`` over the OBJECTIVE Hessian and
    per-row scores — any constant objective scaling cancels (H carries
    it twice inverted, the meat twice directly; verified by the numpy
    HC0 twin for gaussian, where our SSE objective is 2× the NLL), and
    the dispersion φ plays no role in the SEs (it is still estimated and
    reported). Valid under variance misspecification — the quasi-
    likelihood / sandwich contract.

    Cost: one Arrow scan (the Hessian partial fused with the dispersion
    partials and, with ``robust``, the HC0 score "meat" ``Σ s_i s_iᵀ``)
    plus one deviance aggregate — 2 Spark jobs."""
    from dask_glm_spark.functions import kernels

    beta = np.asarray(beta, dtype=np.float64).ravel()
    p = len(beta)
    dzeros, dpart = _dispersion_part(family, beta, label_col)
    zeros = {"grad": np.zeros(p), "hess": np.zeros(p * p), **dzeros}
    parts = [(kernels._gradient_hessian_partial(family, beta), label_col, ""),
             dpart]
    if robust:
        def meat(X, y, w=None, o=None):
            # s_i = u_i·x_i, u the (w-scaled) objective score residual
            xb = X @ beta if o is None else X @ beta + o
            u = family.residual_np(xb, y)
            if w is not None:
                u = w * u
            Xu = X * u[:, None]
            return {"meat": (Xu.T @ Xu).ravel()}

        zeros["meat"] = np.zeros(p * p)
        parts.append((meat, label_col, ""))
    acc = kernels._arrow_partials(
        df, kernels._dense(features_col), zeros, parts, weight_col,
        offset_col,
    )
    hess = acc["hess"].reshape(p, p)
    info = hess / family.hess_scale  # unit-dispersion XᵀWX
    # rank check (ADVICE r11): pinv on a rank-deficient information would
    # silently report pseudo-inverse SEs for unidentified coefficients —
    # MLlib GLR refuses SEs there; so do we, loudly.
    rank = int(np.linalg.matrix_rank(info, tol=rank_tol))
    if rank < p:
        raise ValueError(
            f"design matrix is rank-deficient (information rank {rank} < "
            f"p={p}): some coefficients are not identified and Wald SEs "
            "are undefined — drop collinear feature columns and refit. "
            "(If the design is full-rank but wildly unscaled — feature "
            "magnitude ratios beyond ~1e7 — this is a conditioning "
            "failure of the SVD rank test: rescale the features, or pass "
            "an explicit rank_tol.)"
        )
    n, df_resid, dispersion = _dispersion(acc, family, p)

    # total + null deviance in ONE aggregate: d at the fitted μ and at
    # the null μ₀ — the intercept-only MLE μ̂₀ = weighted mean of y
    # (closed form under every link here) when an intercept was fit, or
    # g⁻¹(0) for no-intercept fits (R's zero-linear-predictor null,
    # ADVICE r11). Offsets are excluded from the null model (R's
    # convention is offset-INCLUDED null, which has no closed form —
    # documented divergence; with no offset the values match R/MLlib
    # exactly).
    y = F.col(label_col)
    w = F.col(weight_col) if weight_col is not None else F.lit(1.0)
    xb_fit = kernels.matvec_expr(beta, features_col)
    if offset_col is not None:
        xb_fit = xb_fit + F.col(offset_col)
    d_fit = family.unit_deviance(y, family.mean(xb_fit))
    mu0 = acc["swy"] / acc["sw"] if fit_intercept else family.null_mean
    d_null = family.unit_deviance(y, F.lit(float(mu0)))
    with kernel_exec(df.sparkSession):
        drow = df.agg(
            F.sum(w * d_fit).alias("dev"), F.sum(w * d_null).alias("dev0")
        ).collect()[0]

    if robust:
        h_inv = np.linalg.pinv(hess)  # OBJECTIVE Hessian: scaling cancels
        cov = h_inv @ acc["meat"].reshape(p, p) @ h_inv
    else:
        cov = np.linalg.inv(info) * dispersion
    se = np.sqrt(np.maximum(np.diag(cov), 0.0))
    return _wald(
        beta, se, family, n, df_resid, dispersion, covariance=cov,
        deviance=float(drow["dev"]), null_deviance=float(drow["dev0"]),
    )


# ---------------------------------------------------------------------------
# Matrix-free Wald SEs for selected coordinates of wide-sparse fits
# (round 12) — the escape hatch behind summary()'s sparse rejection
# ---------------------------------------------------------------------------
def sparse_coef_se(
    df: DataFrame,
    family,
    beta: np.ndarray,
    coords,
    p: int,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
    weight_col: str | None = None,
    offset_col: str | None = None,
    cg_tol: float = 1e-10,
    max_cg_iter: int | None = None,
    robust: bool = False,
) -> GLMSummary:
    """Wald inference for SELECTED coordinates of a wide-sparse MLE fit.

    The full p×p covariance is the wrong object at hashed-text widths
    (the reason ``summary()`` rejects sparse input), but a user asking
    about a handful of named buckets needs only ``(I⁻¹)_jj``. Each is the
    j-th component of the solve ``I·x = e_j`` — done matrix-free by CG
    over ``kernels_sparse.hessian_vector_product_sparse`` (one O(nnz)
    scan per CG step, O(p) driver memory, never a p² object). Cost:
    (#coords) × (#CG iterations) scans of the cached frame — practical
    for tens of coordinates; for ALL coordinates use a dense fit.

    Exactness: CG converges to the true inverse entry at ``cg_tol``; the
    reported SEs equal the dense ``glm_summary`` values (pinned 1e-6 in
    tests). A coordinate whose information row is in the null space
    (e.g. a hash bucket never observed, or separation) raises — there is
    no silent pinv answer here, matching the dense rank guard.

    ``robust=True`` (round 13, VERDICT r12 #3): HC0 sandwich SEs for the
    same coordinates, still matrix-free — the sandwich diagonal is
    ``x_cᵀ M x_c`` with ``x_c = H⁻¹e_c`` (the CG solve this function
    already runs, rescaled from the unit information to the OBJECTIVE
    Hessian) and ``M = Σᵢ sᵢsᵢᵀ`` the score outer-product "meat"; since
    only the quadratic form is needed, M is never formed — the one
    O(nnz) dispersion scan also computes ``Σᵢ (sᵢᵀx_c)²`` for ALL
    coordinates (per batch: one scatter of the stacked solves, one
    residual pass).
    Matches dense ``glm_summary(robust=True)`` at the same coordinates
    (1e-6 pytest); dispersion is reported but plays no role in the SEs,
    exactly the dense sandwich contract.

    Returns a ``GLMSummary`` whose arrays are ordered like ``coords``
    (covariance=None; deviances not computed — this is the targeted-SE
    surface, not the full summary)."""
    beta = np.asarray(beta, dtype=np.float64).ravel()
    coords = [int(c) for c in coords]
    if not coords:
        raise ValueError("coords must name at least one coefficient index")
    for c in coords:
        if not 0 <= c < p:
            raise ValueError(f"coordinate {c} outside [0, {p})")
    if max_cg_iter is None:
        # NOT min(p, ...): exact-arithmetic CG finishes in p steps, but
        # floating-point CG on an ill-conditioned information needs more
        # (observed: p=5 lineitem-scale features stall at 7e-4 relative
        # residual in exactly p iterations) — allow 4p with a floor for
        # tiny p and a scan-budget ceiling for hashed widths
        max_cg_iter = min(max(4 * p, 64), 512)

    # many scans ahead (one per CG step per coordinate): cache the frame
    # for the duration with the same parallelism floor the sparse solvers
    # apply (review r12: a single-row-group input would otherwise run
    # every CG scan on one core)
    from pyspark import StorageLevel

    from dask_glm_spark.plans.layout import ensure_min_parallelism

    we_persisted = False
    if not df.is_cached:
        df = ensure_min_parallelism(df)
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        we_persisted = True
    try:
        return _sparse_coef_se_body(
            df, family, beta, coords, p, idx_col, val_col, label_col,
            weight_col, offset_col, cg_tol, max_cg_iter, robust,
        )
    finally:
        if we_persisted:
            df.unpersist()


def _sparse_coef_se_body(
    df, family, beta, coords, p, idx_col, val_col, label_col,
    weight_col, offset_col, cg_tol, max_cg_iter, robust=False,
):
    from dask_glm_spark.functions.kernels import _arrow_partials
    from dask_glm_spark.functions.kernels_sparse import (
        _csr,
        hessian_vector_product_sparse,
    )
    from dask_glm_spark.operators.solvers import _cg_solve

    scale = family.hess_scale

    def hvp(v: np.ndarray) -> np.ndarray:
        return (
            hessian_vector_product_sparse(
                df, family, beta, v, p, idx_col, val_col, label_col,
                weight_col=weight_col, offset_col=offset_col,
            )
            / scale
        )

    inv_diag = np.empty(len(coords))
    solves: list[np.ndarray] = []  # H⁻¹e_c per coordinate (robust only)
    for i, c in enumerate(coords):
        e = np.zeros(p)
        e[c] = 1.0
        # identification probe: the diagonal entry of I bounds the CG
        # curvature along e_c; zero means the coordinate never appears
        # with nonzero hessian weight — (I^-1)_cc is undefined
        Ae = hvp(e)
        if Ae[c] <= 0:
            raise ValueError(
                f"coordinate {c} is not identified (information diagonal "
                "<= 0 — feature never observed, or the fit is separated); "
                "its Wald SE is undefined"
            )
        # first CG direction IS e, so the probe's A·e doubles as the
        # first matvec — one cluster scan saved per coordinate (review
        # r12); and unlike newton_cg's deliberate truncation, inference
        # REQUIRES a converged solve, so verify the residual.
        x, n_mv, rel = _cg_solve(
            hvp, e, rtol=cg_tol, maxiter=max_cg_iter, first_matvec=Ae
        )
        if rel > max(cg_tol * 10.0, 1e-6):
            raise ValueError(
                f"CG did not converge for coordinate {c} (relative "
                f"residual {rel:.2e} after {max_cg_iter} iterations) — "
                "the SE would be silently inaccurate; raise max_cg_iter "
                "or precondition/rescale the features"
            )
        if x[c] <= 0:
            raise ValueError(
                f"CG solve for coordinate {c} returned a non-positive "
                "inverse-information diagonal — the information is "
                "singular along this direction; drop collinear buckets"
            )
        inv_diag[i] = x[c]
        if robust:
            # CG solved I·x = e against the UNIT information; the
            # sandwich bread is the OBJECTIVE Hessian H = scale·I
            solves.append(x / scale)

    # one O(nnz) scan: the dispersion partials (the dense summary's
    # closure) and, with robust, the HC0 sandwich diagonal for ALL
    # coordinates — per batch, T[i, j] = x_iᵀ·solve_j (one scatter per
    # stacked solve), s_iᵀ·solve_j = u_i·T[i, j] with u the (w-scaled)
    # objective score residual — partial is Σᵢ (u_i·T[i, :])².
    zeros, dpart = _dispersion_part(family, beta, label_col)
    parts = [dpart]
    if robust:
        XC = np.column_stack(solves)  # (p, n_coords)

        def meat_partial(X, y, w=None, o=None) -> dict:
            xb = X @ beta if o is None else X @ beta + o
            u = family.residual_np(xb, y)
            if w is not None:
                u = u * w
            # row-major, so the column sums below accumulate row by row
            T = np.ascontiguousarray(X @ XC)
            return {"sand": ((u[:, None] * T) ** 2).sum(axis=0)}

        zeros["sand"] = np.zeros(XC.shape[1])
        parts.append((meat_partial, label_col, ""))
    acc = _arrow_partials(
        df, _csr(idx_col, val_col, p), zeros, parts, weight_col, offset_col,
    )
    n, df_resid, dispersion = _dispersion(acc, family, p)
    se = (
        np.sqrt(acc["sand"]) if robust else np.sqrt(dispersion * inv_diag)
    )
    return _wald(beta[coords], se, family, n, df_resid, dispersion)


# ---------------------------------------------------------------------------
# Joint-softmax (multinomial) Wald inference — round 12
# ---------------------------------------------------------------------------
SOFTMAX_INFO_MAX = 2048  # p·(k−1) guard: the information is (p·(k−1))²


class SoftmaxSummary:
    """Wald inference for a jointly-fit multinomial (softmax) model,
    identified by pinning the LAST (sorted) class as the reference:
    coefficients are log-odds contrasts β_c − β_ref, the object whose
    Fisher information is nonsingular (the raw softmax parameterization
    is shift-invariant, so its information has a p-dimensional null
    space). Arrays are (p, k−1): row = feature (intercept LAST when
    fitted), column = non-reference class in ``classes`` order.

    Multinomial dispersion is fixed at 1 → z statistics."""

    def __init__(self, coefficients, std_errors, statistic, p_values,
                 classes, reference_class, n, covariance=None):
        self.coefficients = coefficients
        self.std_errors = std_errors
        self.statistic = statistic
        self.p_values = p_values
        self.classes = classes
        self.reference_class = reference_class
        self.n = n
        self.covariance = covariance  # (p·(k−1))², class-major blocks
        self.statistic_kind = "z"
        self.dispersion = 1.0
        self.dispersion_fixed = True

    def __repr__(self):  # pragma: no cover — cosmetic
        lines = [
            f"SoftmaxSummary(n={self.n:.0f}, "
            f"reference_class={self.reference_class!r})"
        ]
        p, km1 = self.coefficients.shape
        for c in range(km1):
            lines.append(f" class {self.classes[c]!r} vs reference:")
            for j in range(p):
                lines.append(
                    f"  b[{j}] = {self.coefficients[j, c]:+.6g}  "
                    f"se = {self.std_errors[j, c]:.4g}  "
                    f"z = {self.statistic[j, c]:+.3f}  "
                    f"p = {self.p_values[j, c]:.4g}"
                )
        return "\n".join(lines)


def _softmax_information(
    df: DataFrame,
    B: np.ndarray,
    p: int,
    k: int,
    features_col: str,
    weight_col: str | None,
) -> tuple[np.ndarray, float]:
    """((p·(k−1))², n): the observed(=expected; canonical link) Fisher
    information of the reference-class-pinned multinomial at the fitted
    probabilities, plus the row count — ONE Arrow scan. Block (c, d) is
    ``Xᵀ diag(w·(P_c·(δ_cd − P_d))) X``; the per-batch cost is
    (k−1)(k/2) p×p GEMMs and the partial is (p(k−1))² doubles per
    partition under the bytes-aware tree merge (the Gram-job shape,
    (k−1)² times over). The label column is NOT read — the multinomial
    information depends only on X and P."""
    from dask_glm_spark.functions.kernels import _arrow_partials, _dense

    m = p * (k - 1)

    def batch_partial(X, y, w=None) -> dict:
        Z = X @ B
        Z -= Z.max(axis=1, keepdims=True)
        P = np.exp(Z)
        P /= P.sum(axis=1, keepdims=True)
        info = np.empty((m, m))
        for c in range(k - 1):
            for d in range(c, k - 1):
                wv = P[:, c] * ((1.0 if c == d else 0.0) - P[:, d])
                if w is not None:
                    wv = w * wv
                blk = X.T @ (wv[:, None] * X)
                info[c * p:(c + 1) * p, d * p:(d + 1) * p] = blk
                if d != c:
                    info[d * p:(d + 1) * p, c * p:(c + 1) * p] = blk.T
        return {"info": info.ravel(), "n": float(len(X))}

    acc = _arrow_partials(
        df, _dense(features_col), {"info": np.zeros(m * m), "n": 0.0},
        [(batch_partial, None, "")], weight_col,
    )
    return acc["info"].reshape(m, m), acc["n"]


def softmax_summary(
    df: DataFrame,
    B: np.ndarray,
    classes: list,
    features_col: str = "features",
    weight_col: str | None = None,
) -> SoftmaxSummary:
    """Wald inference for a jointly-fit softmax coefficient matrix ``B``
    (p, k) over ``classes`` (sorted; the LAST is pinned as reference).
    The reported coefficients are the contrasts ``B[:, c] − B[:, k−1]``
    — invariant to the fit's parameterization — with SEs from the
    inverse of the pinned-model information (one Arrow scan; see
    ``_softmax_information``). Loud guard past ``SOFTMAX_INFO_MAX``:
    the (p·(k−1))² information is the wrong object for wide p·k."""
    B = np.ascontiguousarray(B, dtype=np.float64)
    p, k = B.shape
    if k != len(classes):
        raise ValueError(
            f"B has {k} class columns but {len(classes)} classes given"
        )
    if k < 2:
        raise ValueError("softmax inference needs k >= 2 classes")
    m = p * (k - 1)
    if m > SOFTMAX_INFO_MAX:
        raise ValueError(
            f"p*(k-1) = {m} > {SOFTMAX_INFO_MAX}: the joint multinomial "
            "information is (p*(k-1))^2 — too wide for dense Wald "
            "inference. Use OvR (MulticlassLogisticRegression.summaries) "
            "or reduce the feature width."
        )
    info, n = _softmax_information(df, B, p, k, features_col, weight_col)
    rank = int(np.linalg.matrix_rank(info))
    if rank < m:
        raise ValueError(
            f"multinomial information is rank-deficient (rank {rank} < "
            f"{m}): coefficients are not identified — drop collinear "
            "feature columns and refit"
        )
    cov = np.linalg.inv(info)
    D = B[:, : k - 1] - B[:, k - 1:]  # (p, k−1) contrasts vs reference
    se = np.sqrt(np.maximum(np.diag(cov), 0.0))
    se = se.reshape(k - 1, p).T  # class-major diag -> (p, k−1)
    with np.errstate(divide="ignore", invalid="ignore"):
        stat = np.where(se > 0, D / se, np.nan)
    pvals = np.vectorize(lambda z: 2.0 * normal_sf(abs(z)))(stat)
    return SoftmaxSummary(
        coefficients=D, std_errors=se, statistic=stat, p_values=pvals,
        classes=list(classes), reference_class=classes[-1], n=float(n),
        covariance=cov,
    )


def _quadratic_form_expr(A: np.ndarray, features_col: str):
    """Per-row ``xᵀ A x`` with A folded in as ONE array<array<double>>
    literal (the bloom_words_lit from_json pattern) and two nested loop
    aggregates — O(1) generated-code size at any p (the unrolled form
    would be p² expression nodes; see the round-11 standardize_expr
    finding)."""
    import json

    lit = F.from_json(
        F.lit(json.dumps([[float(v) for v in row] for row in A])),
        "array<array<double>>",
    )
    x = F.col(features_col)
    return F.aggregate(
        F.transform(
            x,
            lambda xi, i: xi
            * F.aggregate(
                F.zip_with(F.get(lit, i), x, lambda a, xj: a * xj),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def glm_predict_interval(
    df: DataFrame,
    family,
    summary: GLMSummary,
    level: float = 0.95,
    scale: str = "mean",
    features_col: str = "features",
    offset_col: str | None = None,
) -> DataFrame:
    """Wald confidence intervals for the MEAN response (not prediction
    intervals for new observations): per row, ``se_link =
    sqrt(xᵀ Σ x)`` with Σ the fitted covariance from ``glm_summary``
    (MUST come from the TRAINING frame), the link-scale interval
    ``xb ± q·se_link`` (q = z or t upper-tail quantile matching the
    summary's statistic), and — for ``scale='mean'`` — the interval
    endpoints mapped through the monotone inverse link (the standard
    GLM practice; a delta-method mean-scale se is NOT used). One narrow
    projection, no shuffle: Σ rides as one folded literal.

    Adds columns ``prediction``, ``se_link``, ``lo``, ``hi``."""
    q = _interval_quantile(summary, level)
    from dask_glm_spark.functions import kernels

    beta = np.asarray(summary.coefficients, dtype=np.float64)
    xb = kernels.matvec_expr(beta, features_col)
    if offset_col is not None:
        xb = xb + F.col(offset_col)
    se = F.sqrt(
        F.greatest(
            _quadratic_form_expr(summary.covariance, features_col),
            F.lit(0.0),
        )
    )
    out = df.withColumn("se_link", se)
    return _attach_interval_cols(out, family, xb, q, scale)


def _interval_quantile(summary: GLMSummary, level: float) -> float:
    """Shared validation + z/t upper-tail quantile for the interval
    surfaces (dense and sparse)."""
    if summary.covariance is None:
        raise ValueError(
            "summary carries no covariance matrix (coords-only sparse "
            "summaries report per-coordinate SEs without the covariance "
            "the per-row interval needs — compute the summary on a dense "
            "training frame)"
        )
    if not 0.0 < level < 1.0:
        raise ValueError(f"level must be in (0, 1), got {level}")
    tail = (1.0 - level) / 2.0
    if summary.dispersion_fixed:
        return normal_isf(tail)
    return students_t_isf(tail, summary.df_residual)


def _attach_interval_cols(out: DataFrame, family, xb, q: float, scale: str):
    """prediction/lo/hi columns over a frame that already carries
    ``se_link`` — the link-scale Wald interval, endpoints mapped through
    the monotone inverse link for ``scale='mean'``."""
    lo_link = xb - F.lit(float(q)) * F.col("se_link")
    hi_link = xb + F.lit(float(q)) * F.col("se_link")
    if scale == "link":
        return (
            out.withColumn("prediction", xb)
            .withColumn("lo", lo_link)
            .withColumn("hi", hi_link)
        )
    if scale == "mean":
        return (
            out.withColumn("prediction", family.mean(xb))
            .withColumn("lo", family.mean(lo_link))
            .withColumn("hi", family.mean(hi_link))
        )
    raise ValueError(f"scale must be 'link' or 'mean', got {scale!r}")


def sparse_predict_interval(
    df: DataFrame,
    family,
    summary: GLMSummary,
    level: float = 0.95,
    scale: str = "mean",
    idx_col: str = "findices",
    val_col: str = "fvalues",
    fit_intercept: bool = True,
    offset_col: str | None = None,
) -> DataFrame:
    """Wald mean-response intervals over WIDE-SPARSE (indices, values)
    scoring rows — round 13 (VERDICT r12 #2): the sparse twin of
    ``glm_predict_interval`` with identical semantics and output columns
    (``prediction`` / ``se_link`` / ``lo`` / ``hi``), parity-pinned
    against the dense path in tests.

    The TRAINING summary must carry a covariance — i.e. come from a
    dense-features ``summary()`` call (a coords-only sparse summary has
    none; the p×p Σ is the wrong object at hashed widths, which bounds
    this surface to moderate p by construction). Per Arrow batch the
    linear predictor and the quadratic form ``xᵀΣx`` are computed
    together in O(nnz·p) numpy (Σ rides the closure; with
    ``fit_intercept`` the constant-1 coordinate at index p−1 is appended
    batch-side, mirroring the fit's ``append_intercept_coord``); the
    interval algebra is then the SAME narrow SQL tail the dense path
    uses. One scan, no shuffle, no p² bytes leaving any executor —
    Σ travels one broadcast closure."""
    from dask_glm_spark.functions.kernels import _with_columns
    from dask_glm_spark.functions.kernels_sparse import (
        CSRMatrix,
        _batch_csr,
        _f64,
    )

    q = _interval_quantile(summary, level)
    beta = np.asarray(summary.coefficients, dtype=np.float64).ravel()
    Sigma = np.ascontiguousarray(summary.covariance, dtype=np.float64)
    p = len(beta)
    if Sigma.shape != (p, p):
        raise ValueError(
            f"covariance shape {Sigma.shape} does not match the {p} "
            "summary coefficients"
        )
    if offset_col is not None and offset_col not in df.columns:
        raise ValueError(
            f"offset_col {offset_col!r} is not a column of the scoring "
            "DataFrame; add it (or score a model fitted without "
            "offset_col)"
        )

    def op(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            X = _batch_csr(rb, idx_col, val_col, p)
            n = X.shape[0]
            if fit_intercept:
                # the fit's constant-1 coordinate at index p−1
                X = CSRMatrix(
                    np.concatenate([X.indices, np.full(n, p - 1)]),
                    np.concatenate([X.values, np.ones(n)]),
                    np.concatenate([X.row_ids, np.arange(n)]),
                    X.shape,
                )
            xb = X @ beta
            if offset_col is not None:
                xb = xb + _f64(rb, offset_col)
            # Σ·x per row: one scatter per Σ column, then contract with x
            # again — O(nnz·p) per batch, never a dense (n, p) X
            Sx = X @ Sigma
            quad = np.bincount(
                X.row_ids,
                weights=X.values * Sx[X.row_ids, X.indices],
                minlength=n,
            )
            yield _with_columns(
                rb, {"_xb": xb, "se_link": np.sqrt(np.maximum(quad, 0.0))}
            )

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    scored = df.mapInArrow(
        op, schema=f"{fields}, _xb double, se_link double"
    )
    return _attach_interval_cols(
        scored, family, F.col("_xb"), q, scale
    ).drop("_xb")
