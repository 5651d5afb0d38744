"""Driver-side numpy reference for the fit checks.

A fit is checked by its objective, not its coefficients: a capped-iteration
solver is not at the optimum, but its objective must sit within a fixed
relative gap of the optimum that (proximal) Newton reaches on the same
arrays. The objective is the one the library's solvers minimize:

    F(b) = sum_i loss(x_i . b, y_i) + lam * R(b_std)

where ``b_std`` is ``b`` mapped into the standardized feature space the
solvers optimize in (population std; means centred only when a constant
intercept column exists — the reference ``normalize`` convention), and
R is ``||.||^2 / 2`` (l2) or ``||.||_1`` (l1). The loss is written out
here independently of ``dask_glm_spark.functions.families``; constants
that do not depend on ``b`` are dropped.
"""

from __future__ import annotations

import copy

import numpy as np


def logistic(xb: np.ndarray, y: np.ndarray):
    """(loss, d loss / d xb, d2 loss / d xb2) summed over rows."""
    with np.errstate(over="ignore"):  # exp(-xb) -> inf gives mu = 0 exactly
        mu = 1.0 / (1.0 + np.exp(-xb))
    loss = float(np.sum(np.logaddexp(0.0, xb) - y * xb))
    return loss, mu - y, mu * (1.0 - mu)


def poisson(xb: np.ndarray, y: np.ndarray):
    with np.errstate(over="ignore"):  # a rejected line-search probe may overflow
        mu = np.exp(xb)
    return float(np.sum(mu - y * xb)), mu - y, mu


FAMILIES = {"logistic": logistic, "poisson": poisson}


class Problem:
    """One GLM objective over driver-side arrays."""

    def __init__(self, X, y, family: str, intercept: bool):
        if intercept:
            X = np.hstack([X, np.ones((X.shape[0], 1))])
        self.X, self.y = X, y
        self.fam = FAMILIES[family]
        self.reg, self.lam = None, 0.0
        std = X.std(axis=0)
        mean = X.mean(axis=0)
        const = std == 0
        mean[const] = 0.0
        std[const] = 1.0
        if not const.any():
            mean[:] = 0.0
        self.mean, self.std, self.const = mean, std, const
        self.Z = (X - mean) / std

    def to_std(self, b: np.ndarray) -> np.ndarray:
        """Original-space coefficients -> standardized-space coefficients
        (the inverse of the solvers' back-transform)."""
        bs = b * self.std
        bs[self.const] += np.sum(b * self.mean)
        return bs

    def _penalty(self, bs: np.ndarray) -> float:
        if self.reg is None:
            return 0.0
        if self.reg == "l2":
            return self.lam * float(bs @ bs) / 2.0
        return self.lam * float(np.abs(bs).sum())

    def objective_std(self, bs: np.ndarray) -> float:
        return self.fam(self.Z @ bs, self.y)[0] + self._penalty(bs)

    def objective(self, b: np.ndarray) -> float:
        return self.objective_std(self.to_std(np.asarray(b, dtype=np.float64)))

    def with_penalty(self, reg: str | None, lam: float) -> "Problem":
        """The same arrays under another penalty (shares Z)."""
        other = copy.copy(self)
        other.reg, other.lam = reg, float(lam)
        return other

    def optimum(self, iters: int = 60, start=None) -> tuple[float, np.ndarray]:
        """Proximal Newton in the standardized space: Newton steps for the
        smooth part, an exact coordinate-descent solve of the l1-penalized
        quadratic model, and a backtracking line search on F."""
        Z, y = self.Z, self.y
        b = np.zeros(Z.shape[1]) if start is None else np.array(start, dtype=np.float64)
        f = self.objective_std(b)
        for _ in range(iters):
            _, r, w = self.fam(Z @ b, y)
            g = Z.T @ r
            H = (Z * w[:, None]).T @ Z
            if self.reg == "l2":
                g = g + self.lam * b
                H = H + self.lam * np.eye(len(b))
            if self.reg == "l1":
                target = _l1_quadratic(b, g, H, self.lam)
            else:
                target = b - np.linalg.solve(H + 1e-12 * np.eye(len(b)), g)
            d = target - b
            t = 1.0
            while True:
                f_new = self.objective_std(b + t * d)
                if f_new <= f or t < 1e-10:
                    break
                t *= 0.5
            if f - f_new <= 1e-14 * max(1.0, abs(f)):
                b, f = (b + t * d, f_new) if f_new < f else (b, f)
                break
            b, f = b + t * d, f_new
        return f, b

    def ista(self, max_iter: int, start=None, max_backtracks: int = 100):
        """Objective reached by the reference's proximal-gradient policy
        (``dask_glm/algorithms.py:422-505``) run for ``max_iter`` iterations
        from ``start``: candidates ``prox(b - s g, s lam)`` with ``s``
        shrinking by 0.1 then 0.5, accepted on a decrease of the SMOOTH
        loss only, step grown 1.25x after each iteration. That policy
        stops short of the l1 optimum, so a proximal-gradient fit is
        checked against this twin, not against ``optimum``. The stopping
        tolerance is 0, as the benchmark runs the solver. Returns F at the
        twin's final point and the point itself (standardized space)."""
        Z, y = self.Z, self.y
        b = np.zeros(Z.shape[1]) if start is None else np.array(start, dtype=np.float64)
        step, mult = 1.0, 0.1
        f, r, _ = self.fam(Z @ b, y)
        g = Z.T @ r
        for _ in range(max_iter):
            ob, lf = b, f
            for i in range(max_backtracks):
                s = step * mult**i
                b = _soft(ob - s * g, s * self.lam)
                f, r, _ = self.fam(Z @ b, y)
                if lf - f > 0:
                    break
            step = s
            if step == 0 or (lf - f) / max(f, lf) < 0:
                break
            step *= 1.25
            mult = 0.5
            g = Z.T @ r
        return self.objective_std(b), b

    def fista(self, max_iter: int, start=None, max_backtracks: int = 100):
        """Objective and point reached by the library's accelerated
        proximal gradient (``proximal_grad(accelerate=True)``) after
        ``max_iter`` iterations from ``start``: step halving from the last
        accepted step (grown 1.25x per iteration) until the majorization
        test ``f(x) <= f(y) + g.(x - y) + |x - y|^2 / 2s`` holds, then the
        Beck-Teboulle momentum update. Stopping tolerance 0."""
        Z, y = self.Z, self.y
        x = np.zeros(Z.shape[1]) if start is None else np.array(start, dtype=np.float64)
        yk, t, step = x.copy(), 1.0, 1.0
        for _ in range(max_iter):
            fy, r, _ = self.fam(Z @ yk, y)
            gy = Z.T @ r
            for i in range(max_backtracks):
                s = step * 0.5**i
                cand = _soft(yk - s * gy, s * self.lam)
                d = cand - yk
                if self.fam(Z @ cand, y)[0] <= fy + gy @ d + (d @ d) / (2.0 * s):
                    break
            else:
                break
            tn = (1.0 + np.sqrt(1.0 + 4.0 * t * t)) / 2.0
            yk = cand + ((t - 1.0) / tn) * (cand - x)
            x, t, step = cand, tn, s * 1.25
        return self.objective_std(x), x

    def gap(self, b: np.ndarray, f_star: float) -> float:
        """Relative objective gap of original-space coefficients ``b``."""
        return (self.objective(b) - f_star) / max(1.0, abs(f_star))


def _soft(b: np.ndarray, t: float) -> np.ndarray:
    return np.maximum(0.0, b - t) - np.maximum(0.0, -b - t)


def _l1_quadratic(b0, g, H, lam, sweeps: int = 200):
    """argmin_b g.(b - b0) + (b - b0)' H (b - b0) / 2 + lam |b|_1 by cyclic
    coordinate descent over the p x p model."""
    b = b0.copy()
    hd = np.zeros_like(b)  # H @ (b - b0), kept current per coordinate move
    diag = np.maximum(np.diag(H), 1e-300)
    for _ in range(sweeps):
        delta = 0.0
        for j in range(len(b)):
            z = b[j] - (g[j] + hd[j]) / diag[j]
            new = np.sign(z) * max(abs(z) - lam / diag[j], 0.0)
            step = new - b[j]
            if step != 0.0:
                hd += H[:, j] * step
                b[j] = new
                delta = max(delta, abs(step))
        if delta < 1e-13:
            break
    return b
