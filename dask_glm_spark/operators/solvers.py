"""The GLM solvers: driver-resident control flow over kernel jobs.

Reference semantics: ``dask_glm/algorithms.py`` (each solver's docstring
cites the lines it replicates). Model state (beta, p floats — p·k for
softmax) lives on the driver and rides each kernel job's per-batch
closure — never shuffled.

Each algorithm's body is written once and runs on either feature layout
(``_Layout``): a dense ``features: array<double>`` column, or wide-sparse
``(findices, fvalues)`` index/value arrays (the ``*_sparse`` solvers,
O(nnz) kernels, never standardized). A dense solver is the standardizer
(``@normalize`` / ``_softmax_dense``) plus the dense layout plus the body;
its ``*_sparse`` twin is ``_run_sparse`` plus the sparse layout plus the
same body. ``softmax_*`` solvers fit the joint k-class multinomial over
the flattened (p, k) coefficients with the same bodies. The proximal
bodies (``_ista``, ``_fista``) advance a list of λs: a single fit is the
one-λ case, ``model_selection``'s batched λ-path the many-λ case.

Every dense fit reads its input ONCE: one block build (``_blocks``, one
``mapInArrow`` job) writes one numpy block per partition, folds the
standardization moments and discovers p, and the fit's block cache
(``_Blocks``) is all it reads afterwards. Kernel evaluations map the
same per-batch closures over the blocks (``kernels._arrow_partials``
accepts the cache in place of a DataFrame), X standardized in numpy as
each block is loaded; ADMM's consensus rounds run their local solves on
the same blocks (``_admm_consensus``, dense or CSR). A λ-path builds once
for all its λ. Sparse non-ADMM fits scan a persisted frame instead.

Per-iteration cluster cost (the scale contract; one "scan" is one job):

  solver            scans/iter         bytes leaving executors per partition
  ----------------- ------------------ -------------------------------------
  lbfgs             1 per evaluation   p + 1 floats
  gradient_descent  ~1 (fused probe:   c·(p + 1) for c probe candidates
                    candidate grads    (the accepted candidate's gradient
                    ride along)        feeds the next iteration)
  proximal_grad     ~1 (same; FISTA    same
                    adds 1 at the
                    extrapolated point)
  newton            1                  p² + p floats
  newton_cg         1 + #CG steps      p floats (Hessian-vector products)
  admm              1                  p floats (NO scan of X by the JVM
                                       — partition-local solves)
  softmax_*         as the binary      p·k (+1) floats; probes c·p·k
                    body it runs

plus, per dense fit, the one block build (and for ``admm``'s default
block count one JVM row count before it). Sparse twins have the same
scan counts over O(nnz) kernels, scanning their persisted frame
(MEMORY_AND_DISK) each job. Lineage never grows: every dense job maps
the fixed block cache, every sparse job is a fresh plan over the cached
scan — Spark's analogue of the reference's ``recalcRate`` graph-depth
bounding (algorithms.py:117) comes for free.
"""

from __future__ import annotations

import copy
from contextlib import contextmanager, nullcontext
from functools import wraps

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_glm_spark.functions import kernels, kernels_sparse
from dask_glm_spark.functions.families import Logistic
from dask_glm_spark.functions.regularizers import Regularizer
from dask_glm_spark.plans.layout import (
    ROWS_PER_KERNEL_TASK,
    ensure_min_parallelism,
)

import logging

_log = logging.getLogger(__name__)

PROBE_BATCH = 8  # line-search candidates evaluated per scan
MAX_BACKTRACKS = 100  # reference: algorithms.py:71,478
MIN_ADMM_BLOCK_ROWS = 100_000  # admm: amortize per-round task overhead
# ~160 MB of X at p=100: the largest block worth materializing as one
# numpy array on an executor; past this the nblocks heuristic adds blocks
# beyond core count rather than growing blocks with n.
MAX_ADMM_BLOCK_ROWS = 2_000_000
# Wide-p twin caps (round 11): the row caps alone are a memory hazard at
# large p (a 2M-row block is 80 MB of X at the benched p=5 but 16 GB at
# p=1000). Block sizing takes min(row cap, byte cap / 8p) on both ends —
# chosen so the byte caps only BIND past p≈8 (8 MB / 8·100k = p 10;
# 128 MB / 8·2M = p 8): every benched/gated plan (p ≤ 6) is untouched.
MIN_ADMM_BLOCK_BYTES = 8 * 1024 * 1024
MAX_ADMM_BLOCK_BYTES = 128 * 1024 * 1024
# Measured bound (round 11, examples/wide_p_probe.py on local[32], 200k
# rows): newton's per-iteration wall is 7.4 s at p=256 and 42.8 s at
# p=1024 — vs lbfgs ~6.6 s/iter at the same p=1024 — because the fused
# Gram partial is p² doubles per partition (8 MB at p=1024) plus a p×p
# driver lstsq, both growing quadratically while lbfgs carries O(p).
# Past this, newton is the wrong plan; warn, don't refuse (small-n wide-p
# fits on a cached frame can still prefer its quadratic convergence).
NEWTON_WIDE_P = 1024


@contextmanager
def _cached(df: DataFrame, persist: bool = True):
    """Yield ``(frame, owned)``: ``df`` spread to core count, persisted
    MEMORY_AND_DISK for the block and unpersisted on exit when it was
    cached here. An already-cached frame, or ``persist=False``, passes
    through unowned. The cache of the sparse (non-ADMM) fits; dense fits
    read their input once into a ``_Blocks`` cache instead."""
    if not persist or df.is_cached:
        yield df, False
        return
    # single-row-group inputs arrive as ONE scan task; every iteration
    # would then run on one core (no-op at >= core-count splits)
    df = ensure_min_parallelism(df)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield df, True
    finally:
        df.unpersist()


class _Standardizer:
    """Standardize-fit-backtransform (``dask_glm/utils.py:14-39``) for
    (p,) and (p, k) coefficients — the one copy used by ``normalize``, the
    dense softmax solvers, ``admm`` and both batched λ-paths.

    Reference quirks replicated exactly:
    - population std (numpy ddof=0) — Spark's ``stddev`` would be wrong;
    - >1 constant column raises;
    - when NO constant column exists the mean is treated as zero (scale-only
      standardization) — see ``utils.py:26-30``.

    ``moments`` is ``column_moments_full``'s ``(n_rows, mean, std)`` (the
    fold a block build computes, ``_Blocks.moments``; weighted by the
    fit's weight column), copied here, so one cache's moments can seed
    many fits. X itself is standardized as each block is loaded
    (``_Blocks.scaled``: ``(X - mean) / std`` in numpy, the IEEE
    operations ``kernels.standardize_expr`` runs in the JVM). With
    ``moments=None`` (``normalize=False``, and every sparse fit) the
    transform is the identity over ``p`` coordinates.
    """

    def __init__(self, moments=None, p=None):
        self.std = None
        if moments is None:
            self.p = int(p)
            return
        mean, std = moments[1].copy(), moments[2].copy()
        intercept_idx = np.where(std == 0)[0]
        if len(intercept_idx) > 1:
            raise ValueError("Multiple constant columns detected!")
        mean[intercept_idx] = 0
        std[intercept_idx] = 1
        if len(intercept_idx) == 0:
            mean = np.zeros_like(mean)
        self.p, self.mean, self.std = len(mean), mean, std
        self.intercept_idx = intercept_idx

    def _cols(self, b):
        if b.ndim == 1:
            return self.mean, self.std
        return self.mean[:, None], self.std[:, None]

    def forward(self, init_beta, k=None):
        """Validate a caller warm start given in the ORIGINAL feature space
        and map it into the standardized space the solver optimizes in —
        the exact inverse of ``backward`` (the intercept coordinate absorbs
        ``sum(b*mean)``), so ``init_beta=previous_fit`` resumes at the
        previous optimum. ``None`` passes through."""
        if init_beta is None:
            return None
        b = _as_init(init_beta, self.p, k)
        if self.std is None:
            return b
        mean, std = self._cols(b)
        out = b * std
        out[self.intercept_idx] += np.sum(b * mean, axis=0)
        return out

    def backward(self, out: np.ndarray) -> np.ndarray:
        """Standardized-space coefficients -> original space (per class
        column for (p, k)); ``out`` is modified in place."""
        if self.std is None:
            return out
        mean, std = self._cols(out)
        out[self.intercept_idx] -= np.sum(out * mean / std, axis=0)
        return out / std


def _fit_blocks(
    df, blocks, features_col, label_col, weight_col, offset_col, moments,
):
    """The block cache of one dense fit: ``blocks`` when a λ-path built
    it for all its fits, else a fresh ``_dense_blocks`` build of ``df``
    (with the standardization moments when ``moments``)."""
    if blocks is not None:
        return nullcontext(blocks)
    return _dense_blocks(
        df, features_col, label_col, weight_col, offset_col, moments
    )


def normalize(algo):
    """Standardize-fit-backtransform wrapper of the dense binary solvers
    (``dask_glm/utils.py:14-39``; the math is ``_Standardizer``) except
    ``admm``, which runs the same steps over its own blocks.

    Also owns the data: ONE Python pass over the input builds the fit's
    block cache (``_dense_blocks``), folding the standardization moments
    (the reference's first compute at ``utils.py:19``) and discovering p
    on the way; every kernel evaluation of the wrapped solver then maps
    over those numpy blocks, standardized as each block is loaded — the
    input frame is never persisted or re-read (``persist`` is accepted
    and ignored). A λ-path passes the cache it built for all its fits as
    ``_blocks``.

    Warm start (beyond-reference, round 10): a caller-supplied
    ``init_beta`` is in the ORIGINAL feature space (the same space as the
    returned coefficients); ``_Standardizer.forward`` maps it into the
    standardized space the wrapped solver optimizes in. Weighted fits
    standardize with the WEIGHTED moments (ADVICE r10) — the moments of
    the row-replicated dataset, so the penalty applies in the same
    standardized space replication (and MLlib's weighted summarizer)
    would produce.
    """

    @wraps(algo)
    def wrapped(df: DataFrame, *args, **kwargs):
        do_norm = kwargs.pop("normalize", True)
        kwargs.pop("persist", None)  # the blocks are the cache
        with _fit_blocks(
            df, kwargs.pop("_blocks", None),
            kwargs.get("features_col", "features"),
            kwargs.get("label_col", "label"), kwargs.get("weight_col"),
            kwargs.get("offset_col"), do_norm,
        ) as blocks:
            stdz = _Standardizer(blocks.moments if do_norm else None, blocks.p)
            kwargs.setdefault("p", stdz.p)
            if kwargs.get("init_beta") is not None:
                kwargs["init_beta"] = stdz.forward(kwargs["init_beta"])
            return stdz.backward(np.array(
                algo(blocks.scaled(stdz), *args, **kwargs), dtype=np.float64
            ))

    return wrapped


def _armijo_probe(
    multi_loss_grad,
    beta,
    step_dir,
    lf,
    step_size,
    steplen,
    armijo_mult,
    backtrack_mult,
):
    """Backtracking Armijo line search (``algorithms.py:27-86``), with the
    sequential candidate schedule evaluated in batched single-scan probes.

    Candidates ``s_i = step_size * backtrack_mult**i`` are exactly the
    reference's sequence; evaluating PROBE_BATCH of them per scan keeps the
    accept decision identical (first ``i`` meeting the Armijo test wins)
    while cutting jobs ~8x. ``multi_loss_grad(candidates) -> (losses,
    grads)`` is the one-scan FUSED probe kernel (round 7): each probe also
    returns the candidates' gradients, so the accepted candidate's
    gradient is handed back for the next outer iteration and the separate
    per-iteration loss_gradient scan disappears — GD runs ~one job per
    iteration. Dense or sparse, the control flow is identical.

    Returns (step_size, loss, grad_at_new_beta | None) — None only with
    step 0 (beta unchanged; caller breaks)."""
    func = lf
    for base in range(0, MAX_BACKTRACKS, PROBE_BATCH):
        # clamp the final batch so exactly MAX_BACKTRACKS candidates are
        # evaluated (the reference evaluates exactly 100, algorithms.py:71)
        sizes = [
            step_size * backtrack_mult**i
            for i in range(base, min(base + PROBE_BATCH, MAX_BACKTRACKS))
        ]
        # reference early-exit (algorithms.py:73-75): candidate beta no
        # longer distinguishable from current beta -> stepSize 0.
        candidates, kept_sizes = [], []
        for idx, s in enumerate(sizes):
            cand = beta - s * step_dir
            if (base + idx) > 0 and np.array_equal(cand, beta):
                if candidates:
                    losses, grads = multi_loss_grad(candidates)
                    for i, (s2, fval) in enumerate(zip(kept_sizes, losses)):
                        if lf - fval >= armijo_mult * s2 * steplen:
                            return s2, fval, grads[:, i]
                return 0.0, func, None
            candidates.append(cand)
            kept_sizes.append(s)
        losses, grads = multi_loss_grad(candidates)
        for i, (s2, fval) in enumerate(zip(kept_sizes, losses)):
            func = fval
            if lf - fval >= armijo_mult * s2 * steplen:
                return s2, fval, grads[:, i]
    return kept_sizes[-1], func, grads[:, -1]


def _reject_offset_col(kwargs, solver_name: str) -> None:
    """Loud failure for solvers without offset/exposure support — their
    ``**kwargs`` would otherwise silently swallow ``offset_col`` and fit
    with NO offset. (Only the joint-softmax objectives remain guarded.)"""
    if kwargs.pop("offset_col", None) is not None:
        raise NotImplementedError(
            f"{solver_name} does not support offset_col; fit per-class "
            "binary models (OvR) instead"
        )


def _warm_converged(compute_loss_grad, x0, pgtol, fit_info) -> bool:
    """Iteration-0 convergence check for L-BFGS warm restarts.

    Restarting AT a converged optimum is degenerate for scipy's
    optimizer: the prior fit stopped either right at the pgtol boundary
    or (at large n, where |loss| is O(n)) on the factr relative-decrease
    test with a still-sizeable gradient — either way the restart sits on
    a machine-flat function and the first line search burns ~MAXLS=20
    objective scans before the factr stop fires (measured: 22 funcalls /
    9.5 s vs 12 / 4.3 cold at sf0.1). Two explicit scans reproduce both
    of scipy's own stopping tests up front: the pgtol check at x0, then
    one gradient-step probe at scipy's first-trial step size — if the
    probe can't decrease f measurably (the factr criterion), the line
    search wouldn't either (backtracking only shrinks the step). Genuine
    refits (data actually changed) fail both checks after 2 scans and
    proceed; restart-on-unchanged-data returns in 2 scans instead of 22.
    """
    f0, g0 = compute_loss_grad(x0)
    if float(np.max(np.abs(g0))) <= pgtol:
        _fill_info(fit_info, 0, True, funcalls=1)
        return True
    gnorm = float(np.linalg.norm(g0))
    s0 = min(1.0 / gnorm, 1.0)  # scipy's first trial step
    # Quadratic model along d=-g through (f0, slope -|g|², f(s)): the best
    # achievable decrease on that ray is |g|⁴/(4c). At a factr-converged
    # optimum of a large-n loss the valley is steep-walled but machine-
    # flat at the bottom (measured at sf0.1: the unit trial step RAISES f
    # by 2e5 while the achievable decrease is 1.6e-7 against a 1.4e-3
    # factr threshold) — exactly the shape that makes the Wolfe search
    # burn its full eval budget. A genuinely-moved problem (new data, new
    # λ) has an achievable decrease orders above the threshold and falls
    # through to the real optimizer. c <= 0 (non-convex reading) always
    # falls through.
    #
    # TWO probe scales (s0 and s0/2, ADVICE r10 backstop): a single probe
    # can be fooled by pathological curvature — a penalty wall inside
    # (s0/2, s0] inflates c while the true curvature near 0 is small and a
    # shorter step still decreases f measurably. Requiring the machine-flat
    # reading at both scales (and no actual decrease at either probe)
    # catches that family; unchanged-data restarts now cost 3 scans instead
    # of 2 — still far below the ~22-funcall Wolfe burn this guard avoids.
    gsq = gnorm * gnorm
    eps = float(np.finfo(np.float64).eps)
    thresh = 1e7 * eps * max(abs(f0), 1.0)
    for s in (s0, 0.5 * s0):
        fs, _ = compute_loss_grad(x0 - s * g0)
        if fs < f0 - thresh:  # the probe itself made measurable progress
            return False
        c = (fs - f0 + s * gsq) / (s * s)
        if not (c > 0 and (gsq * gsq) / (4.0 * c) <= thresh):
            return False
    _fill_info(fit_info, 0, True, funcalls=3)
    return True


def _as_init(init_beta, p: int, k: int | None = None) -> np.ndarray:
    """A caller-supplied warm start as a validated float array: (p,) for
    the binary solvers (any array of p values), (p, k) for softmax."""
    shape = (p,) if k is None else (p, k)
    b = np.array(init_beta, dtype=np.float64)
    if k is None:
        b = b.ravel()
    if b.shape != shape:
        raise ValueError(f"init_beta must have shape {shape}, got {b.shape}")
    return b


def _init_vec(init_beta, p: int, k: int | None = None) -> np.ndarray:
    """Resolve a solver's flat starting point: zeros (the reference's
    init) or a caller-supplied warm start (beyond-reference, round 10 —
    refit after an append, resume after a failure, or continue a
    standardized fit); ``k`` sets the softmax (p, k) shape check."""
    if init_beta is None:
        return np.zeros(p if k is None else p * k)
    return _as_init(init_beta, p, k).ravel()


class _Layout:
    """The feature layout of one fit — the one place where dense and
    wide-sparse inputs differ. Dense: an ``array<double>`` column
    (``features_col``); sparse: ``idx_col``/``val_col``
    index/value arrays over ``p`` coordinates. ``k`` selects the
    objective: ``None`` is the binary GLM of ``family`` over (p,)
    coefficients, an int the k-class softmax over the flattened (p, k)
    matrix (``label_col`` then holds class indices in [0, k)).

    Each method is ONE kernel job over ``df`` (a dense fit's ``_Blocks``
    cache, or a sparse fit's persisted frame). Kernels are looked up
    through their module at call time, so a wrapper installed on
    ``kernels`` / ``kernels_sparse`` (a profiler's layer trace) sees
    every call."""

    def __init__(
        self, df, p, label_col="label", family=None, weight_col=None,
        offset_col=None, features_col="features", idx_col=None,
        val_col="fvalues", k=None,
    ):
        self.df, self.p, self.k, self.family = df, int(p), k, family
        self.label_col, self.weight_col, self.offset_col = (
            label_col, weight_col, offset_col,
        )
        self.features_col = features_col
        self.idx_col, self.val_col = idx_col, val_col
        self.shape = (self.p,) if k is None else (self.p, k)
        self.dim = self.p if k is None else self.p * k

    def _sparse_args(self):
        return (self.p, self.idx_col, self.val_col)

    def loss_grad(self, beta):
        """(loss, flat gradient) at flat ``beta``."""
        if self.k is not None:
            B = beta.reshape(self.shape)
            if self.idx_col:
                loss, G = kernels_sparse.softmax_loss_gradient_sparse(
                    self.df, B, *self._sparse_args(), self.label_col,
                    weight_col=self.weight_col,
                )
            else:
                loss, G = kernels.softmax_loss_gradient(
                    self.df, B, self.features_col, self.label_col,
                    weight_col=self.weight_col,
                )
            return loss, G.ravel()
        if self.idx_col:
            return kernels_sparse.loss_gradient_sparse(
                self.df, self.family, beta, *self._sparse_args(),
                self.label_col, weight_col=self.weight_col,
                offset_col=self.offset_col,
            )
        return kernels.loss_gradient(
            self.df, self.family, beta, self.p, self.features_col,
            self.label_col, self.weight_col, self.offset_col,
        )

    def multi_loss_grad(self, cands):
        """(losses, grads (p, c)) for c candidates in one scan; softmax
        probes return losses only (grads ``None``)."""
        if self.k is not None:
            Bs = [c.reshape(self.shape) for c in cands]
            if self.idx_col:
                return kernels_sparse.softmax_multi_loss_sparse(
                    self.df, Bs, *self._sparse_args(), self.label_col,
                    weight_col=self.weight_col,
                ), None
            return kernels.softmax_multi_loss(
                self.df, Bs, self.features_col, self.label_col,
                weight_col=self.weight_col,
            ), None
        if self.idx_col:
            return kernels_sparse.multi_loss_gradient_sparse(
                self.df, self.family, cands, *self._sparse_args(),
                self.label_col, weight_col=self.weight_col,
                offset_col=self.offset_col,
            )
        return kernels.multi_loss_gradient(
            self.df, self.family, cands, self.features_col, self.label_col,
            weight_col=self.weight_col, offset_col=self.offset_col,
        )

    def gradient(self, beta):
        if self.k is not None or self.idx_col:
            return self.loss_grad(beta)[1]
        return kernels.gradient(
            self.df, self.family, beta, p=self.p,
            features_col=self.features_col, label_col=self.label_col,
            weight_col=self.weight_col, offset_col=self.offset_col,
        )

    def hvp(self, beta, v):
        """Flat Hessian-vector product at flat ``beta``."""
        if self.k is not None:
            B, V = beta.reshape(self.shape), v.reshape(self.shape)
            if self.idx_col:
                return kernels_sparse.softmax_hessian_vector_product_sparse(
                    self.df, B, V, *self._sparse_args(),
                    weight_col=self.weight_col,
                ).ravel()
            return kernels.softmax_hessian_vector_product(
                self.df, B, V, self.features_col, weight_col=self.weight_col,
            ).ravel()
        if self.idx_col:
            return kernels_sparse.hessian_vector_product_sparse(
                self.df, self.family, beta, v, *self._sparse_args(),
                self.label_col, weight_col=self.weight_col,
                offset_col=self.offset_col,
            )
        return kernels.hessian_vector_product(
            self.df, self.family, beta, v, p=self.p,
            features_col=self.features_col, label_col=self.label_col,
            weight_col=self.weight_col, offset_col=self.offset_col,
        )


def _dense_layout(df, family, features_col, label_col, kwargs):
    """The dense layout of a ``@normalize``d binary solver over its block
    cache (pops ``p``, ``weight_col``, ``offset_col`` from its kwargs)."""
    return _Layout(
        df, int(kwargs.pop("p")), label_col, family,
        kwargs.pop("weight_col", None), kwargs.pop("offset_col", None),
        features_col=features_col,
    )


def _run_sparse(df, p, kwargs, body, **layout):
    """The sparse side of every ``*_sparse`` solver: caches the
    (indices, values, label) frame for the iteration scans, resolves p,
    and runs ``body`` on the sparse layout (``layout`` holds the column
    names, family and k; ``persist``/``weight_col``/``offset_col`` are
    popped from ``kwargs``). ``persist=False`` (round 13) skips the cache —
    the sparse-OvR parent persists ONCE and each per-class relabeled view
    scans that cache through a narrow withColumn, exactly the dense OvR
    contract (k classes never means k cached copies)."""
    from dask_glm_spark.sources.vectors import sparse_p

    with _cached(df, kwargs.pop("persist", True)) as (df, _):
        return body(_Layout(
            df, p or sparse_p(df, layout["idx_col"]),
            weight_col=kwargs.pop("weight_col", None),
            offset_col=kwargs.pop("offset_col", None), **layout,
        ))


def _softmax_dense(
    df, k, features_col, label_col, weight_col, normalize, blocks,
    init_beta, body,
):
    """The dense side of every ``softmax_*`` solver: build the block
    cache (or take a λ-path's ``blocks``), standardize (columnwise per
    class on the way back), and run ``body(layout, init)`` in the
    standardized space."""
    with _fit_blocks(
        df, blocks, features_col, label_col, weight_col, None, normalize,
    ) as blocks:
        stdz = _Standardizer(blocks.moments if normalize else None, blocks.p)
        lay = _Layout(
            blocks.scaled(stdz), stdz.p, label_col, weight_col=weight_col,
            features_col=features_col, k=k,
        )
        return stdz.backward(body(lay, stdz.forward(init_beta, k)))


def _fill_info(fit_info, n_iter: int, converged: bool, **extra) -> None:
    """Record convergence diagnostics into the caller-supplied ``fit_info``
    dict (round 10): every solver fills ``n_iter`` (iterations executed)
    and ``converged`` (tolerance-based stop fired, vs budget exhausted or
    step underflow). No-op when the caller passed none."""
    if fit_info is not None:
        fit_info["n_iter"] = int(n_iter)
        fit_info["converged"] = bool(converged)
        fit_info.update(extra)


def _gd(lay, max_iter, tol, init_beta, fit_info):
    """The gradient-descent body (dense and sparse layouts):
    ONE ``loss_grad(beta0)`` scan up front, then ~one fused probe scan per
    iteration — ``multi_loss_grad`` returns each candidate's gradient, and
    the accepted candidate's gradient IS the next iteration's (round 7;
    previously every iteration paid a separate loss_gradient job). The
    candidate schedule, Armijo accept rule, and convergence checks are
    unchanged — the gradient the probe hands back is the same quantity the
    dropped job recomputed."""
    first_backtrack, next_backtrack = 0.1, 0.5
    armijo_mult, step_growth = 0.1, 1.25
    step_size = 1.0
    backtrack_mult = first_backtrack
    beta = _init_vec(init_beta, lay.p)

    converged = False
    it = 0
    func, grad = lay.loss_grad(beta)
    for it in range(1, max_iter + 1):
        steplen = float(np.sum(grad**2))
        lf = func
        step_size, func, ngrad = _armijo_probe(
            lay.multi_loss_grad, beta, grad, lf, step_size, steplen,
            armijo_mult, backtrack_mult,
        )
        beta = beta - step_size * grad
        if step_size == 0:
            break
        df_rel = (lf - func) / max(func, lf)
        if df_rel < tol:
            converged = True
            break
        step_size *= step_growth
        backtrack_mult = next_backtrack
        grad = ngrad
    _fill_info(fit_info, it, converged)
    return beta


def _backtrack(probe, searching, budget, candidate, accept):
    """The backtracking search shared by ``_ista`` and ``_fista``, for
    every λ index in ``searching`` at once. λ ``i``'s candidates are
    ``candidate(i, j) -> (s, cand)`` for ``j = 0 .. MAX_BACKTRACKS-1``,
    examined in order until ``accept(i, s, cand, loss)``; each ``probe``
    scan carries ``max(1, budget // len(searching))`` candidates of every
    λ still searching. Within an iteration the candidate sequence is
    fixed, so co-evaluating λs never changes which candidate a λ accepts —
    only which scan evaluates it. Returns ``(last, accepted)``: per λ the
    last examined ``(s, cand, loss, grad)`` (grad ``None`` for a
    losses-only probe) and the set of λs that accepted it."""
    nexti = dict.fromkeys(searching, 0)
    last, accepted = {}, set()
    while searching:
        cpl = max(1, budget // len(searching))
        batch = []
        for i in searching:
            hi = min(nexti[i] + cpl, MAX_BACKTRACKS)
            batch += [(i, *candidate(i, j)) for j in range(nexti[i], hi)]
            nexti[i] = hi
        losses, grads = probe([c for _, _, c in batch])
        for pos, (i, s, cand) in enumerate(batch):
            if i in accepted:
                continue
            g = None if grads is None else np.asarray(
                grads[:, pos], dtype=np.float64
            )
            last[i] = (s, cand, float(losses[pos]), g)
            if accept(i, s, cand, last[i][2]):
                accepted.add(i)
        searching = [
            i for i in searching
            if i not in accepted and nexti[i] < MAX_BACKTRACKS
        ]
    return last, accepted


def _ista(
    point, probe, dim, regularizer, lams, max_iter, tol, init_beta, infos,
    budget,
):
    """Proximal gradient / ISTA (``algorithms.py:422-505``) for every λ in
    ``lams``, advanced by shared scans; returns ``(len(lams), dim)``.

    ``point(betas) -> (losses, grads (dim, n))`` evaluates the start
    points in ONE scan, then each iteration's ``_backtrack`` probes
    candidates ``prox(beta - s*grad, s*λ)`` over ``probe`` (same
    signature), ``budget`` per scan, accepting the first simple decrease
    (``df > 0``, :489-491). Every examined candidate becomes the iterate
    until one is accepted, and its probe gradient feeds the next
    iteration (round 7: no separate gradient scan). A single fit is
    ``lams=[lamduh]`` with ``PROBE_BATCH``; the batched λ-path passes all
    its λs with ``_BATCH_PROBE_TOTAL`` — the sequential sweep pays
    Σ iters(λ) scans, the batched one max iters(λ). ``infos[i]`` gets λ
    i's ``n_iter``/``converged``."""
    reg = Regularizer.get(regularizer)
    L = len(lams)
    betas = [_init_vec(init_beta, dim) for _ in range(L)]
    losses, grads = point(betas)
    funcs = [float(losses[i]) for i in range(L)]
    gradv = [np.asarray(grads[:, i], dtype=np.float64) for i in range(L)]
    steps, bmult = [1.0] * L, [0.1] * L
    iters, conv = [0] * L, [False] * L
    active = list(range(L))
    for _ in range(max_iter):
        if not active:
            break
        for i in active:
            iters[i] += 1

        def candidate(i, j):
            s = steps[i] * bmult[i] ** j
            return s, reg.proximal_operator(
                betas[i] - s * gradv[i], s * lams[i]
            )

        last, _ = _backtrack(
            probe, active, budget, candidate,
            lambda i, s, cand, fval: funcs[i] - fval > 0,
        )
        still = []
        for i in active:
            lf = funcs[i]
            # accepted, or the last probed size (the search ran out)
            steps[i], betas[i], funcs[i], gradv[i] = last[i]
            if steps[i] == 0:
                continue  # step underflow: hard stop
            if (lf - funcs[i]) / max(funcs[i], lf) < tol:
                conv[i] = True
                continue
            steps[i] *= 1.25
            bmult[i] = 0.5
            still.append(i)
        active = still
    for i in range(L):
        _fill_info(infos[i], iters[i], conv[i])
    return np.stack(betas)


def _fista(
    point, probe, dim, regularizer, lams, max_iter, tol, init_beta, infos,
    budget,
):
    """Accelerated proximal gradient (FISTA, Beck & Teboulle 2009) for
    every λ in ``lams`` — the beyond-reference fast path behind
    ``proximal_grad(accelerate=True)`` and ``softmax_proximal``; same
    arguments and result as ``_ista``.

    Why it exists: the reference's ISTA step policy (``_ista``)
    terminates on relative SMOOTH-loss decrease, and once backtracking
    has shrunk the step the per-iteration decrease can drop below ``tol``
    while the iterate is still ~1e-3 from the optimum (seen against the
    MLlib/OWL-QN oracle in tests/test_mllib_oracle.py). FISTA's O(1/k^2)
    rate plus a majorization-based acceptance reaches oracle-grade optima
    in tens of iterations.

    Per iteration: one ``point`` scan at every active λ's extrapolated
    point ``y``, then ``_backtrack`` over ``probe`` (only its losses are
    read) with the 0.5^j step sequence. Acceptance is the majorization
    test ``f(x) <= f(y) + g·(x-y) + ||x-y||^2/(2s)`` (required for the
    accelerated rate; plain decrease is not valid under momentum); no
    accepted candidate stops that λ (``y`` is numerically a fixed point).
    Convergence on the relative change of the FULL objective
    ``f(x) + λ·R(x)`` — the quantity the optimum actually minimizes."""
    reg = Regularizer.get(regularizer)
    L = len(lams)
    xs = [_init_vec(init_beta, dim) for _ in range(L)]
    ys = [x.copy() for x in xs]
    ts, steps = [1.0] * L, [1.0] * L
    fprev: list[float | None] = [None] * L
    iters, conv = [0] * L, [False] * L
    active = list(range(L))
    for _ in range(max_iter):
        if not active:
            break
        fys, gys = point([ys[i] for i in active])
        fy, gy = {}, {}
        for j, i in enumerate(active):
            iters[i] += 1
            fy[i] = float(fys[j])
            gy[i] = np.asarray(gys[:, j], dtype=np.float64)

        def candidate(i, j):
            s = steps[i] * 0.5 ** j
            return s, reg.proximal_operator(ys[i] - s * gy[i], s * lams[i])

        def majorized(i, s, cand, fval):
            d = cand - ys[i]
            return fval <= fy[i] + gy[i] @ d + (d @ d) / (2.0 * s)

        last, accepted = _backtrack(probe, active, budget, candidate, majorized)
        still = []
        for i in active:
            if i not in accepted:
                continue  # step underflow: y_i is numerically a fixed point
            steps[i], xn, fx, _ = last[i]
            tn = (1.0 + np.sqrt(1.0 + 4.0 * ts[i] * ts[i])) / 2.0
            ys[i] = xn + ((ts[i] - 1.0) / tn) * (xn - xs[i])
            xs[i], ts[i] = xn, tn
            fobj = fx + lams[i] * reg.f(xn)
            if fprev[i] is not None and abs(fprev[i] - fobj) / max(
                abs(fobj), abs(fprev[i]), 1.0
            ) < tol:
                conv[i] = True
                continue
            fprev[i] = fobj
            steps[i] *= 1.25  # mild growth: re-probe larger steps next round
            still.append(i)
        active = still
    for i in range(L):
        _fill_info(infos[i], iters[i], conv[i])
    return np.stack(xs)


def gd_step(
    df: DataFrame,
    beta,
    stepsize: float,
    family=Logistic,
    features_col: str = "features",
    label_col: str = "label",
    compute_loss: bool = True,
) -> tuple[np.ndarray, float | None]:
    """ONE unrolled fixed-step gradient-descent iteration.

    Exactly the update line of the GD loop (``beta - stepSize * grad``,
    reference ``algorithms.py:154``; our ``_gd`` at the
    ``beta = beta - step_size * grad`` line) with the line search pinned to
    a fixed ``stepsize`` so the iteration becomes a deterministic, SQL-
    expressible two-pass dataflow: one fused loss+gradient scan at ``beta``
    and one loss scan at the updated ``beta1``. Returns ``(beta1, loss at
    beta1)``. This is the oracle surface for the solver update math (q48):
    the same ``kernels.loss_gradient`` the real loop calls, hash-checked
    against DuckDB running the algebra symbolically.

    ``compute_loss=False`` (r14, guide §2.4) skips the loss scan and
    returns ``(beta1, None)`` — for callers that already evaluate a fused
    probe at a candidate set containing ``beta1`` (q48's
    ``multi_loss_gradient [BETA, beta1]``), whose candidate loss is
    bit-identical to the skipped job (same per-row terms, same row-order
    accumulation per candidate; pinned by
    tests/test_kernels.py::test_multi_loss_gradient_candidate_loss_matches_loss).
    """
    beta = np.asarray(beta, dtype=np.float64)
    p = len(beta)
    _, grad = kernels.loss_gradient(
        df, family, beta, p, features_col, label_col
    )
    beta1 = beta - float(stepsize) * grad
    if not compute_loss:
        return beta1, None
    loss1 = kernels.loss(
        df, family, beta1,
        features_col=features_col, label_col=label_col,
    )
    return beta1, float(loss1)


def prox_step(
    df: DataFrame,
    beta,
    stepsize: float,
    lamduh: float,
    regularizer="l1",
    family=Logistic,
    features_col: str = "features",
    label_col: str = "label",
    candidate=None,
) -> np.ndarray:
    """ONE unrolled proximal-gradient iteration at a fixed step size.

    The candidate construction of the ISTA loop (reference
    ``algorithms.py:479-481``: ``prox(beta - s*grad, s*lamduh)``; our
    ``_ista`` candidate line) with the backtracking pinned so the
    update is deterministic. Uses the REAL ``Regularizer.proximal_operator``
    — for q49 the DuckDB oracle re-derives the L1 soft-threshold
    symbolically, putting the prox math under the hash gate.

    ``candidate`` (r14, guide §2.4): a precomputed ``beta - stepsize*grad``
    — when the caller just ran ``gd_step`` at the SAME (beta, stepsize),
    its ``beta1`` IS this candidate, so passing it skips a duplicate
    gradient job; the result is bit-identical because the skipped job is
    deterministic (pinned by tests/test_solvers_steps parity).
    """
    beta = np.asarray(beta, dtype=np.float64)
    p = len(beta)
    if candidate is None:
        _, grad = kernels.loss_gradient(
            df, family, beta, p, features_col, label_col
        )
        candidate = beta - float(stepsize) * grad
    reg = Regularizer.get(regularizer)
    return reg.proximal_operator(
        np.asarray(candidate, dtype=np.float64),
        float(stepsize) * float(lamduh),
    )


def _lbfgs(
    lay, regularizer, lamduh, max_iter, tol, init_beta, fit_info,
    verbose=False,
):
    """The L-BFGS body of ``lbfgs`` and ``softmax_lbfgs`` (dense and
    sparse layouts): scipy L-BFGS-B on the driver, each objective
    evaluation ONE fused loss+gradient scan plus ``lamduh·R`` on the
    driver. A binary warm start first runs the ``_warm_converged`` check
    (softmax fits never take it). Returns the coefficients in
    ``lay.shape``."""
    from dask_glm_spark.functions.optimize import fmin_l_bfgs_b

    reg = None if regularizer is None else Regularizer.get(regularizer)

    def compute_loss_grad(beta):
        loss, grad = lay.loss_grad(beta)
        if reg is not None:
            loss = loss + lamduh * reg.f(beta)
            grad = grad + lamduh * reg.gradient(beta)
        return loss, grad

    x0 = _init_vec(init_beta, lay.p, lay.k)
    if lay.k is None and init_beta is not None and _warm_converged(
        compute_loss_grad, x0, tol, fit_info
    ):
        return x0
    beta, _, d = fmin_l_bfgs_b(
        compute_loss_grad,
        x0,
        fprime=None,
        iprint=(verbose > 0) - 1,
        pgtol=tol,
        maxiter=max_iter,
    )
    _fill_info(
        fit_info, d.get("nit", 0), d.get("warnflag", 1) == 0,
        funcalls=int(d.get("funcalls", 0)),
    )
    return beta.reshape(lay.shape)


def _proximal(
    lay, regularizer, lamduh, max_iter, tol, init_beta, fit_info, accelerate,
):
    """The proximal-gradient fit of ``proximal_grad`` (ISTA, or FISTA with
    ``accelerate``) and ``softmax_proximal`` (always FISTA: its softmax
    probe returns losses only): the one-λ case of ``_ista``/``_fista``,
    with the layout's ``loss_grad`` at each point and ``PROBE_BATCH``
    candidates per ``multi_loss_grad`` scan. The elementwise prox is
    group-agnostic, so the softmax fit runs the same body on vec(B)."""

    def point(betas):
        (beta,) = betas
        loss, grad = lay.loss_grad(beta)
        return [loss], grad[:, None]

    body = _fista if accelerate else _ista
    (beta,) = body(
        point, lay.multi_loss_grad, lay.dim, regularizer, [lamduh],
        max_iter, tol, _init_vec(init_beta, lay.p, lay.k), [fit_info],
        PROBE_BATCH,
    )
    return beta.reshape(lay.shape)


def _newton_cg(lay, max_iter, tol, init_beta, fit_info, cg_tol, max_cg_iter):
    """The truncated-Newton body of ``newton_cg`` and ``softmax_newton_cg``
    (``_newton_cg_loop`` over the layout's gradient and Hvp scans). The
    softmax fit projects the class-shift null space out of CG's inputs and
    outputs (see ``softmax_newton_cg``)."""
    if lay.k is None:
        gradient, hvp = lay.gradient, lay.hvp
    else:
        def proj(v):
            return _softmax_shift_proj(v, lay.p, lay.k)

        def gradient(b):
            return proj(lay.gradient(b))

        def hvp(b, v):
            return proj(lay.hvp(b, proj(v)))

    beta = _newton_cg_loop(
        gradient, hvp, lay.dim, max_iter, tol,
        _init_vec(init_beta, lay.p, lay.k), fit_info, cg_tol, max_cg_iter,
    )
    return np.asarray(beta, dtype=np.float64).reshape(lay.shape)


@normalize
def gradient_descent(
    df: DataFrame,
    max_iter: int = 100,
    tol: float = 1e-14,
    family=Logistic,
    features_col: str = "features",
    label_col: str = "label",
    init_beta=None,
    **kwargs,
):
    """Batch GD with Armijo backtracking (``algorithms.py:89-167``).

    One fused loss+gradient scan per iteration (the reference's separate
    grad / Xgradient / line-search jobs collapse: loss and gradient share
    the xb subexpression — O4) plus batched line-search probes.
    ``init_beta`` warm-starts the iteration (original feature space; the
    ``@normalize`` wrapper owns the transform). ``weight_col`` names a
    per-row sample-weight column (weighted GLM, round 10): loss/gradient
    become Σ w·ll and Xᵀ(w⊙r) — same scans, one extra multiply.
    """
    lay = _dense_layout(df, family, features_col, label_col, kwargs)
    return _gd(lay, max_iter, tol, init_beta, kwargs.pop("fit_info", None))


@normalize
def newton(
    df: DataFrame,
    max_iter: int = 50,
    tol: float = 1e-8,
    family=Logistic,
    features_col: str = "features",
    label_col: str = "label",
    init_beta=None,
    **kwargs,
):
    """Full Newton (``algorithms.py:170-221``): one fused grad+Hessian scan
    per iteration; the p×p solve stays driver-side numpy (lstsq), exactly
    like the reference. ``init_beta`` warm-starts the iteration;
    ``weight_col`` names a sample-weight column (weighted IRLS:
    grad = Xᵀ(w⊙r), hess = Xᵀdiag(w⊙hw)X).

    Wide p: the Gram partial is p² doubles PER PARTITION and the solve is
    a p×p driver lstsq — measured 6.5× lbfgs's per-iteration wall at
    p=1024 (``NEWTON_WIDE_P``; examples/wide_p_probe.py). Past that a
    warning recommends lbfgs (O(p) partials) instead."""
    p = int(kwargs.pop("p"))
    if p > NEWTON_WIDE_P:
        _log.warning(
            "newton at p=%d: the fused Gram partial is p^2 doubles per "
            "partition (%.0f MB) and each iteration solves a p x p lstsq "
            "on the driver — measured ~6.5x lbfgs's per-iteration cost at "
            "p=1024 (round-11 wide-p probe). Prefer solver='newton_cg' "
            "(matrix-free, O(p) partials, same semantics) or 'lbfgs' for "
            "wide dense features.",
            p, p * p * 8 / 1e6,
        )
    weight_col = kwargs.pop("weight_col", None)
    offset_col = kwargs.pop("offset_col", None)
    fit_info = kwargs.pop("fit_info", None)
    beta = _init_vec(init_beta, p)
    iter_count = 0
    converged = False
    tol_ok = False
    while not converged:
        grad, hess = kernels.gradient_hessian(
            df, family, beta, p, features_col, label_col,
            weight_col=weight_col, offset_col=offset_col,
        )
        step, *_ = np.linalg.lstsq(hess, grad, rcond=-1)
        beta_old = beta
        beta = beta_old - step
        iter_count += 1
        coef_change = np.absolute(beta_old - beta)
        # loop condition is reference-exact (can run max_iter+1 steps);
        # converged_ reports whether the TOL test fired, not the budget
        tol_ok = not np.any(coef_change > tol)
        converged = tol_ok or (iter_count > max_iter)
    _fill_info(fit_info, iter_count, tol_ok)
    return beta


def _cg_solve(matvec, b, rtol: float, maxiter: int, first_matvec=None):
    """Conjugate gradient for ``A x = b`` with A given only as a matvec
    closure (driver-side numpy; each ``matvec`` call is one cluster scan in
    newton_cg). Stops at relative residual ``rtol`` or ``maxiter``.

    ``first_matvec``: optional precomputed ``A·b`` — since the first CG
    direction IS b, a caller that already evaluated ``A·b`` (e.g. the
    identification probe in ``sparse_coef_se``) saves one full cluster
    scan (review r12).

    Returns ``(x, n_matvecs, rel_resid)``; ``rel_resid`` is the final
    ``‖Ax − b‖/‖b‖``, so callers needing a TIGHT solve (inference) can
    verify convergence — truncation is deliberate in newton_cg, which
    ignores it.

    Truncated-Newton negative-curvature guard: GLM Fisher information is
    PSD, but data can make it singular along a direction — if ``dᵀAd <= 0``
    CG stops and returns the progress so far (the raw gradient when it
    happens on the very first step, i.e. a plain descent direction).
    """
    x = np.zeros_like(b)
    r = b.copy()
    d = r.copy()
    rs = float(r @ r)
    bnorm = np.sqrt(rs)
    stop = (rtol * bnorm) ** 2
    n_mv = 0
    for it in range(maxiter):
        if rs <= stop:
            break
        if it == 0 and first_matvec is not None:
            Ad = first_matvec
        else:
            Ad = matvec(d)
            n_mv += 1
        dAd = float(d @ Ad)
        if dAd <= 0:
            if it == 0:
                x = b.copy()
            break
        alpha = rs / dAd
        x += alpha * d
        r -= alpha * Ad
        rs_new = float(r @ r)
        d = r + (rs_new / rs) * d
        rs = rs_new
    rel = np.sqrt(rs) / bnorm if bnorm > 0 else 0.0
    return x, n_mv, rel


@normalize
def newton_cg(
    df: DataFrame,
    max_iter: int = 50,
    tol: float = 1e-8,
    family=Logistic,
    features_col: str = "features",
    label_col: str = "label",
    init_beta=None,
    cg_tol: float | None = None,
    max_cg_iter: int | None = None,
    **kwargs,
):
    """Matrix-free truncated Newton (Newton-CG) — round 12.

    Same semantics as ``newton`` (reference ``algorithms.py:170-221``:
    full Newton step, no line search, coefficient-change stopping rule),
    but the p×p system is solved by conjugate gradient using only
    Hessian-vector products ``Xᵀ(hw ⊙ (X·v))`` — one fused Arrow scan per
    CG iteration, O(p) bytes per partition, no p² object anywhere (not in
    partials, not on the driver). This removes the ``NEWTON_WIDE_P`` wall:
    ``newton`` ships p² doubles per partition and runs a p×p driver lstsq
    (measured 110.7 s/iter at p=2048, round-11 probe); newton_cg's
    per-iteration cost is (#CG steps) × one lbfgs-shaped scan.

    CG forcing sequence: ``cg_tol=None`` uses Eisenstat-Walker
    ``min(0.5, sqrt(||g||))`` relative residual (superlinear local
    convergence without over-solving early iterations); pass an explicit
    ``cg_tol`` to pin it. ``max_cg_iter`` defaults to ``min(p, 64)``.
    Supports ``weight_col`` / ``offset_col`` like every dense solver.
    """
    lay = _dense_layout(df, family, features_col, label_col, kwargs)
    return _newton_cg(
        lay, max_iter, tol, init_beta, kwargs.pop("fit_info", None),
        cg_tol, max_cg_iter,
    )


def _newton_cg_loop(
    gradient_fn, hvp_fn, p, max_iter, tol, init_beta, fit_info,
    cg_tol, max_cg_iter,
):
    """Truncated-Newton control flow shared by the dense and sparse
    paths: per outer iteration one gradient scan, then CG on the Hvp
    closure; stopping rule and budget semantics match ``newton``."""
    if max_cg_iter is None:
        max_cg_iter = min(p, 64)
    beta = _init_vec(init_beta, p)
    iter_count = 0
    converged = False
    tol_ok = False
    total_cg = 0
    while not converged:
        grad = gradient_fn(beta)
        gnorm = float(np.linalg.norm(grad))
        if gnorm == 0.0:
            step = np.zeros(p)
        else:
            rtol = cg_tol if cg_tol is not None else min(0.5, np.sqrt(gnorm))
            b = beta
            step, n_mv, _ = _cg_solve(
                lambda v: hvp_fn(b, v), grad, rtol=rtol, maxiter=max_cg_iter,
            )
            total_cg += n_mv
        beta_old = beta
        beta = beta_old - step
        iter_count += 1
        coef_change = np.absolute(beta_old - beta)
        # loop shape matches newton (reference-exact budget semantics)
        tol_ok = not np.any(coef_change > tol)
        converged = tol_ok or (iter_count > max_iter)
    _fill_info(fit_info, iter_count, tol_ok, cg_iters=total_cg)
    return beta


@normalize
def lbfgs(
    df: DataFrame,
    regularizer=None,
    lamduh: float = 1.0,
    max_iter: int = 100,
    tol: float = 1e-4,
    family=Logistic,
    verbose: bool = False,
    features_col: str = "features",
    label_col: str = "label",
    init_beta=None,
    **kwargs,
):
    """scipy L-BFGS-B on the driver; each objective evaluation is ONE fused
    loss+gradient scan (``algorithms.py:351-419``; the reference's shared
    ``compute(loss_fn, gradient_fn)`` at :405 is the same single-scan idea).
    Architecturally identical to MLlib's LogisticRegression (breeze LBFGS +
    treeAggregate), which doubles as an independent oracle in tests.
    ``init_beta`` warm-starts the optimizer."""
    lay = _dense_layout(df, family, features_col, label_col, kwargs)
    return _lbfgs(
        lay, regularizer, lamduh, max_iter, tol, init_beta,
        kwargs.pop("fit_info", None), verbose,
    )


@normalize
def proximal_grad(
    df: DataFrame,
    regularizer="l1",
    lamduh: float = 0.1,
    family=Logistic,
    max_iter: int = 100,
    tol: float = 1e-8,
    features_col: str = "features",
    label_col: str = "label",
    accelerate: bool = False,
    init_beta=None,
    **kwargs,
):
    """Proximal gradient / ISTA with backtracking (``algorithms.py:422-505``).

    Per outer iteration: one fused loss+gradient scan, then batched probe
    scans where each candidate is ``prox(beta - s*grad, s*lamduh)`` and
    acceptance is simple decrease (``df > 0``, :489-491).

    ``accelerate=True`` (beyond-reference, round 8): FISTA momentum with
    majorization backtracking — same two kernel surfaces, O(1/k^2) rate,
    and a full-objective stopping rule; reaches the MLlib/OWL-QN optimum
    where the reference's step policy stalls (see ``_fista``)."""
    lay = _dense_layout(df, family, features_col, label_col, kwargs)
    return _proximal(
        lay, regularizer, lamduh, max_iter, tol, init_beta,
        kwargs.pop("fit_info", None), accelerate,
    )


def lbfgs_sparse(
    df: DataFrame,
    regularizer=None,
    lamduh: float = 1.0,
    max_iter: int = 100,
    tol: float = 1e-4,
    family=Logistic,
    p: int | None = None,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
    init_beta=None,
    **kwargs,
):
    """L-BFGS over wide-sparse ``(indices, values)`` features: the
    ``lbfgs`` body, each objective evaluation one O(nnz) scan
    (``kernels_sparse.loss_gradient_sparse``) — rows are never densified.
    No standardization: standardizing one-hot columns would densify them,
    which is exactly why the reference auto-disables normalization for
    sparse inputs (``dask_glm/estimators.py:82-83``); the same holds for
    every ``*_sparse`` solver.
    """
    return _run_sparse(
        df, p, kwargs,
        lambda lay: _lbfgs(
            lay, regularizer, lamduh, max_iter, tol, init_beta,
            kwargs.pop("fit_info", None),
        ),
        family=family, idx_col=idx_col, val_col=val_col, label_col=label_col,
    )


def gradient_descent_sparse(
    df: DataFrame,
    max_iter: int = 100,
    tol: float = 1e-14,
    family=Logistic,
    p: int | None = None,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
    init_beta=None,
    **kwargs,
):
    """Batch GD over wide-sparse ``(indices, values)`` features: the
    ``gradient_descent`` body with O(nnz) scan kernels and O(p) bytes
    leaving each executor."""
    return _run_sparse(
        df, p, kwargs,
        lambda lay: _gd(
            lay, max_iter, tol, init_beta, kwargs.pop("fit_info", None)
        ),
        family=family, idx_col=idx_col, val_col=val_col, label_col=label_col,
    )


def newton_cg_sparse(
    df: DataFrame,
    max_iter: int = 50,
    tol: float = 1e-8,
    family=Logistic,
    p: int | None = None,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
    init_beta=None,
    cg_tol: float | None = None,
    max_cg_iter: int | None = None,
    **kwargs,
):
    """Matrix-free truncated Newton over wide-sparse features — round 12.
    Plain ``newton`` is excluded from the sparse path because its p²
    Gram is the wrong object at hashed-text widths; the Hvp
    (``kernels_sparse.hessian_vector_product_sparse``, two O(nnz)
    bincount scatters per batch, O(p) partials) never forms it, so
    wide-sparse fits get Newton semantics too (the ``newton_cg`` body)."""
    return _run_sparse(
        df, p, kwargs,
        lambda lay: _newton_cg(
            lay, max_iter, tol, init_beta, kwargs.pop("fit_info", None),
            cg_tol, max_cg_iter,
        ),
        family=family, idx_col=idx_col, val_col=val_col, label_col=label_col,
    )


def proximal_grad_sparse(
    df: DataFrame,
    regularizer="l1",
    lamduh: float = 0.1,
    family=Logistic,
    max_iter: int = 100,
    tol: float = 1e-8,
    p: int | None = None,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
    accelerate: bool = False,
    init_beta=None,
    **kwargs,
):
    """Proximal gradient over wide-sparse features — L1 on hashed text is
    the canonical sparse GLM workload (reference runs every solver on
    sparse inputs, ``dask_glm/tests/test_estimators.py:57-135``). The
    ``proximal_grad`` body with O(nnz) kernels; ``accelerate=True`` swaps
    in the FISTA loop."""
    return _run_sparse(
        df, p, kwargs,
        lambda lay: _proximal(
            lay, regularizer, lamduh, max_iter, tol, init_beta,
            kwargs.pop("fit_info", None), accelerate,
        ),
        family=family, idx_col=idx_col, val_col=val_col, label_col=label_col,
    )


class _AugmentedFamily:
    """Weighted and/or offset view of a family for the ADMM local solves:
    the block's ``y`` buffer carries ``vstack([y][, w][, o])`` (rows in
    that fixed order) and the adapter splits it — the consensus machinery
    stays weight/offset-agnostic (round 10). Module-level so block
    closures pickle."""

    def __init__(self, fam, weighted: bool, offset: bool):
        self.fam = fam
        self.weighted = weighted
        self.offset = offset

    def _split(self, Y):
        y = Y[0]
        i = 1
        w = None
        o = None
        if self.weighted:
            w = Y[i]
            i += 1
        if self.offset:
            o = Y[i]
        return y, w, o

    def loss_grad(self, beta, X, Y):
        y, w, o = self._split(Y)
        xb = X.dot(np.ravel(beta))
        if o is not None:
            xb = xb + o
        terms = self.fam.loglike_terms_np(xb, y)
        r = self.fam.residual_np(xb, y)
        if w is None:
            return float(np.sum(terms)), X.T.dot(r)
        return float(np.dot(w, terms)), X.T.dot(w * r)


def _block_loss_grad(family, beta, X, y):
    """A block's (loss, gradient) at ``beta`` from ONE ``X·β`` — the
    family's ``pointwise_loss`` and ``pointwise_gradient`` fused."""
    if isinstance(family, _AugmentedFamily):
        return family.loss_grad(beta, X, y)
    xb = X.dot(np.ravel(beta))
    y = np.ravel(y)
    return family.loglike_np(xb, y), X.T.dot(family.residual_np(xb, y))


def _admm_local_update(X, y, beta, z, u, rho, family, solver=None):
    """Single-partition augmented-Lagrangian solve (``algorithms.py:339-348``,
    objective augmentation :263-283). Pure numpy — runs inside the Arrow
    batch on each executor's Python worker. The solver gets one
    ``(f, g)`` callable, so each evaluation computes ``X·β`` once."""
    from dask_glm_spark.functions.optimize import fmin_l_bfgs_b

    solver = solver or fmin_l_bfgs_b

    def fg(b, X_, y_, z_, u_, rho_):
        loss, grad = _block_loss_grad(family, b, X_, y_)
        d = b - z_ + u_
        return loss + (rho_ / 2) * np.dot(d, d), grad + rho_ * d

    solver_args = (X, y, z.ravel(), u.ravel(), rho)
    beta, _, _ = solver(
        fg, beta.ravel(), args=solver_args, maxiter=200, maxfun=250
    )
    return beta


def admm(
    df: DataFrame,
    regularizer="l1",
    lamduh: float = 0.1,
    rho: float = 1,
    over_relax: float = 1,
    max_iter: int = 250,
    abstol: float = 1e-4,
    reltol: float = 1e-2,
    family=Logistic,
    features_col: str = "features",
    label_col: str = "label",
    nblocks: int | None = None,
    init_beta=None,
    **kwargs,
):
    """Consensus ADMM (``algorithms.py:224-336``) with executor-resident
    per-partition data. ``init_beta`` warm-starts z AND every block's
    local β_i at the supplied point (duals start at zero — the standard
    ADMM restart); with ``init_beta=None`` the reference init (z=0,
    β_i=1) is preserved bit-for-bit. ``weight_col`` (sample weights) and
    ``offset_col`` (fixed linear-predictor offset, e.g. log-exposure)
    ride inside each cached block (stacked with y) and only the local
    loss/gradient change (``_AugmentedFamily``) — the consensus rounds
    and their O(p) traffic are identical.

    ``nblocks`` controls the consensus block count (the reference's dask
    chunk count). Default: ``min(sc.defaultParallelism, rows // 100k)``
    (at least 1) — a raw parquet scan can arrive as a handful of
    file-splits (or ONE, on a single-file table), which would serialize
    the entire fit into one task; conversely, blocks much under ~100k rows
    make the per-round task/serialization overhead dominate the local
    solves (measured: 32 tiny blocks are ~40% slower than 6 right-sized
    ones at 600k rows). At cluster scale rows/100k >> cores, so the
    default degenerates to one block per core — exactly what consensus
    ADMM wants. Pass ``nblocks=0`` to keep the input partitioning
    (pre-partitioned pipelines), or an explicit count.

    One scan of the input, and the blocks are the cache: the raw frame
    is never persisted (``persist`` is accepted and ignored). The default
    ``nblocks`` reads the row count and width from one JVM-only aggregate
    (skipped with an explicit ``nblocks``). The block build is one job
    (``_admm_dense_blocks``); with ``normalize`` on it also folds each
    batch's ``column_moments_full`` partial, the driver builds a
    ``_Standardizer`` from them, and each round task standardizes its raw
    block as ``(X - mean) / std`` in numpy (a transient copy). An
    expensive uncached upstream is computed by the count and by the
    build, never per round. ``regularization_path`` builds the blocks once
    for all its λ and passes them as ``_blocks``.

    The rounds are ``_admm_consensus``; ``admm_sparse`` runs the same
    builder and rounds on CSR blocks. Per-round cluster traffic is O(p)
    per block: z out, (β_i, β̂_i + u_i) back — X never crosses again
    after the build.
    """
    kwargs.pop("persist", None)  # the blocks are the cache
    do_norm = kwargs.pop("normalize", True)
    weight_col = kwargs.pop("weight_col", None)
    offset_col = kwargs.pop("offset_col", None)
    blocks = kwargs.pop("_blocks", None)
    with nullcontext(blocks) if blocks is not None else _admm_dense_blocks(
        df, features_col, label_col, weight_col, offset_col, nblocks,
        do_norm, kwargs.pop("p", None),
    ) as blocks:
        stdz = _Standardizer(blocks.moments if do_norm else None, blocks.p)
        z = _admm_consensus(
            blocks.scaled(stdz), regularizer, lamduh, rho, over_relax,
            max_iter, abstol, reltol,
            _block_family(family, weight_col, offset_col),
            stdz.forward(init_beta), kwargs.pop("fit_info", None),
        )
    return stdz.backward(np.array(z, dtype=np.float64))


def _admm_dense_blocks(
    df, features_col, label_col, weight_col, offset_col, nblocks,
    moments, p=None,
):
    """The dense ``admm`` block build (a ``_blocks`` context): ``nblocks``
    None takes the default count from ``_rows_and_width`` and
    ``_admm_nblocks``; ``moments`` folds the standardization moments."""
    if nblocks is None:
        n_rows, p = _rows_and_width(df, features_col)
        nblocks = _admm_nblocks(
            n_rows, p, df.sparkSession.sparkContext.defaultParallelism
        )
    return _blocks(
        df, _DenseBlock(p), [F.col(features_col).cast("array<double>")],
        label_col, weight_col, offset_col, nblocks, moments, kernel_job=False,
    )


def _admm_nblocks(n_rows: int, p: int, parallelism: int) -> int:
    """The default dense ADMM block count for ``n_rows`` rows of width
    ``p`` (see ``admm``)."""
    # Both caps are min(row cap, byte cap / 8p): identical to the
    # row-only heuristic at the benched p <= 6, but at wide p (round
    # 11 probe) the byte caps keep each materialized numpy block
    # bounded in BYTES, not rows — at p=1000 the max block is ~16k
    # rows (128 MB), never the 16 GB a 2M-row block would be.
    row_bytes = 8 * max(p, 1)
    min_rows = max(1, min(MIN_ADMM_BLOCK_ROWS,
                          MIN_ADMM_BLOCK_BYTES // row_bytes))
    max_rows = max(min_rows, min(MAX_ADMM_BLOCK_ROWS,
                                 MAX_ADMM_BLOCK_BYTES // row_bytes))
    nblocks = max(1, min(parallelism, n_rows // min_rows))
    # memory guard: one-block-per-core would make each materialized
    # numpy block n_rows/cores × p doubles — unbounded in n. Cap block
    # rows so a huge-n fit raises the block count past core count
    # (tasks queue; consensus still sees every block each round)
    # instead of building multi-GB partitions.
    # Round-9 A/B note: keeping an already-right-sized input layout to
    # skip the repartition exchange was tried and MEASURED SLOWER
    # (interleaved in-process A/B at sf0.1: 3-split input kept = 6.2 s
    # min vs repartition-to-6 = 4.4 s min). The exchange costs ~0.8 s
    # once, but the block build (parquet read + numpy block build,
    # the fit's most CPU-heavy pass) parallelizes nblocks-wide and
    # dominates — don't "fix" this again.
    return max(nblocks, n_rows // max_rows)


def _rows_and_width(df, features_col):
    """``(n_rows, p)`` of a dense features column from one JVM-only
    aggregate: the row count and the width of a first row (ragged rows
    are refused by the block build's readers); an empty frame raises
    ``ValueError``. The width still makes the scan decode the features
    column, which a bare count would not (0.22 vs 0.10 s median on a
    637k x 5 parquet table, ``local[2]`` on a 4-vCPU box); a bare count
    plus a ``first()`` width probe took 0.18 s but is a second job per
    fit, and one job with a limited union branch for the width 0.27 s."""
    with kernels.kernel_exec(df.sparkSession):
        n_rows, p = df.agg(
            F.count(F.lit(1)), F.first(F.size(features_col))
        ).collect()[0]
    if n_rows == 0:
        raise ValueError("empty input DataFrame")
    return int(n_rows), int(p)


def _block_family(family, weight_col, offset_col):
    """The family of the ADMM local solves: ``_AugmentedFamily`` when a
    weight and/or offset row rides in each block's y."""
    if weight_col is None and offset_col is None:
        return family
    return _AugmentedFamily(family, weight_col is not None, offset_col is not None)


def admm_sparse(
    df: DataFrame,
    regularizer="l1",
    lamduh: float = 0.1,
    rho: float = 1,
    over_relax: float = 1,
    max_iter: int = 250,
    abstol: float = 1e-4,
    reltol: float = 1e-2,
    family=Logistic,
    p: int | None = None,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
    nblocks: int | None = None,
    init_beta=None,
    **kwargs,
):
    """Consensus ADMM over wide-sparse ``(indices, values)`` features: the
    ``admm`` block builder and consensus rounds on ``CSRMatrix`` blocks
    (three flat arrays, 24 bytes/nnz). The local L-BFGS update duck-types
    through ``X.dot``/``X.T.dot`` as O(nnz) scatter-adds — rows are never
    densified, so p in the 10^5-10^6 hashed-text range stays tractable
    per executor. No standardization, same rationale as ``lbfgs_sparse``.
    ``nblocks`` defaults to ``sc.defaultParallelism`` (no row count is
    available pre-scan on this path); 0 keeps the input partitioning.
    """
    from dask_glm_spark.sources.vectors import sparse_p

    p = p or sparse_p(df, idx_col)
    if nblocks is None:
        nblocks = df.sparkSession.sparkContext.defaultParallelism
    weight_col = kwargs.pop("weight_col", None)
    offset_col = kwargs.pop("offset_col", None)
    with _blocks(
        df, _CSRBlock(p),
        [F.col(idx_col).cast("array<long>"),
         F.col(val_col).cast("array<double>")],
        label_col, weight_col, offset_col, nblocks, kernel_job=False,
    ) as blocks:
        return _admm_consensus(
            blocks, regularizer, lamduh, rho, over_relax, max_iter,
            abstol, reltol, _block_family(family, weight_col, offset_col),
            init_beta, kwargs.pop("fit_info", None),
        )


class _DenseBlock:
    """Block reader of a dense ``array<double>`` features column: per
    batch the row-major (n, p) X (``kernels._flat_rows``: every row must
    have width p — the batch's first row's when p is None), one
    contiguous array per block. Module-level so the block-build closure
    pickles."""

    dtypes = (np.float64,)

    def __init__(self, p):
        self.p = None if p is None else int(p)

    def read(self, batch):
        return (kernels._flat_rows(batch.column(0), self.p),)

    def join(self, parts):
        if len({x.shape[1] for (x,) in parts}) > 1:
            raise ValueError("features rows must all have the same width")
        return [np.ascontiguousarray(np.concatenate([x for (x,) in parts]))]

    def matrix(self, arrays, n_rows):
        return arrays[0].reshape(n_rows, -1)


class _CSRBlock(_DenseBlock):
    """ADMM block reader of ``(indices, values)`` columns: per batch the
    flat indices, values and row lengths (``kernels_sparse._flat_csr``:
    rows whose two lists differ in length raise ``ValueError``); a block
    is the ``CSRMatrix`` indices/values/row-ids."""

    dtypes = (np.int64, np.float64, np.int64)

    def read(self, batch):
        return kernels_sparse._flat_csr(batch.column(0), batch.column(1))

    def join(self, parts):
        idx, vals, lens = (np.concatenate(a) for a in zip(*parts))
        rows = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
        return [np.ascontiguousarray(a) for a in (idx, vals, rows)]

    def matrix(self, arrays, n_rows):
        from dask_glm_spark.functions.kernels_sparse import CSRMatrix

        return CSRMatrix(*arrays, (n_rows, self.p))


class _NpyBlock:
    """A block in the local-disk store (see ``_blocks``): pickles as its
    ``.npy`` paths and resolves to ``(X, y)`` over read-only memmaps
    inside the task, so the block RDD holds O(bytes-of-path) rows and
    tasks read blocks straight from page cache."""

    __slots__ = ("paths", "reader")

    def __init__(self, paths, reader):
        self.paths, self.reader = paths, reader

    def load(self):
        *xs, y = [np.load(path, mmap_mode="r") for path in self.paths]
        return self.reader.matrix(xs, y.shape[-1]), y


def _scaled(X, scale):
    """``X`` standardized into a transient copy, ``(X - mean) / std``
    (``scale = (mean, std)``); ``X`` itself when ``scale`` is None."""
    return X if scale is None else (X - scale[0]) / scale[1]


def _block_xy(blk, scale=None):
    """A block's (X, y): in-memory blocks are the pair itself;
    local-disk blocks (``_NpyBlock``) memmap lazily inside the task.
    ``scale = (mean, std)`` standardizes X (``_scaled``)."""
    X, y = blk.load() if isinstance(blk, _NpyBlock) else blk
    return _scaled(X, scale), y


def _build_block(batches, reader, n_x, n_y, blockdir, stats):
    """mapInArrow body of ``_blocks``: one partition's Arrow batches
    (``n_x`` feature columns, then ``n_y`` label/weight/offset columns)
    -> ONE row ``(pid, rows, width, b0, b1, ...)`` holding the block's row
    count, its width (``reader.p``, or X's column count) and arrays — the
    reader's X arrays, then y. Column batches flatten to numpy via buffer
    views, never a per-row Python loop. The y-buffer carries
    ``vstack([y][, w][, o])``. Stored as raw bytes, or (``blockdir`` set)
    as ``.npy`` files whose paths are the row. With ``stats(xs, ys)`` set
    (the dense moments partial of one batch), the row also carries the
    partition's fold of it, in the ``kernels.MOMENT_ZEROS`` columns."""
    import os

    import pyarrow as pa
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    xs, ys = [], []
    acc = None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        xs.append(reader.read(batch))
        ys.append([
            batch.column(n_x + j).to_numpy(zero_copy_only=False)
            for j in range(n_y)
        ])
        if stats is not None:
            acc = kernels._fold_partial(
                acc, stats(xs[-1], ys[-1]), kernels.MOMENT_MERGES
            )
    if not xs:
        return
    cols = [np.concatenate(c) for c in zip(*ys)]
    y = np.ascontiguousarray(cols[0] if n_y == 1 else np.vstack(cols))
    arrays = reader.join(xs) + [y]
    width = reader.p if reader.p is not None else arrays[0].shape[1]
    if blockdir is None:
        out = [pa.array([a.tobytes()], type=pa.large_binary()) for a in arrays]
    else:
        out = []
        for j, a in enumerate(arrays):
            path = os.path.join(blockdir, f"blk_{pid}_{j}.npy")
            # write-then-rename: a recompute of this partition must never
            # leave a concurrent reader a torn file
            np.save(path + ".tmp.npy", a)
            os.replace(path + ".tmp.npy", path)
            out.append(pa.array([path], type=pa.string()))
    names = [f"b{j}" for j in range(len(out))]
    if acc is not None:
        names += list(kernels.MOMENT_ZEROS)
        out += [pa.array([acc[c]]) for c in kernels.MOMENT_ZEROS]
    yield pa.RecordBatch.from_arrays(
        [pa.array([v], type=pa.int64()) for v in (pid, y.shape[-1], width)]
        + out,
        names=["pid", "rows", "width"] + names,
    )


class _Blocks:
    """The block cache of one fit: one numpy block ``(X, y)`` per
    non-empty build partition, built once by ``_blocks`` (one Python
    pass over the input) and read by every evaluation or consensus round
    of the fit, never rebuilt.

    - ``rdd``: ``(pid, block, meta)`` rows, one block per partition (the
      ADMM rounds map over it). A block is ``(X, y)`` in memory (X an
      ndarray or ``CSRMatrix``) or an ``_NpyBlock``; y stacks the
      ``cols`` rows (label, then weight and offset when set).
    - ``n_rows``, ``p`` (the width the build discovered), ``nparts`` (the
      build's partition count, which bounds every pid) and ``moments``:
      ``column_moments_full``'s ``(n_rows, mean, std)`` fold of the
      build's batches, or None.
    - ``scale``: ``(mean, std)`` that standardizes X as each block is
      loaded (``scaled``), or None.

    ``kernels._arrow_partials`` accepts it in place of a DataFrame
    (``partials``): the kernel's per-batch closures run on each block in
    slices of ``batch_rows`` rows (the session's Arrow batch size, so a
    block over the same rows as a scan partition sees the same batch
    boundaries), over ``rdd`` coalesced to ~``ROWS_PER_KERNEL_TASK`` rows
    per task."""

    def __init__(self, rdd, cols, nparts, n_rows, p, moments, batch_rows):
        self.rdd, self.cols, self.nparts = rdd, tuple(cols), nparts
        self.n_rows, self.p, self.moments = n_rows, p, moments
        self.batch_rows, self.scale = batch_rows, None
        target = max(1, -(-n_rows // ROWS_PER_KERNEL_TASK))
        self.eval_rdd = (
            rdd.coalesce(target) if target < rdd.getNumPartitions() else rdd
        )

    def scaled(self, stdz):
        """This cache with X standardized by ``stdz`` (a ``_Standardizer``;
        the identity returns the cache itself)."""
        if stdz.std is None:
            return self
        out = copy.copy(self)
        out.scale = (stdz.mean, stdz.std)
        return out

    def partials(self, fn, cols):
        """An RDD of one partial dict per block (its ``pid`` included):
        ``fn(X, col)`` on each ``batch_rows`` slice of the block's
        standardized X, ``col(name)`` the slice's float64 ``cols`` row,
        folded within the block."""
        missing = [c for c in cols if c not in self.cols]
        if missing:
            raise ValueError(
                f"the fit's blocks hold columns {list(self.cols)}; a kernel "
                f"asked for {missing}"
            )
        names, step, scale = self.cols, self.batch_rows, self.scale

        def run(rows):
            for pid, blk, _ in rows:
                X, y = _block_xy(blk)
                X, Y = np.asarray(X), np.asarray(y).reshape(len(names), -1)
                acc = None
                for lo in range(0, len(X), step):
                    hi = lo + step
                    ys = dict(zip(names, Y[:, lo:hi]))
                    acc = kernels._fold_partial(
                        acc, fn(_scaled(X[lo:hi], scale), ys.__getitem__),
                        None,
                    )
                acc["pid"] = pid
                yield acc

        return self.eval_rdd.mapPartitions(run)


def _dense_blocks(
    df, features_col="features", label_col="label", weight_col=None,
    offset_col=None, moments=True,
):
    """The block cache of a dense non-ADMM fit (a ``_blocks`` context):
    one block per input partition, spread to core count first (a
    single-row-group input would otherwise run every evaluation on one
    core); ``moments`` folds the standardization moments."""
    return _blocks(
        df, _DenseBlock(None), [F.col(features_col).cast("array<double>")],
        label_col, weight_col, offset_col, None, moments,
    )


@contextmanager
def _blocks(
    df, reader, x_cols, label_col, weight_col=None, offset_col=None,
    nblocks=None, moments=False, kernel_job=True,
):
    """Yield the ``_Blocks`` of ``df``: one numpy block per non-empty
    partition, ``nblocks`` of them (0 keeps the input partitioning, None
    spreads to at least core count), built by ONE job. ``reader`` is
    ``_DenseBlock`` or ``_CSRBlock`` over the ``x_cols`` expressions; the
    label, ``weight_col`` and ``offset_col`` ride in y. ``moments=True``
    (dense, standardized fits) also folds each block's moments partial
    (weighted by ``weight_col``) in pid order — ``column_moments_full``'s
    fold of the same batches. Empty input and blocks of different widths
    raise ``ValueError``. Every persisted RDD and the block directory are
    released on exit, also when the fit raises.

    ``kernel_job`` plans the build like every kernel job, with AQE off
    (``kernels.kernel_exec``); the ADMM builds keep the session's setting,
    as they always ran, because a shuffled input's rows can land in other
    partitions under the other setting (range bounds are sampled
    differently), and ADMM's iterates depend on its block boundaries.

    Block store (round 13, VERDICT r12 #8): in local mode each block is
    written as local ``.npy`` files and the build's ``toArrow()`` returns
    only their paths, row counts, widths and moments; the cache is a
    ``parallelize`` of those descriptors — nothing is persisted, tasks
    memmap the blocks straight from page cache, so the one-time
    multi-GB pickled block build (the 100× probe's one super-linear
    component: single-JVM heap/GC pressure) AND the per-task JVM→Python
    block copy + unpickle both disappear. There one JVM holds every block
    (the GC effect) and one filesystem guarantees path visibility. On a
    real cluster the blocks already spread across executor JVMs (heap
    pressure divides by the executor count) and a task rescheduled off
    the writing executor under delay scheduling would not see the file —
    the JVM block-manager cache of raw-bytes rows stays the robust choice
    there."""
    import shutil
    import tempfile

    aux_cols = [c for c in (weight_col, offset_col) if c is not None]
    spark = df.sparkSession
    sc = spark.sparkContext
    cur = df.rdd.getNumPartitions()
    if nblocks is None:
        nblocks = max(cur, sc.defaultParallelism)
    if nblocks and cur != nblocks:
        if nblocks < cur:
            # contiguous merge, NO shuffle — each block is a union of
            # adjacent input splits, exactly the reference's dask-array
            # chunking (contiguous row ranges, algorithms.py admm blocks),
            # and a full-data exchange cheaper at any scale. Round-robin
            # repartition bought nothing: consensus ADMM only needs every
            # block visited per round, not IID blocks, and the reference
            # itself fits contiguous chunks.
            df = df.coalesce(nblocks)
        else:
            # can't split partitions without an exchange (rare: tiny
            # file-split count on a single-file table)
            df = df.repartition(nblocks)
    n_x, n_y = len(x_cols), 1 + len(aux_cols)

    def stats(xs, ys):  # one batch's moments partial; w is the y row 1
        return kernels._moments_partial(xs[0], ys[1] if weight_col else None)

    disk = sc.master.startswith("local")
    blockdir = tempfile.mkdtemp(prefix="dgs-admm-blocks-") if disk else None
    data = None
    try:
        names = [f"b{j}" for j in range(len(reader.dtypes) + 1)]
        schema = "pid long, rows long, width long, " + ", ".join(
            f"{n} {'string' if disk else 'binary'}" for n in names
        )
        if moments:
            schema += ", " + kernels.MOMENT_FIELDS
        packed = df.select(
            *x_cols, F.col(label_col).cast("double"),
            *[F.col(c).cast("double") for c in aux_cols],
        ).mapInArrow(
            lambda batches: _build_block(
                batches, reader, n_x, n_y, blockdir, stats if moments else None
            ),
            schema=schema,
        )
        meta_cols = ["pid", "rows", "width"]
        if moments:
            meta_cols += list(kernels.MOMENT_ZEROS)
        if disk:
            with kernels.kernel_exec(spark) if kernel_job else nullcontext():
                meta = packed.toArrow().to_pylist()
            meta.sort(key=lambda m: m["pid"])
            rdd = sc.parallelize(
                [(m["pid"], _NpyBlock([m[n] for n in names], reader), None)
                 for m in meta],
                max(1, len(meta)),
            )
        else:
            def unpack(row):
                *xs, y = [
                    np.frombuffer(row[n], dtype=dt)
                    for n, dt in zip(names, reader.dtypes + (np.float64,))
                ]
                if n_y > 1:
                    y = y.reshape(n_y, -1)
                blk = (reader.matrix(xs, y.shape[-1]), y)
                return row.pid, blk, {c: row[c] for c in meta_cols}

            with kernels.kernel_exec(spark) if kernel_job else nullcontext():
                packed_rdd = packed.rdd
            rdd = data = packed_rdd.map(
                unpack, preservesPartitioning=True
            ).persist(StorageLevel.MEMORY_AND_DISK)
            meta = sorted(data.map(lambda r: r[2]).collect(),
                          key=lambda m: m["pid"])
        if not meta:
            raise ValueError("empty input DataFrame")
        if len({m["width"] for m in meta}) > 1:
            raise ValueError("features rows must all have the same width")
        finished = None
        if moments:
            finished = kernels._moments_finish(kernels._sum_partial_rows(
                meta, list(kernels.MOMENT_ZEROS), kernels.MOMENT_MERGES,
                init=kernels.MOMENT_ZEROS,
            ))
        batch_rows = int(spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
        ))
        n_rows = sum(m["rows"] for m in meta)
        yield _Blocks(
            rdd, [label_col, *aux_cols], nblocks or cur, n_rows,
            meta[0]["width"], finished,
            batch_rows if batch_rows > 0 else max(n_rows, 1),
        )
    finally:
        if data is not None:
            data.unpersist(False)
        if blockdir is not None:
            shutil.rmtree(blockdir, ignore_errors=True)


# Above this many bytes of (k x 2p floats) per-round state, broadcasting it
# is worse than keeping state inside the block rows (wide-p sparse ADMM).
MAX_DRIVER_STATE_BYTES = 64 * 1024 * 1024


def _admm_consensus(
    blocks, regularizer, lamduh, rho, over_relax,
    max_iter, abstol, reltol, fam, init_beta=None, fit_info=None,
):
    """The consensus rounds of ``admm`` and ``admm_sparse`` over the
    ``(pid, block, _)`` rows of a ``_Blocks`` cache (X anything the
    family math can ``.dot``: dense ndarray or CSRMatrix), which never
    change; ``blocks.scale`` standardizes each dense block as it is
    loaded (``_block_xy``). Each round returns ``(β_i, β̂_i + u_i)`` per
    block, and the driver runs the z-prox, dual update and residual
    stopping rule (``algorithms.py:224-336``, deterministic pid order).
    Every RDD the rounds persist is released when the fit ends, by
    return or by raise.

    Where β_i/u_i live between rounds is chosen by per-round state size
    (k x 2p floats) — the iterates are the same either way:

    - **driver-resident** (dense / modest p — the common case,
      ``_driver_state_rounds``): β_i/u_i live on the driver and are
      broadcast each round. In PySpark, an RDD whose rows are mutated
      every round re-serializes X across the JVM<->Python boundary TWICE
      per round (worker read + re-persist write of the returned blocks) —
      measured as the dominant, data-proportional per-round cost at 10x
      bench scale (3.4 s/round at 6M rows). With immutable data, X
      crosses once (the unavoidable cached-block read) and nothing
      data-sized ever crosses back; lineage never grows.
    - **executor-resident** (wide-p sparse, ``_executor_state_rounds``):
      k x 2p floats of state is too big to broadcast (p ~ 10^6
      hashed-text features => GBs), so state rides a separate tiny RDD
      zipped against the data RDD each round — the round's OUTPUT is
      still O(p) per block.
    """
    regularizer = Regularizer.get(regularizer)
    data, p, scale = blocks.rdd, blocks.p, blocks.scale
    nparts = data.getNumPartitions()
    rounds = (
        _driver_state_rounds if 2 * p * 8 * nparts <= MAX_DRIVER_STATE_BYTES
        else _executor_state_rounds
    )
    held = []  # every RDD the rounds persisted
    try:
        run_round = rounds(
            data, p, rho, over_relax, fam, data.context, init_beta, held,
            scale,
        )
        z = np.zeros(p) if init_beta is None else _init_vec(init_beta, p)
        u = None
        for it in range(max_iter):
            new_betas, v = run_round(z, u)  # pid-sorted; v = β̂_i + u_i
            nchunks = len(v)
            zold = z
            z = regularizer.proximal_operator(
                np.mean(v, axis=0), lamduh / (rho * nchunks)
            )
            u = v - z  # u_i^{t+1} = u_i^t + beta_hat_i - z^{t+1}
            primal_res = np.linalg.norm(new_betas - z)
            dual_res = np.linalg.norm(rho * (z - zold))
            eps_pri = np.sqrt(p * nchunks) * abstol + reltol * np.maximum(
                np.linalg.norm(new_betas), np.sqrt(nchunks) * np.linalg.norm(z)
            )
            eps_dual = np.sqrt(p * nchunks) * abstol + reltol * np.linalg.norm(
                rho * u
            )
            if primal_res < eps_pri and dual_res < eps_dual:
                _log.info("admm converged after %d rounds", it + 1)
                _fill_info(fit_info, it + 1, True)
                break
        else:
            _fill_info(fit_info, max_iter, False)
        return z
    finally:
        for rdd in held:
            rdd.unpersist(False)


def _driver_state_rounds(
    data, p, rho, over_relax, fam, sc, init_beta, held, scale,
):
    """Driver-resident state (see ``_admm_consensus``): returns
    ``run_round(z, u) -> (β_i, β̂_i + u_i)``, u the previous round's duals.

    Update order is EXACTLY the reference's (algorithms.py:224-336) with
    the dual step relocated, not reordered: the executor-resident layout
    applies ``u_i += beta_hat_i - z`` lazily at the start of the next
    round once the new z arrives; here the driver applies the identical
    update eagerly at the end of the round that produced z — same u_i
    values enter every local solve (parity pinned by
    tests/test_admm.py::test_state_layouts_agree).

    Lazy state init (round 9): round 1 returns the pids in its stats;
    unknown pids default to the block-build init (beta=ones — or the warm
    start — and u=zeros)."""
    b0_default = None if init_beta is None else _init_vec(init_beta, p)
    betas: dict = {}
    us: dict = {}
    pids: list = []

    def run_round(z, u):
        nonlocal us, pids
        if u is not None:
            us = dict(zip(pids, u))
        st_bc = sc.broadcast((z, betas, us))

        def run(block, _st=st_bc, _p=p, _b0=b0_default):
            pid, blk, _ = block
            X, y = _block_xy(blk, scale)
            zv, bs, uss = _st.value
            b0 = bs.get(pid)
            u0 = uss.get(pid)
            if b0 is None:
                # block-build init parity; warm start overrides the
                # reference's ones-init with the supplied point
                b0 = np.ones(_p) if _b0 is None else _b0
            if u0 is None:
                u0 = np.zeros(_p)
            new_beta = _admm_local_update(X, y, b0, zv, u0, rho, fam)
            beta_hat = over_relax * new_beta + (1 - over_relax) * zv
            return (pid, new_beta, beta_hat)

        stats = data.map(run, preservesPartitioning=True).collect()
        st_bc.unpersist(False)
        stats.sort(key=lambda t: t[0])  # deterministic reduction order
        pids = [t[0] for t in stats]
        if not us:
            us = {pid: np.zeros(p) for pid in pids}
        new_betas = np.array([t[1] for t in stats])
        betas.update(zip(pids, new_betas))
        return new_betas, np.array([t[2] + us[t[0]] for t in stats])

    return run_round


def _executor_state_rounds(
    data, p, rho, over_relax, fam, sc, init_beta, held, scale,
):
    """Executor-resident state (see ``_admm_consensus``): returns
    ``run_round(z, _) -> (β_i, β̂_i + u_i)``. Per-block state
    ``(pid, β_i, u_i, β̂_i)`` rides a SEPARATE tiny RDD zipped against the
    data RDD each round (both are one-element-per-partition children of
    the same parent, so zip alignment is exact); ``u_i += β̂_i - z`` runs
    partition-locally at the start of the next round, when the new z
    arrives (reference: :322, deferred by half a round). Each round's
    state is persisted and its predecessor released; every 10th round is
    ``localCheckpoint``ed instead (the reference's recalcRate rhythm,
    algorithms.py:117) and kept until the fit ends — its rows ARE the
    checkpoint of the later rounds' lineage."""
    b0 = np.ones(p) if init_beta is None else _init_vec(init_beta, p)
    state = data.map(
        lambda b: (b[0], b0, np.zeros(p), None),
        preservesPartitioning=True,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    held.append(state)
    state.count()
    prev, prev_ckpt, it = state, False, 0

    def make_round(z_bc, first):
        def run(pair):
            (pid, blk, _), (_, beta, u, beta_hat_prev) = pair
            X, y = _block_xy(blk, scale)
            zv = z_bc.value
            if not first:
                # deferred dual update from the previous round, now that the
                # new z is known (reference: u += beta_hat - z, :322)
                u = u + beta_hat_prev - zv
            new_beta = _admm_local_update(X, y, beta, zv, u, rho, fam)
            beta_hat = over_relax * new_beta + (1 - over_relax) * zv
            return (pid, new_beta, u, beta_hat)

        return run

    def run_round(z, _u):
        nonlocal prev, prev_ckpt, it
        z_bc = sc.broadcast(z)
        nxt = data.zip(prev).map(
            make_round(z_bc, first=(it == 0)), preservesPartitioning=True
        )
        nxt_ckpt = (it + 1) % 10 == 0
        if nxt_ckpt:
            nxt.localCheckpoint()
        else:
            nxt = nxt.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(nxt)
        # one action per round: ship back (pid, beta_i, beta_hat_i + u_i)
        stats = nxt.map(lambda s: (s[0], s[1], s[3] + s[2])).collect()
        # ADVICE r2: never unpersist a localCheckpoint'd round mid-fit —
        # its state rows ARE the checkpoint (lineage is truncated; dropping
        # them would make any later recompute fail with missing blocks).
        if prev is not state and not prev_ckpt:
            prev.unpersist(False)
        prev, prev_ckpt, it = nxt, nxt_ckpt, it + 1
        z_bc.unpersist(False)
        stats.sort(key=lambda t: t[0])  # deterministic reduction order
        return (
            np.array([t[1] for t in stats]), np.array([t[2] for t in stats]),
        )

    return run_round


def softmax_lbfgs(
    df: DataFrame,
    k: int,
    regularizer=None,
    lamduh: float = 1.0,
    max_iter: int = 100,
    tol: float = 1e-4,
    features_col: str = "features",
    label_col: str = "label",
    normalize: bool = True,
    persist: bool = True,
    init_beta=None,
    fit_info=None,
    weight_col: str | None = None,
    _blocks=None,
) -> np.ndarray:
    """True multinomial (softmax) fit: the ``lbfgs`` body over the
    flattened (p, k) coefficient matrix; each objective evaluation is ONE
    fused ``kernels.softmax_loss_gradient`` scan computing all k class
    gradients together — vs one-vs-rest's k separate re-scans of the cache
    per sweep (VERDICT r6 gap #1). ``label_col`` must hold class indices
    in [0, k).

    Standardize-fit-backtransform is ``_Standardizer`` (same reference
    quirks as ``@normalize``), applied columnwise per class on the way
    back; like every dense fit it reads its input once into a block cache
    (``persist`` is accepted and ignored; ``_blocks`` takes a λ-path's).
    Returns (p, k); column c is class c's coefficients over the (maybe
    intercept-extended) features."""
    return _softmax_dense(
        df, k, features_col, label_col, weight_col, normalize, _blocks,
        init_beta,
        lambda lay, b0: _lbfgs(
            lay, regularizer, lamduh, max_iter, tol, b0, fit_info
        ),
    )


def softmax_lbfgs_sparse(
    df: DataFrame,
    k: int,
    regularizer=None,
    lamduh: float = 1.0,
    max_iter: int = 100,
    tol: float = 1e-4,
    p: int | None = None,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
    init_beta=None,
    fit_info=None,
    weight_col: str | None = None,
    persist: bool = True,
    **kwargs,
):
    """True multinomial fit over wide-sparse (indices, values) features:
    the sparse twin of ``softmax_lbfgs`` — each L-BFGS evaluation is one
    O(k·nnz) ``kernels_sparse.softmax_loss_gradient_sparse`` scan, no
    standardization (it would densify). Returns (p, k)."""
    _reject_offset_col(kwargs, "softmax_lbfgs_sparse")
    return _run_sparse(
        df, p, {"persist": persist, "weight_col": weight_col},
        lambda lay: _lbfgs(
            lay, regularizer, lamduh, max_iter, tol, init_beta, fit_info
        ),
        idx_col=idx_col, val_col=val_col, label_col=label_col, k=k,
    )


def softmax_proximal(
    df: DataFrame,
    k: int,
    regularizer="l1",
    lamduh: float = 0.1,
    max_iter: int = 100,
    tol: float = 1e-8,
    features_col: str = "features",
    label_col: str = "label",
    normalize: bool = True,
    persist: bool = True,
    init_beta=None,
    fit_info=None,
    weight_col: str | None = None,
    _blocks=None,
) -> np.ndarray:
    """L1/L2-penalized multinomial fit by proximal gradient over the
    flattened (p, k) matrix — round 12 (VERDICT r11 #4: sparse text
    classifiers want feature selection; softmax previously fit only
    smooth objectives via lbfgs). The elementwise soft-threshold is
    group-agnostic: vec(B) through the SAME ``Regularizer.
    proximal_operator`` the binary path uses, so the ``proximal_grad``
    body runs unchanged on the p·k vector (FISTA only — its probe needs
    losses, not per-candidate gradients). Per iteration: one fused
    ``softmax_loss_gradient`` scan at the extrapolated point plus batched
    ``softmax_multi_loss`` probe scans. Standardize-fit-backtransform as
    ``softmax_lbfgs``. Returns (p, k)."""
    return _softmax_dense(
        df, k, features_col, label_col, weight_col, normalize, _blocks,
        init_beta,
        lambda lay, b0: _proximal(
            lay, regularizer, lamduh, max_iter, tol, b0, fit_info, True
        ),
    )


def softmax_proximal_sparse(
    df: DataFrame,
    k: int,
    regularizer="l1",
    lamduh: float = 0.1,
    max_iter: int = 100,
    tol: float = 1e-8,
    p: int | None = None,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
    init_beta=None,
    fit_info=None,
    weight_col: str | None = None,
    persist: bool = True,
    **kwargs,
) -> np.ndarray:
    """Sparse twin of ``softmax_proximal``: O(k·nnz) fused scans, no
    standardization (it would densify; ``normalize`` is accepted and
    ignored, as by every ``*_sparse`` solver) — the 2^18-dim hashed-text
    feature-selection path. Returns (p, k)."""
    _reject_offset_col(kwargs, "softmax_proximal_sparse")
    return _run_sparse(
        df, p, {"persist": persist, "weight_col": weight_col},
        lambda lay: _proximal(
            lay, regularizer, lamduh, max_iter, tol, init_beta, fit_info,
            True,
        ),
        idx_col=idx_col, val_col=val_col, label_col=label_col, k=k,
    )


def _softmax_shift_proj(vf: np.ndarray, p: int, k: int) -> np.ndarray:
    """Remove the per-feature class-shift (softmax null-space) component
    from a flattened (p, k) vector: V − rowmean(V). See the
    shift-invariance note on ``softmax_newton_cg``."""
    V = vf.reshape(p, k)
    return (V - V.mean(axis=1, keepdims=True)).ravel()


def softmax_newton_cg(
    df: DataFrame,
    k: int,
    max_iter: int = 50,
    tol: float = 1e-8,
    features_col: str = "features",
    label_col: str = "label",
    normalize: bool = True,
    persist: bool = True,
    init_beta=None,
    fit_info=None,
    weight_col: str | None = None,
    cg_tol: float | None = None,
    max_cg_iter: int | None = None,
    _blocks=None,
) -> np.ndarray:
    """Matrix-free truncated Newton for the JOINT multinomial fit —
    round 13 (VERDICT r12 #5). The ``newton_cg`` body over the flattened
    (p·k) coefficient vector: per outer iteration one fused
    ``softmax_loss_gradient`` scan, then CG where each matvec is one
    ``softmax_hessian_vector_product`` scan (two GEMMs per batch, p·k
    doubles per partition — no (p·k)² object anywhere, so wide p·k fits
    get Newton semantics at lbfgs byte shape). Pure-MLE like
    ``newton``/``newton_cg`` (no regularizer routes here — penalized
    softmax fits go through lbfgs / proximal_grad).

    Shift-invariance: the raw softmax parameterization has a
    p-dimensional Hessian null space (adding one vector to every class
    column changes nothing). The gradient and every exact Hvp live in
    its orthogonal complement (columns sum to zero per feature), but CG
    on a singular system is numerically unstable there — a direction
    with a rounding-level null component has dᵀAd ≈ 0, so α = rs/dᵀAd
    amplifies that component unboundedly (observed: intercept-extended
    fits converged to a true MLE, gradient ~1e-13, carrying an O(10)
    class-shift component). Both closures therefore PROJECT the shift
    out (``_softmax_shift_proj``) of the CG inputs and outputs — exact
    (the projector commutes with H; the true Newton step is sum-zero)
    and stable (CG runs on the subspace where H is positive definite),
    so iterates stay in the same sum-zero representation L-BFGS
    converges to; parity is pinned in tests. Standardize-fit-
    backtransform as ``softmax_lbfgs``. Returns (p, k)."""
    return _softmax_dense(
        df, k, features_col, label_col, weight_col, normalize, _blocks,
        init_beta,
        lambda lay, b0: _newton_cg(
            lay, max_iter, tol, b0, fit_info, cg_tol, max_cg_iter
        ),
    )


def softmax_newton_cg_sparse(
    df: DataFrame,
    k: int,
    max_iter: int = 50,
    tol: float = 1e-8,
    p: int | None = None,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
    init_beta=None,
    fit_info=None,
    weight_col: str | None = None,
    cg_tol: float | None = None,
    max_cg_iter: int | None = None,
    persist: bool = True,
) -> np.ndarray:
    """Sparse twin of ``softmax_newton_cg``: O(k·nnz) fused scans
    (``softmax_loss_gradient_sparse`` for the outer gradient,
    ``softmax_hessian_vector_product_sparse`` for each CG matvec), no
    standardization (it would densify) — Newton semantics for the
    2^18-dim hashed-text multinomial without ever forming p² or (p·k)².
    Returns (p, k)."""
    return _run_sparse(
        df, p, {"persist": persist, "weight_col": weight_col},
        lambda lay: _newton_cg(
            lay, max_iter, tol, init_beta, fit_info, cg_tol, max_cg_iter
        ),
        idx_col=idx_col, val_col=val_col, label_col=label_col, k=k,
    )


_solvers = {
    "admm": admm,
    "gradient_descent": gradient_descent,
    "newton": newton,
    "newton_cg": newton_cg,
    "lbfgs": lbfgs,
    "proximal_grad": proximal_grad,
}
