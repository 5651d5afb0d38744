"""λ-path model selection — beyond-reference (round 10 extension).

``regularization_path`` is the sklearn ``lasso_path`` analogue built on
the round-10 warm-start support: fits run strongest-λ-first so each fit
resumes from the previous optimum (``init_beta``) over ONE shared cache —
on a 100 TB input the whole path costs a handful of extra rounds per λ
instead of a cold fit each.

Deterministic k-fold CV and JSON model persistence already live in
``operators.estimators`` (``cross_val_score`` with content-hash folds,
``save_model`` / ``load_model``).
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
from pyspark.sql import DataFrame

from dask_glm_spark.functions.families import Logistic
from dask_glm_spark.operators import solvers
from dask_glm_spark.plans.layout import ensure_min_parallelism

# λ-sweep support: solvers whose objective actually contains lamduh*R
_PATH_SOLVERS = ("proximal_grad", "lbfgs", "admm")


def regularization_path(
    df: DataFrame,
    lamduhs,
    solver: str = "proximal_grad",
    regularizer: str = "l1",
    family=Logistic,
    warm: bool = True,
    batched: bool = False,
    **kwargs,
) -> np.ndarray:
    """Coefficients along a regularization path: returns ``(len(lamduhs),
    p)`` with row i the fit at ``lamduhs[i]`` (input order preserved).

    Fits execute in DESCENDING λ order regardless of input order — the
    heaviest-regularized fit is cheapest from zeros, and each subsequent
    fit warm-starts from its predecessor (``warm=False`` cold-starts
    every fit, for A/Bs). A dense input is read ONCE into a block cache
    that every per-λ fit evaluates over (``_shared_input``; with
    ``normalize`` on, the default, the λ-independent moments fold into
    that build), so standardization and data are bit-equal to a
    standalone call's (pinned in tests/test_model_selection).
    Wide-sparse (findices, fvalues) input is persisted once and runs the
    solver's ``*_sparse`` twin per λ (width probed once, never
    standardized).

    ``batched=True`` (round 13, proximal_grad only) runs every λ's ISTA
    state machine SIMULTANEOUSLY — one fused ``multi_loss_gradient``
    scan advances all still-active λ per iteration, instead of one fit's
    worth of scans per λ. At 100 TB the path's cost is passes over the
    data, and batching divides them by ~len(lamduhs): the sequential
    sweep pays Σ_i iters(λ_i) scans, the batched sweep max_i iters(λ_i)
    (each scan carrying every active λ's probe candidates). The batched
    path and a single ``proximal_grad`` fit run the same body
    (``solvers._ista``, or ``_fista`` with ``accelerate=True``: momentum,
    majorization acceptance, full-objective stopping) — a single fit is
    its one-λ case — so each row converges to the same point as a cold
    standalone fit (``warm`` is ignored — λs no longer chain; parity
    pinned in tests/test_model_selection.py). Standardization is hoisted
    into the ONE block build shared by all λ (same transform the per-fit
    build would compute — it is λ-independent). Dense and wide-sparse
    inputs in both modes.
    """
    if solver not in _PATH_SOLVERS:
        raise ValueError(
            f"regularization_path supports solver in {_PATH_SOLVERS}, "
            f"got {solver!r}"
        )
    if batched and solver != "proximal_grad":
        raise ValueError(
            "batched=True supports solver='proximal_grad' only, "
            f"got {solver!r}"
        )
    lams = _lamduh_list(lamduhs)
    if batched:
        return _regularization_path_batched(
            df, lams, regularizer, family, **kwargs
        )
    from dask_glm_spark.sources import vectors as V

    idx_col = kwargs.get("idx_col", "findices")
    sparse = V.is_sparse_columns(df, idx_col, kwargs.get("val_col", "fvalues"))
    # the solver for the input's layout, resolved through the module
    fn = getattr(solvers, solver + "_sparse" if sparse else solver)
    # a caller-supplied fit_info would be shared (and silently
    # overwritten) by every per-λ fit — collect per-λ dicts instead,
    # returned in INPUT order under "per_lamduh"
    caller_info = kwargs.pop("fit_info", None)
    infos: list[dict] = [{} for _ in lams]
    with _shared_input(df, sparse, solver, kwargs) as df:
        order = sorted(range(len(lams)), key=lambda i: -lams[i])
        betas: list[np.ndarray | None] = [None] * len(lams)
        prev = None
        for i in order:
            kw = dict(kwargs)
            kw["fit_info"] = infos[i]
            if warm and prev is not None:
                kw.setdefault("init_beta", prev)
            beta = np.asarray(
                fn(
                    df,
                    regularizer=regularizer,
                    lamduh=lams[i],
                    family=family,
                    **kw,
                ),
                dtype=np.float64,
            )
            betas[i] = beta
            prev = beta
        if caller_info is not None:
            caller_info["per_lamduh"] = infos
        return np.stack(betas)


@contextmanager
def _shared_input(df, sparse: bool, solver: str, kwargs: dict):
    """The one read of a sequential λ-path's input that every per-λ fit
    shares (yields the frame the fits are called with). Dense: ONE block
    build for all λ — the λ-independent standardization moments fold
    into it — passed to each fit as ``kwargs["_blocks"]`` (``admm``'s
    blocks, with its block count, for ``solver="admm"``), so each fit's
    standardization and data are bit-equal to a standalone call's over
    the same blocks (pinned in tests/test_model_selection). Wide-sparse:
    the input persisted once (spread BEFORE caching, round 13 — the
    solvers' own persist is skipped on an already-cached frame) and its
    width probed once (``kwargs["p"]``)."""
    from dask_glm_spark.sources import vectors as V

    if sparse:
        with solvers._cached(df) as (df, _):
            if not kwargs.get("p"):
                kwargs["p"] = V.sparse_p(df, kwargs.get("idx_col", "findices"))
            yield df
        return
    cols = (
        kwargs.get("features_col", "features"), kwargs.get("label_col", "label"),
        kwargs.get("weight_col"), kwargs.get("offset_col"),
    )
    norm = kwargs.get("normalize", True)
    if solver == "admm":
        build = solvers._admm_dense_blocks(
            df, *cols, kwargs.get("nblocks"), norm, kwargs.get("p"),
        )
    else:
        build = solvers._dense_blocks(df, *cols, norm)
    with build as blocks:
        kwargs["_blocks"] = blocks
        yield df


def _lamduh_list(lamduhs) -> list[float]:
    lams = [float(v) for v in lamduhs]
    if not lams:
        raise ValueError("lamduhs must be non-empty")
    if any(v < 0 for v in lams):
        raise ValueError("lamduhs must be >= 0")
    return lams


# Candidate budget per batched probe scan, spread across the λs still
# backtracking — bounds the multi_loss_gradient partial at (1+p)·PROBE_TOTAL
# doubles per partition regardless of path length.
_BATCH_PROBE_TOTAL = 32


def _regularization_path_batched(df, lams, regularizer, family, **kwargs):
    """Layout + standardization wrapper for the batched λ-path: ONE block
    build for all λ (dense; it folds the λ-independent moments — the same
    transform every per-fit ``@normalize`` build would compute) or one
    persist (sparse), run ``solvers._ista`` /
    ``_fista`` over all λs on the input's layout in the standardized
    space (``multi_loss_grad`` as point and probe surface,
    ``_BATCH_PROBE_TOTAL`` candidates per scan), and back-transform every
    row. Wide-sparse (findices, fvalues) input runs the O(k·nnz) sparse
    probe kernel and never standardizes (the sparse-path contract)."""
    from dask_glm_spark.sources import vectors as V

    features_col = kwargs.pop("features_col", "features")
    label_col = kwargs.pop("label_col", "label")
    idx_col = kwargs.pop("idx_col", "findices")
    val_col = kwargs.pop("val_col", "fvalues")
    weight_col = kwargs.pop("weight_col", None)
    offset_col = kwargs.pop("offset_col", None)
    max_iter = kwargs.pop("max_iter", 100)
    tol = kwargs.pop("tol", 1e-8)
    init_beta = kwargs.pop("init_beta", None)
    accelerate = kwargs.pop("accelerate", False)
    do_norm = kwargs.pop("normalize", True)
    p = kwargs.pop("p", None)
    caller_info = kwargs.pop("fit_info", None)
    if kwargs:
        raise TypeError(
            f"unexpected keyword arguments for batched path: {sorted(kwargs)}"
        )
    infos: list[dict] = [{} for _ in lams]
    body = solvers._fista if accelerate else solvers._ista
    sparse = V.is_sparse_columns(df, idx_col, val_col)
    with solvers._cached(df) if sparse else solvers._dense_blocks(
        df, features_col, label_col, weight_col, offset_col, do_norm,
    ) as src:
        if sparse:
            df, _ = src
            # identity transform: sparse input never standardizes
            stdz = solvers._Standardizer(p=p or V.sparse_p(df, idx_col))
            layout = dict(idx_col=idx_col, val_col=val_col)
        else:
            stdz = solvers._Standardizer(
                src.moments if do_norm else None, src.p
            )
            df, layout = src.scaled(stdz), dict(features_col=features_col)
        lay = solvers._Layout(
            df, stdz.p, label_col, family, weight_col, offset_col,
            **layout,
        )
        out = body(
            lay.multi_loss_grad, lay.multi_loss_grad, lay.p, regularizer,
            lams, max_iter, tol, stdz.forward(init_beta), infos,
            _BATCH_PROBE_TOTAL,
        )
        if caller_info is not None:
            caller_info["per_lamduh"] = infos
        return np.stack([stdz.backward(b) for b in out])


def softmax_regularization_path(
    df: DataFrame,
    lamduhs,
    k: int,
    regularizer: str = "l1",
    warm: bool = True,
    batched: bool = False,
    **kwargs,
) -> np.ndarray:
    """Multinomial λ-path (round 12): the softmax twin of
    ``regularization_path`` over ``solvers.softmax_proximal`` — returns
    ``(len(lamduhs), p, k)`` with row i the joint fit at ``lamduhs[i]``
    (input order preserved; execution strongest-λ-first with (p, k)
    warm starts over one shared cache). ``label_col`` must hold class
    indices in [0, k) — the solver-level contract; use
    ``SoftmaxRegression`` for label mapping.

    Wide-sparse (findices, fvalues) input runs
    ``solvers.softmax_proximal_sparse`` per λ (width probed once, never
    standardized).

    ``batched=True`` (round 13): every λ's FISTA state machine advanced
    by shared ``softmax_multi_loss_gradient`` scans — the multinomial
    twin of ``regularization_path(batched=True)``, same Σ-of-iterations →
    max-of-iterations pass count. Per-λ policy is ``solvers._fista``'s
    (the body ``softmax_proximal`` runs with one λ), so each row lands on
    the cold standalone fit's optimum; ``warm`` is ignored. Dense features
    only: there is no multi-point sparse softmax gradient kernel, so
    sparse input raises ``ValueError``."""
    from dask_glm_spark.sources import vectors as V

    lams = _lamduh_list(lamduhs)
    idx_col = kwargs.get("idx_col", "findices")
    sparse = V.is_sparse_columns(df, idx_col, kwargs.get("val_col", "fvalues"))
    if batched:
        if sparse:
            raise ValueError(
                "softmax_regularization_path(batched=True) takes dense "
                "features only; use batched=False for sparse input"
            )
        return _softmax_path_batched(df, lams, k, regularizer, **kwargs)
    # the solver for the input's layout, resolved through the module
    fn = getattr(
        solvers, "softmax_proximal_sparse" if sparse else "softmax_proximal"
    )
    caller_info = kwargs.pop("fit_info", None)
    infos: list[dict] = [{} for _ in lams]
    with _shared_input(df, sparse, "softmax_proximal", kwargs) as df:
        order = sorted(range(len(lams)), key=lambda i: -lams[i])
        betas: list[np.ndarray | None] = [None] * len(lams)
        prev = None
        for i in order:
            kw = dict(kwargs)
            kw["fit_info"] = infos[i]
            if warm and prev is not None:
                kw.setdefault("init_beta", prev)
            B = np.asarray(
                fn(df, k, regularizer=regularizer, lamduh=lams[i], **kw),
                dtype=np.float64,
            )
            betas[i] = B
            prev = B
        if caller_info is not None:
            caller_info["per_lamduh"] = infos
        return np.stack(betas)


def _softmax_path_batched(df, lams, k, regularizer, **kwargs):
    """Batched multinomial λ-path: one block build for all λ (its
    moments give the same λ-independent transform each
    ``softmax_proximal`` call would compute), then ``solvers._fista``
    over the flattened (p·k) vectors with ONE ``softmax_multi_loss_gradient`` scan per evaluation
    round. Probe scans ride the same kernel (gradients along unused — the
    sparse sequential FISTA convention), so the per-scan partial is
    c·(1 + p·k) doubles; the candidate budget caps c at
    ``_BATCH_PROBE_TOTAL``."""
    from dask_glm_spark.functions import kernels

    features_col = kwargs.pop("features_col", "features")
    label_col = kwargs.pop("label_col", "label")
    weight_col = kwargs.pop("weight_col", None)
    max_iter = kwargs.pop("max_iter", 100)
    tol = kwargs.pop("tol", 1e-8)
    init_beta = kwargs.pop("init_beta", None)
    normalize = kwargs.pop("normalize", True)
    caller_info = kwargs.pop("fit_info", None)
    if kwargs:
        raise TypeError(
            f"unexpected keyword arguments for batched path: {sorted(kwargs)}"
        )
    infos: list[dict] = [{} for _ in lams]
    with solvers._dense_blocks(
        df, features_col, label_col, weight_col, None, normalize,
    ) as blocks:
        stdz = solvers._Standardizer(
            blocks.moments if normalize else None, blocks.p
        )
        p = stdz.p
        src = blocks.scaled(stdz)

        def multi_lg(cands):
            return kernels.softmax_multi_loss_gradient(
                src,
                [np.asarray(c, dtype=np.float64).reshape(p, k) for c in cands],
                features_col, label_col, weight_col=weight_col,
            )

        flat = solvers._fista(
            multi_lg, multi_lg, p * k, regularizer, lams, max_iter, tol,
            stdz.forward(init_beta, k), infos, _BATCH_PROBE_TOTAL,
        )
        if caller_info is not None:
            caller_info["per_lamduh"] = infos
        return np.stack([
            stdz.backward(np.asarray(v, dtype=np.float64).reshape(p, k))
            for v in flat
        ])


def cv_fold_column(
    df: DataFrame,
    n_folds: int,
    features_col: str = "features",
    label_col: str = "label",
    fold_col: str = "_cvfold",
) -> DataFrame:
    """THE deterministic content-hash fold assignment — one definition
    (review r12) shared by ``cross_val_score`` and ``cv_lamduh``:
    ``xxhash64(features, label) % n_folds``, a pure narrow expression, so
    folds are identical across partitionings, reruns, and cluster shapes
    (``randomSplit`` changes with layout)."""
    from pyspark.sql import functions as F

    if n_folds < 2:
        raise ValueError(f"n_folds must be >= 2, got {n_folds}")
    return df.withColumn(
        fold_col, F.pmod(F.xxhash64(features_col, label_col), F.lit(n_folds))
    )


def cv_lamduh(
    df: DataFrame,
    lamduhs,
    solver: str = "proximal_grad",
    regularizer: str = "l1",
    family=Logistic,
    n_folds: int = 5,
    features_col: str = "features",
    label_col: str = "label",
    **kwargs,
) -> dict:
    """Cross-validated λ selection (the glmnet ``cv.glmnet`` analogue) —
    round 12. Per fold: one warm-started ``regularization_path`` over the
    train split's shared cache (strongest-λ-first, each fit a few rounds
    from its predecessor), then ONE ``kernels.multi_loss`` scan of the
    held-out split scoring ALL λ candidates together — k·(path fits) +
    k scans total, never a per-λ test job.

    Folds are the deterministic content-hash folds ``cross_val_score``
    uses (``xxhash64(features, label) % n_folds`` — identical across
    partitionings/reruns/cluster shapes; ``randomSplit`` is not).

    Returns ``{"best_lamduh", "mean_test_loss" (input order, per-row
    mean held-out NLL — the family's deviance-equivalent criterion),
    "fold_test_loss" (n_folds, len(lamduhs)), "betas" (full-data refit
    path, len(lamduhs) × p)}``. The final betas come from one
    regularization_path over the FULL frame (the standard cv.glmnet
    contract: select λ by CV, refit on everything)."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels

    lams = _lamduh_list(lamduhs)

    # held-out scoring must use the SAME objective the fits minimize
    # (review r12): weighted fits score by the weighted per-unit NLL
    # Σw·ll/Σw, and offsets re-enter the test linear predictor
    weight_col = kwargs.get("weight_col")
    offset_col = kwargs.get("offset_col")
    folded = ensure_min_parallelism(
        cv_fold_column(df, n_folds, features_col, label_col)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        fold_losses = np.empty((n_folds, len(lams)))
        for i in range(n_folds):
            train = folded.where(F.col("_cvfold") != i).drop("_cvfold")
            test = folded.where(F.col("_cvfold") == i).drop("_cvfold")
            betas = regularization_path(
                train, lams, solver=solver, regularizer=regularizer,
                family=family, features_col=features_col,
                label_col=label_col, **kwargs,
            )
            # denominator (Σw or row count) fused into the scoring scan —
            # the separate agg/count job was a second full pass over the
            # held-out split per fold (r13, guide §2.1)
            losses, denom = kernels.multi_loss(
                test, family, [betas[j] for j in range(len(lams))],
                features_col=features_col, label_col=label_col,
                weight_col=weight_col, offset_col=offset_col,
                with_denom=True,
            )
            if denom <= 0:
                raise ValueError(
                    f"fold {i} has no held-out mass (n_folds={n_folds} "
                    "too large for this dataset)"
                )
            fold_losses[i] = np.asarray(losses) / denom
        mean_loss = fold_losses.mean(axis=0)
        best = lams[int(np.argmin(mean_loss))]
        # full-data refit runs on the STILL-CACHED folded frame (the
        # extra fold column is invisible to the solver's column-named
        # scans) — dropping _cvfold first yielded an uncached derived
        # frame that regularization_path persisted as a second full copy
        # of the dataset (ADVICE r12)
        betas_full = regularization_path(
            folded, lams, solver=solver,
            regularizer=regularizer, family=family,
            features_col=features_col, label_col=label_col, **kwargs,
        )
        return {
            "best_lamduh": best,
            "mean_test_loss": mean_loss,
            "fold_test_loss": fold_losses,
            "betas": betas_full,
            "lamduhs": lams,
        }
    finally:
        folded.unpersist()


def softmax_cv_lamduh(
    df: DataFrame,
    lamduhs,
    k: int,
    regularizer: str = "l1",
    n_folds: int = 5,
    features_col: str = "features",
    label_col: str = "label",
    **kwargs,
) -> dict:
    """Cross-validated λ selection for the JOINT multinomial path —
    round 13 (VERDICT r12 #6): the softmax twin of ``cv_lamduh``, so the
    multiclass user has a selector, not just a path. Per fold: one
    warm-started ``softmax_regularization_path`` over the train split's
    shared cache (strongest-λ-first, (p, k) warm starts), then ONE
    ``kernels.softmax_multi_loss`` scan of the held-out split scoring
    ALL λ candidates together — never a per-λ test job. Folds are the
    same deterministic content-hash folds every CV surface here uses
    (identical across partitionings/reruns/cluster shapes).

    ``label_col`` must hold class indices in [0, k) — the solver-level
    contract (use ``SoftmaxRegression`` for label mapping). ``weight_col``
    in kwargs scores by the weighted per-unit NLL Σw·ll/Σw, matching the
    weighted fit objective. Returns the ``cv_lamduh`` dict shape with
    ``betas`` of shape (len(lamduhs), p, k) — full-data refit over the
    STILL-CACHED folded frame (the ADVICE-r12 double-cache fix applies
    here too)."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels

    lams = _lamduh_list(lamduhs)
    weight_col = kwargs.get("weight_col")
    folded = ensure_min_parallelism(
        cv_fold_column(df, n_folds, features_col, label_col)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        fold_losses = np.empty((n_folds, len(lams)))
        for i in range(n_folds):
            train = folded.where(F.col("_cvfold") != i).drop("_cvfold")
            test = folded.where(F.col("_cvfold") == i).drop("_cvfold")
            betas = softmax_regularization_path(
                train, lams, k, regularizer=regularizer,
                features_col=features_col, label_col=label_col, **kwargs,
            )
            # denominator fused into the scoring scan (r13, guide §2.1 —
            # see cv_lamduh)
            losses, denom = kernels.softmax_multi_loss(
                test, [betas[j] for j in range(len(lams))],
                features_col=features_col, label_col=label_col,
                weight_col=weight_col, with_denom=True,
            )
            if denom <= 0:
                raise ValueError(
                    f"fold {i} has no held-out mass (n_folds={n_folds} "
                    "too large for this dataset)"
                )
            fold_losses[i] = np.asarray(losses) / denom
        mean_loss = fold_losses.mean(axis=0)
        best = lams[int(np.argmin(mean_loss))]
        betas_full = softmax_regularization_path(
            folded, lams, k, regularizer=regularizer,
            features_col=features_col, label_col=label_col, **kwargs,
        )
        return {
            "best_lamduh": best,
            "mean_test_loss": mean_loss,
            "fold_test_loss": fold_losses,
            "betas": betas_full,
            "lamduhs": lams,
        }
    finally:
        folded.unpersist()


def lamduh_max(
    df: DataFrame,
    family=Logistic,
    features_col: str = "features",
    label_col: str = "label",
    weight_col: str | None = None,
) -> float:
    """Smallest λ whose L1 solution is exactly zero: ``||∇L(0)||_∞`` (the
    sklearn/glmnet ``alpha_max`` convention) — one fused loss+gradient
    scan at β=0.

    Computed on the features AS GIVEN: pair it with ``normalize=False``
    fits (the raw-space penalty, matching MLlib's
    ``standardization=False``), or standardize the features yourself
    first — the default standardized fits penalize in a different space.
    """
    from dask_glm_spark.functions import kernels

    p = kernels.infer_p(df, features_col)
    _, grad = kernels.loss_gradient(
        df, family, np.zeros(p), p, features_col, label_col,
        weight_col=weight_col,
    )
    return float(np.max(np.abs(grad)))


def softmax_lamduh_max(
    df: DataFrame,
    k: int,
    features_col: str = "features",
    label_col: str = "label",
    weight_col: str | None = None,
) -> float:
    """Multinomial twin of ``lamduh_max`` (round 13): ``||∇L(0)||_∞``
    over the flattened (p, k) gradient — at B=0 every class probability
    is 1/k and one fused ``softmax_loss_gradient`` scan yields
    Xᵀ(1/k − onehot); any ``lamduh`` at or above this soft-thresholds
    the whole first ISTA/FISTA step to zero, and B=0 satisfies the L1
    stationarity condition (the elementwise penalty's subdifferential
    covers every coordinate). Same raw-space caveat as the binary
    version: pair with ``normalize=False`` or standardize yourself."""
    from dask_glm_spark.functions import kernels

    p = kernels.infer_p(df, features_col)
    _, G = kernels.softmax_loss_gradient(
        df, np.zeros((p, k)), features_col, label_col,
        weight_col=weight_col,
    )
    return float(np.max(np.abs(G)))
