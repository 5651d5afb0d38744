"""Sparse kernel layer: loss/gradient over (indices, values) columns.

Wide-sparse entry points of ``functions.kernels`` (P1/P2/P5 for one-hot /
hashed text features with p up to 10^6, where densifying each row would
multiply bytes-on-wire by p/nnz). There is no sparse kernel arithmetic
here: each public ``*_sparse`` function runs the SAME per-batch closure
as its dense twin, through the same ``mapInArrow`` partial-aggregation
scan (one partial row per partition, driver fold in sorted-pid order).
Only the batch reader differs — ``_csr`` reads the flat Arrow list
buffers of a batch into a ``CSRMatrix``, whose ``@`` is an O(nnz)
bincount:

    X @ beta = bincount(row_ids, weights = values * beta[indices])   O(nnz)
    X.T @ r  = bincount(indices, weights = r[row_ids] * values)      O(nnz)

Bytes leaving each executor stay O(p) (the gradient partial); X is never
densified on either side of the Arrow boundary.

Correctness coverage is two-layer:
sparse vs dense parity in tests/test_sparse.py, and (round 13) the CSR
path itself under the DuckDB hash gate — q48's sloss/sgrad/shvp/
smlgl1/smlgg1 columns run loss_gradient_sparse,
hessian_vector_product_sparse, and multi_loss_gradient_sparse over a
ragged masked view and hash against symbolic SQL recomputation.

The public ``*_sparse`` names are load-bearing beyond the solvers:
glmbench's layer trace wraps every one of them by name.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from dask_glm_spark.functions import kernels as _k


def _flat_csr(ic, vc):
    """The flat ``(indices int64, values float64, row lengths int64)`` of
    one batch's index and value list columns, read from their Arrow
    buffers (no per-row objects). The two lists of every row must have
    the same length: flattening them separately would otherwise shift
    values onto other rows and indices, so a mismatch raises
    ``ValueError``. Shared by the kernel reader (``_batch_csr``) and the
    ADMM block reader (``solvers._CSRBlock``)."""
    lens = ic.value_lengths().to_numpy(zero_copy_only=False)
    vlens = vc.value_lengths().to_numpy(zero_copy_only=False)
    if not np.array_equal(lens, vlens):
        row = int(np.flatnonzero(lens != vlens)[0])
        raise ValueError(
            f"sparse row {row} of a batch has {lens[row]} indices but "
            f"{vlens[row]} values; every row's index and value lists must "
            "have the same length"
        )
    idx = ic.flatten().to_numpy(zero_copy_only=False)
    vals = vc.flatten().to_numpy(zero_copy_only=False)
    return (
        idx.astype(np.int64, copy=False),
        vals.astype(np.float64, copy=False),
        lens.astype(np.int64, copy=False),
    )


def _batch_csr(batch, idx_col: str, val_col: str, p: int) -> "CSRMatrix":
    """A ``pyarrow.RecordBatch``'s (indices, values) lists as an (n, p)
    ``CSRMatrix``, read from the flat buffers (``_flat_csr``; round 13:
    ~300× cheaper than the arrow→pandas conversion of the same list
    columns)."""
    idx, vals, lens = _flat_csr(
        batch.column(batch.schema.get_field_index(idx_col)),
        batch.column(batch.schema.get_field_index(val_col)),
    )
    row_ids = np.repeat(np.arange(len(lens)), lens)
    return CSRMatrix(idx, vals, row_ids, (len(lens), p))


def _f64(batch, col: str) -> np.ndarray:
    """A ``pyarrow.RecordBatch`` column as float64."""
    return (
        batch.column(batch.schema.get_field_index(col))
        .to_numpy(zero_copy_only=False)
        .astype(np.float64, copy=False)
    )


def _csr(idx_col: str, val_col: str, p: int):
    """The sparse batch reader of ``kernels._arrow_partials``: a
    ``mapInArrow`` batch read into a ``CSRMatrix``. ``columns`` names
    what it reads."""
    def read(rb):
        return _batch_csr(rb, idx_col, val_col, p)

    read.columns = (idx_col, val_col)
    return read


class CSRMatrix:
    """Minimal scipy-free sparse row matrix for executor-local math.

    Duck-types the numpy products the kernels and the family math use —
    ``X @ v`` / ``X @ B`` and ``X.T @ r`` / ``X.T @ R`` (``.dot`` is the
    same operator, for families.py ``pointwise_loss`` /
    ``pointwise_gradient``) — so the dense Arrow per-batch closures and
    the ADMM local update run unchanged on sparse batches. A 1-D operand
    is one O(nnz) bincount scatter (``X @``) or gather (``X.T @``); a 2-D
    ``(·, k)`` operand is one bincount per column. ``X @ B`` is returned
    column-major (each column one contiguous scatter result, so
    ``XB[:, i]`` reductions see contiguous memory); callers that reduce
    along rows take ``np.ascontiguousarray`` of it, a no-op for a dense
    GEMM result. Stored as COO-with-row-ids (three flat arrays) — 24
    bytes/nnz, never densified.
    """

    __slots__ = ("indices", "values", "row_ids", "shape")

    def __init__(self, indices, values, row_ids, shape):
        self.indices = indices
        self.values = values
        self.row_ids = row_ids
        self.shape = shape

    def __matmul__(self, B):
        if np.ndim(B) == 2:
            out = np.empty((B.shape[1], self.shape[0]))
            for c in range(B.shape[1]):
                out[c] = self @ B[:, c]
            return out.T
        return np.bincount(
            self.row_ids, weights=self.values * B[self.indices],
            minlength=self.shape[0],
        )

    dot = __matmul__

    @property
    def T(self):
        return _CSRTranspose(self)


class _CSRTranspose:
    __slots__ = ("m",)

    def __init__(self, m: CSRMatrix):
        self.m = m

    def __matmul__(self, R):
        if np.ndim(R) == 2:
            out = np.empty((self.m.shape[1], R.shape[1]))
            for c in range(R.shape[1]):
                out[:, c] = self @ R[:, c]
            return out
        return np.bincount(
            self.m.indices, weights=R[self.m.row_ids] * self.m.values,
            minlength=self.m.shape[1],
        )

    dot = __matmul__


def loss_gradient_sparse(
    df: DataFrame,
    family,
    beta: np.ndarray,
    p: int,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
    weight_col: str | None = None,
    offset_col: str | None = None,
) -> tuple[float, np.ndarray]:
    """Fused loss + gradient (O(nnz) per batch, O(p) per partition out).
    ``weight_col`` applies per-row sample weights (round 10): loss
    Σ w·ll, gradient scatter of (w⊙r); ``offset_col`` adds a fixed
    per-row term to xb — same O(nnz) scan either way."""
    return _k._loss_gradient_arrow(
        df, _csr(idx_col, val_col, p), family, beta, p, label_col,
        weight_col, offset_col,
    )


def multi_loss_gradient_sparse(
    df: DataFrame,
    family,
    betas: list[np.ndarray],
    p: int,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
    weight_col: str | None = None,
    offset_col: str | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(losses (k,), grads (p, k)) for k candidates in one O(k·nnz) scan —
    the sparse twin of ``kernels.multi_loss_gradient`` (fused line-search
    probe: the accepted candidate's gradient feeds the next iteration, so
    the separate per-iteration loss_gradient job disappears)."""
    return _k._multi_loss_gradient_arrow(
        df, _csr(idx_col, val_col, p), family, betas, p, label_col,
        weight_col, offset_col,
    )


def hessian_vector_product_sparse(
    df: DataFrame,
    family,
    beta: np.ndarray,
    v: np.ndarray,
    p: int,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
    weight_col: str | None = None,
    offset_col: str | None = None,
) -> np.ndarray:
    """Sparse Hessian-vector product ``Hv = Xᵀ(hw(xb)⊙(X·v))`` — the
    O(nnz) twin of ``kernels.hessian_vector_product`` (round 12): two
    bincount scatters and one gather per batch, O(p) doubles per
    partition, the label column never read. Gives wide-sparse fits a
    second-order solver (``newton_cg_sparse``) — plain newton is excluded
    from sparse because its p² Gram is the wrong object there; the Hvp
    never forms it."""
    return _k._hvp_arrow(
        df, _csr(idx_col, val_col, p), family, beta, v, p, weight_col,
        offset_col,
    )


def softmax_multi_loss_sparse(
    df: DataFrame,
    Bs: list[np.ndarray],
    p: int,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
    weight_col: str | None = None,
) -> np.ndarray:
    """Negative log-likelihoods of c candidate (p, k) softmax matrices in
    one O(c·k·nnz) scan — the sparse twin of ``kernels.softmax_multi_loss``
    (the multinomial FISTA backtracking probe, round 12)."""
    return _k._softmax_multi_loss_arrow(
        df, _csr(idx_col, val_col, p), Bs, label_col, weight_col
    )


def softmax_loss_gradient_sparse(
    df: DataFrame,
    B: np.ndarray,
    p: int,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
    weight_col: str | None = None,
) -> tuple[float, np.ndarray]:
    """Sparse twin of ``kernels.softmax_loss_gradient``: (negative
    log-likelihood, (p, k) gradient) for multinomial logistic over
    (indices, values) rows — ALL k class scores and gradients from one
    O(k·nnz) scan (k scatters for Z, k gathers for the gradient),
    partials (1 + p·k) doubles per partition. ``label_col`` must hold
    class indices in [0, k)."""
    return _k._softmax_lg_arrow(
        df, _csr(idx_col, val_col, p), B, label_col, weight_col
    )


def softmax_hessian_vector_product_sparse(
    df: DataFrame,
    B: np.ndarray,
    V: np.ndarray,
    p: int,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    weight_col: str | None = None,
) -> np.ndarray:
    """Sparse twin of ``kernels.softmax_hessian_vector_product``:
    ``H(B)·V`` as (p, k) over (indices, values) rows — the wide-sparse
    multinomial Newton-CG primitive (round 13): O(k·nnz) work per batch,
    p·k doubles per partition, the label column never read."""
    return _k._softmax_hvp_arrow(
        df, _csr(idx_col, val_col, p), B, V, weight_col
    )


def fused_sparse_gate(
    df: DataFrame,
    family,
    beta: np.ndarray,
    v: np.ndarray,
    betas: list[np.ndarray],
    p: int,
    idx_col: str = "findices",
    val_col: str = "fvalues",
    label_col: str = "label",
) -> tuple[tuple[float, np.ndarray], np.ndarray, tuple[np.ndarray, np.ndarray]]:
    """``loss_gradient_sparse`` + ``hessian_vector_product_sparse`` +
    ``multi_loss_gradient_sparse`` over ONE scan of the same frame (r14
    pass 3, guide §2.4: three jobs sharing a cached source become one —
    q48's sparse gate section). Each batch's CSR arrays are read once
    and fed to all three per-batch closures.

    Returns ``((loss, grad), hv, (mlosses, mgrads))``, bit-identical to
    the three standalone kernel jobs (same closures, same batch
    boundaries, same fold — see ``kernels._arrow_partials``). Pinned by
    tests/test_kernels.py::test_fused_sparse_gate_matches_separate."""
    k = len(betas)
    acc = _k._arrow_partials(
        df, _csr(idx_col, val_col, p),
        {
            "loss": 0.0, "grad": np.zeros(p), "hv": np.zeros(p),
            "mlosses": np.zeros(k), "mgrads": np.zeros(p * k),
        },
        [
            (_k._loss_gradient_partial(family, beta), label_col, ""),
            (_k._hvp_partial(family, beta, v), None, ""),
            (_k._multi_loss_gradient_partial(family, betas), label_col, "m"),
        ],
    )
    return (
        (float(acc["loss"]), acc["grad"]),
        acc["hv"],
        (acc["mlosses"], acc["mgrads"].reshape(p, k)),
    )
