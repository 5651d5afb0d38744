"""Distributed kernel layer: the 9 dataflow primitives every solver uses.

Reference analogue: SURVEY.md §2.5 (P1-P9). Every solver iteration is some
combination of:

  P1 mat-vec        X·beta            -> per-row `xb` Column expression
  P2 gradient       X^T r(xb,y)       -> p-vector partial+final aggregation
  P3 weighted Gram  X^T diag(w) X     -> p×p partial+final aggregation
  P4 scalar maps    exp/log1p/sigmoid -> built-in Column functions
  P5 reductions     sum(loss terms)   -> df.agg(F.sum(...))
  P6 column moments mean/std per col  -> one mapInArrow partial scan
                                         (population std!); a dense fit's
                                         block build folds the same
                                         partials (no moments job)
  P7 per-partition fan-out            -> one mapInArrow block build per
                                         dense fit (solvers._blocks): the
                                         numpy blocks every evaluation and
                                         ADMM round of the fit reads
  P8 broadcast of beta                -> closure capture (kernels); literal
                                         folding (scoring expressions,
                                         ``matvec_expr``)
  P9 intercept append                 -> F.concat(features, array(1.0))

Each aggregation kernel has ONE physical path, ``_arrow_partials``: a
``mapInArrow`` scan whose per-batch closure is written against ``X @ …``
/ ``X.T @ …`` only, so it runs unchanged on a dense ndarray (``_dense``:
the features list column's flat values buffer reshaped to (n, p) by
``_flat_rows``, one BLAS GEMV/GEMM per batch) or on a
``kernels_sparse.CSRMatrix`` (``kernels_sparse._csr``: O(nnz)
bincounts) — only the batch reader differs. Each partition emits ONE row
of ``(pid, partials...)``; the driver sums partials **in sorted partition
order** (a run-invariant reduction order, replicating dask's
deterministic chunk-tree reductions — needed by the reference
determinism tests, ``tests/test_algos_families.py:141-160``). A dense
fit passes its block cache (``solvers._Blocks``) in place of the frame:
the same closures then run per block, one partial row per block, folded
the same way. At 100 TB either is a single pass over the feature data
with only O(p) or O(p²) bytes leaving each executor — the shape of
MLlib's treeAggregate; there is no shuffle of X, ever.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from functools import reduce
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

UNROLL_MAX = 64

# ---------------------------------------------------------------------------
# AQE bypass for kernel jobs (r13 optimization, guide §1.2/§2.4).
#
# Every kernel job here is scan -> partial aggregate -> one tiny exchange
# (O(p)/O(p²) bytes) -> final aggregate. AQE has nothing to optimize on
# that shape AT ANY SCALE: a global aggregate's final stage is single-
# partition regardless, there is no join to re-strategize, and the tree
# merge's repartition(n, ...) is an explicit user partitioning AQE leaves
# alone. What AQE does add is a materialization barrier per query stage —
# pure scheduling latency that an ITERATIVE solver pays once per
# evaluation (isolated A/B on a warm cached 600k-row agg job: 772 ms with
# AQE vs 176 ms without; x10-25 evaluations per fit). Pipeline operators
# (joins, dedup, groupBys) keep the session's AQE setting — coalescing
# and skew handling matter there.
#
# Session-conf toggle, refcounted + locked so nested/overlapping kernel
# actions never leave the session conf flipped. CAVEAT (ADVICE r13): the
# flip is session-wide, so a PIPELINE query planned on another thread of
# the same session while a kernel action is in flight would be planned
# without AQE. This library runs kernel actions sequentially on the
# calling thread (the r13 thread-pool experiment measured concurrent
# driver jobs slower and was removed); callers embedding the library in a
# multi-threaded driver should serialize kernel actions with their own
# pipeline queries or give them a separate SparkSession.newSession().
# ---------------------------------------------------------------------------
_AQE_LOCK = threading.Lock()
_AQE_STATE: dict[int, tuple[int, str]] = {}  # session id -> (depth, saved)


@contextmanager
def kernel_exec(spark):
    """Run a tiny-result kernel action with AQE off, restoring the
    session's prior setting when the outermost kernel job finishes."""
    key = id(spark)
    with _AQE_LOCK:
        depth, saved = _AQE_STATE.get(key, (0, "true"))
        if depth == 0:
            try:
                saved = spark.conf.get("spark.sql.adaptive.enabled", "true")
            except Exception:
                saved = "true"
            if saved != "false":
                spark.conf.set("spark.sql.adaptive.enabled", "false")
        _AQE_STATE[key] = (depth + 1, saved)
    try:
        yield
    finally:
        with _AQE_LOCK:
            depth, saved = _AQE_STATE[key]
            if depth == 1:
                # Delete the state entry even if the restore throws (e.g.
                # stopped session) — a leaked depth-1 entry would make a
                # later session that reuses this id() skip the save/disable
                # entirely (ADVICE r13).
                try:
                    if saved != "false":
                        spark.conf.set("spark.sql.adaptive.enabled", saved)
                finally:
                    del _AQE_STATE[key]
            else:
                _AQE_STATE[key] = (depth - 1, saved)


# ---------------------------------------------------------------------------
# P1: mat-vec as a codegen'd expression (beta folded in as literals — P8)
# ---------------------------------------------------------------------------
def matvec_expr(beta: Iterable[float], features_col: str = "features") -> Column:
    """``xb = Σ_j features[j] * beta[j]`` — unrolled, one double literal
    per coefficient (the scoring and declared-query form; the kernels
    capture beta in their per-batch closures instead)."""
    col = F.col(features_col)
    terms = [col[j] * float(b) for j, b in enumerate(beta)]
    return reduce(lambda a, b: a + b, terms)


# P9: intercept append (reference ``dask_glm/utils.py:139-162``)
def add_intercept(df: DataFrame, features_col: str = "features") -> DataFrame:
    return df.withColumn(
        features_col, F.concat(F.col(features_col), F.array(F.lit(1.0)))
    )


def infer_p(df: DataFrame, features_col: str = "features") -> int:
    with kernel_exec(df.sparkSession):
        row = df.select(F.size(F.col(features_col)).alias("p")).first()
    if row is None:
        raise ValueError("empty input DataFrame")
    return int(row["p"])


# ---------------------------------------------------------------------------
# Arrow partial-aggregation machinery (P2/P3/P5 fused, deterministic merge)
# ---------------------------------------------------------------------------
# Above this partition count, insert an executor-side combine stage before
# the driver merge (tree aggregation). At 10^4-10^5 partitions x wide p the
# single-level driver merge of p² Hessian partials is the bottleneck
# (VERDICT r1); below it, one level is both faster and simpler.
TREE_MERGE_THRESHOLD = 256
TREE_FANIN = 64
# Driver-pull byte budget (round 11): the count-based threshold alone let a
# p=2048 Gram job ship 32 x 34 MB = 1.03 GB of partials to the driver —
# over spark.driver.maxResultSize (measured: job abort in the wide-p
# probe). Kernels that know their partial width pass ``partial_doubles``;
# the tree merge then also triggers (with a fanin sized to fit) whenever
# nparts x row bytes would exceed this budget.
DRIVER_PULL_BUDGET_BYTES = 256 * 1024 * 1024


def _sum_partial_rows(
    rows: Iterable, columns: list[str], merges: dict | None = None,
    init: dict | None = None,
) -> dict:
    """Fold partial rows (already sorted by pid) column-wise: arrays sum
    element-wise, scalars add; a per-column entry in ``merges`` overrides
    the combine (e.g. np.minimum for a running min). ``init`` seeds every
    column (the driver fold starts from the caller's zeros); without it
    the first row does."""
    acc: dict = dict(init) if init is not None else {}
    for r in rows:
        for c in columns:
            v = r[c]
            v = np.asarray(v, dtype=np.float64) if isinstance(v, (list, tuple)) else v
            if c not in acc:
                acc[c] = v
            else:
                m = merges.get(c) if merges else None
                acc[c] = m(acc[c], v) if m is not None else acc[c] + v
    return acc


def _fold_partial(acc: dict | None, part: dict, merges: dict | None) -> dict:
    """Fold one batch's partial into a partition's running partial (the
    first batch seeds it): arrays and scalars add, ``merges`` overrides
    per column — the within-partition half of every Arrow partial
    aggregation."""
    if acc is None:
        return dict(part)
    for k, v in part.items():
        m = merges.get(k) if merges else None
        acc[k] = m(acc[k], v) if m is not None else acc[k] + v
    return acc


def _flat_rows(col, p: int | None = None) -> np.ndarray:
    """A ``list<double>`` Arrow column as an (n, p) float64 array read
    from its flat values buffer (no per-row objects). Every row must
    have width ``p`` (default: the batch's first row) — a bare reshape
    would silently realign ragged rows into wrong features."""
    lens = col.value_lengths().to_numpy(zero_copy_only=False)
    if p is None:
        p = lens[0] if len(lens) else 0
    if not np.all(lens == p):
        raise ValueError(
            f"features rows must all have width {p}; a batch has widths "
            f"{sorted(set(lens.tolist()))}"
        )
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(len(col), int(p))


def _with_columns(rb, cols: dict):
    """``rb`` plus one float64 column per ``cols`` entry: a 1-D array
    becomes a ``double`` column, a 2-D (n, k) array an ``array<double>``
    column of its rows — the output side of the ``mapInArrow`` scoring
    passes."""
    import pyarrow as pa

    arrays, names = list(rb.columns), list(rb.schema.names)
    for name, v in cols.items():
        v = np.asarray(v, dtype=np.float64)
        if v.ndim == 2:
            offsets = np.arange(v.shape[0] + 1, dtype=np.int32) * v.shape[1]
            arrays.append(
                pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.ravel()))
            )
        else:
            arrays.append(pa.array(v))
        names.append(name)
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _arrow_field_type(ddl: str):
    """Minimal Spark-DDL → pyarrow type map for partial-row schemas."""
    import pyarrow as pa

    ddl = ddl.strip()
    if ddl == "double":
        return pa.float64()
    if ddl == "array<double>":
        return pa.list_(pa.float64())
    raise ValueError(f"unsupported partial field type {ddl!r}")


def _arrow_partials_generic(
    df: DataFrame,
    batch_partial_fn,
    out_fields: str,
    zeros: dict,
    tree_threshold: int | None = None,
    merges: dict | None = None,
    partial_doubles: int | None = None,
    columns: list | None = None,
) -> dict:
    """Run ``batch_partial_fn(batch) -> dict`` per ``pyarrow.RecordBatch``
    of a ``mapInArrow`` scan, sum within the partition, one partial row
    per partition; return the driver fold of those rows, seeded with
    ``zeros`` (one entry per ``out_fields`` column — a scalar seed
    broadcasts onto an array column whose width the caller does not
    know). ``columns`` (default: all) are the columns the scan reads.

    Partials are folded on the driver in sorted partition-id order so the
    float reduction order is run-invariant (``_partial_rows`` has the
    tree merge above ``tree_threshold`` partitions). Batch readers take
    list columns from their flat Arrow buffers (``_flat_rows``,
    ``kernels_sparse._batch_csr``): the arrow→pandas conversion of a list
    column allocates one small ndarray per row (measured ~300× the cost
    of the flat read for the sparse reader, round 13).
    """
    rows = _partial_rows(
        df, batch_partial_fn, out_fields, tree_threshold, merges,
        partial_doubles, columns,
    )
    return _sum_partial_rows(rows, list(zeros), merges, init=zeros)


def _merge_levels(
    nparts: int, tree_threshold: int | None = None,
    partial_doubles: int | None = None,
) -> list[tuple[int, int]]:
    """``(stride, groups)`` of each tree-merge level over ``nparts``
    partial rows (pids in ``[0, nparts)``); empty when one driver-side
    level suffices.

    The tree merge runs above ``tree_threshold`` rows, and also whenever
    the single-level driver pull of ``partial_doubles``-wide rows would
    exceed ``DRIVER_PULL_BUDGET_BYTES`` (round 11). Multi-level merge
    (ADVICE r11): fanin is capped so one key group never exceeds the byte
    budget of partial rows — the old single-level merge sized fanin to
    ceil(nparts/max_driver_rows), which at wide p with many partitions put
    GBs of partials in one executor task (p=2048 Gram, 1000 parts: 143 x
    34 MB ≈ 4.8 GB). Now fanin ≤ min(TREE_FANIN, max_driver_rows) and
    levels repeat until the driver pull fits. Level L groups by
    ``pid // stride`` (stride = fanin₁·…·fanin_L) and each combined row
    keeps its group's MIN original pid, so the sorted-pid fold order is
    run-invariant at every level."""
    if tree_threshold is None:
        tree_threshold = TREE_MERGE_THRESHOLD
    max_driver_rows = None
    if partial_doubles:
        max_driver_rows = max(
            1, DRIVER_PULL_BUDGET_BYTES // (8 * int(partial_doubles))
        )
    levels, n_rows, stride = [], nparts, 1
    while n_rows > tree_threshold or (
        max_driver_rows is not None and n_rows > max_driver_rows
    ):
        fanin = TREE_FANIN
        if max_driver_rows is not None:
            fanin = min(fanin, max_driver_rows)
        fanin = max(fanin, 2)
        stride *= fanin
        n_rows = (n_rows + fanin - 1) // fanin
        levels.append((stride, n_rows))
    return levels


def _combine_rows(rows, stride: int, value_cols: list, merges: dict | None):
    """One tree-merge level inside an executor task: fold ``rows`` per
    key group ``pid // stride`` in sorted-pid order, one output row per
    GROUP (with its min pid), not per task — hash repartitioning can land
    two group keys in one task (birthday collisions), and folding the
    whole task would make the summed values depend on which keys collided
    (review r12)."""
    groups: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: r["pid"]):
        groups.setdefault(int(r["pid"]) // stride, []).append(r)
    for key in sorted(groups):
        grp = groups[key]
        acc = _sum_partial_rows(grp, value_cols, merges)
        acc["pid"] = int(grp[0]["pid"])
        yield acc


def _rdd_partial_rows(
    rdd, value_cols: list, nparts: int, merges: dict | None = None,
    partial_doubles: int | None = None,
) -> list:
    """The pid-sorted partial rows of an RDD of partial dicts (each with
    its ``pid`` in ``[0, nparts)``): the block-cache side of
    ``_partial_rows``, behind the same byte-aware tree merge (each level
    keyed by ``pid // stride`` onto its own partition) and pulled with
    ``collect()``."""
    for stride, groups in _merge_levels(nparts, None, partial_doubles):
        rdd = rdd.keyBy(
            lambda r, s=stride: int(r["pid"]) // s
        ).partitionBy(groups, lambda key: key).values().mapPartitions(
            lambda rows, s=stride: _combine_rows(rows, s, value_cols, merges)
        )
    rows = rdd.collect()
    rows.sort(key=lambda r: int(r["pid"]))
    return rows


def _partial_rows(
    df: DataFrame,
    batch_partial_fn,
    out_fields: str,
    tree_threshold: int | None = None,
    merges: dict | None = None,
    partial_doubles: int | None = None,
    columns: list | None = None,
) -> list:
    """The pid-sorted partial rows behind ``_arrow_partials_generic``.

    Above ``tree_threshold`` partitions (or the driver-pull byte budget)
    a tree merge (``_merge_levels``) combines ~TREE_FANIN partials per
    group executor-side first — the driver then folds #groups rows
    instead of #partitions (what MLlib's treeAggregate does for the same
    reason). Grouping is pid-deterministic and group-internal order is
    sorted-pid, so tree results are also run-invariant."""
    import pyarrow as pa
    from pyspark import TaskContext

    value_cols = [f.split()[0] for f in out_fields.split(",")]
    pa_schema = pa.schema(
        [("pid", pa.int32())]
        + [
            (f.split()[0], _arrow_field_type(f.split(None, 1)[1]))
            for f in out_fields.split(",")
        ]
    )

    def op(batches):
        acc: dict | None = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            acc = _fold_partial(acc, batch_partial_fn(rb), merges)
        if acc is not None:
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            cols = [pa.array([pid], type=pa.int32())]
            for name, typ in zip(value_cols, list(pa_schema)[1:]):
                v = acc[name]
                if isinstance(v, np.ndarray):
                    cols.append(pa.array([v], type=typ.type))
                else:
                    cols.append(pa.array([float(v)], type=pa.float64()))
            yield pa.RecordBatch.from_arrays(cols, schema=pa_schema)

    src = df if columns is None else df.select(*columns)
    out = src.mapInArrow(op, schema=f"pid int, {out_fields}")

    # the caller's frame, not the pruned select: a DataFrame builds its
    # RDD once and keeps it, so a solver passing the same frame every
    # evaluation pays the planning once (a fresh select's .rdd cost
    # 0.07-0.24 s per call on a 4-core box)
    nparts = df.rdd.getNumPartitions()

    def make_combine(stride: int):
        def combine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            rows = [r for pdf in batches for r in pdf.to_dict("records")]
            for acc in _combine_rows(rows, stride, value_cols, merges):
                yield pd.DataFrame({
                    "pid": [acc["pid"]],
                    **{
                        c: [acc[c].tolist() if isinstance(acc[c], np.ndarray)
                            else float(acc[c])]
                        for c in value_cols
                    },
                })

        return combine

    for stride, groups in _merge_levels(
        nparts, tree_threshold, partial_doubles
    ):
        out = out.repartition(
            groups, (F.col("pid") / stride).cast("int")
        ).mapInPandas(make_combine(stride), schema=f"pid int, {out_fields}")

    # Columnar retrieval (round 11): collect() boxes every float of every
    # partial row Python-side — negligible at p=5 (40 B/row) but ~84 MB of
    # boxing PER EVALUATION at wide p·k (2^16-bucket softmax, k=5: 2.6 MB
    # per partition row, 32 partitions; measured 44.1 -> 10.6 s on that
    # fit). toArrow() keeps the transfer columnar and list cells land as
    # numpy arrays; every consumer already goes through np.asarray, and
    # the pid-sorted driver fold order (the determinism contract) is
    # unchanged.
    with kernel_exec(df.sparkSession):
        recs = out.toArrow().to_pandas().to_dict("records")
    recs.sort(key=lambda r: int(r["pid"]))
    return recs


def _dense(features_col: str):
    """The dense batch reader of ``_arrow_partials``: the features list
    column's flat values buffer as an (n, p) ndarray (``_flat_rows``;
    ragged rows raise ``ValueError``). ``columns`` names what it reads."""
    def read(rb):
        return _flat_rows(rb.column(rb.schema.get_field_index(features_col)))

    read.columns = (features_col,)
    return read


def _arrow_partials(
    df: DataFrame,
    reader,
    zeros: dict,
    parts: list,
    weight_col: str | None = None,
    offset_col: str | None = None,
) -> dict:
    """The Arrow kernel body shared by dense and sparse features: one
    ``mapInArrow`` scan running the per-batch closures in ``parts`` on one
    read of X, folded into sums seeded with ``zeros``.

    ``reader(batch) -> X`` is ``_dense(features_col)`` (an ndarray) or
    ``kernels_sparse._csr(idx_col, val_col, p)`` (a ``CSRMatrix``); the
    closures only use ``X @`` and ``X.T @``, so they run unchanged on
    either. The scan reads only the reader's ``columns`` and the label,
    weight and offset columns; every other column of ``df`` is pruned
    before ``mapInArrow``, so it never reaches the Python worker. Each
    ``parts`` entry is ``(fn, label_col, prefix)``:
    ``fn(X, y[, w][, o=...]) -> dict`` gets the float64 label column
    (None when ``label_col`` is None), ``weight_col`` as a positional w
    and ``offset_col`` as keyword ``o=`` (both round 10); its outputs land
    under ``prefix + key``. Several parts make a fused multi-kernel scan
    (``fused_softmax_hvp``, ``kernels_sparse.fused_sparse_gate``) whose
    values are bit-identical to the standalone jobs: same closures, batch
    boundaries fixed by row count, same fold. The partial-row schema and
    its width (for the byte-aware tree merge) come from ``zeros``.

    ``df`` may also be a dense fit's block cache (``solvers._Blocks``,
    built once per fit): the same ``parts`` then run on each block's
    rows in slices of the Arrow batch size, each block's partial carries
    the block's pid, and the rows are folded in pid order behind the same
    byte-aware tree merge (``_rdd_partial_rows``); ``reader`` is unused
    there (the block holds X)."""
    from dask_glm_spark.functions.kernels_sparse import _f64

    def run_parts(X, col) -> dict:
        args = [] if weight_col is None else [col(weight_col)]
        kw = {} if offset_col is None else {"o": col(offset_col)}
        out = {}
        for fn, label_col, prefix in parts:
            y = None if label_col is None else col(label_col)
            for key, v in fn(X, y, *args, **kw).items():
                out[prefix + key] = v
        return out

    partial_doubles = sum(int(np.size(z)) for z in zeros.values())
    cols = [*(lc for _, lc, _ in parts), weight_col, offset_col]
    cols = list(dict.fromkeys(c for c in cols if c is not None))
    if not isinstance(df, DataFrame):
        # a dense fit's block cache (``solvers._Blocks``): the same parts
        # per block, X standardized on load
        rows = _rdd_partial_rows(
            df.partials(run_parts, cols), list(zeros), df.nparts,
            partial_doubles=partial_doubles,
        )
        return _sum_partial_rows(rows, list(zeros), init=zeros)

    def batch_partial(batch) -> dict:
        return run_parts(reader(batch), lambda c: _f64(batch, c))

    out_fields = ", ".join(
        f"{c} {'array<double>' if np.ndim(z) else 'double'}"
        for c, z in zeros.items()
    )
    return _arrow_partials_generic(
        df, batch_partial, out_fields, zeros, partial_doubles=partial_doubles,
        columns=list(dict.fromkeys([*reader.columns, *cols])),
    )


# ---------------------------------------------------------------------------
# Fused loss + gradient (the per-iteration job of lbfgs/GD/prox_grad; O4:
# loss and gradient share the xb subexpression and one scan of X)
# ---------------------------------------------------------------------------
def loss_gradient(
    df: DataFrame,
    family,
    beta: np.ndarray,
    p: int | None = None,
    features_col: str = "features",
    label_col: str = "label",
    weight_col: str | None = None,
    offset_col: str | None = None,
) -> tuple[float, np.ndarray]:
    """(loss, gradient) at ``beta`` in one scan. ``weight_col`` (round
    10): loss Σ w·ll, gradient Xᵀ(w⊙r); ``offset_col`` (MLlib offsetCol):
    the linear predictor becomes xb + offset, a fixed per-row term with
    no coefficient."""
    beta = np.asarray(beta, dtype=np.float64)
    return _loss_gradient_arrow(
        df, _dense(features_col), family, beta, p or len(beta), label_col,
        weight_col, offset_col,
    )


def _loss_gradient_partial(family, beta: np.ndarray):
    """Per-batch closure of ``loss_gradient`` (dense or sparse X) as a
    factory, so a fused multi-kernel scan evaluates the
    byte-identical arithmetic the standalone kernel job runs."""
    beta = np.asarray(beta, dtype=np.float64)

    def partial(X, y, w=None, o=None):
        xb = X @ beta if o is None else X @ beta + o
        if w is None:
            loss = family.loglike_np(xb, y)
            r = family.residual_np(xb, y)
        else:
            loss = float(np.dot(w, family.loglike_terms_np(xb, y)))
            r = w * family.residual_np(xb, y)
        return {"loss": loss, "grad": X.T @ r}

    return partial


def _loss_gradient_arrow(
    df, reader, family, beta, p, label_col, weight_col, offset_col
) -> tuple[float, np.ndarray]:
    acc = _arrow_partials(
        df, reader, {"loss": 0.0, "grad": np.zeros(p)},
        [(_loss_gradient_partial(family, beta), label_col, "")],
        weight_col, offset_col,
    )
    return float(acc["loss"]), acc["grad"]


def gradient(df, family, beta, **kw) -> np.ndarray:
    return loss_gradient(df, family, beta, **kw)[1]


# ---------------------------------------------------------------------------
# Fused gradient + Hessian (the Newton per-iteration job)
# ---------------------------------------------------------------------------
def gradient_hessian(
    df: DataFrame,
    family,
    beta: np.ndarray,
    p: int | None = None,
    features_col: str = "features",
    label_col: str = "label",
    weight_col: str | None = None,
    offset_col: str | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    beta = np.asarray(beta, dtype=np.float64)
    p = p or len(beta)
    acc = _arrow_partials(
        df, _dense(features_col),
        {"grad": np.zeros(p), "hess": np.zeros(p * p)},
        [(_gradient_hessian_partial(family, beta), label_col, "")],
        weight_col, offset_col,
    )
    return acc["grad"], acc["hess"].reshape(p, p)


def _gradient_hessian_partial(family, beta: np.ndarray):
    """Per-batch closure of ``gradient_hessian`` as a factory (see
    ``_loss_gradient_partial``): ``inference.glm_summary`` fuses it with
    its dispersion and score partials into one scan."""
    beta = np.asarray(beta, dtype=np.float64)

    def partial(X, y, sw=None, o=None):
        xb = X @ beta if o is None else X @ beta + o
        r = family.residual_np(xb, y)
        hw = family.hess_weight_np(xb)
        if sw is not None:
            r = sw * r
            hw = sw * hw
        return {
            "grad": X.T @ r,
            "hess": (X.T @ (hw[:, None] * X)).ravel(),
        }

    return partial


# ---------------------------------------------------------------------------
# Hessian-vector product (round 12): Hv = Xᵀ(hw(xb) ⊙ (X·v)) — the
# matrix-free Newton-CG primitive. Serves the same ``newton`` semantics
# (reference ``algorithms.py:170-221``) without ever forming the p×p Gram:
# partials are O(p) doubles per partition regardless of p, so the kernel
# carries lbfgs's byte shape while CG recovers Newton's curvature. One
# fused scan per CG iteration (xb, hw, X·v, and the Xᵀ reduce share it).
# ---------------------------------------------------------------------------
def _hvp_partial(family, beta: np.ndarray, v: np.ndarray):
    """Per-batch closure of ``hessian_vector_product`` as a factory (see
    ``_loss_gradient_partial``); the label is never read."""
    beta = np.asarray(beta, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)

    def partial(X, y, sw=None, o=None):
        xb = X @ beta if o is None else X @ beta + o
        hw = family.hess_weight_np(xb)
        if sw is not None:
            hw = sw * hw
        return {"hv": X.T @ (hw * (X @ v))}

    return partial


def hessian_vector_product(
    df: DataFrame,
    family,
    beta: np.ndarray,
    v: np.ndarray,
    p: int | None = None,
    features_col: str = "features",
    label_col: str = "label",
    weight_col: str | None = None,
    offset_col: str | None = None,
) -> np.ndarray:
    """``label_col`` is kept for callers; the product never reads a
    label."""
    beta = np.asarray(beta, dtype=np.float64)
    return _hvp_arrow(
        df, _dense(features_col), family, beta, v, p or len(beta),
        weight_col, offset_col,
    )


def _hvp_arrow(
    df, reader, family, beta, v, p, weight_col, offset_col
) -> np.ndarray:
    return _arrow_partials(
        df, reader, {"hv": np.zeros(p)},
        [(_hvp_partial(family, beta, v), None, "")], weight_col, offset_col,
    )["hv"]


# ---------------------------------------------------------------------------
# Multi-probe loss: k candidate betas in ONE scan (vectorized line search —
# the Spark-side improvement over the reference's one-job-per-backtrack,
# SURVEY §2.1): one (n,p)x(p,k) GEMM per batch.
# ---------------------------------------------------------------------------
def multi_loss(
    df: DataFrame,
    family,
    betas: list[np.ndarray],
    features_col: str = "features",
    label_col: str = "label",
    weight_col: str | None = None,
    offset_col: str | None = None,
    with_denom: bool = False,
) -> np.ndarray:
    """``with_denom=True`` additionally returns Σw (or the row count when
    unweighted) from the SAME scan — the CV fold scorer's per-unit
    denominator, which otherwise cost a second full pass over the split
    (r13, guide §2.1: shuffle/scan fewer bytes by fusing aggregates)."""
    k = len(betas)
    B = np.column_stack([np.asarray(b, dtype=np.float64) for b in betas])

    def partial(X, y, w=None, o=None):
        XB = X @ B  # (n, k)
        if o is not None:
            XB = XB + o[:, None]
        if w is None:
            losses = np.array([family.loglike_np(XB[:, i], y) for i in range(k)])
        else:
            losses = np.array(
                [np.dot(w, family.loglike_terms_np(XB[:, i], y)) for i in range(k)]
            )
        out = {"losses": losses}
        if with_denom:
            out["denom"] = float(w.sum() if w is not None else len(y))
        return out

    zeros = {"losses": np.zeros(k)}
    if with_denom:
        zeros["denom"] = 0.0
    acc = _arrow_partials(
        df, _dense(features_col), zeros, [(partial, label_col, "")],
        weight_col, offset_col,
    )
    if with_denom:
        return acc["losses"], float(acc["denom"])
    return acc["losses"]


def multi_loss_gradient(
    df: DataFrame,
    family,
    betas: list[np.ndarray],
    features_col: str = "features",
    label_col: str = "label",
    weight_col: str | None = None,
    offset_col: str | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(losses (k,), grads (p, k)) for k candidate betas in ONE scan — the
    fused line-search probe (round 7): when the Armijo/ISTA probe also
    returns each candidate's gradient, the accepted candidate's gradient
    IS the next iteration's — so the per-iteration loss_gradient job
    disappears and GD/prox run ~one scan per iteration instead of two.
    On this box that halves the dominant ~0.2 s/job scheduling floor; at
    scale it halves passes over the data (the gradient reuses the batch
    the probe already read). Per batch XB and XᵀR are two
    (n,p)x(p,k)-shaped GEMMs; partials are (k + p·k) doubles."""
    return _multi_loss_gradient_arrow(
        df, _dense(features_col), family, betas, len(betas[0]), label_col,
        weight_col, offset_col,
    )


def _multi_loss_gradient_partial(family, betas: list[np.ndarray]):
    """Per-batch closure of ``multi_loss_gradient`` as a factory (see
    ``_loss_gradient_partial``)."""
    B = np.column_stack([np.asarray(b, dtype=np.float64) for b in betas])
    k = B.shape[1]

    def partial(X, y, w=None, o=None):
        # Extreme line-search candidates legitimately overflow exp
        # (inf/nan losses reject themselves); silence the per-task
        # warning spam.
        with np.errstate(over="ignore", invalid="ignore"):
            XB = X @ B  # (n, k)
            if o is not None:
                XB = XB + o[:, None]
            if w is None:
                losses = np.array(
                    [family.loglike_np(XB[:, i], y) for i in range(k)]
                )
                R = np.column_stack(
                    [family.residual_np(XB[:, i], y) for i in range(k)]
                )
            else:
                losses = np.array(
                    [
                        np.dot(w, family.loglike_terms_np(XB[:, i], y))
                        for i in range(k)
                    ]
                )
                R = np.column_stack(
                    [w * family.residual_np(XB[:, i], y) for i in range(k)]
                )
            return {"losses": losses, "grads": (X.T @ R).ravel()}

    return partial


def _multi_loss_gradient_arrow(
    df, reader, family, betas, p, label_col, weight_col, offset_col
) -> tuple[np.ndarray, np.ndarray]:
    k = len(betas)
    acc = _arrow_partials(
        df, reader, {"losses": np.zeros(k), "grads": np.zeros(p * k)},
        [(_multi_loss_gradient_partial(family, betas), label_col, "")],
        weight_col, offset_col,
    )
    return acc["losses"], acc["grads"].reshape(p, k)


def loss(df, family, beta, **kw) -> float:
    return float(multi_loss(df, family, [np.asarray(beta)], **kw)[0])


# ---------------------------------------------------------------------------
# Fused softmax (multinomial) loss + gradient: ALL k class gradients in ONE
# Arrow scan per iteration — the same partial-aggregation shape as P2 but
# with a (p, k) partial. Closes the reference's "multiclass broken" TODO
# (dask_glm/estimators.py:146) with a true jointly-normalized softmax
# instead of k one-vs-rest re-scans (VERDICT r6 gap #1).
# ---------------------------------------------------------------------------
def _softmax_nll(X, B: np.ndarray, yi: np.ndarray):
    """Row scores ``Z = X·B``, the max-shifted ``exp(Z − m)``, its row
    sums and the per-row negative log-likelihood ``logsumexp(Z) − Z_y``.
    Z is made row-contiguous for the row reductions (a no-op for the
    dense GEMM result; a sparse ``X @ B`` comes back column-major)."""
    Z = np.ascontiguousarray(X @ B)
    m = Z.max(axis=1, keepdims=True)
    ez = np.exp(Z - m)
    se = ez.sum(axis=1)
    lse = m[:, 0] + np.log(se)
    return Z, ez, se, lse - Z[np.arange(len(yi)), yi]


def _softmax_lg_partial(B: np.ndarray):
    """Per-batch closure of ``softmax_loss_gradient`` (dense or sparse X)
    as a factory, so a fused multi-kernel scan (``fused_softmax_hvp``)
    and the multi-candidate kernel evaluate the byte-identical arithmetic
    the standalone kernel job runs."""
    B = np.ascontiguousarray(B, dtype=np.float64)

    def _batch(X, y, w=None):
        yi = y.astype(np.int64)
        _, ez, se, ll = _softmax_nll(X, B, yi)
        P = ez / se[:, None]
        P[np.arange(len(yi)), yi] -= 1.0
        if w is not None:
            loss = float(np.dot(w, ll))
            P = P * w[:, None]
        else:
            loss = float(ll.sum())
        return {"loss": loss, "grad": (X.T @ P).ravel()}

    return _batch


def softmax_loss_gradient(
    df: DataFrame,
    B: np.ndarray,
    features_col: str = "features",
    label_col: str = "label",
    weight_col: str | None = None,
) -> tuple[float, np.ndarray]:
    """(negative log-likelihood, (p, k) gradient) for multinomial logistic.

    ``label_col`` must hold the class INDEX in [0, k). Per Arrow batch:
    Z = X·B is one (n,p)x(p,k) GEMM, the row logsumexp is numerically
    stable (max-shifted), and the gradient is Xᵀ(softmax(Z) − onehot(y)) —
    another GEMM. Partials are (1 + p·k) doubles per partition; driver
    fold order is pid-sorted (run-invariant) like every other kernel.
    ``weight_col`` applies per-row sample weights: loss Σ w·ll and the
    per-row probability residual scales by w before the gradient GEMM."""
    return _softmax_lg_arrow(
        df, _dense(features_col), B, label_col, weight_col
    )


def _softmax_lg_arrow(
    df, reader, B, label_col, weight_col
) -> tuple[float, np.ndarray]:
    p, k = np.shape(B)
    acc = _arrow_partials(
        df, reader, {"loss": 0.0, "grad": np.zeros(p * k)},
        [(_softmax_lg_partial(B), label_col, "")], weight_col,
    )
    return float(acc["loss"]), acc["grad"].reshape(p, k)


def fused_softmax_hvp(
    df: DataFrame,
    B: np.ndarray,
    family,
    beta: np.ndarray,
    v: np.ndarray,
    p: int | None = None,
    softmax_label_col: str = "_l3",
    label_col: str = "label",
    features_col: str = "features",
) -> tuple[float, np.ndarray, np.ndarray]:
    """``softmax_loss_gradient`` (over ``softmax_label_col``) +
    ``hessian_vector_product`` in ONE scan of the same
    frame (r14 pass 3, guide §2.4: two jobs sharing a cached source
    become one — q48's dense arrow gate section). ``label_col`` is kept
    for callers; the Hessian-vector product never reads a label.

    Returns ``(smloss, smgrad (p,k), hv (p,))``, bit-identical to the two
    standalone jobs: each value's per-batch arithmetic is the unchanged
    factory closure (``_softmax_lg_partial`` / ``_hvp_partial``) fed the
    same X, and batch boundaries and fold are the shared
    ``_arrow_partials`` machinery. Pinned by
    tests/test_kernels.py::test_fused_softmax_hvp_matches_separate."""
    pB, k = np.shape(B)
    p = p or pB
    acc = _arrow_partials(
        df, _dense(features_col),
        {"smloss": 0.0, "smgrad": np.zeros(pB * k), "hv": np.zeros(p)},
        [
            (_softmax_lg_partial(B), softmax_label_col, "sm"),
            (_hvp_partial(family, beta, v), None, ""),
        ],
    )
    return float(acc["smloss"]), acc["smgrad"].reshape(pB, k), acc["hv"]


def softmax_multi_loss(
    df: DataFrame,
    Bs: list[np.ndarray],
    features_col: str = "features",
    label_col: str = "label",
    weight_col: str | None = None,
    with_denom: bool = False,
) -> np.ndarray:
    """Negative log-likelihoods of c candidate (p, k) softmax coefficient
    matrices in ONE scan (the multinomial twin of ``multi_loss`` — the
    FISTA/ISTA backtracking probe surface, round 12): per Arrow batch one
    (n,p)×(p,k) GEMM and one stable logsumexp per candidate; partials are
    c doubles per partition. ``with_denom=True`` fuses the Σw / row-count
    denominator into the same scan (r13, the ``multi_loss`` twin)."""
    return _softmax_multi_loss_arrow(
        df, _dense(features_col), Bs, label_col, weight_col, with_denom
    )


def _softmax_multi_loss_arrow(
    df, reader, Bs, label_col, weight_col, with_denom=False
):
    mats = [np.ascontiguousarray(b, dtype=np.float64) for b in Bs]
    c = len(mats)

    def partial(X, y, w=None):
        yi = y.astype(np.int64)
        losses = np.empty(c)
        with np.errstate(over="ignore", invalid="ignore"):
            for i, B in enumerate(mats):
                ll = _softmax_nll(X, B, yi)[3]
                losses[i] = np.dot(w, ll) if w is not None else ll.sum()
        out = {"losses": losses}
        if with_denom:
            out["denom"] = float(w.sum() if w is not None else len(y))
        return out

    zeros = {"losses": np.zeros(c)}
    if with_denom:
        zeros["denom"] = 0.0
    acc = _arrow_partials(
        df, reader, zeros, [(partial, label_col, "")], weight_col
    )
    if with_denom:
        return acc["losses"], float(acc["denom"])
    return acc["losses"]


def softmax_multi_loss_gradient(
    df: DataFrame,
    Bs: list[np.ndarray],
    features_col: str = "features",
    label_col: str = "label",
    weight_col: str | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(losses (c,), gradients (p·k, c)) for c candidate (p, k) softmax
    matrices in ONE scan — the multinomial twin of ``multi_loss_gradient``
    (round 13): the point and probe surface of the batched softmax λ-path,
    which runs ``solvers._fista`` over every λ's extrapolated point and
    probe candidates together (dense features only; a single
    ``softmax_proximal`` fit calls ``softmax_loss_gradient`` and
    ``softmax_multi_loss`` instead). Per candidate the arithmetic is
    ``softmax_loss_gradient``'s closure (two GEMMs + stable logsumexp),
    so the c=1 column is bit-identical to the single-candidate kernel;
    partials are c·(1 + p·k) doubles per partition."""
    parts = [_softmax_lg_partial(b) for b in Bs]
    c = len(parts)
    p, k = np.shape(Bs[0])

    def partial(X, y, w=None):
        with np.errstate(over="ignore", invalid="ignore"):
            ds = [f(X, y, w) for f in parts]
        return {
            "losses": np.array([d["loss"] for d in ds]),
            "grads": np.concatenate([d["grad"] for d in ds]),
        }

    acc = _arrow_partials(
        df, _dense(features_col),
        {"losses": np.zeros(c), "grads": np.zeros(c * p * k)},
        [(partial, label_col, "")], weight_col,
    )
    return acc["losses"], acc["grads"].reshape(c, p * k).T


def softmax_hessian_vector_product(
    df: DataFrame,
    B: np.ndarray,
    V: np.ndarray,
    features_col: str = "features",
    weight_col: str | None = None,
) -> np.ndarray:
    """Multinomial Hessian-vector product ``H(B)·V`` as a (p, k) matrix —
    the matrix-free softmax Newton-CG primitive (round 13, VERDICT r12
    #5). Per Arrow batch it is exactly TWO GEMMs (the
    ``softmax_loss_gradient`` shape): ``A = X·V``, then with P the fitted
    row probabilities the per-row curvature action is
    ``M = w ⊙ P ⊙ (A − (Σ_c P_c·A_c))`` (the ``(diag(P) − PPᵀ)``
    block applied to Vᵀx — canonical link, so observed = expected and
    the LABEL IS NEVER READ), and the partial is ``Xᵀ·M`` — p·k doubles
    per partition, no (p·k)² object anywhere. Shift-invariance note: the
    output columns sum to zero per feature (range(H) ⊥ the softmax null
    space), so CG iterates started at the gradient stay identified."""
    return _softmax_hvp_arrow(df, _dense(features_col), B, V, weight_col)


def _softmax_hvp_arrow(df, reader, B, V, weight_col) -> np.ndarray:
    B = np.ascontiguousarray(B, dtype=np.float64)
    V = np.ascontiguousarray(V, dtype=np.float64)
    p, k = B.shape

    def partial(X, y, w=None):
        # row-contiguous scores (see _softmax_nll)
        Z = np.ascontiguousarray(X @ B)
        Z -= Z.max(axis=1, keepdims=True)
        P = np.exp(Z)
        P /= P.sum(axis=1, keepdims=True)
        A = np.ascontiguousarray(X @ V)
        M = P * (A - (A * P).sum(axis=1, keepdims=True))
        if w is not None:
            M = M * w[:, None]
        return {"hv": (X.T @ M).ravel()}

    return _arrow_partials(
        df, reader, {"hv": np.zeros(p * k)}, [(partial, None, "")],
        weight_col,
    )["hv"].reshape(p, k)


# ---------------------------------------------------------------------------
# P6: per-feature column moments (population std — numpy ddof=0 parity;
# Spark's default `stddev` is the SAMPLE std. SURVEY §7 correctness trap.)
# ---------------------------------------------------------------------------
# The moments partial of one batch and its finish, shared by
# column_moments_full and the ADMM block build (solvers._build_block):
# partials fold within a partition with _fold_partial, then on the driver
# in sorted-pid order from MOMENT_ZEROS.
MOMENT_FIELDS = (
    "n double, sw double, s array<double>, ss array<double>, "
    "mn array<double>, mx array<double>"
)
MOMENT_ZEROS = {
    "n": 0.0, "sw": 0.0, "s": 0.0, "ss": 0.0, "mn": np.inf, "mx": -np.inf,
}
MOMENT_MERGES = {"mn": np.minimum, "mx": np.maximum}


def _moments_partial(X: np.ndarray, w: np.ndarray | None = None) -> dict:
    """One batch's ``(n, Σw, Σw·x, Σw·x², min, max)`` (w = 1 unweighted)."""
    if w is not None:
        Xw = X * w[:, None]
        return {
            "n": np.float64(len(X)),
            "sw": np.float64(w.sum()),
            "s": Xw.sum(axis=0),
            "ss": (Xw * X).sum(axis=0),
            "mn": X.min(axis=0),
            "mx": X.max(axis=0),
        }
    return {
        "n": np.float64(len(X)),
        "sw": np.float64(len(X)),
        "s": X.sum(axis=0),
        "ss": (X * X).sum(axis=0),
        "mn": X.min(axis=0),
        "mx": X.max(axis=0),
    }


def _moments_finish(acc: dict) -> tuple[int, np.ndarray, np.ndarray]:
    """``(n_rows, mean, std)`` of a folded moments partial: population
    std, forced to exactly 0.0 where min == max."""
    if acc["n"] == 0:
        raise ValueError("empty input DataFrame")
    n, sw, s, ss, mn, mx = (
        acc[c] for c in ("n", "sw", "s", "ss", "mn", "mx")
    )
    mean = s / sw
    var = np.maximum(ss / sw - mean * mean, 0.0)
    std = np.sqrt(var)
    std[mn == mx] = 0.0  # constant columns: exact zero, robustly
    return int(n), mean, std


def column_moments_full(
    df: DataFrame,
    features_col: str = "features",
    weight_col: str | None = None,
) -> tuple[int, np.ndarray, np.ndarray]:
    """(n_rows, mean, std) in ONE ``mapInArrow`` partial-aggregation scan
    that also discovers p from the vectors. Each batch's X is read from
    the flat values buffer of the features column (``_flat_rows``: one
    reshape, no per-row arrays; ragged rows raise ``ValueError``).

    Partials (n, Σx, Σx², min, max) merge driver-side in sorted-pid order
    (run-invariant); std is the population form
    sqrt(max(Σx²/n − mean², 0)), then forced to EXACTLY 0.0 wherever
    min == max: the non-central form is fp-exact-zero only for the
    all-ones intercept column, so a constant non-one column could yield a
    tiny nonzero std and silently evade normalize()'s constant-column
    detection (intercept identification / multi-constant error) — the
    min/max probe rides the same scan for free (ADVICE r6). The dense
    ADMM fit computes the same partials while it builds its blocks
    (``solvers._build_block``) and runs no moments job of its own.

    ``weight_col`` (ADVICE r10): mean/std become the WEIGHTED population
    moments (Σw·x/Σw, sqrt(Σw·x²/Σw − mean²)) — exactly the moments of the
    integer-weight row-replicated dataset and MLlib's weighted summarizer,
    so weighted regularized fits under ``normalize=True`` penalize in the
    replication-consistent standardized space. The returned ``n_rows``
    stays the RAW row count (it sizes physical block layout, not math);
    the min/max constant-column probe also stays raw — a column constant
    on all positive-weight rows but varying on zero-weight ones is treated
    as non-constant (documented divergence from strict replication; such
    inputs are degenerate)."""

    from dask_glm_spark.functions.kernels_sparse import _f64

    def batch_partial(rb) -> dict:
        w = None if weight_col is None else _f64(rb, weight_col)
        return _moments_partial(_flat_rows(rb.column(0)), w)

    cols = [features_col] if weight_col is None else [features_col, weight_col]
    # p is discovered from the vectors: scalar seeds broadcast onto the
    # array columns; rows arrive pid-sorted (deterministic fold order)
    acc = _arrow_partials_generic(
        df, batch_partial, MOMENT_FIELDS, MOMENT_ZEROS,
        merges=MOMENT_MERGES, columns=cols,
    )
    return _moments_finish(acc)


def column_moments(
    df: DataFrame, p: int | None = None, features_col: str = "features"
) -> tuple[np.ndarray, np.ndarray]:
    """One-shot moments. With ``p`` given: the p-wide codegen aggregate
    (stddev_pop — JVM-only, fastest over an uncached scan; the q09/q15
    gate shape). Without ``p``: delegates to the fused Arrow pass, which
    discovers p. Parity between the two forms is pytest-pinned (same
    population std to ~1e-13)."""
    if p is None:
        _, mean, std = column_moments_full(df, features_col)
        return mean, std
    fcol = F.col(features_col)
    aggs = [F.avg(fcol[j]).alias(f"m{j}") for j in range(p)]
    aggs += [F.stddev_pop(fcol[j]).alias(f"s{j}") for j in range(p)]
    with kernel_exec(df.sparkSession):
        row = df.agg(*aggs).collect()[0]
    mean = np.array([row[f"m{j}"] for j in range(p)])
    std = np.array([row[f"s{j}"] for j in range(p)])
    return mean, std


def standardize_expr(
    mean: np.ndarray, std: np.ndarray, features_col: str = "features"
) -> Column:
    """Per-element ``(x - mean_j) / std_j`` as a new features array.

    p <= UNROLL_MAX keeps the unrolled ``F.array`` form (plan-identical
    for every gated/benched width). Past that the unrolled projection is
    p element expressions in ONE codegen method — at p=2048 it blows
    Janino's 64 KB method limit (measured: InternalCompilerException from
    the round-11 wide-p probe) — so wide p switches to a ``transform``
    loop over the array with the moments as two folded array literals
    (the ``bloom_words_lit`` from_json pattern: one plan node each, not
    p Literal nodes). Values are identical; only code shape changes."""
    col = F.col(features_col)
    if len(mean) <= UNROLL_MAX:
        return F.array(
            *[
                (col[j] - float(mean[j])) / float(std[j])
                for j in range(len(mean))
            ]
        )
    import json

    m = F.from_json(
        F.lit(json.dumps([float(v) for v in mean])), "array<double>"
    )
    s = F.from_json(
        F.lit(json.dumps([float(v) for v in std])), "array<double>"
    )
    return F.transform(col, lambda x, i: (x - F.get(m, i)) / F.get(s, i))
