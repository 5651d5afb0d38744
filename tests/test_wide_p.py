"""Wide-p contracts (round 11, VERDICT r10 #2): the engine findings from
examples/wide_p_probe.py, each pinned so they can't regress.

1. standardize_expr switches to the transform-loop form past UNROLL_MAX
   (parity test lives in test_normalize.py — the unrolled form blows
   Janino's 64 KB method limit at p=2048).
2. The Arrow partial layer tree-merges on BYTES, not just partition
   count (a p=2048 Gram job shipped 1.03 GB of partials and hit
   spark.driver.maxResultSize before the fix).
3. newton warns past NEWTON_WIDE_P (p² partials + p×p driver lstsq:
   measured 6.5× lbfgs's per-iteration wall at p=1024).
4. ADMM block sizing is byte-capped (a 2M-row block at p=1000 would be
   16 GB of numpy).
"""

from __future__ import annotations

import logging

import numpy as np
import pytest

from dask_glm_spark.functions import kernels
from dask_glm_spark.functions.families import Logistic
from dask_glm_spark.operators import solvers


@pytest.fixture(scope="module")
def small(spark):
    rng = np.random.RandomState(5)
    X = rng.standard_normal((2000, 4))
    y = (rng.uniform(size=2000) > 0.5).astype(np.float64)
    df = spark.createDataFrame(
        [([float(v) for v in X[i]], float(y[i])) for i in range(2000)],
        "features array<double>, label double",
    ).repartition(8).persist()
    yield df
    df.unpersist()


def test_bytes_aware_tree_merge_parity(small, monkeypatch):
    """Shrinking the driver-pull budget below one partial row must route
    the same computation through the executor-side combine and agree with
    the single-level fold to float-reduction tolerance."""
    beta = np.array([0.1, -0.2, 0.3, 0.05])
    base_loss, base_grad = kernels.loss_gradient(
        small, Logistic, beta, 4
    )
    # 64 bytes < 8 * (1 + p) -> max_driver_rows < nparts -> tree path
    monkeypatch.setattr(kernels, "DRIVER_PULL_BUDGET_BYTES", 64)
    tree_loss, tree_grad = kernels.loss_gradient(
        small, Logistic, beta, 4
    )
    np.testing.assert_allclose(tree_loss, base_loss, rtol=1e-12)
    np.testing.assert_allclose(tree_grad, base_grad, rtol=1e-12)
    # and the tree path is deterministic run-over-run (the pid-group fold)
    tree2 = kernels.loss_gradient(small, Logistic, beta, 4)
    assert tree2[0] == tree_loss
    np.testing.assert_array_equal(tree2[1], tree_grad)


def test_newton_wide_p_warns(spark, caplog):
    p = solvers.NEWTON_WIDE_P + 1
    rng = np.random.RandomState(9)
    X = rng.standard_normal((40, p)) * 0.1
    y = (rng.uniform(size=40) > 0.5).astype(np.float64)
    df = spark.createDataFrame(
        [([float(v) for v in X[i]], float(y[i])) for i in range(40)],
        "features array<double>, label double",
    )
    with caplog.at_level(
        logging.WARNING, logger="dask_glm_spark.operators.solvers"
    ):
        solvers.newton(df, max_iter=1, normalize=False, persist=False)
    assert any("lbfgs" in r.message for r in caplog.records)


def test_admm_block_caps_are_byte_aware():
    """Pure arithmetic twin of the admm nblocks heuristic: at the benched
    p<=6 the byte caps never bind (identical plans); at p=1000 the max
    block is ~16k rows (128 MB), never 2M rows (16 GB)."""
    for p, n_rows in ((5, 600_000), (6, 600_000)):
        row_bytes = 8 * p
        min_rows = max(1, min(solvers.MIN_ADMM_BLOCK_ROWS,
                              solvers.MIN_ADMM_BLOCK_BYTES // row_bytes))
        max_rows = max(min_rows, min(solvers.MAX_ADMM_BLOCK_ROWS,
                                     solvers.MAX_ADMM_BLOCK_BYTES // row_bytes))
        assert min_rows == solvers.MIN_ADMM_BLOCK_ROWS
        assert max_rows == solvers.MAX_ADMM_BLOCK_ROWS
    p = 1000
    row_bytes = 8 * p
    max_rows = min(solvers.MAX_ADMM_BLOCK_ROWS,
                   solvers.MAX_ADMM_BLOCK_BYTES // row_bytes)
    assert max_rows * row_bytes <= solvers.MAX_ADMM_BLOCK_BYTES
    assert max_rows < 20_000
