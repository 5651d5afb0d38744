"""ADMM-specific properties (``dask_glm/tests/test_admm.py``, SURVEY §5.2)."""

import numpy as np
import pytest

from dask_glm_spark.functions.families import Logistic, Normal, Poisson
from dask_glm_spark.operators.solvers import _admm_local_update, admm
from dask_glm_spark.sources.datasets import make_classification


@pytest.mark.parametrize("N", [1000, 5000])
@pytest.mark.parametrize("p", [1, 5])
def test_local_update_pins_to_z_at_high_rho(N, p):
    """With rho=1e7 the partition solve returns ~z (reference :12-47)."""
    rng = np.random.RandomState(2)
    X = rng.random((N, p))
    y = (rng.random(N) > 0.4).astype(np.float64)
    z = rng.random(p)
    u = np.zeros(p)
    beta = rng.normal(0, 1, p)
    result = _admm_local_update(X, y, beta, z, u, 1e7, Logistic)
    np.testing.assert_allclose(result, z, atol=2e-3)


def test_extreme_lambda_shrinks_to_zero(spark):
    """lamduh=1e5 drives beta to 0 within 1e-4 (reference :50-66)."""
    df, _, _ = make_classification(spark, n_samples=1000, n_features=5, seed=90210,
                                  npartitions=5)
    df = df.persist()
    beta = admm(df, regularizer="l1", lamduh=1e5, rho=20, max_iter=30,
                family=Logistic)
    np.testing.assert_allclose(beta, np.zeros(5), atol=1e-4)
    df.unpersist()


def test_admm_normal_family(spark):
    df, _, _ = make_classification(spark, n_samples=500, n_features=3, seed=20009,
                                  npartitions=3)
    df = df.persist()
    beta = admm(df, regularizer="l2", lamduh=0.1, max_iter=15, family=Normal)
    assert np.all(np.isfinite(beta))
    df.unpersist()


@pytest.mark.parametrize("blocks", ["dense", "csr"])
def test_state_layouts_agree(spark, monkeypatch, blocks):
    """Driver-resident vs executor-resident consensus rounds produce the
    same iterates: same data blocks, same init, same update order — the
    layouts differ only in WHERE beta_i/u_i live between rounds. Runs on
    dense and CSR blocks (in local mode both go through the disk store)."""
    from dask_glm_spark.operators import solvers as S
    from dask_glm_spark.sources.vectors import to_sparse_columns

    df, _, _ = make_classification(
        spark, n_samples=2000, n_features=4, seed=7, npartitions=4
    )
    kw = dict(regularizer="l2", lamduh=0.05, max_iter=8, nblocks=0)
    if blocks == "dense":
        df = df.persist()
        fit = lambda: admm(df, normalize=False, **kw)  # noqa: E731
    else:
        df = to_sparse_columns(df).persist()
        fit = lambda: S.admm_sparse(df, p=4, **kw)  # noqa: E731
    try:
        a = fit()
        monkeypatch.setattr(S, "MAX_DRIVER_STATE_BYTES", 0)  # executor path
        b = fit()
    finally:
        df.unpersist()
    np.testing.assert_allclose(a, b, rtol=1e-12, atol=1e-12)


def test_fit_releases_blocks(spark, monkeypatch, tmp_path):
    """A fit releases every RDD it persisted and its block directory: when
    it raises (empty input; dense and CSR blocks, both state layouts), and
    when the executor-resident layout ran past its round-10
    localCheckpoint."""
    import tempfile

    from dask_glm_spark.operators import solvers as S
    from dask_glm_spark.sources.vectors import to_sparse_columns

    df, _, _ = make_classification(
        spark, n_samples=200, n_features=4, seed=3, npartitions=2
    )
    sp = to_sparse_columns(df)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    jsc = spark.sparkContext._jsc

    def persisted():
        return sorted(jsc.getPersistentRDDs().keys())

    for state_bytes in (S.MAX_DRIVER_STATE_BYTES, 0):
        monkeypatch.setattr(S, "MAX_DRIVER_STATE_BYTES", state_bytes)
        for fit in (
            lambda: admm(df.limit(0), normalize=False, nblocks=2, p=4),
            lambda: S.admm_sparse(sp.limit(0), p=4),
        ):
            before = persisted()
            with pytest.raises(ValueError, match="empty input"):
                fit()
            assert persisted() == before
            assert not list(tmp_path.glob("dgs-admm-blocks-*"))
    before = persisted()
    admm(df, normalize=False, nblocks=2, max_iter=10, abstol=0, reltol=0)
    assert persisted() == before
    assert not list(tmp_path.glob("dgs-admm-blocks-*"))
    # dense lbfgs fits over their block cache: a failing fit (after the
    # build: a warm start of the wrong width) and a succeeding one
    with pytest.raises(ValueError, match="init_beta"):
        S.lbfgs(df, max_iter=2, init_beta=np.zeros(7))
    assert persisted() == before
    assert not list(tmp_path.glob("dgs-admm-blocks-*"))
    assert np.all(np.isfinite(S.lbfgs(df, max_iter=2)))
    assert persisted() == before
    assert not list(tmp_path.glob("dgs-admm-blocks-*"))


def _split_pair_update(X, Y, beta, z, u, rho, fam, w=None, o=None):
    """The local solve with separate f / fprime closures, each computing
    its own X·β — the inline reference for the fused (f, g) callable."""
    from dask_glm_spark.functions.optimize import fmin_l_bfgs_b

    def xb(b):
        return X.dot(b) if o is None else X.dot(b) + o

    def loss(b):
        if w is None and o is None:
            return fam.pointwise_loss(b, X, Y)
        terms = fam.loglike_terms_np(xb(b), Y)
        return float(np.sum(terms)) if w is None else float(np.dot(w, terms))

    def grad(b):
        if w is None and o is None:
            return fam.pointwise_gradient(b, X, Y)
        r = fam.residual_np(xb(b), Y)
        return X.T.dot(r if w is None else w * r)

    def f(b):
        return loss(b) + (rho / 2) * np.dot(b - z + u, b - z + u)

    def fprime(b):
        return grad(b) + rho * (b - z + u)

    return fmin_l_bfgs_b(f, beta, fprime=fprime, maxiter=200, maxfun=250)[0]


@pytest.mark.parametrize("aux", ["none", "w", "o", "wo"])
@pytest.mark.parametrize("fam", [Logistic, Normal, Poisson], ids=lambda f: f.name)
def test_local_update_fused_matches_split_pair(fam, aux):
    """One (f, g) callable per L-BFGS evaluation (one X·β) returns the
    same bits as the separate f / fprime pair, with and without weight
    and offset riding in the block's y rows."""
    from dask_glm_spark.operators.solvers import _AugmentedFamily

    rng = np.random.RandomState(5)
    n, p = 400, 4
    X = rng.normal(size=(n, p))
    y = rng.poisson(1.0, n).astype(np.float64)
    if fam is Logistic:
        y = (y > 0).astype(np.float64)
    w = rng.uniform(0.5, 2.0, n) if aux in ("w", "wo") else None
    o = rng.normal(0, 0.2, n) if aux in ("o", "wo") else None
    beta, z, u = np.ones(p), rng.normal(0, 0.3, p), rng.normal(0, 0.1, p)
    rows = [y] + [a for a in (w, o) if a is not None]
    block_fam = fam
    Y = y
    if len(rows) > 1:
        block_fam = _AugmentedFamily(fam, w is not None, o is not None)
        Y = np.vstack(rows)
    got = _admm_local_update(X, Y, beta, z, u, 0.7, block_fam)
    want = _split_pair_update(X, y, beta, z, u, 0.7, fam, w, o)
    assert np.array_equal(got, want)


@pytest.mark.parametrize(
    "fit",
    [
        lambda df: admm(df, normalize=False, nblocks=1, max_iter=2),
        lambda df: admm(df, max_iter=2),
        lambda df: admm(df, nblocks=1, max_iter=2),
    ],
    ids=["raw", "normalized", "normalized-nblocks"],
)
def test_ragged_feature_rows_raise(spark, fit):
    """Rows of 4, 5 and 3 values are refused, never reshaped into
    misaligned features (ADMM blocks and the moments scan)."""
    from dask_glm_spark.functions import kernels

    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0, 4.0], 1.0), ([0.5, 1.5, 2.5, 3.5, 4.5], 0.0),
         ([2.0, 1.0, 0.0], 1.0)],
        "features array<double>, label double",
    ).coalesce(1)
    with pytest.raises(Exception, match="features rows must all have"):
        fit(df)
    with pytest.raises(Exception, match="features rows must all have"):
        kernels.column_moments_full(df)


def test_normalized_fit_scans_input_once(spark, tmp_path):
    """A standardized fit on an uncached parquet frame runs no moments
    job and persists nothing of its input: the default block count costs
    one JVM-only row count, then one block build (which also folds the
    moments) and one job per round; an explicit ``nblocks`` skips the
    count. ``max_iter`` rounds run (zero tolerances)."""
    df, _, _ = make_classification(
        spark, n_samples=2000, n_features=4, seed=11, npartitions=2
    )
    path = str(tmp_path / "admm_input.parquet")
    df.write.parquet(path)
    raw = spark.read.parquet(path)
    sc = spark.sparkContext
    jsc = sc._jsc
    before = sorted(jsc.getPersistentRDDs().keys())
    kw = dict(regularizer="l2", lamduh=0.1, max_iter=2, abstol=0, reltol=0)
    for group, nblocks, jobs in (("admm-default", None, 4), ("admm-nb", 2, 3)):
        sc.setJobGroup(group, group)
        try:
            beta = admm(raw, nblocks=nblocks, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert np.all(np.isfinite(beta))
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
        assert sorted(jsc.getPersistentRDDs().keys()) == before


def test_dense_fit_is_one_build_plus_one_job_per_evaluation(spark, tmp_path):
    """A standardized dense lbfgs fit on an unmaterialized parquet frame
    runs ONE block build (which folds the moments: no moments job) and
    then one job per objective evaluation, and persists nothing."""
    from dask_glm_spark.operators import solvers as S

    df, _, _ = make_classification(
        spark, n_samples=2000, n_features=4, seed=13, npartitions=2
    )
    path = str(tmp_path / "lbfgs_input.parquet")
    df.write.parquet(path)
    raw = spark.read.parquet(path)
    sc = spark.sparkContext
    jsc = sc._jsc
    before = sorted(jsc.getPersistentRDDs().keys())
    info = {}
    sc.setJobGroup("lbfgs-blocks", "lbfgs-blocks")
    try:
        beta = S.lbfgs(raw, max_iter=3, tol=0.0, fit_info=info)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert np.all(np.isfinite(beta))
    jobs = sc.statusTracker().getJobIdsForGroup("lbfgs-blocks")
    assert len(jobs) == 1 + info["funcalls"]
    assert sorted(jsc.getPersistentRDDs().keys()) == before
