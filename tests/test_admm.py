"""ADMM-specific properties (``dask_glm/tests/test_admm.py``, SURVEY §5.2)."""

import numpy as np
import pytest

from dask_glm_spark.functions.families import Logistic, Normal
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
