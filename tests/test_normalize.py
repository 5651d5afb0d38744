"""Standardization-wrapper semantics (``dask_glm/tests/test_utils.py:10-51``)."""

import numpy as np
import pytest

from dask_glm_spark.operators.solvers import normalize


def _standardized_rows(blocks):
    """The rows of the standardized X a wrapped solver evaluates over —
    its block cache, standardized as each block is loaded — sorted."""
    from dask_glm_spark.operators import solvers

    X = np.vstack([
        solvers._block_xy(blk, blocks.scale)[0]
        for _, blk, _ in blocks.rdd.collect()
    ])
    return X[np.lexsort(X.T[::-1])]


def _df_from(spark, X, y):
    rows = [(i, [float(v) for v in X[i]], float(y[i])) for i in range(len(y))]
    return spark.createDataFrame(
        rows, schema="id long, features array<double>, label double"
    )


def test_normalize_backtransform_exact(spark):
    """Reference fixture: X=[[1,0,0],[1,2,2]], no-op solver returning [0,1,2]
    must back-transform to [-3,1,2] (tests/test_utils.py:10-35)."""

    @normalize
    def solver_returns(df, **kwargs):
        return np.array([0.0, 1.0, 2.0])

    X = np.array([[1.0, 0.0, 0.0], [1.0, 2.0, 2.0]])
    y = np.array([0.0, 1.0])
    df = _df_from(spark, X, y)
    out = solver_returns(df)
    # constant col 1 (std=0): mean zeroed->? columns 2,3 have std 1 (pop std of
    # {0,2} = 1), means 1. intercept adj: sum(out*mean/std) = 0*1+1*1+2*1 = 3
    np.testing.assert_allclose(out, [-3.0, 1.0, 2.0])


def test_normalize_skipped_when_disabled(spark):
    @normalize
    def solver_returns(df, **kwargs):
        return np.array([0.0, 1.0, 2.0])

    X = np.array([[1.0, 0.0, 0.0], [1.0, 2.0, 2.0]])
    df = _df_from(spark, X, np.zeros(2))
    np.testing.assert_allclose(solver_returns(df, normalize=False), [0.0, 1.0, 2.0])


def test_normalize_multiple_constant_columns_raise(spark):
    @normalize
    def solver_returns(df, **kwargs):
        return np.zeros(3)

    X = np.array([[1.0, 5.0, 0.0], [1.0, 5.0, 2.0]])
    df = _df_from(spark, X, np.zeros(2))
    with pytest.raises(ValueError, match="Multiple constant columns"):
        solver_returns(df)


def test_normalize_no_constant_column_scales_only(spark):
    """Reference quirk (utils.py:26-30): without a constant column the mean
    is zeroed — scale-only standardization."""
    captured = {}

    @normalize
    def spy(df, **kwargs):
        captured["rows"] = _standardized_rows(df)
        return np.zeros(2)

    X = np.array([[1.0, 10.0], [3.0, 30.0]])
    df = _df_from(spark, X, np.zeros(2))
    spy(df)
    # scale-only: row i = X[i]/std with std = [1, 10]: [1, 1] and [3, 3]
    np.testing.assert_allclose(captured["rows"], [[1.0, 1.0], [3.0, 3.0]])


def test_constant_nonone_column_detected_exactly(spark):
    """Regression (ADVICE r6): a constant NON-one column whose non-central
    variance doesn't cancel fp-exactly must still be detected as std==0 —
    column_moments_full forces std to 0 wherever min == max (probed in the
    same scan). Value 0.1 is not fp-representable, so ss/n - mean^2 is a
    tiny nonzero under the old form."""
    from dask_glm_spark.functions import kernels

    X = np.array([[0.1, 2.0], [0.1, 4.0], [0.1, 6.0]])
    df = _df_from(spark, X, np.zeros(3))
    n, mean, std = kernels.column_moments_full(df)
    assert n == 3
    assert std[0] == 0.0  # exactly, not approximately
    np.testing.assert_allclose(mean, [0.1, 4.0])
    # and normalize treats it as the constant column (intercept slot)
    captured = {}

    @normalize
    def spy(df_, **kwargs):
        captured["rows"] = _standardized_rows(df_)
        return np.zeros(2)

    spy(df)
    # col 0 constant: mean->0, std->1 (untouched); col 1 standardized
    s1 = np.sqrt(8.0 / 3.0)
    np.testing.assert_allclose(
        captured["rows"], [[0.1, -2.0 / s1], [0.1, 0.0], [0.1, 2.0 / s1]],
        atol=1e-15,
    )


def test_standardize_expr_wide_p_loop_form_parity(spark):
    """Round 11: past UNROLL_MAX the standardize expression switches from
    the unrolled F.array projection (Janino 64 KB method blowup at
    p=2048) to a transform loop over folded array literals — values must
    be bit-identical to the unrolled form."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_glm_spark.functions import kernels

    p = kernels.UNROLL_MAX + 6
    rng = np.random.RandomState(3)
    X = rng.standard_normal((40, p))
    mean, std = X.mean(axis=0), X.std(axis=0)
    df = spark.createDataFrame(
        [([float(v) for v in row],) for row in X], "features array<double>"
    )
    wide = df.select(
        kernels.standardize_expr(mean, std).alias("z")
    ).toPandas()
    # unrolled twin, forced (same math, different code shape)
    col = F.col("features")
    unrolled = df.select(
        F.array(
            *[(col[j] - float(mean[j])) / float(std[j]) for j in range(p)]
        ).alias("z")
    ).toPandas()
    zw = np.stack(wide["z"].to_numpy())
    zu = np.stack(unrolled["z"].to_numpy())
    np.testing.assert_array_equal(zw, zu)
