"""Kernel-layer parity against driver numpy ground truth.

Tests parametrized over ``path`` run the kernel ("arrow", its one physical
path), the kernel over a dense fit's block cache ("blocks", the
``as_blocks`` fixture) or the in-test Spark-SQL reference
(``tests/sql_reference.py``, "sql") against the same numpy twin."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_glm_spark.functions import kernels
from dask_glm_spark.functions.families import FAMILIES, Logistic
from dask_glm_spark.sources.datasets import make_classification
from tests import sql_reference


@pytest.fixture(scope="module")
def data(spark):
    df, _, _ = make_classification(spark, n_samples=500, n_features=4, seed=20009,
                                   npartitions=5)
    df = df.persist()
    pdf = df.orderBy("id").toPandas()
    X = np.array(list(pdf["features"]))
    y = pdf["label"].to_numpy()
    return df, X, y


BETA = np.array([0.3, -0.7, 0.11, 0.52])


def _source(path, df, as_blocks, **cols):
    """The kernel module and input of a ``path`` case."""
    if path == "sql":
        return sql_reference, df
    return kernels, as_blocks(df, **cols) if path == "blocks" else df


@pytest.mark.parametrize("family", list(FAMILIES.values()))
@pytest.mark.parametrize("path", ["sql", "arrow", "blocks"])
def test_loss_gradient_matches_numpy(data, family, path, as_blocks):
    df, X, y = data
    k, df = _source(path, df, as_blocks)
    yy = np.clip(y, 0, None) if family.name == "poisson" else y
    loss, grad = k.loss_gradient(df, family, BETA)
    xb = X @ BETA
    np.testing.assert_allclose(loss, family.loglike_np(xb, y), rtol=1e-9)
    np.testing.assert_allclose(grad, X.T @ family.residual_np(xb, y), rtol=1e-9)


@pytest.mark.parametrize("family", list(FAMILIES.values()))
@pytest.mark.parametrize("path", ["sql", "arrow", "blocks"])
def test_gradient_hessian_matches_numpy(data, family, path, as_blocks):
    df, X, y = data
    k, df = _source(path, df, as_blocks)
    grad, hess = k.gradient_hessian(df, family, BETA)
    xb = X @ BETA
    w = family.hess_weight_np(xb)
    np.testing.assert_allclose(grad, X.T @ family.residual_np(xb, y), rtol=1e-9)
    np.testing.assert_allclose(hess, X.T @ (w[:, None] * X), rtol=1e-9)
    np.testing.assert_allclose(hess, hess.T)  # symmetry


@pytest.mark.parametrize("path", ["sql", "arrow", "blocks"])
def test_multi_loss(data, path, as_blocks):
    df, X, y = data
    k, df = _source(path, df, as_blocks)
    betas = [BETA, BETA * 0.5, np.zeros(4)]
    losses = k.multi_loss(df, Logistic, betas)
    expected = [Logistic.loglike_np(X @ b, y) for b in betas]
    np.testing.assert_allclose(losses, expected, rtol=1e-9)


def test_moments_population_std(data):
    df, X, y = data
    mean, std = kernels.column_moments(df, 4)
    np.testing.assert_allclose(mean, X.mean(axis=0), rtol=1e-9)
    # numpy default ddof=0 == population std (the reference trap, SURVEY §7)
    np.testing.assert_allclose(std, X.std(axis=0), rtol=1e-9)


def test_add_intercept(data):
    df, X, y = data
    df2 = kernels.add_intercept(df)
    assert kernels.infer_p(df2) == 5
    row = df2.select("features").first()
    assert row["features"][-1] == 1.0


def test_arrow_path_is_deterministic(data):
    df, X, y = data
    results = [
        kernels.loss_gradient(df, Logistic, BETA) for _ in range(3)
    ]
    for loss, grad in results[1:]:
        assert loss == results[0][0]  # bit-identical
        np.testing.assert_array_equal(grad, results[0][1])


def test_tree_merge_matches_single_level(data, monkeypatch):
    """Two-level (tree) partial merge: same math as the single-level driver
    merge to fp tolerance, and bit-deterministic across runs."""
    df, X, y = data
    single_loss, single_grad = kernels.loss_gradient(df, Logistic, BETA)
    # force the tree path: threshold below the partition count
    monkeypatch.setattr(kernels, "TREE_MERGE_THRESHOLD", 2)
    monkeypatch.setattr(kernels, "TREE_FANIN", 2)
    many = df.repartition(9)
    tree_runs = [
        kernels.loss_gradient(many, Logistic, BETA) for _ in range(2)
    ]
    for loss, grad in tree_runs:
        np.testing.assert_allclose(loss, single_loss, rtol=1e-12)
        np.testing.assert_allclose(grad, single_grad, rtol=1e-12)
    assert tree_runs[0][0] == tree_runs[1][0]
    np.testing.assert_array_equal(tree_runs[0][1], tree_runs[1][1])


def test_block_fold_and_tree_merge(data, monkeypatch, as_blocks):
    """The block cache folds one partial per block in pid order: over the
    frame's own partitions (5 blocks, one Arrow batch each) it matches
    the frame's scan, and with the tree merge forced — by partial-row
    count, then by the driver-pull byte budget — the sums equal the
    single-level fold."""
    df, X, y = data
    blocks = as_blocks(df)
    assert blocks.nparts == 5 and blocks.rdd.count() == 5

    def evaluate():
        loss, grad = kernels.loss_gradient(blocks, Logistic, BETA)
        g, h = kernels.gradient_hessian(blocks, Logistic, BETA)
        return [np.array([loss]), grad, g, h.ravel()]

    single = evaluate()
    for got, want in zip(single, [
        np.array([kernels.loss_gradient(df, Logistic, BETA)[0]]),
        kernels.loss_gradient(df, Logistic, BETA)[1],
        *[a.ravel() for a in kernels.gradient_hessian(df, Logistic, BETA)],
    ]):
        np.testing.assert_allclose(got, want, rtol=1e-13)
    for name, value in (
        ("TREE_MERGE_THRESHOLD", 2), ("DRIVER_PULL_BUDGET_BYTES", 16 * 8),
    ):
        with monkeypatch.context() as m:
            m.setattr(kernels, name, value)
            m.setattr(kernels, "TREE_FANIN", 2)
            assert kernels._merge_levels(blocks.nparts, None, 1 + len(BETA))
            for got, want in zip(evaluate(), single):
                np.testing.assert_allclose(got, want, rtol=1e-12)


def test_tree_merge_gradient_hessian(data, monkeypatch):
    df, X, y = data
    g0, h0 = kernels.gradient_hessian(df, Logistic, BETA)
    monkeypatch.setattr(kernels, "TREE_MERGE_THRESHOLD", 2)
    monkeypatch.setattr(kernels, "TREE_FANIN", 2)
    g1, h1 = kernels.gradient_hessian(df.repartition(9), Logistic, BETA)
    np.testing.assert_allclose(g1, g0, rtol=1e-12)
    np.testing.assert_allclose(h1, h0, rtol=1e-12)


@pytest.mark.parametrize("path", ["sql", "arrow"])
def test_gd_step_matches_numpy(data, path, monkeypatch):
    """One unrolled fixed-step GD iteration (q48 surface): update line of
    _gd_loop with the line search pinned — beta1 = beta - s*grad, loss
    re-evaluated at beta1 (reference algorithms.py:154). "sql" runs the
    step over the SQL reference kernels."""
    from dask_glm_spark.operators.solvers import gd_step

    if path == "sql":
        monkeypatch.setattr(kernels, "loss_gradient", sql_reference.loss_gradient)
        monkeypatch.setattr(kernels, "multi_loss", sql_reference.multi_loss)
    df, X, y = data
    s = 1e-3
    beta1, loss1 = gd_step(df, BETA, s, family=Logistic)
    xb = X @ BETA
    g = X.T @ Logistic.residual_np(xb, y)
    exp_beta1 = BETA - s * g
    np.testing.assert_allclose(beta1, exp_beta1, rtol=1e-9)
    np.testing.assert_allclose(
        loss1, Logistic.loglike_np(X @ exp_beta1, y), rtol=1e-9
    )


@pytest.mark.parametrize("path", ["sql", "arrow"])
def test_prox_step_matches_numpy(data, path, monkeypatch):
    """One unrolled ISTA candidate (q49 surface): the real
    L1.proximal_operator applied to beta - s*grad (algorithms.py:479-481).
    "sql" runs the step over the SQL reference gradient."""
    from dask_glm_spark.functions.regularizers import L1
    from dask_glm_spark.operators.solvers import prox_step

    if path == "sql":
        monkeypatch.setattr(kernels, "loss_gradient", sql_reference.loss_gradient)
    df, X, y = data
    s, lam = 1e-3, 500.0
    beta1 = prox_step(df, BETA, s, lam, regularizer="l1")
    g = X.T @ Logistic.residual_np(X @ BETA, y)
    exp = L1().proximal_operator(BETA - s * g, s * lam)
    np.testing.assert_allclose(beta1, exp, rtol=1e-9, atol=1e-12)
    assert (beta1 == 0).any()  # the threshold branch is actually exercised


def test_poisson_deviance_zero_pred_not_silently_dropped(spark):
    """Review r5: y_pred=0 must poison the deviance (inf/nan) like the
    numpy form — Spark's NULL division would silently skip the row."""
    import math

    from dask_glm_spark.functions import metrics

    df = spark.createDataFrame(
        [(3.0, 2.0), (3.0, 0.0)], "y double, mu double"
    )
    v = metrics.poisson_deviance(df, "y", "mu")
    assert math.isinf(v)
    df2 = spark.createDataFrame([(0.0, 0.0), (1.0, 1.0)], "y double, mu double")
    v2 = metrics.poisson_deviance(df2, "y", "mu")
    assert math.isnan(v2)


def test_moments_fused_matches_codegen_agg(data):
    """The fused Arrow pass (solver preamble) and the p-wide codegen
    aggregate (one-shot gate shape) agree on mean/std and the row count."""
    df, X, y = data
    n, mean_a, std_a = kernels.column_moments_full(df)
    mean_s, std_s = kernels.column_moments(df, 4)
    assert n == len(X)
    np.testing.assert_allclose(mean_a, mean_s, rtol=1e-12)
    np.testing.assert_allclose(std_a, std_s, rtol=1e-11)


def test_multi_loss_gradient_survives_overflow_candidates(spark, data):
    """Regression (round 7): line-search probes evaluate extreme candidates
    whose Poisson residuals overflow to inf/nan; Spark returns NaN inside
    array<double> as None, which made the driver accumulation blow up with
    an object-dtype cast error. The explicit float64 coercion must map
    None back to nan and keep finite candidates' columns exact."""
    import warnings

    from dask_glm_spark.functions.families import Poisson

    df, X, y = data
    sane = np.array([0.01, 0.01, 0.01, 0.01])
    crazy = np.array([500.0, 500.0, 500.0, 500.0])  # exp overflow -> inf/nan
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        losses, grads = kernels.multi_loss_gradient(
            df, Poisson, [sane, crazy]
        )
        ref_l, ref_g = kernels.loss_gradient(df, Poisson, sane)
    assert grads.shape == (4, 2)
    np.testing.assert_allclose(losses[0], ref_l, rtol=1e-12)
    np.testing.assert_allclose(grads[:, 0], ref_g, rtol=1e-12)
    assert not np.isfinite(losses[1])  # the crazy candidate: inf, not a crash


def test_roc_auc_distributed_matches_numpy(spark):
    """Distributed rank-sum AUC == the driver-side oracle on random scores
    WITH ties, independent of partitioning; known hand value; degenerate
    single-class input -> nan."""
    import math

    from dask_glm_spark.functions.metrics import roc_auc_score, roc_auc_score_np

    rng = np.random.RandomState(42)
    n = 500
    scores = np.round(rng.uniform(0, 1, n), 2)  # 2dp -> plenty of ties
    labels = (rng.uniform(0, 1, n) < scores).astype(np.float64)  # informative
    want = roc_auc_score_np(labels, scores)
    # sklearn-free cross-check of the oracle on a tiny hand case:
    # scores [0.1,0.2,0.2,0.9], labels [0,0,1,1]:
    # pairs (pos,neg): (0.2,0.1) win, (0.2,0.2) tie=0.5, (0.9,0.1) win,
    # (0.9,0.2) win -> auc = 3.5/4
    assert roc_auc_score_np([0, 0, 1, 1], [0.1, 0.2, 0.2, 0.9]) == 3.5 / 4
    rows = [(float(l), float(s)) for l, s in zip(labels, scores)]
    for nparts in (1, 7):
        df = spark.createDataFrame(rows, "label double, score double").repartition(
            nparts
        )
        got = roc_auc_score(df, "label", "score")
        assert abs(got - want) < 1e-12, (nparts, got, want)
    df1 = spark.createDataFrame(rows[:5], "label double, score double").where(
        "label = 0.0"
    )
    assert math.isnan(roc_auc_score(df1, "label", "score"))


def test_roc_auc_fused_accuracy_bit_identical(spark):
    """r14: acc_threshold rides the prefix-sum pass — (auc, acc) must be
    BIT-identical to the standalone AUC and a separately aggregated
    accuracy (integer-valued masses: addition order cannot move either),
    independent of partitioning."""
    from pyspark.sql import functions as F

    from dask_glm_spark.functions.metrics import roc_auc_score

    rng = np.random.RandomState(7)
    n = 400
    scores = np.round(rng.uniform(0, 1, n), 2)
    labels = (rng.uniform(0, 1, n) < scores).astype(np.float64)
    rows = [(float(l), float(s)) for l, s in zip(labels, scores)]
    for nparts in (1, 7):
        df = spark.createDataFrame(
            rows, "label double, score double"
        ).repartition(nparts)
        g = df.groupBy(F.col("score").alias("_s")).agg(
            F.sum("label").alias("pos"),
            (F.count("*") - F.sum("label")).alias("neg"),
        )
        auc_alone = roc_auc_score(g, y_score="_s", pregrouped=True)
        auc, acc = roc_auc_score(
            g, y_score="_s", pregrouped=True, acc_threshold=0.5
        )
        correct = float(
            ((scores > 0.5) == (labels > 0.5)).astype(np.float64).sum()
        )
        assert auc == auc_alone, nparts
        assert acc == correct / n, nparts


def test_multi_level_tree_merge_bytes_capped(data, monkeypatch):
    """Round 12 (ADVICE r11): when the byte budget caps fanin below the
    partition count, the merge runs MULTIPLE levels — each combine task
    materializes at most fanin rows — and still matches the single-level
    result bit-for-bit across runs."""
    df, X, y = data
    single_loss, single_grad = kernels.loss_gradient(
        df, Logistic, BETA
    )
    # budget of 2 partial rows -> fanin 2 -> 9 parts need 3+ levels
    monkeypatch.setattr(
        kernels, "DRIVER_PULL_BUDGET_BYTES", 2 * 8 * (1 + len(BETA))
    )
    many = df.repartition(9)
    runs = [
        kernels.loss_gradient(many, Logistic, BETA)
        for _ in range(2)
    ]
    for loss, grad in runs:
        np.testing.assert_allclose(loss, single_loss, rtol=1e-12)
        np.testing.assert_allclose(grad, single_grad, rtol=1e-12)
    assert runs[0][0] == runs[1][0]
    np.testing.assert_array_equal(runs[0][1], runs[1][1])


def test_multi_level_merge_generic_sum(spark, monkeypatch):
    """Direct _arrow_partials_generic exercise: 16 partitions, budget of
    3 rows -> levels of fanin 3 until <= 3 groups; the folded sum equals
    the plain driver sum."""
    from dask_glm_spark.functions.kernels_sparse import _f64

    df = spark.range(160, numPartitions=16).withColumn(
        "v", (F.col("id") % 7).cast("double")
    )
    monkeypatch.setattr(kernels, "DRIVER_PULL_BUDGET_BYTES", 3 * 8 * 2)

    def bp(rb) -> dict:
        return {"s": float(_f64(rb, "v").sum()), "c": float(rb.num_rows)}

    rows = kernels._partial_rows(
        df, bp, "s double, c double", partial_doubles=2
    )
    assert len(rows) <= 3
    total_s = sum(r["s"] for r in rows)
    total_c = sum(r["c"] for r in rows)
    assert total_c == 160
    assert total_s == pytest.approx(
        sum(float(i % 7) for i in range(160))
    )
    acc = kernels._arrow_partials_generic(
        df, bp, "s double, c double", {"s": 0.0, "c": 0.0}, partial_doubles=2
    )
    assert acc == {"s": total_s, "c": total_c}


def test_prox_step_candidate_matches_internal_gradient(data):
    """r14 q48 job fusion: prox_step(candidate=gd_step's beta1) must equal
    prox_step computing its own gradient — gd_step's update IS the prox
    candidate at the same (beta, stepsize)."""
    from dask_glm_spark.operators.solvers import gd_step, prox_step

    df, _, _ = data
    s, lam = 1e-3, 500.0
    beta1, _ = gd_step(df, BETA, s, family=Logistic)
    via_candidate = prox_step(
        df, BETA, s, lam, regularizer="l1", candidate=beta1
    )
    recomputed = prox_step(df, BETA, s, lam, regularizer="l1")
    np.testing.assert_allclose(via_candidate, recomputed, rtol=1e-12, atol=0)


def test_kernel_exec_restores_aqe(spark, data):
    """kernel_exec turns AQE off for the outermost kernel action and
    restores the session value on exit: after nested kernel actions,
    after an action that raises, and for a prior user value."""
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    df, _, _ = data
    with kernels.kernel_exec(spark):
        assert spark.conf.get(key) == "false"
        with kernels.kernel_exec(spark):
            kernels.loss_gradient(df, Logistic, BETA)  # nests its own
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == before
    from pyspark.errors import PythonException

    with pytest.raises(PythonException, match="shapes|mismatch"):
        with kernels.kernel_exec(spark):
            kernels.loss_gradient(
                df.select(F.array(F.lit(1.0)).alias("features"), "label"),
                Logistic, BETA,
            )
    assert spark.conf.get(key) == before
    assert id(spark) not in kernels._AQE_STATE
    try:
        spark.conf.set(key, "false")
        with kernels.kernel_exec(spark):
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, before)


def test_multi_loss_gradient_candidate_loss_matches_loss(data):
    """q48 reads loss1 from the fused probe's candidate-1 loss instead of
    a standalone kernels.loss job — the two must be BIT-identical (same
    per-row terms, same row-order accumulation per candidate)."""
    df, X, y = data
    rng = np.random.RandomState(17)
    for _ in range(3):
        b0 = rng.rand(4) - 0.5
        b1 = rng.rand(4) - 0.5
        losses, _ = kernels.multi_loss_gradient(df, Logistic, [b0, b1])
        direct0 = kernels.loss(df, Logistic, b0)
        direct1 = kernels.loss(df, Logistic, b1)
        assert float(losses[0]) == direct0
        assert float(losses[1]) == direct1


def test_fused_softmax_hvp_matches_separate(data):
    """r14 pass 3 q48 fusion: fused_softmax_hvp runs the softmax and the
    arrow Hvp per-batch closures over ONE scan — values must be
    BIT-identical to the two standalone kernel jobs (same closures, same
    batch boundaries, same fold/merge machinery)."""
    df, X, y = data
    d = df.select(
        "features", "label", (F.col("id") % 3).cast("double").alias("_l3")
    )
    B = np.array(
        [[0.1, -0.2, 0.05], [0.3, 0.0, -0.1], [-0.4, 0.2, 0.1],
         [0.0, 0.15, -0.25]]
    )
    v = np.array([0.5, -1.0, 0.25, 2.0])
    sm1, G1 = kernels.softmax_loss_gradient(
        d.select("features", F.col("_l3").alias("label")), B
    )
    hv1 = kernels.hessian_vector_product(
        d.select("features", "label"), Logistic, BETA, v, 4
    )
    sm2, G2, hv2 = kernels.fused_softmax_hvp(
        d, B, Logistic, BETA, v, 4, softmax_label_col="_l3"
    )
    assert sm2 == sm1
    np.testing.assert_array_equal(G2, G1)
    np.testing.assert_array_equal(hv2, hv1)


def test_fused_sparse_gate_matches_separate(data):
    """r14 pass 3 q48 fusion: fused_sparse_gate runs the three sparse
    kernels' per-batch CSR closures over ONE mapInArrow scan — values
    must be BIT-identical to the three standalone kernel jobs."""
    from dask_glm_spark.functions import kernels_sparse
    from dask_glm_spark.sources.vectors import to_sparse_columns

    df, X, y = data
    sdf = to_sparse_columns(df.select("features", "label"), "features")
    sdf = sdf.persist()
    try:
        v = np.array([0.5, -1.0, 0.25, 2.0])
        beta1 = BETA - 0.01 * np.array([1.0, -2.0, 0.5, 0.25])
        l1, g1 = kernels_sparse.loss_gradient_sparse(sdf, Logistic, BETA, 4)
        hv1 = kernels_sparse.hessian_vector_product_sparse(
            sdf, Logistic, BETA, v, 4
        )
        ml1, mg1 = kernels_sparse.multi_loss_gradient_sparse(
            sdf, Logistic, [BETA, beta1], 4
        )
        (l2, g2), hv2, (ml2, mg2) = kernels_sparse.fused_sparse_gate(
            sdf, Logistic, BETA, v, [BETA, beta1], 4
        )
        assert l2 == l1
        np.testing.assert_array_equal(g2, g1)
        np.testing.assert_array_equal(hv2, hv1)
        np.testing.assert_array_equal(ml2, ml1)
        np.testing.assert_array_equal(mg2, mg1)
    finally:
        sdf.unpersist()


def test_kernel_scan_reads_only_its_columns(data):
    """A kernel scan prunes every column its reader, label, weight and
    offset do not read before ``mapInArrow``: an extra column whose
    evaluation fails never runs, dense or sparse, and the values equal
    those of the frame without it."""
    from dask_glm_spark.functions import kernels_sparse
    from dask_glm_spark.sources.vectors import to_sparse_columns

    df, X, y = data
    dfw = df.withColumn("w", 1.0 + (F.col("id") % 3).cast("double"))
    bad = dfw.withColumn("extra", F.raise_error(F.lit("extra column read")))
    got = kernels.loss_gradient(bad, Logistic, BETA, weight_col="w")
    ref = kernels.loss_gradient(dfw, Logistic, BETA, weight_col="w")
    np.testing.assert_allclose(got[0], ref[0], rtol=1e-13)
    np.testing.assert_allclose(got[1], ref[1], rtol=1e-13)
    sdf = to_sparse_columns(dfw.select("features", "label", "w"), "features")
    sbad = sdf.withColumn("extra", F.raise_error(F.lit("extra column read")))
    got = kernels_sparse.loss_gradient_sparse(
        sbad, Logistic, BETA, 4, weight_col="w"
    )
    ref = kernels_sparse.loss_gradient_sparse(
        sdf, Logistic, BETA, 4, weight_col="w"
    )
    assert got[0] == ref[0]
    np.testing.assert_array_equal(got[1], ref[1])


def test_sql_gate_fusion_bit_equal(data, spark):
    """q48's gate values over its weighted/offset frame: wloss/wgrad and
    oloss/ograd come from the production kernel, and the one aggregate
    computing both residual sums (q48's pchi2/dres aggregate) is
    BIT-equal to the two sums aggregated alone."""
    from dask_glm_spark.functions import inference

    df, X, y = data
    dfwo = df.select(
        "id",
        "features",
        "label",
        (1.0 + (F.col("id") % 5).cast("double") / 4.0).alias("w"),
        ((F.col("id") % 3).cast("double") / 10.0).alias("o"),
    ).persist()
    try:
        wl, wg = kernels.loss_gradient(dfwo, Logistic, BETA, weight_col="w")
        ol, og = kernels.loss_gradient(dfwo, Logistic, BETA, offset_col="o")
        pdf = dfwo.orderBy("id").toPandas()
        w, o = pdf["w"].to_numpy(), pdf["o"].to_numpy()
        xb = X @ BETA
        np.testing.assert_allclose(
            wl, np.dot(w, Logistic.loglike_terms_np(xb, y)), rtol=1e-9
        )
        np.testing.assert_allclose(
            wg, X.T @ (w * Logistic.residual_np(xb, y)), rtol=1e-9
        )
        np.testing.assert_allclose(
            ol, Logistic.loglike_np(xb + o, y), rtol=1e-9
        )
        np.testing.assert_allclose(
            og, X.T @ Logistic.residual_np(xb + o, y), rtol=1e-9
        )
        res = inference.glm_residuals(
            dfwo, Logistic, BETA, "pearson", out_col="_rp"
        )
        res = inference.glm_residuals(
            res, Logistic, BETA, "deviance", out_col="_rd"
        )
        pchi2 = F.sum(F.col("_rp") * F.col("_rp"))
        with kernels.kernel_exec(spark):
            row = res.agg(pchi2.alias("p"), F.sum("_rd").alias("d")).first()
            p_alone = res.agg(pchi2.alias("p")).first()["p"]
            d_alone = res.agg(F.sum("_rd").alias("d")).first()["d"]
        assert row["p"] == p_alone
        assert row["d"] == d_alone
    finally:
        dfwo.unpersist()
