"""Plan-shape regression tests: the scale-critical physical-plan
properties asserted via plans/audit.py. A failure here means a code change
added a shuffle / widened a scan / dropped a pushdown — invisible at test
scale, catastrophic at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_glm_spark.functions import kernels
from dask_glm_spark.functions.families import Logistic
from dask_glm_spark.plans import audit
from dask_glm_spark.sources.glm_source import load_glm_fast, load_table

SF = "/root/testdata/sf0.001"


def test_glm_fast_is_narrow_and_pruned(spark):
    df = load_glm_fast(spark, SF)
    audit.assert_narrow(df)  # zero shuffles: pure projection over the scan
    cols = audit.scan_columns(df)
    assert len(cols) == 1
    # only the 5 referenced source columns are read (lineitem has 16)
    assert sorted(cols[0]) == [
        "l_discount",
        "l_extendedprice",
        "l_quantity",
        "l_returnflag",
        "l_tax",
    ]
    assert audit.codegen_spans(df) >= 1


def test_loss_agg_single_tiny_exchange(spark):
    df = load_glm_fast(spark, SF)
    xb = kernels.matvec_expr([0.1, -0.2, 0.3, 0.05])
    agg = df.agg(F.sum(Logistic.loglike_terms(xb, F.col("label"))).alias("s"))
    # partial+final HashAggregate: exactly one exchange, carrying one
    # scalar per partition
    assert audit.count_exchanges(agg) == 1


def test_filter_pushdown_reaches_scan(spark):
    li = load_table(spark, SF, "lineitem").where(F.col("l_quantity") > 10).select(
        "l_quantity"
    )
    pushed = audit.pushed_filters(li)
    assert any("l_quantity" in p for p in pushed)


def test_topk_broadcasts_queries(spark):
    from dask_glm_spark.operators import similarity as S

    emb = load_table(spark, SF, "embeddings")
    topk = S.brute_force_topk(emb, emb.where(F.col("vec_id") < 3), k=5)
    assert audit.has_broadcast(topk)


def test_lsh_candidates_bounded_shuffles(spark):
    from dask_glm_spark.operators import dedup as D

    docs = load_table(spark, SF, "documents")
    cands = D.lsh_candidates(docs)
    # band-key groupBy + self-join + pair distinct; anything more means a
    # regression
    assert audit.count_exchanges(cands) <= 5
    plan = audit.explain_str(cands, "simple")
    assert "CartesianProduct" not in plan
    # VERDICT r2 #1: pairs must come from an AQE-splittable band-key JOIN,
    # never a collect_list bucket row exploded in a single task
    assert "collect_list" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_tfidf_reads_cached_tf_not_corpus(spark):
    """VERDICT r2 #6: the returned TF-IDF projection reads the persisted
    TF aggregate — at most one parquet scan anywhere in its plan (the one
    under the in-memory relation), never a second corpus scan for N."""
    from dask_glm_spark.operators import text as T

    docs = load_table(spark, SF, "documents")
    out = T.tfidf_features(docs, num_features=16)
    plan = audit.explain_str(out, "simple")
    # the executed plan (everything above the InMemoryRelation, whose body
    # is the *stored* build recipe, not executed work) must read the cache,
    # never re-scan the corpus parquet
    assert "InMemoryRelation" in plan
    executed = plan.split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in executed
    assert "FileScan" not in executed


def test_text_ops_are_narrow(spark):
    from dask_glm_spark.operators import text as T

    docs = load_table(spark, SF, "documents")
    out = docs.select(
        T.langid_expr("text"),
        T.quality_score_expr("text"),
        T.fingerprint_expr("text"),
    )
    audit.assert_narrow(out)


def test_hashing_tf_arrow_is_zero_shuffle(spark):
    """r5: the arrow hashed-TF path is ONE narrow mapInPandas pass —
    tokenize/hash/aggregate complete in-batch, so the dense vectors come
    out with zero exchanges anywhere in the plan."""
    from dask_glm_spark.operators import text as T

    docs = load_table(spark, SF, "documents")
    out = T.hashing_tf(docs, num_features=64)
    plan = audit.explain_str(out, "simple")
    # the only admissible exchange is the parallelism-floor round-robin
    # (single-row-group test input); NO hash exchange anywhere — the old
    # shape had 4 (wordcount, vocab distinct, join, bucket groupBy)
    assert audit.count_exchanges(out) <= 1
    assert "hashpartitioning" not in plan.lower()
    assert "MapInPandas" in plan


def test_brute_topk_prunes_before_rank_exchange(spark):
    """r5: the scored pair set is truncated per Arrow batch (<= k rows per
    query per batch) BEFORE the single rank-window exchange — the full
    n_corpus x n_queries set never shuffles."""
    from dask_glm_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, SF, "embeddings")
    out = brute_force_topk(emb, emb.where(F.col("vec_id") < 3), k=5)
    # one broadcast (query side) + exactly one shuffle (the rank window)
    assert audit.count_exchanges(out) == 1
    assert audit.has_broadcast(out)
    plan = audit.explain_str(out, "simple")
    # the pandas truncation sits below the window's exchange
    assert "MapInPandas" in plan
    assert plan.index("Window") < plan.index("MapInPandas")  # top-down text


def test_kmeans_round_plan_is_stable_across_iterations(spark):
    """r5: Lloyd rounds must not re-plan with fresh centroid literals —
    the per-round job is a mapInPandas over the persisted projection with
    centroids in the closure, so the plan TEXT is identical across rounds
    (modulo the cached-relation header)."""
    import numpy as np
    import pandas as pd

    from dask_glm_spark.plans.layout import ensure_min_parallelism

    emb = load_table(spark, SF, "embeddings")
    data = ensure_min_parallelism(
        emb.select(emb.embedding.cast("array<double>").alias("_v"))
    )

    def round_df(cent):
        half = 0.5 * (cent * cent).sum(axis=1)

        def partials(batches):
            for pdf in batches:
                X = np.stack(pdf["_v"].to_numpy())
                a = (X @ cent.T - half).argmax(axis=1)
                yield pd.DataFrame({"cluster": a[:1].astype("int32")})

        return data.mapInPandas(partials, "cluster int")

    import re

    rng = np.random.RandomState(0)
    p1 = audit.explain_str(round_df(rng.standard_normal((4, 64))), "simple")
    p2 = audit.explain_str(round_df(rng.standard_normal((4, 64))), "simple")
    # session-global expr/plan counters are not part of the plan shape
    norm = lambda p: re.sub(r"#\d+|plan_id=\d+", "#", p)
    assert norm(p1) == norm(p2)  # no literal leakage into the plan


def test_scan_columns_survives_nested_types(spark):
    """Review r5: columns AFTER an array-typed field must not vanish from
    the pruning audit (the old regex stopped at the first '>')."""
    import tempfile

    d = tempfile.mkdtemp(prefix="nested_scan_")
    spark.range(5).select(
        F.col("id"),
        F.array(F.col("id").cast("double")).alias("features"),
        (F.col("id") * 2.0).alias("y"),
    ).write.mode("overwrite").parquet(d)
    df = spark.read.parquet(d).select("id", "features", "y")
    cols = audit.scan_columns(df)
    assert cols and sorted(cols[0]) == ["features", "id", "y"]


def test_pushed_filters_keeps_in_lists_whole(spark):
    """Review r5: In(...) filters parse as one entry; filters after the
    inner ']' are not lost."""
    li = load_table(spark, SF, "lineitem")
    df = li.where(
        F.col("l_returnflag").isin("A", "N", "R") & F.col("l_shipdate").isNotNull()
    ).select("l_quantity")
    pf = audit.pushed_filters(df)
    assert any(p.startswith("In(l_returnflag") and p.endswith("])") for p in pf)
    assert any("l_shipdate" in p for p in pf)


def test_load_glm_top_is_take_ordered_not_global_sort(spark):
    """Round-6 plan pin: the row-addressed head uses a distributed
    TakeOrdered (per-partition top-n), never a full-table global sort
    feeding the row_number window — at 100 TB the old shape dragged the
    whole table into one task."""
    from dask_glm_spark.sources.glm_source import load_glm_top

    df = load_glm_top(spark, "/root/testdata/sf0.001", 100)
    plan = audit.explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan


def test_load_table_schema_memo_sees_overwrite(spark, tmp_path):
    """The schema memo replays a path's schema with no footer-read job
    while the files are unchanged, and notices an overwrite that adds a
    column instead of replaying the old schema and dropping it."""
    sc = spark.sparkContext
    d = str(tmp_path)
    spark.createDataFrame([(1, "a")], "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{d}/t.parquet")
    assert load_table(spark, d, "t").columns == ["doc_id", "text"]
    sc.setJobGroup("memo_hit", "memo_hit")
    try:
        assert load_table(spark, d, "t").columns == ["doc_id", "text"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("memo_hit") == []

    spark.createDataFrame(
        [(2, "b", 0.5)], "doc_id long, text string, score double"
    ).write.mode("overwrite").parquet(f"{d}/t.parquet")
    again = load_table(spark, d, "t")
    assert again.columns == ["doc_id", "text", "score"]
    assert [tuple(r) for r in again.collect()] == [(2, "b", 0.5)]


def test_minhash_arrow_rows_zero_shuffle(spark):
    """Round-6 plan pin: the arrow MinHash derivation is ONE narrow
    python map over the scan — zero exchanges before the band explode."""
    from dask_glm_spark.operators import dedup as D
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = D.minhash_rows_arrow(docs)
    assert audit.count_exchanges(rows) == 0


def test_langid_single_normalization(spark):
    """Round-6 plan pin: langid/quality carry ONE regexp_replace
    normalization each (let-bound), not one per marker probe — 30
    re-inlined normalizations cost 2.8 s on the q39 filter at sf0.1."""
    from dask_glm_spark.operators import text as T
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    df = docs.select(T.langid_expr("text").alias("lang"))
    plan = audit.explain_str(df, "simple")  # physical plan only
    assert plan.count("regexp_replace") == 1


def test_weighted_sample_plan_no_window_no_cartesian(spark):
    """Round-7 plan pin: weighted_sample_k's per-group top-k is the
    two-level partial aggregate (map-side array_sort∘collect_list, then
    a final top-k) — NO Window operator (a hot group would funnel its
    full row set through one window task) and no cartesian product; the
    keys_only path additionally runs without any join at all."""
    from dask_glm_spark.operators.sampling import weighted_sample_k
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    from dask_glm_spark.operators.text import token_count_expr

    full = weighted_sample_k(
        docs, 5, token_count_expr("text"), by="lang", key_col="doc_id"
    )
    plan = audit.explain_str(full, "simple")
    assert "Window" not in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan

    keys = weighted_sample_k(
        docs, 5, token_count_expr("text"), by="lang", key_col="doc_id",
        keys_only=True,
    )
    kplan = audit.explain_str(keys, "simple")
    assert "Window" not in kplan and "Join" not in kplan
