"""End-to-end corpus curation: the full training-data arc on real tables.

    documents ──> quality gates ──> dedup ──> decontaminate ──> budget
        ──> TF-IDF features ──> GLM fit ──> score
        ──> weighted mixture ──> tar shards (+ manifest round-trip)

Every stage is an engine operator (no ad-hoc SQL), so this doubles as an
integration test of the pipeline surface (tests/test_example.py runs it
at sf0.001 in CI). Run:  python examples/curation_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(sf_dir: str = "/root/testdata/sf0.001") -> dict:
    from pyspark.sql import functions as F

    from dask_glm_spark import LogisticRegression
    from dask_glm_spark.operators import dedup as D
    from dask_glm_spark.operators import graph as G
    from dask_glm_spark.operators import quality as Q
    from dask_glm_spark.operators import text as T
    from dask_glm_spark.session import get_spark
    from dask_glm_spark.sources.glm_source import load_table

    spark = get_spark(app_name="curation_pipeline", shuffle_partitions=8)
    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1. quality gates: language, composite quality, repetition
    scored = docs.withColumn("lang", T.langid_expr("text")).withColumn(
        "quality", T.quality_score_expr("text")
    )
    rep = Q.repetition_stats(docs).select("doc_id", "top_bigram_frac")
    gated = (
        scored.join(rep, "doc_id")
        .where(
            (F.col("lang") == "en")
            & (F.col("quality") > 0.3)
            & (F.col("top_bigram_frac") < 0.5)
        )
        .drop("top_bigram_frac")
    )
    # 1b. model-based gate on top of the heuristics (CCNet-style): score
    # every doc by its mean unigram log-prob under the corpus's own LM,
    # then drop the bottom quintile by quantile band — thresholds from one
    # sketch aggregate, keep decision a deterministic hash filter
    from dask_glm_spark.operators.sampling import stratified_sample_by_quantile
    from dask_glm_spark.operators.text import unigram_logprob_scores

    lm = unigram_logprob_scores(docs).select("doc_id", "mean_logp")
    gated = stratified_sample_by_quantile(
        gated.join(lm, "doc_id"),
        "mean_logp",
        edges=[0.2],
        rates_pct={"b0": 0, "b1": 100},
        salt="lmgate",
    ).drop("mean_logp")
    n1 = gated.count()

    # 2. near-dedup: MinHash pairs -> components -> keep one per cluster
    pairs = D.minhash_dedup_pairs(gated, threshold=0.7)
    survivors = G.neardup_survivors(gated, pairs)
    # Materialize the stage boundary: at 100 TB each curation stage lands
    # in parquet; here localCheckpoint plays that role. Without the cut,
    # the dedup lineage is re-embedded at EVERY downstream reference —
    # the two-phase decontamination below references survivors three
    # times (clean branch, suspect branch, exact re-check), and the
    # multiplied expression tree grew past what the driver could even
    # RENDER (AQE's explainString OOM'd a 48 GiB heap — round 7).
    survivors = survivors.localCheckpoint()
    n2 = survivors.count()

    # 3. decontaminate against a benchmark slice — two-phase: the Bloom
    # narrow map flags suspects (zero corpus-side shuffle, no false
    # negatives), the exact gram join re-checks ONLY the flagged subset;
    # output is bit-identical to the pure-exact drop
    bench = docs.where(F.col("doc_id") % 31 == 0)
    clean = Q.decontaminate_two_phase(survivors, bench, n=5)
    n3 = clean.count()

    # 3b. (round 9) DSIR data selection: score every doc's importance
    # under hashed-unigram models — target = the src0 slice as the
    # in-domain seed, source = the pool itself (ONE fused count
    # aggregate) — and keep the top 60% by CCNet-style quantile band.
    # The score is a pure narrow expression (log-ratio vector ships as
    # one constant-folded literal); the keep decision stays the
    # deterministic hash filter.
    from dask_glm_spark.operators.sampling import (
        dsir_logratio_vector,
        dsir_score_expr,
    )

    w = dsir_logratio_vector(
        clean, nf=512, target_cond=(F.col("source") == "src0")
    )
    clean = stratified_sample_by_quantile(
        clean.withColumn("dsir", dsir_score_expr("text", w)),
        "dsir",
        edges=[0.4],
        rates_pct={"b0": 0, "b1": 100},
        salt="dsirgate",
    ).drop("dsir")
    n3b = clean.count()

    # 4. train a BPE tokenizer ON the cleaned corpus (one word-count
    # scan + driver merge loop), then budget per source in TRAINED
    # subword tokens — the unit a training run actually pays — and scrub
    from dask_glm_spark.operators.bpe import bpe_token_count_expr, bpe_train

    merges = bpe_train(clean, n_merges=64)
    selected = Q.select_to_token_budget(
        clean, 80_000, by="source", priority="quality",
        count_expr=bpe_token_count_expr("text", merges),
    ).withColumn("text", Q.scrub_expr("text"))
    n4 = selected.count()

    # 5. featurize + fit: predict source-class from TF-IDF of the text
    feats = T.tfidf_features(selected, num_features=32)
    labeled = feats.join(
        selected.select(
            "doc_id",
            (F.crc32(F.col("source")) % 2).cast("double").alias("label"),
        ),
        "doc_id",
    )
    # normalize=False: hashed-TF grids at tiny SF have several all-zero
    # buckets, and standardizing constant columns is the reference's
    # declared error path (it likewise disables normalization for sparse
    # features — dask_glm/estimators.py:82-83)
    lr = LogisticRegression(solver="lbfgs", regularizer="l2", lamduh=0.01).fit(
        labeled, normalize=False
    )
    acc = lr.score(labeled)

    # 6. (round 7) exact-k weighted sample per source — longer docs
    # proportionally likelier — then the training-loader handoff:
    # deterministic webdataset-style tar shards + manifest
    import tempfile

    from dask_glm_spark.operators.sampling import weighted_sample_k
    from dask_glm_spark.sources.shards import read_tar_shards, write_tar_shards

    mixed = weighted_sample_k(
        selected, 40, T.token_count_expr("text"), by="source",
        key_col="doc_id", salt="mix7",
    )
    shard_dir = os.path.join(
        tempfile.mkdtemp(prefix="dask_glm_spark_shards_"), "out"
    )
    manifest = write_tar_shards(
        mixed, shard_dir, n_shards=4, member_order="shuffled"
    ).collect()
    n5 = sum(m["n_files"] for m in manifest)
    n_back = read_tar_shards(spark, shard_dir).count()

    out = {
        "raw": n0,
        "quality_gated": n1,
        "deduped": n2,
        "decontaminated": n3,
        "dsir_selected": n3b,
        "in_budget": n4,
        "fit_accuracy": round(float(acc), 4),
        "sharded": n5,
        "shards": len(manifest),
    }
    print(out)
    assert n0 >= n1 >= n2 >= n3 >= n3b >= n4 >= n5 > 0
    assert n_back == n5  # every sharded doc reads back
    return out


if __name__ == "__main__":
    main(*sys.argv[1:])
