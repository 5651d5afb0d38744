"""Tests for operators/dedup.py: exact, MinHash/LSH, SimHash, blocked
Jaccard. Duplicates are planted so behavior is visible regardless of what
the synthetic corpus happens to contain."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dask_glm_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the morning sun"
)
NEAR = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the evening sun"
)
OTHER = "completely different text about spark dataframes and shuffle plans"

# Tests measured at >= 4 s each in a warm session on a 4-vCPU box carry
# their own `slow` mark (skipped by the default serial run, always run by
# scripts/partest.py — see conftest); the rest run by default.


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "s0", BASE),
        (1, "s0", NEAR),       # near-dup of 0
        (2, "s0", BASE),       # exact dup of 0
        (3, "s1", OTHER),
        (4, "s1", "short text"),
        (5, "s1", "spark plans differ completely from anything else here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_exact_dedup_and_stats(spark, corpus):
    stats = D.duplicate_stats(corpus, ["text"]).first()
    assert stats["dup_groups"] == 1
    assert stats["dup_rows"] == 1
    deduped = D.exact_dedup(corpus, ["text"])
    assert deduped.count() == 5
    # survivor is deterministic: min doc_id of the group
    kept = {r["doc_id"] for r in deduped.collect()}
    assert 0 in kept and 2 not in kept


def test_exact_dedup_survivors_are_real_rows(spark):
    """VERDICT r2 #2: the survivor must be a whole input row, never a
    per-column min that stitches values from different duplicates."""
    rows = [
        (2, "x", "same text"),
        (1, "y", "same text"),  # min doc_id carries source 'y', not 'x'
        (9, "z", "other text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: r for r in D.exact_dedup(df, ["text"], order_col="doc_id").collect()}
    assert set(out) == {1, 9}
    assert out[1]["source"] == "y"  # whole row of doc 1, not min(source)='x'

    # default ordering (no order_col): lexicographically-smallest whole row
    out2 = {r["doc_id"]: r["source"] for r in D.exact_dedup(df, ["text"]).collect()}
    assert out2[1] == "y"


def test_exact_dedup_random_corpora_survivors_exist_in_input(spark):
    """Invariant sweep over random corpora: every survivor is an input row
    verbatim, one per distinct key."""
    import random

    rng = random.Random(1234)
    for trial in range(3):
        rows = [
            (
                i,
                f"s{rng.randrange(3)}",
                f"text {rng.randrange(6)}",  # forced collisions
            )
            for i in range(30)
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = [(r["doc_id"], r["source"], r["text"])
               for r in D.exact_dedup(df, ["text"], order_col="doc_id").collect()]
        assert len(out) == len({t for _, _, t in rows})
        assert set(out) <= set(rows)  # whole rows only
        # deterministic: min doc_id per text group
        expect = {}
        for i, s, t in rows:
            if t not in expect or i < expect[t][0]:
                expect[t] = (i, s, t)
        assert set(out) == set(expect.values())


@pytest.mark.slow
def test_lsh_bucket_stats_and_dropped_logging(spark, corpus, caplog):
    import logging

    # tiny max_bucket makes every multi-doc bucket "degenerate"
    stats = D.lsh_bucket_stats(corpus, max_bucket=1).first()
    assert stats["n_buckets"] > 0
    assert stats["n_dropped_buckets"] > 0  # docs 0 and 2 share all bands
    assert stats["n_dropped_rows"] >= 2 * stats["n_dropped_buckets"]
    # dropped buckets produce no pairs...
    assert D.lsh_candidates(corpus, max_bucket=1).count() == 0
    # ...and the drop is logged when asked
    with caplog.at_level(logging.WARNING, logger="dask_glm_spark.operators.dedup"):
        D.lsh_candidates(corpus, max_bucket=1, log_dropped=True).count()
    assert any("oversized buckets" in r.message for r in caplog.records)

    # sane corpus: nothing dropped at the default guard
    ok = D.lsh_bucket_stats(corpus).first()
    assert ok["n_dropped_buckets"] == 0 and ok["n_dropped_rows"] == 0


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    sh = df.select(D.shingles_expr("text").alias("s")).first()["s"]
    assert sorted(sh) == ["a b c", "b c d"]
    short = spark.createDataFrame([("a b",)], "text string")
    sh2 = short.select(D.shingles_expr("text").alias("s")).first()["s"]
    assert sh2 == ["a b"]


def test_minhash_identical_signatures(spark, corpus):
    sig = {r["doc_id"]: r["signature"] for r in D.minhash_signatures(corpus).collect()}
    assert sig[0] == sig[2]  # exact dups -> identical signatures
    assert len(sig[0]) == D.NUM_PERM
    # near-dup shares most signature slots
    shared = sum(a == b for a, b in zip(sig[0], sig[1]))
    assert shared >= D.NUM_PERM // 2


def test_lsh_candidates_far_below_all_pairs(spark, corpus):
    n = corpus.count()
    cands = D.lsh_candidates(corpus).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in cands}
    assert (0, 2) in pairs  # exact dup must be a candidate
    # candidate generation must not degenerate to all-pairs
    assert len(pairs) < n * (n - 1) // 2


def test_minhash_dedup_pairs_verified(spark, corpus):
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.minhash_dedup_pairs(corpus, threshold=0.5).collect()}
    assert out[(0, 2)] == 1.0
    assert (0, 1) in out and out[(0, 1)] >= 0.5
    assert all(j >= 0.5 for j in out.values())


@pytest.mark.slow
def test_lsh_candidates_scale_shape(spark):
    """On the real corpus: candidates << n^2/2 (the VERDICT r1 exit bar)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.count()
    n_cand = D.lsh_candidates(docs).count()
    assert n_cand < 0.05 * n * (n - 1) / 2


def test_jaccard_expr_matches_python(spark):
    df = spark.createDataFrame(
        [(["a", "b", "c"], ["b", "c", "d"])], "x array<string>, y array<string>"
    )
    j = df.select(D.jaccard_expr(F.col("x"), F.col("y")).alias("j")).first()["j"]
    assert j == pytest.approx(2 / 4)


def test_simhash_properties(spark, corpus):
    sh = {r["doc_id"]: r["sh"] for r in
          corpus.select("doc_id", D.simhash_expr("text").alias("sh")).collect()}
    assert sh[0] == sh[2]  # identical docs -> identical simhash
    df = spark.createDataFrame([(sh[0], sh[1]), (sh[0], sh[3])], "a long, b long")
    d_near, d_far = [
        r["d"] for r in df.select(D.hamming_expr(F.col("a"), F.col("b")).alias("d")).collect()
    ]
    assert d_near < d_far  # near-dup closer than unrelated doc


def test_simhash_dedup_pairs(spark, corpus):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in D.simhash_dedup_pairs(corpus, max_hamming=3).collect()}
    assert pairs[(0, 2)] == 0


def test_ngram_jaccard_blocked(spark, corpus):
    out = D.ngram_jaccard_pairs(corpus, "source", threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0
    assert (0, 1) in pairs
    # cross-block pairs never compared
    assert all(not (a < 3 <= b) for a, b in pairs)


def test_minhash_arrow_rows_bit_identical_to_expr(spark):
    """The vectorized arrow derivation must produce BIT-IDENTICAL
    shingle sets, signatures, and band keys to the oracle-shared
    expression chain over the real multilingual corpus — this is the
    contract that lets the declared queries run the fast path while the
    DuckDB oracle recomputes the expression form."""
    from pyspark.sql import functions as F

    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sh_e = docs.select("doc_id", D.shingles_expr("text").alias("sh"))
    sig = D.minhash_signature_from_hashes(
        F.transform(F.col("sh"), D.polyhash_expr)
    )
    band_e = sh_e.select("doc_id", D.band_keys_expr(sig).alias("bands"))
    exp = {
        r["doc_id"]: (sorted(r["sh"]), list(r["bands"]))
        for r in sh_e.join(band_e, "doc_id").collect()
    }
    arr = {
        r["doc_id"]: (sorted(r["sh"]), list(r["bands"]))
        for r in D.minhash_rows_arrow(docs).collect()
    }
    assert exp == arr


def test_minhash_pairs_path_accepts_only_arrow(spark, corpus):
    with pytest.raises(ValueError, match="arrow"):
        D.minhash_dedup_pairs(corpus, path="expr")


def test_shingle_rows_arrow_bit_identical_to_expr(spark):
    """shingle_rows_arrow (what ngram_jaccard_pairs runs) == shingles_expr
    per doc over the real multilingual corpus, in the same order."""
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    exp = {
        r["doc_id"]: list(r["sh"])
        for r in docs.select(
            "doc_id", D.shingles_expr("text").alias("sh")
        ).collect()
    }
    arr = {
        r["doc_id"]: list(r["sh"])
        for r in D.shingle_rows_arrow(docs).collect()
    }
    assert exp == arr and len(exp) > 0


def test_ngram_containment_catches_subset_docs(spark):
    """Round 9: the overlap coefficient flags a short doc fully quoted
    inside a long one (containment 1.0) even when Jaccard is far below
    any symmetric threshold; values match a python set oracle."""
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"filler{i} word{i} extra{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, "b", long), (2, "b", short), (3, "b", "unrelated text entirely here")],
        "doc_id long, source string, text string",
    )
    out = {
        (r["id_a"], r["id_b"]): (r["jaccard"], r["containment"])
        for r in D.ngram_jaccard_pairs(df, "source", threshold=0.0).collect()
    }
    jac, cont = out[(1, 2)]
    assert cont == 1.0               # every short-doc shingle is inside long
    assert jac < 0.5                 # symmetric metric misses the relation

    def sh(text, k=D.SHINGLE_K):
        t = text.lower().split()
        if len(t) < k:
            return {" ".join(t)}
        return {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)}

    A, B = sh(long), sh(short)
    assert jac == round(len(A & B) / len(A | B), 6)
    assert cont == round(len(A & B) / min(len(A), len(B)), 6)


def test_simhash_arrow_bit_identical(spark):
    """simhash_rows_arrow (what simhash_dedup_pairs runs) == simhash_expr
    per doc over the real corpus."""
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", D.simhash_expr("text").alias("sh")
        ).collect()
    }
    b = {r["doc_id"]: r["simhash"] for r in D.simhash_rows_arrow(docs).collect()}
    assert a == b


def test_arrow_memo_cap_trip_keeps_parity(spark):
    """Regression (ADVICE r6, high): when the per-task shingle/token memo
    crosses its cap mid-stream, previously-memoized hashes of the CURRENT
    doc must still resolve — the old clear-and-relookup raised KeyError on
    any shingle seen before the clear. A tiny cap (5) trips the branch on
    every near-dup doc; values must equal the uncapped run bit-for-bit."""
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(200)
    base_mh = {
        r["doc_id"]: (sorted(r["sh"]), list(r["bands"]))
        for r in D.minhash_rows_arrow(docs).collect()
    }
    capped_mh = {
        r["doc_id"]: (sorted(r["sh"]), list(r["bands"]))
        for r in D.minhash_rows_arrow(docs, memo_cap=5).collect()
    }
    assert base_mh == capped_mh and len(base_mh) > 0
    base_sh = {
        r["doc_id"]: r["simhash"] for r in D.simhash_rows_arrow(docs).collect()
    }
    capped_sh = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash_rows_arrow(docs, memo_cap=5).collect()
    }
    assert base_sh == capped_sh


@pytest.mark.slow
def test_exact_dedup_incremental_across_batches(spark):
    """Batch 2 drops docs whose text appeared in batch 1 (even under new
    ids), dedups internally, and the fed-back index grows by exactly the
    new distinct texts."""
    from dask_glm_spark.operators.dedup import exact_dedup_incremental

    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id long, text string",
    )
    s1, seen1 = exact_dedup_incremental(b1, None)
    kept1 = sorted(r["doc_id"] for r in s1.collect())
    assert kept1 == [1, 2]  # in-batch dup of 'alpha text' dropped
    assert seen1.count() == 2

    b2 = spark.createDataFrame(
        [(10, "alpha text"), (11, "gamma text"), (12, "gamma text")],
        "doc_id long, text string",
    )
    s2, seen2 = exact_dedup_incremental(b2, seen1)
    kept2 = sorted(r["doc_id"] for r in s2.collect())
    assert kept2 == [11]  # 10 seen in batch 1; 12 in-batch dup
    assert seen2.count() == 3
    # replay of an already-seen batch keeps nothing and leaves the index
    s3, seen3 = exact_dedup_incremental(b1, seen2)
    assert s3.count() == 0 and seen3.count() == 3


@pytest.mark.slow
def test_minhash_dedup_incremental_across_batches(spark):
    """Batch 2's near-copy of a batch-1 survivor is dropped via the
    signature index (no text stored); genuinely new content survives and
    grows the index."""
    from dask_glm_spark.operators.dedup import minhash_dedup_incremental

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to hide from every hunter"
    )
    b1 = spark.createDataFrame(
        [(1, base), (2, "completely different content about spark engines "
                        "processing immense corpora with bucketed joins")],
        "doc_id long, text string",
    )
    s1, idx1 = minhash_dedup_incremental(b1, None, threshold=0.6)
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 2]
    assert idx1.count() == 2

    b2 = spark.createDataFrame(
        [
            (10, base.replace("hunter", "hunters")),  # near-copy of doc 1
            (11, "entirely novel text on weighted sampling priorities "
                 "and deterministic shard construction for loaders"),
        ],
        "doc_id long, text string",
    )
    s2, idx2 = minhash_dedup_incremental(b2, idx1, threshold=0.6)
    assert sorted(r["doc_id"] for r in s2.collect()) == [11]
    assert idx2.count() == 3
    # replaying batch 1 keeps nothing (estimated self-jaccard = 1)
    s3, idx3 = minhash_dedup_incremental(b1, idx2, threshold=0.6)
    assert s3.count() == 0 and idx3.count() == 3


@pytest.mark.slow
def test_simhash_dedup_incremental_across_batches(spark):
    from dask_glm_spark.operators.dedup import simhash_dedup_incremental

    base = (
        "sampling priorities and deterministic shard construction with "
        "bucketed joins over immense corpora of curated documents"
    )
    b1 = spark.createDataFrame(
        [(1, base), (2, "short unrelated note about streaming rollups "
                        "with watermarked windows and stateful sessions")],
        "doc_id long, text string",
    )
    s1, idx1 = simhash_dedup_incremental(b1, None, max_hamming=3)
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 2]
    assert idx1.count() == 2

    b2 = spark.createDataFrame(
        [
            (10, base.replace("curated", "cursed")),  # near-copy of 1
            (11, "fresh content entirely: graph contraction rounds and "
                 "alternating star operations bounded by log n"),
        ],
        "doc_id long, text string",
    )
    s2, idx2 = simhash_dedup_incremental(b2, idx1, max_hamming=3)
    assert sorted(r["doc_id"] for r in s2.collect()) == [11]
    assert idx2.count() == 3
    s3, idx3 = simhash_dedup_incremental(b1, idx2, max_hamming=3)
    assert s3.count() == 0 and idx3.count() == 3
