"""Tests for operators/text.py (tokenization, lang-ID, quality,
fingerprint, TF-IDF)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dask_glm_spark.operators import text as T


def _one(spark, text: str, expr):
    return spark.createDataFrame([(text,)], "text string").select(
        expr.alias("v")
    ).first()["v"]


def test_token_count(spark):
    assert _one(spark, "a b  c", T.token_count_expr("text")) == 3
    assert _one(spark, "  hello   world ", T.token_count_expr("text")) == 2
    assert _one(spark, "one", T.token_count_expr("text")) == 1


def test_regex_token_count(spark):
    # words + digits runs + single punctuation marks
    assert _one(spark, "hello, world 42", T.regex_token_count_expr("text")) == 4


def test_langid_markers(spark):
    assert _one(spark, "el perro que corre", T.langid_expr("text")) == "es"
    assert _one(spark, "der hund und die katze", T.langid_expr("text")) == "de"
    assert _one(spark, "le chat est petit", T.langid_expr("text")) == "fr"
    assert _one(spark, "the cat and the dog", T.langid_expr("text")) == "en"


def test_langid_tiebreak_prefers_lang_order(spark):
    # zero markers anywhere -> every score ties at 0 -> first in LANG_ORDER
    assert _one(spark, "xyzzy plugh", T.langid_expr("text")) == T.LANG_ORDER[0]


def test_quality_score_bounds(spark):
    v = _one(spark, "the quick brown fox and all of it is to go", T.quality_score_expr("text"))
    assert 0.0 <= v <= 1.0
    # stopword-free junk scores strictly lower than stopword-rich text
    junk = _one(spark, "zzz qqq ### !!!", T.quality_score_expr("text"))
    assert junk < v


def test_fingerprint_matches_python_reference(spark):
    def py_polyhash(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * T.POLY_BASE + ord(ch)) % T.POLY_MOD
        return h

    for s in ["abc", "the quick brown fox", "a" * 100]:
        assert _one(spark, s, T.fingerprint_expr("text")) == py_polyhash(s)


def test_fingerprint_case_insensitive(spark):
    a = _one(spark, "Hello World", T.fingerprint_expr("text"))
    b = _one(spark, "hello world", T.fingerprint_expr("text"))
    assert a == b


def test_fingerprint_fast_deterministic_and_case_insensitive(spark):
    a = _one(spark, "Hello World", T.fingerprint_fast_expr("text"))
    b = _one(spark, "hello world", T.fingerprint_fast_expr("text"))
    c = _one(spark, "different text", T.fingerprint_fast_expr("text"))
    assert a == b != c
    # stable across invocations (seeded xxhash64)
    assert a == _one(spark, "Hello World", T.fingerprint_fast_expr("text"))


@pytest.fixture(scope="module")
def tiny_corpus(spark):
    rows = [
        (0, "apple banana apple"),
        (1, "banana cherry"),
        (2, "apple apple apple unique_token_xyz"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hashing_tf_shape_and_counts(spark, tiny_corpus):
    tf = T.hashing_tf(tiny_corpus, num_features=32)
    rows = {r["doc_id"]: r["features"] for r in tf.collect()}
    assert set(rows) == {0, 1, 2}
    assert all(len(v) == 32 for v in rows.values())
    # doc 0 has 3 tokens total
    assert sum(rows[0]) == 3.0
    assert sum(rows[1]) == 2.0
    assert sum(rows[2]) == 4.0


def test_tfidf_downweights_common_tokens(spark, tiny_corpus):
    out = {r["doc_id"]: r["features"] for r in
           T.tfidf_features(tiny_corpus, num_features=32).collect()}

    def py_polyhash(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * T.POLY_BASE + ord(ch)) % T.POLY_MOD
        return h

    b_apple = py_polyhash("apple") % 32
    b_uniq = py_polyhash("unique_token_xyz") % 32
    # idf: apple appears in 2 docs, unique token in 1 (of 3 docs)
    idf_apple = math.log(4.0 / 3.0)
    idf_uniq = math.log(4.0 / 2.0)
    assert out[2][b_apple] == pytest.approx(3 * idf_apple)
    assert out[2][b_uniq] == pytest.approx(1 * idf_uniq)


def test_text_pipeline_feeds_glm(spark, tiny_corpus):
    """TF-IDF features flow into the GLM fit path end-to-end."""
    from dask_glm_spark.operators.estimators import LogisticRegression

    feats = T.tfidf_features(tiny_corpus, num_features=8)
    labeled = feats.withColumn(
        "label", (F.col("doc_id") % 2).cast("double")
    ).select("features", "label")
    # normalize=False: hashed-TF vectors have empty (constant-zero) buckets,
    # which the reference's standardization guard rejects — same reason the
    # reference disables normalization for sparse inputs (estimators.py:82-83)
    lr = LogisticRegression(solver="lbfgs", regularizer=None, max_iter=5).fit(
        labeled, normalize=False
    )
    assert len(lr.coef_) == 8


def _tf_dict(rows, key="doc_id", val="features"):
    return {r[key]: list(r[val]) for r in rows}


def _reference_counts(docs, nf):
    """{(doc_id, bucket): tf} from Spark's own ``tokens_expr`` +
    ``polyhash_expr``: explode, drop empty tokens, count per (doc,
    bucket). The featurizers' Python tokenizer/hash twins must match it."""
    tok = docs.select(
        "doc_id", F.explode(T.tokens_expr("text")).alias("tok")
    ).where(F.length("tok") > 0)
    counts = tok.groupBy(
        "doc_id", (T.polyhash_expr(F.col("tok")) % nf).alias("bucket")
    ).agg(F.count("*").cast("double").alias("tf"))
    return {(r["doc_id"], r["bucket"]): r["tf"] for r in counts.collect()}


def _reference_dense(counts, nf, idf=False):
    """Dense per-doc vectors from ``_reference_counts``, optionally scaled
    by the smoothed idf ln((N + 1) / (df + 1)) over token-bearing docs."""
    scale = [1.0] * nf
    if idf:
        n_docs = len({d for d, _ in counts})
        df = [0] * nf
        for _, b in counts:
            df[b] += 1
        scale = [math.log((n_docs + 1.0) / (df[b] + 1.0)) for b in range(nf)]
    out = {}
    for (d, b), tf in counts.items():
        out.setdefault(d, [0.0] * nf)[b] = tf * scale[b]
    return out


@pytest.mark.parametrize("nf", [32])
def test_hashing_tf_arrow_sql_parity(spark, tiny_corpus, nf):
    """The one-pass Arrow featurizer equals the Spark-SQL reference built
    from ``tokens_expr`` + ``polyhash_expr``."""
    a = _tf_dict(T.hashing_tf(tiny_corpus, num_features=nf).collect())
    ref = _reference_dense(_reference_counts(tiny_corpus, nf), nf)
    assert a.keys() == ref.keys()
    for k in a:
        assert a[k] == pytest.approx(ref[k], abs=1e-12)


def test_hashing_tf_arrow_sql_parity_real_corpus(spark):
    """Same parity over the real synthetic documents table (multilingual
    text: pins the Python tokenizer/hash twins against Spark's regex/ascii
    semantics on non-toy input)."""
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = {
        (r["doc_id"], r["bucket"]): r["tf"]
        for r in T.hashing_tf_sparse(docs, num_features=64).collect()
    }
    assert a == _reference_counts(docs, 64)


@pytest.mark.parametrize("nf", [32, 4096])
def test_tfidf_arrow_sql_parity(spark, tiny_corpus, nf):
    """TF-IDF equals the Spark-SQL reference counts scaled by the smoothed
    idf, at a dense-literal and a wide bucket count."""
    a = _tf_dict(T.tfidf_features(tiny_corpus, num_features=nf).collect())
    ref = _reference_dense(_reference_counts(tiny_corpus, nf), nf, idf=True)
    assert a.keys() == ref.keys()
    for k in a:
        assert a[k] == pytest.approx(ref[k], abs=1e-12)


def test_tfidf_empty_corpus_both_paths(spark):
    """Review r5: an all-empty corpus returns an empty frame (the
    sentinel aggregate yields no rows, so N = 0)."""
    df = spark.createDataFrame([(0, ""), (1, "   ")], "doc_id long, text string")
    assert T.tfidf_features(df, num_features=8).count() == 0


def test_marker_words_found_across_punctuation(spark):
    """Review r5: markers adjacent to punctuation/newlines count."""
    r = spark.createDataFrame(
        [("the cat.\nthe dog, and more of it is fine",)], "text string"
    ).select(T.langid_expr("text").alias("lang"), *[
        v.alias(k) for k, v in T.lang_scores("text").items()
    ]).first()
    assert r["lang"] == "en"
    # markers present: 'the' (before '.'/','-bounded words), 'and', 'of',
    # 'is' — 'to' absent; pre-fix the punctuation-adjacent 'the' was missed
    assert r["en"] == 4


def test_quality_score_empty_text_no_ansi_crash(spark):
    """Review r5: an empty doc must score (alpha component 0), not abort
    the job with DIVIDE_BY_ZERO under Spark 4's ANSI default."""
    r = spark.createDataFrame([("",), ("the and of to is ok",)], "text string").select(
        T.quality_score_expr("text").alias("q")
    ).collect()
    assert all(row["q"] is not None and 0.0 <= row["q"] <= 1.0 for row in r)


def test_elastic_net_corrected_reachable_by_name():
    from dask_glm_spark.functions.regularizers import Regularizer

    import numpy as np

    reg = Regularizer.get("elastic_net_corrected")
    out = reg.proximal_operator(np.array([1.0, -1.0, 0.01]), 1.0)
    assert not np.allclose(out, [1.0, -1.0, 0.01])  # actually shrinks


def test_tfidf_sparse_idf_broadcast_parity(spark, tiny_corpus, monkeypatch):
    """ADVICE r5: above IDF_DENSE_MAX hashed dims the idf ships as a
    sparse (buckets, idf) broadcast instead of a dense per-task list.
    Forcing the sparse form at 4096 dims must reproduce the dense form's
    vectors exactly, and both must equal the Spark-SQL reference."""
    dense_a = _tf_dict(
        T.tfidf_features(tiny_corpus, num_features=4096).collect()
    )
    monkeypatch.setattr(T, "IDF_DENSE_MAX", 8)  # force sparse broadcast
    sparse_a = _tf_dict(
        T.tfidf_features(tiny_corpus, num_features=4096).collect()
    )
    ref = _reference_dense(
        _reference_counts(tiny_corpus, 4096), 4096, idf=True
    )
    assert dense_a == sparse_a
    assert dense_a.keys() == ref.keys()
    for k in dense_a:
        assert dense_a[k] == pytest.approx(ref[k], abs=1e-12)


def test_tfidf_high_dim_smoke(spark):
    """2^18 hashed dims stay runnable (sparse idf path; no 2 MB dense
    literal in the closure) over the real documents table."""
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    out = T.tfidf_features(docs, num_features=1 << 18)
    row = out.select(F.size("features").alias("n")).first()
    assert row["n"] == 1 << 18


def test_unigram_logprob_scores_hand_computed(spark):
    """4-token corpus: p(a)=3/6, p(b)=2/6, p(c)=1/6; doc scores are the
    mean token log-probs; OOV floor applies under vocab truncation."""
    import math

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c"), (3, "")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["mean_logp"])
        for r in T.unigram_logprob_scores(docs).collect()
    }
    lp = lambda n: math.log(n / 6.0)
    assert out[1][0] == 3
    assert out[1][1] == pytest.approx(round((2 * lp(3) + lp(2)) / 3, 6), abs=1e-9)
    assert out[2][1] == pytest.approx(
        round((lp(3) + lp(2) + lp(1)) / 3, 6), abs=1e-9
    )
    assert 3 not in out  # zero-token doc emits no score row

    # top_k=1 keeps only 'a'; b and c fall to the OOV floor ln(0.5/6)
    out1 = {
        r["doc_id"]: r["mean_logp"]
        for r in T.unigram_logprob_scores(docs, top_k=1).collect()
    }
    floor = math.log(0.5 / 6.0)
    assert out1[2] == pytest.approx(round((lp(3) + 2 * floor) / 3, 6), abs=1e-9)


def test_unigram_logprob_scores_real_corpus_broadcast(spark):
    """Real corpus smoke: scores are finite/negative, the vocab side is
    broadcast (no vocabulary-sized shuffle), and results are
    partitioning-independent."""
    from dask_glm_spark.plans import audit
    from dask_glm_spark.sources.glm_source import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = T.unigram_logprob_scores(docs)
    assert audit.has_broadcast(out)
    a = {r["doc_id"]: r["mean_logp"] for r in out.collect()}
    b = {
        r["doc_id"]: r["mean_logp"]
        for r in T.unigram_logprob_scores(docs.repartition(7)).collect()
    }
    assert a == b and all(v < 0 for v in a.values())


def test_text_classifier_separable_langs(spark):
    """fastText-style composite: hashed counts -> joint softmax. Three
    'languages' with disjoint vocabularies must classify ~perfectly, and
    classify_text must reproduce the training labels."""
    import itertools

    vocab = {
        "aa": ["alpha", "apple", "anchor", "arrow"],
        "bb": ["bravo", "berry", "basket", "bridge"],
        "cc": ["cedar", "coral", "candle", "copper"],
    }
    rows = []
    i = 0
    for lang, words in vocab.items():
        for combo in itertools.permutations(words, 3):
            rows.append((i, lang, " ".join(combo)))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    from dask_glm_spark.operators.text import classify_text, fit_text_classifier

    model = fit_text_classifier(docs, num_features=64, max_iter=60)
    assert sorted(model.classes_) == ["aa", "bb", "cc"]
    got = {r["doc_id"]: r["label"] for r in classify_text(model, docs).collect()}
    truth = {r[0]: r[1] for r in rows}
    acc = sum(got[k] == truth[k] for k in truth) / len(truth)
    assert acc > 0.95


def test_text_classifier_sparse_path(spark):
    """num_features past the auto threshold routes through the wide-sparse
    softmax (O(nnz) fit + scoring, no densified 2^13-wide rows) and still
    separates disjoint vocabularies."""
    import itertools

    vocab = {
        "aa": ["alpha", "apple", "anchor"],
        "bb": ["bravo", "berry", "basket"],
    }
    rows = []
    i = 0
    for lang, words in vocab.items():
        for combo in itertools.permutations(words, 2):
            rows.append((i, lang, " ".join(combo)))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    from dask_glm_spark.operators.text import classify_text, fit_text_classifier

    model = fit_text_classifier(docs, num_features=8192, max_iter=60)
    assert model.sparse_ is True
    got = {r["doc_id"]: r["label"] for r in classify_text(model, docs).collect()}
    truth = {r[0]: r[1] for r in rows}
    acc = sum(got[k] == truth[k] for k in truth) / len(truth)
    assert acc == 1.0


def test_text_classifier_persistence_round_trip(spark, tmp_path):
    """save -> load -> classify: coefficients round-trip through JSON;
    featurization (num_features/sparse) is re-supplied via the
    classify_text overrides since it is not part of the model state."""
    rows = [(i, "aa" if i % 2 == 0 else "bb",
             "alpha apple" if i % 2 == 0 else "bravo berry") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    from dask_glm_spark.operators.estimators import load_model, save_model
    from dask_glm_spark.operators.text import classify_text, fit_text_classifier

    model = fit_text_classifier(docs, num_features=64, max_iter=40)
    path = str(tmp_path / "clf.json")
    save_model(model, path)
    loaded = load_model(path)
    got = {
        r["doc_id"]: r["label"]
        for r in classify_text(loaded, docs, num_features=64, sparse=False).collect()
    }
    want = {
        r["doc_id"]: r["label"] for r in classify_text(model, docs).collect()
    }
    assert got == want


def test_vocab_topk_by_matches_pandas(spark):
    import collections

    rows = []
    texts = {
        "s1": ["red red red blue", "blue green red", "yellow red"],
        "s2": ["blue blue", "blue green green", "green blue red"],
    }
    i = 0
    for src, ts in texts.items():
        for t in ts:
            rows.append((i, src, t))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    from dask_glm_spark.operators.text import vocab_topk_by

    got = {}
    for r in vocab_topk_by(df, "source", k=2).collect():
        got.setdefault(r["source"], []).append((r["rank"], r["token"], r["tf"]))
    want = {}
    for src, ts in texts.items():
        c = collections.Counter(" ".join(ts).split())
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
        want[src] = [(i + 1, tok, tf) for i, (tok, tf) in enumerate(top)]
    assert {k: sorted(v) for k, v in got.items()} == want


class TestBigramLM:
    def test_hand_computed_scores(self, spark):
        import math

        from dask_glm_spark.operators.text import bigram_logprob_scores

        # corpus pairs: d1: (a,b) (b,a) (a,b); d2: (a,b) (b,x)
        # c(a,b)=3 c(b,a)=1 c(b,x)=1 total=5; hist a->3 b->2
        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b x"), (3, "solo")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_bigrams"], r["mean_logp2"])
            for r in bigram_logprob_scores(df).collect()
        }
        lab = math.log(3 / 3)   # p(b|a)=1
        lba = math.log(1 / 2)   # p(a|b)=0.5
        lbx = math.log(1 / 2)
        assert got[1] == (3, round((lab + lba + lab) / 3, 6))
        assert got[2] == (2, round((lab + lbx) / 2, 6))
        assert 3 not in got  # <2 tokens: no transitions, absent

    def test_backoff_branches(self, spark):
        """top_k=1 keeps only c(a,b): the other pairs back off to the
        unigram table; top_k_uni=1 pushes the rarest cur to OOV."""
        import math

        from dask_glm_spark.operators.text import bigram_logprob_scores

        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b x")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r["mean_logp2"]
            for r in bigram_logprob_scores(
                df, top_k=1, top_k_uni=1, backoff=0.4
            ).collect()
        }
        total = 5
        lab = math.log(3 / 3)                      # kept bigram
        # unigram cur counts: b->3 a->1 x->1; top-1 keeps b
        lb_uni = math.log(0.4 * 3 / total)         # (b,a)->backoff? cur=a OOV
        la_oov = math.log(0.4 * 0.5 / total)       # cur=a not in top-1
        lx_oov = math.log(0.4 * 0.5 / total)
        assert got[1] == round((lab + la_oov + lab) / 3, 6)
        assert got[2] == round((lab + lx_oov) / 2, 6)

    def test_layout_independent_and_orders_gibberish_low(self, spark):
        from dask_glm_spark.operators.text import bigram_logprob_scores
        from dask_glm_spark.sources.glm_source import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(
            200
        )
        a = {
            r["doc_id"]: (r["n_bigrams"], r["mean_logp2"])
            for r in bigram_logprob_scores(docs).collect()
        }
        b = {
            r["doc_id"]: (r["n_bigrams"], r["mean_logp2"])
            for r in bigram_logprob_scores(docs.repartition(17)).collect()
        }
        assert a == b and len(a) > 0

    def test_empty_corpus(self, spark):
        from dask_glm_spark.operators.text import bigram_logprob_scores

        empty = spark.createDataFrame([], "doc_id long, text string")
        assert bigram_logprob_scores(empty).count() == 0


def test_normalize_text_unicode_forms(spark):
    """NFKC folds fullwidth/ligature forms, strip_accents drops combining
    marks, casefold + whitespace collapse compose, NULLs survive, other
    columns ride through."""
    from dask_glm_spark.operators.text import normalize_text

    rows = [
        (1, "ＡＢＣ ﬁne"),                  # fullwidth + ligature -> NFKC
        (2, "café  double  space"),    # combining acute
        (3, None),
        (4, "Straße"),                  # sharp s casefolds to ss
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in normalize_text(
            df, lowercase=True, strip_accents=True, collapse_whitespace=True
        ).collect()
    }
    assert out[1] == "abc fine"
    assert out[2] == "cafe double space"
    assert out[3] is None
    assert out[4] == "strasse"
    # out_col appends; originals intact
    kept = normalize_text(df, out_col="norm").collect()
    assert {r["text"] for r in kept} == {r[1] for r in rows}
    import pytest as _pt

    with _pt.raises(ValueError, match="form"):
        normalize_text(df, form="NFX")


def test_normalize_text_idempotent(spark):
    """Unicode normal forms are idempotent: a second pass (same options)
    is byte-identical — the property that makes re-running a normalize
    stage on partially-processed data safe."""
    from dask_glm_spark.operators.text import normalize_text

    rows = [(i, t) for i, t in enumerate([
        "ＡＢＣ ﬁne ﬂow", "café naïve", "Straße  GROSS", "ascii only",
        "Å ring", ""  # A + combining ring
    ])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = normalize_text(
        df, lowercase=True, strip_accents=True, collapse_whitespace=True
    )
    twice = normalize_text(
        once, lowercase=True, strip_accents=True, collapse_whitespace=True
    )
    a = {r["doc_id"]: r["text"] for r in once.collect()}
    b = {r["doc_id"]: r["text"] for r in twice.collect()}
    assert a == b
