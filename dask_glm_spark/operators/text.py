"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference surface (SURVEY.md §7 step 10; the reference dask-glm has
no text layer — these operators exist so a 100 TB document corpus can be
filtered/featurized and fed into the GLM ``features`` path end-to-end).

The per-row expressions are **built-in Spark SQL functions only** — no
Python UDFs — so they stay inside whole-stage codegen and scale as a narrow
map over the scan. The hashed-TF featurizers run one narrow Arrow
(mapInPandas) pass instead (zero shuffles except the TF-IDF doc-frequency
aggregate, which is a broadcast-sized k-row table).

Operators:

- ``tokens_expr``            whitespace tokenization
- ``token_count_expr``       whitespace token count
- ``regex_token_count_expr`` BPE-ish regex token count (words / digits /
                             punctuation runs)
- ``lang_scores`` / ``langid_expr``  marker-stopword language ID heuristic
- ``quality_score_expr``     composite document quality in [0, 1]
- ``fingerprint_expr``       31-base rolling polynomial hash (mod 1e9+7) —
                             engine-portable (same value computable in
                             ANSI SQL, used by the DuckDB oracle), also the
                             shingle hash for operators/dedup.py
- ``hashing_tf`` / ``tfidf_features``  hashed TF / TF-IDF dense vectors
                             sized for the GLM kernel layer
"""

from __future__ import annotations

from functools import reduce as _reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

POLY_MOD = 1_000_000_007
POLY_BASE = 31

# Marker stopwords per language (public-knowledge closed-class words).
# Scoring = number of DISTINCT markers present (presence, not counts, so the
# oracle SQL stays trivially portable); ties break by LANG_ORDER position.
MARKER_WORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "que", "los", "una"),
    "fr": ("le", "les", "des", "une", "est"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("的", "是", "了", "在", "我"),
}
LANG_ORDER: tuple[str, ...] = ("en", "es", "fr", "de", "zh")


def tokens_expr(text: Column | str) -> Column:
    """Whitespace tokens of the lowercased, trimmed text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(c)), r"\s+")


def token_count_expr(text: Column | str) -> Column:
    """Whitespace token count. Quirk kept deliberately: split on empty /
    leading-whitespace text yields one empty token (so '' counts 1, not
    0) — the DuckDB oracles share the identical semantics (len of the
    same regex split), and changing one side alone would break the
    cross-engine hash gate. Consumers that need empty-token filtering
    (the TF paths) apply length(tok) > 0 downstream."""
    return F.size(tokens_expr(text))


def regex_token_count_expr(text: Column | str) -> Column:
    """BPE-ish token count: runs of letters, digits, or single punctuation.

    A cheap upper-bound proxy for subword token counts (letters runs split
    further by a real BPE; this is the standard pre-tokenization regex
    shape) — useful for corpus-level token budgeting without a tokenizer
    library in the cluster image.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.size(
        F.regexp_extract_all(F.lower(c), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))
    )


# Delimiters normalized to spaces before marker-word probing: without
# this, a marker followed by punctuation or a newline was invisible to the
# space-padded instr and lang/quality scores deflated on normal punctuated
# prose (review r5). The DuckDB oracle applies the IDENTICAL normalization
# (__spark_entry__._duck_lang_scores), so both engines moved together.
WORD_DELIMS_RE = r"[\t\n\r.,;:!?]"


# Shared let-binding combinator (promoted to functions/exprs in round 7).
# Without it, every marker-word probe re-inlines its own
# regexp_replace(lower(...)) normalization of the whole document: langid's
# 25 probes plus quality's 5 re-normalized the text 30x per row (measured
# 2.8 s for the q39 filter at sf0.1 — round 6).
from dask_glm_spark.functions.exprs import let as _let  # noqa: E402
from dask_glm_spark.functions.kernels import kernel_exec  # noqa: E402


def _padded_norm(text: Column) -> Column:
    """The shared probe target: delimiter-normalized, lowercased,
    space-padded text — computed ONCE per row via ``_let``."""
    return F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(text), WORD_DELIMS_RE, " "),
        F.lit(" "),
    )


def _contains_word(text: Column, word: str) -> Column:
    """Word-boundary membership via space padding over the
    delimiter-normalized text. (Standalone form — the batch probe sets in
    ``langid_expr``/``quality_score_expr`` bind the normalization once
    instead.)"""
    return F.instr(_padded_norm(text), f" {word} ") > 0


def _scores_of(padded: Column) -> dict[str, Column]:
    out: dict[str, Column] = {}
    for lang, words in MARKER_WORDS.items():
        hits = [(F.instr(padded, f" {w} ") > 0).cast("int") for w in words]
        out[lang] = _reduce(lambda a, b: a + b, hits)
    return out


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language marker-presence scores (0..len(markers))."""
    c = F.col(text) if isinstance(text, str) else text

    # one dict of columns; each column independently let-binds the shared
    # normalization (5 evals instead of 25 when all five are selected).
    # Closure factory, NOT a lang=lang default arg: transform() inspects
    # the lambda's arity and a second parameter would be fed the array
    # index instead.
    def one(lang: str) -> Column:
        return _let(_padded_norm(c), lambda p: _scores_of(p)[lang])

    return {lang: one(lang) for lang in MARKER_WORDS}


def langid_expr(text: Column | str) -> Column:
    """argmax of marker scores; deterministic tie-break by LANG_ORDER.

    At 100 TB this is a pure narrow map (ONE delimiter normalization per
    row + a handful of substring probes) — no shuffle, no Python.
    """
    c = F.col(text) if isinstance(text, str) else text

    def body(padded: Column) -> Column:
        scores = _scores_of(padded)
        expr: Column = F.lit(LANG_ORDER[-1])
        # Build CASE chain back-to-front so earlier languages win ties.
        for lang in reversed(LANG_ORDER[:-1]):
            later = [scores[o] for o in LANG_ORDER[LANG_ORDER.index(lang) + 1 :]]
            cond = _reduce(lambda a, b: a & b, [scores[lang] >= o for o in later])
            expr = F.when(cond, F.lit(lang)).otherwise(expr)
        return expr

    return _let(_padded_norm(c), body)


def quality_score_expr(text: Column | str) -> Column:
    """Composite quality in [0,1]: stopword ratio, length, alpha ratio.

    quality = 0.4 * (en-marker hits / 5)
            + 0.3 * least(n_tokens / 100, 1)
            + 0.3 * (alpha-or-space chars / chars)
    """
    c = F.col(text) if isinstance(text, str) else text
    stop = _let(
        _padded_norm(c), lambda p: _scores_of(p)["en"]
    ).cast("double") / float(len(MARKER_WORDS["en"]))
    n_tok = token_count_expr(c).cast("double")
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    alpha = F.length(F.regexp_replace(F.lower(c), r"[^a-z ]", ""))
    # zero-length guard: under Spark's ANSI default an empty doc would
    # throw DIVIDE_BY_ZERO and abort the whole filter pass — an empty doc
    # scores 0 on the alpha component instead (oracle mirrors this CASE).
    alpha_ratio = F.when(
        F.length(c) > 0, alpha.cast("double") / F.length(c).cast("double")
    ).otherwise(F.lit(0.0))
    return F.lit(0.4) * stop + F.lit(0.3) * len_score + F.lit(0.3) * alpha_ratio


def polyhash_expr(s: Column) -> Column:
    """Rolling polynomial hash h = (h*31 + code(ch)) mod 1e9+7 over chars.

    Engine-portable: DuckDB computes the identical value via
    ``list_reduce(list_prepend(0, list_transform(string_split(s,''),
    c -> ascii(c))), (h,c) -> (h*31+c) % 1000000007)``.
    """
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda h, ch: (h * POLY_BASE + F.ascii(ch)) % POLY_MOD,
    )


def fingerprint_expr(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return polyhash_expr(F.lower(c))


def fingerprint_fast_expr(text: Column | str) -> Column:
    """Production fast path: xxhash64 of the lowercased text — JVM-native
    and whole-stage-codegen'd (the polyhash above walks chars through an
    interpreted higher-order fold; fine for oracle parity, ~10x slower per
    byte). NOT oracle-portable — DuckDB has no xxhash64 — so declared
    queries use ``fingerprint_expr``; pipelines that only need a stable
    dedup/join key should use this one."""
    c = F.col(text) if isinstance(text, str) else text
    return F.xxhash64(F.lower(c))


def token_percentiles(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
    method: str = "disc",
    count_expr: Column | None = None,
) -> DataFrame:
    """Per-group token-count distribution: n_docs, max, and the requested
    quantiles as p{q} columns.

    - ``disc`` (default): ``percentile_disc`` — an ACTUAL order statistic
      (smallest value with CDF >= q). Engine-portable bit-for-bit (DuckDB
      quantile_disc agrees exactly; interpolating variants differ in ulp-
      level fraction handling across engines), which is why the declared
      query q40 pins this method.
    - ``cont``: ``percentile()`` — ANSI percentile_cont linear
      interpolation (numpy 'linear'). Both exact methods buffer each
      group's values in aggregation state: right for bounded group counts
      (per-source/per-shard dashboards), wrong for huge groups.
    - ``approx``: ``approx_percentile`` — t-digest-style sketch, O(1)
      state per group, mergeable map-side: the 100 TB path.

    ``count_expr`` overrides the per-doc token count (default whitespace
    ``token_count_expr``) — e.g. ``bpe.bpe_token_count_expr`` for
    percentiles in trained subword units (round 8).
    """
    if method not in ("disc", "cont", "approx"):
        raise ValueError(f"method must be disc|cont|approx, got {method!r}")
    if method == "disc":
        pcols = [
            F.round(
                F.expr(f"percentile_disc({q!r}) WITHIN GROUP (ORDER BY n_tokens)"), 4
            )
            .cast("double")
            .alias(f"p{int(q * 100)}")
            for q in quantiles
        ]
    else:
        qlist = ", ".join(repr(float(q)) for q in quantiles)
        fn = "percentile" if method == "cont" else "approx_percentile"
        agg = F.expr(f"{fn}(n_tokens, array({qlist}))")
        pcols = [
            F.round(agg[i], 4).cast("double").alias(f"p{int(q * 100)}")
            for i, q in enumerate(quantiles)
        ]
    cols = [
        F.count("*").cast("long").alias("n_docs"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        *pcols,
    ]
    n_tok = count_expr if count_expr is not None else token_count_expr(text_col)
    d = df.select(F.col(by), n_tok.cast("double").alias("n_tokens"))
    return d.groupBy(by).agg(*cols)


# ---------------------------------------------------------------------------
# Hashed TF / TF-IDF featurization -> GLM `features array<double>`
#
# One physical path: ONE narrow mapInPandas tokenizes, hashes (with a
# capped task-lifetime memo — Zipf head tokens hash once, not per
# occurrence) and aggregates each doc's bucket counts in a single pass.
# hashing_tf is then ZERO-shuffle end-to-end; tfidf adds only the tiny
# O(num_features) doc-frequency aggregate. The Python tokenizer/hash twins
# below equal ``tokens_expr`` + ``polyhash_expr`` bit-for-bit (pytest
# compares them over the real multilingual corpus), so the bucket of a
# token is the one the DuckDB oracle derives.
# ---------------------------------------------------------------------------
# Exactly Java regex \s (NON-unicode): Spark's split(text, '\\s+') without
# UNICODE_CHARACTER_CLASS. Python's re \s is unicode-aware and would also
# split on e.g. \xa0 — pin the ASCII class so the twin equals tokens_expr.
_JAVA_WS = None  # compiled lazily (keep module import cheap)


def _polyhash_py(s: str) -> int:
    """Driver/worker-side twin of ``polyhash_expr`` (same value)."""
    h = 0
    for c in s:
        h = (h * POLY_BASE + ord(c)) % POLY_MOD
    return h


def _tokenize_py(text: str | None) -> list[str]:
    """Worker-side twin of ``tokens_expr`` + the length>0 filter."""
    global _JAVA_WS
    if _JAVA_WS is None:
        import re

        _JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
    if not text:
        return []
    return [t for t in _JAVA_WS.split(text.lower()) if t]


def _sparse_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_features: int,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, buckets array<int>, tfs array<double>) — one row per doc, the
    doc's complete hashed-TF in sparse form, built in ONE narrow
    mapInPandas pass (a doc lives in exactly one Arrow batch, so its
    aggregation completes in-batch; no shuffle). Token-less docs emit
    empty arrays (callers filter them out: a token-less doc has no row).
    ``carry_cols`` ride through unchanged (output rows are 1:1 with input
    rows) — the r13 job-shape fix that lets ``fit_text_classifier`` keep
    the label on the featurized row instead of joining it back on doc id
    (guide §2.4: that join was two avoidable exchanges of doc-scale
    rows)."""
    import pandas as pd

    from dask_glm_spark.plans.layout import ensure_min_parallelism

    # Reserved-name guard (ADVICE r13): a carry column colliding with the
    # id/text columns or the sparse output columns would silently produce
    # a wrong/overwritten schema.
    reserved = {id_col, text_col, "buckets", "tfs"}
    clash = [c for c in carry_cols if c in reserved]
    if clash:
        raise ValueError(
            f"carry_cols {clash} collide with reserved output columns "
            f"({sorted(reserved)})"
        )

    id_type = df.schema[id_col].dataType.simpleString()
    nf = int(num_features)

    def build(batches):
        from collections import Counter

        # Task-lifetime memo, CAPPED: the Zipf head (which is what repays
        # caching) fits in the first ~1M distinct tokens; without the cap
        # a long-lived task would accumulate its partition's entire
        # vocabulary — unbounded memory at web-corpus vocab sizes.
        MEMO_MAX = 1 << 20
        memo: dict[str, int] = {}
        for pdf in batches:
            ids, bks, tfs = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                cnt: Counter = Counter()
                for t in _tokenize_py(text):
                    b = memo.get(t)
                    if b is None:
                        b = _polyhash_py(t) % nf
                        if len(memo) < MEMO_MAX:
                            memo[t] = b
                    cnt[b] += 1
                items = sorted(cnt.items())
                ids.append(doc_id)
                bks.append([k for k, _ in items])
                tfs.append([float(v) for _, v in items])
            out = pd.DataFrame({id_col: ids, "buckets": bks, "tfs": tfs})
            for c in carry_cols:
                out[c] = pdf[c].reset_index(drop=True)
            yield out

    carry_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in carry_cols
    )
    return ensure_min_parallelism(
        df.select(id_col, text_col, *carry_cols)
    ).mapInPandas(
        build,
        f"{id_col} {id_type}, buckets array<int>, tfs array<double>"
        f"{carry_schema}",
    )


def _dense_from_sparse_rows(
    sparse: DataFrame,
    id_col: str,
    num_features: int,
    scale: list[float] | tuple | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, features array<double>) from the one-row-per-doc sparse form:
    a narrow vectorized numpy scatter (zero shuffle), with ``scale`` (e.g.
    idf) folded into the same pass. ``carry_cols`` ride through 1:1
    (r14, guide §2.4 — the dense twin of the _sparse_rows seam)."""
    import numpy as np
    import pandas as pd

    if "features" in carry_cols or id_col in carry_cols:
        raise ValueError(
            f"carry_cols {carry_cols!r} collide with the output columns"
        )
    id_type = sparse.schema[id_col].dataType.simpleString()
    nf = int(num_features)
    # scale: dense list (low dims — folds into the closure) or the sparse
    # (sorted buckets, idf) pair from _sparse_idf, shipped ONCE per
    # executor as a real broadcast instead of riding every task closure.
    scale_bc = None
    scale_arr = None
    if isinstance(scale, tuple):
        scale_bc = sparse.sparkSession.sparkContext.broadcast(scale)
    elif scale is not None:
        scale_arr = np.asarray(scale, dtype=np.float64)

    def scatter(batches):
        kv = scale_bc.value if scale_bc is not None else None
        for pdf in batches:
            feats = []
            for bks, tfs in zip(pdf["buckets"], pdf["tfs"]):
                v = np.zeros(nf, dtype=np.float64)
                if len(bks):
                    b_arr = np.asarray(bks, dtype=np.int64)
                    t_arr = np.asarray(tfs, dtype=np.float64)
                    if kv is not None:
                        ks, vs = kv
                        t_arr = t_arr * vs[np.searchsorted(ks, b_arr)]
                    v[b_arr] = t_arr
                if scale_arr is not None:
                    v *= scale_arr
                feats.append(v.tolist())
            out = pd.DataFrame({id_col: pdf[id_col], "features": feats})
            for c in carry_cols:
                out[c] = pdf[c].reset_index(drop=True)
            yield out

    carry_schema = "".join(
        f", {c} {sparse.schema[c].dataType.simpleString()}"
        for c in carry_cols
    )
    return sparse.mapInPandas(
        scatter,
        f"{id_col} {id_type}, features array<double>{carry_schema}",
    )


def _idf_literals(n_docs: int, idf_map: dict[int, float], num_features: int) -> list[float]:
    """Smoothed idf factors ln((N+1)/(df+1)) over every bucket — the dense
    ``scale`` form (``_sparse_idf`` is the high-dim broadcast form)."""
    import math

    return [
        math.log((n_docs + 1.0) / (idf_map.get(b, 0.0) + 1.0))
        for b in range(num_features)
    ]


# Above this many hashed dims the dense idf list stops being a harmless
# literal (2^20 buckets = an 8 MB Python list on the driver AND in every
# task closure — ADVICE r5) and ships instead as a sparse broadcast.
IDF_DENSE_MAX = 1 << 16


def _sparse_idf(n_docs: int, idf_map: dict[int, float]):
    """Sorted (buckets, idf) arrays over the NONZERO-df buckets only — the
    broadcast form of ``_idf_literals`` for high-dim hashed spaces. Exact:
    a bucket appearing in any doc's vector has df >= 1 (that doc's own
    occurrence), so df=0 buckets are never looked up; their idf would only
    ever multiply a structural zero. Same ln((N+1)/(df+1)) smoothing as
    the dense form (parity pytest-pinned at 4096 dims)."""
    import math

    import numpy as np

    ks = np.sort(
        np.fromiter(idf_map.keys(), dtype=np.int64, count=len(idf_map))
    )
    vals = np.array(
        [math.log((n_docs + 1.0) / (idf_map[int(b)] + 1.0)) for b in ks],
        dtype=np.float64,
    )
    return ks, vals


def hashing_tf_sparse(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_features: int = 64,
) -> DataFrame:
    """Sparse hashed-TF: (id, bucket long, tf double), nonzero entries only
    — the q26 surface: one narrow ``_sparse_rows`` pass + an in-row array
    unzip."""
    s = _sparse_rows(df, text_col, id_col, num_features)
    z = s.select(
        F.col(id_col), F.explode(F.arrays_zip("buckets", "tfs")).alias("z")
    )
    return z.select(
        id_col,
        F.col("z.buckets").cast("long").alias("bucket"),
        F.col("z.tfs").cast("double").alias("tf"),
    )


def hashing_tf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_features: int = 64,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Hashed term-frequency vectors: (id_col, features array<double>).

    ONE narrow mapInPandas pass tokenizes and memo-hashes, then a second
    narrow pass scatters to dense — ZERO shuffles end-to-end. Docs with no
    tokens emit no row. ``carry_cols`` (r14) ride the featurizing pass
    1:1 — the seam that lets a caller keep its label/metadata on the
    featurized row instead of joining it back on doc id (guide §2.4: that
    join is two exchanges of doc-scale rows)."""
    sparse = _sparse_rows(
        df, text_col, id_col, num_features, carry_cols=carry_cols
    ).where(F.size("buckets") > 0)
    return _dense_from_sparse_rows(
        sparse, id_col, num_features, carry_cols=carry_cols
    )


def tfidf_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_features: int = 64,
) -> DataFrame:
    """TF-IDF vectors: tf(d, b) * ln((N + 1) / (df(b) + 1)).

    The raw corpus is scanned exactly ONCE: the sparse per-doc rows from
    the single narrow ``_sparse_rows`` pass are persisted, and everything
    else derives from them — N = docs with >= 1 token (token-less docs
    carry no TF mass, so excluding them is the self-consistent
    definition) and df(b) come from one tiny aggregate on the same cache,
    the only shuffle in the whole operator (O(nnz) -> O(k)). The idf
    factors fold INTO the dense build (P8 broadcast-as-constant), so the
    scaled vectors cost no extra pass. The cache is left to Spark's LRU
    (the returned projection reads it).
    """
    from pyspark import StorageLevel

    sparse = (
        _sparse_rows(df, text_col, id_col, num_features)
        .where(F.size("buckets") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # N and df(b) in ONE job: each doc contributes a -1 sentinel plus
    # its distinct buckets, so the same tiny groupBy yields the doc
    # count (sentinel row) and every doc-frequency.
    # AQE-bypass scale audit (r14, VERDICT r13 #6): the groupBy keys
    # are BOUNDED (num_features+1 buckets) and the built-in agg
    # partial-aggregates map-side, so the exchange carries at most
    # O(partitions × nf) rows at any corpus scale; the sparse cache
    # itself materializes through a NARROW chain (mapInPandas over
    # the scan — zero exchanges), which AQE never touches. Bounded
    # exchange + tiny result = in-scope for kernel_exec.
    with kernel_exec(df.sparkSession):
        idf_map = {
            int(r["bucket"]): float(r["df"])
            for r in sparse.select(
                F.explode(
                    F.concat(F.array(F.lit(-1)), F.col("buckets"))
                ).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count("*").cast("double").alias("df"))
            .collect()
        }
    # default 0: an all-empty corpus yields no sentinel rows at all
    n_docs = int(idf_map.pop(-1, 0))
    idf = (
        _sparse_idf(n_docs, idf_map)
        if num_features > IDF_DENSE_MAX
        else _idf_literals(n_docs, idf_map, num_features)
    )
    return _dense_from_sparse_rows(sparse, id_col, num_features, scale=idf)


def tokens_projection(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, toks array<string>)`` with empty tokens filtered — the ONE
    tokenized projection both LM scorers (and any other token consumer)
    can share: tokenization is the expensive regex over the full text, so
    a pipeline that scores unigram AND bigram quality should build this
    once, ``persist()`` it, and pass it to both via ``tokens_df`` (the
    ``cms_counters`` hook convention) instead of paying two text scans.
    Token order is preserved, so pairs derived from ``toks`` equal pairs
    derived from the raw text."""
    from dask_glm_spark.plans.layout import ensure_min_parallelism

    return ensure_min_parallelism(df).select(
        F.col(id_col),
        F.filter(tokens_expr(text_col), lambda t: F.length(t) > 0).alias(
            "toks"
        ),
    )


def unigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 50_000,
    oov_logp: float | None = None,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Per-doc mean unigram log-probability — the classic model-based
    quality signal (CCNet-style filtering, with the corpus's own unigram
    LM standing in for KenLM): fluent in-domain text scores high,
    gibberish and boilerplate-mix score low.

    (id, n_tokens, mean_logp): p(tok) = corpus_count/total over ALL
    tokens; only the ``top_k`` most frequent tokens ride the broadcast
    (bounded at any corpus size — a Zipf tail adds nothing to the
    signal), everything else scores ``oov_logp`` (default: half the
    rarest possible count, ln(0.5/total)).

    Plan shape at 100 TB: one wordcount aggregate (map-side combine) for
    the model + one driver scalar, then scoring is explode (narrow) ->
    BROADCAST join on the token -> one groupBy(id) average — a single
    doc-keyed shuffle; no vocabulary-sized per-doc state anywhere.
    Deterministic: vocab truncation ties break by token, and the model
    depends only on corpus content.
    """
    import math

    from pyspark import StorageLevel

    from dask_glm_spark.plans.layout import ensure_min_parallelism

    if tokens_df is not None:
        # caller-supplied (id, toks) projection (see tokens_projection) —
        # usually persisted and shared with the bigram scorer; exploding
        # from cached arrays is narrow and cheap, so no second persist
        tok = tokens_df.select(F.col(id_col), F.explode("toks").alias("tok"))
    else:
        # Persisted (the tfidf convention, left to Spark's LRU): the
        # explode + tokenize feeds BOTH the model aggregate and the scoring
        # join — unpersisted it re-tokenized the whole corpus in each job
        # (VERDICT r6 #2).
        tok = (
            ensure_min_parallelism(df)
            .select(
                F.col(id_col), F.explode(tokens_expr(text_col)).alias("tok")
            )
            .where(F.length("tok") > 0)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    # counts feeds two driver jobs (total, vocab top-k) — persisting the
    # O(vocab) result skips the second full wordcount shuffle over the cache
    counts = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    with kernel_exec(df.sparkSession):
        total = counts.agg(F.sum("c")).first()[0] or 0
    if total == 0:
        # empty corpus: every doc reports zero tokens
        return df.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("n_tokens"),
            F.lit(0.0).alias("mean_logp"),
        )
    vocab = (
        counts.orderBy(F.desc("c"), F.asc("tok"))
        .limit(int(top_k))
        .select(
            "tok", F.log(F.col("c") / F.lit(float(total))).alias("logp")
        )
    )
    if oov_logp is None:
        oov_logp = math.log(0.5 / total)
    scored = tok.join(F.broadcast(vocab), "tok", "left")
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.avg(F.coalesce("logp", F.lit(float(oov_logp)))), 6)
        .cast("double")
        .alias("mean_logp"),
    )


def _pairs_of_tokens(tk: Column) -> Column:
    """Adjacent pairs of an (already empty-filtered) token array; <2
    tokens → empty array — guarded, since Spark's ``sequence(1, 0)``
    counts DOWN rather than returning empty."""
    return F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.struct(
                F.element_at(tk, i).alias("prev"),
                F.element_at(tk, i + 1).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))


def bigram_pairs_expr(text: Column | str) -> Column:
    """array<struct<prev,cur>> of adjacent token pairs (empty tokens
    dropped)."""
    tkf = F.filter(tokens_expr(text), lambda t: F.length(t) > 0)
    return _let(tkf, _pairs_of_tokens)


def bigram_logprob_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 200_000,
    top_k_uni: int = 50_000,
    backoff: float = 0.4,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Per-doc mean bigram CONDITIONAL log-probability with stupid
    backoff — the order-2 companion to ``unigram_logprob_scores`` (a much
    sharper fluency signal: shuffled-token gibberish keeps its unigram
    score but collapses under transition probabilities).

    (id, n_bigrams, mean_logp2) where each transition scores

        ln(c(prev,cur) / c(prev·))      bigram in the top_k table
        ln(backoff · c(cur) / total)    else, cur in the unigram table
        ln(backoff · 0.5 / total)       else (OOV cur)

    ``c(prev·)`` is the exact HISTORY count (occurrences of prev followed
    by anything — one aggregate over the same pair rows, not the unigram
    count, so doc-final tokens don't inflate the denominator). Brants et
    al. 2007's stupid backoff: no discounting, one fixed factor — the
    scale-friendly choice. Docs with <2 non-empty tokens have no
    transitions and are absent from the result (the unigram scorer's
    presence convention).

    Plan shape at 100 TB: pair derivation is one narrow per-doc
    transform; the model is two map-side-combinable aggregates (pairs,
    histories) truncated to bounded broadcasts (count desc, pair asc —
    deterministic); scoring is two broadcast left joins + one
    groupBy(id). The pair table persists across the model/scoring jobs
    (the unigram single-tokenize convention). ``tokens_df``: a
    caller-persisted ``tokens_projection`` shared with the unigram scorer
    — skips this scorer's own tokenize+persist entirely (round 8,
    VERDICT r7 #2)."""
    import math

    from pyspark import StorageLevel

    from dask_glm_spark.plans.layout import ensure_min_parallelism

    if tokens_df is not None:
        # caller-supplied (id, toks) projection (see tokens_projection) —
        # pair derivation from cached arrays is one narrow transform per
        # consuming job, cheaper than persisting an exploded pair table
        bi = tokens_df.select(
            F.col(id_col), F.explode(_pairs_of_tokens(F.col("toks"))).alias("p")
        ).select(
            id_col, F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
        )
        owns_cache = False
    else:
        bi = (
            ensure_min_parallelism(df)
            .select(
                F.col(id_col), F.explode(bigram_pairs_expr(text_col)).alias("p")
            )
            .select(
                id_col, F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        owns_cache = True
    pair_counts = (
        bi.groupBy("prev", "cur")
        .agg(F.count("*").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    with kernel_exec(df.sparkSession):
        total = pair_counts.agg(F.sum("c")).first()[0] or 0
    if total == 0:
        if owns_cache:
            bi.unpersist()
        pair_counts.unpersist()
        return df.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("n_bigrams"),
            F.lit(0.0).alias("mean_logp2"),
        ).limit(0)
    hist = pair_counts.groupBy("prev").agg(F.sum("c").alias("ch"))
    model = (
        pair_counts.orderBy(F.desc("c"), F.asc("prev"), F.asc("cur"))
        .limit(int(top_k))
        .join(hist, "prev")
        .select(
            "prev", "cur",
            F.log(F.col("c") / F.col("ch")).alias("blogp"),
        )
    )
    # unigram backoff table over the SAME token stream (cur occurrences)
    uni = (
        bi.groupBy(F.col("cur").alias("tok"))
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(int(top_k_uni))
        .select(
            F.col("tok").alias("cur"),
            (F.log(F.col("c") / F.lit(float(total))) + F.lit(math.log(backoff)))
            .alias("ulogp"),
        )
    )
    oov = math.log(backoff * 0.5 / total)
    scored = bi.join(F.broadcast(model), ["prev", "cur"], "left").join(
        F.broadcast(uni), "cur", "left"
    )
    out = scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(
            F.avg(F.coalesce("blogp", "ulogp", F.lit(float(oov)))), 6
        ).cast("double").alias("mean_logp2"),
    )
    return out


def fit_text_classifier(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_features: int = 256,
    regularizer="l2",
    lamduh: float = 1e-3,
    max_iter: int = 100,
    sparse: bool | None = None,
):
    """FastText-style linear text classifier: hashed token counts →
    jointly-fit softmax (`Bag of Tricks for Efficient Text
    Classification`, Joulin et al. 2016 — the linear-over-hashed-features
    recipe, minus subword n-grams).

    One `hashing_tf` pass featurizes (zero shuffles), then
    `SoftmaxRegression` fits all k classes in one fused scan per L-BFGS
    evaluation. Standardization is OFF: hashed count columns are
    already commensurate, and empty buckets (constant-0 columns) would
    trip the reference's >1-constant-column guard. Docs whose text
    yields no tokens carry no features and drop out of training.

    `sparse` selects the feature representation: dense arrays keep the
    whole-stage-codegen scoring path at small dims; wide-sparse
    (findices, fvalues) rows keep fit AND scoring O(nnz) per row —
    mandatory at fastText-scale bucket counts (2^18+), where densifying
    multiplies bytes by num_features/tokens. Default: auto (sparse past
    4096 buckets). Sparse fits carry no intercept (reference xfail
    parity).

    Returns the fitted SoftmaxRegression; featurize scoring input with
    the SAME num_features via `classify_text`."""
    from dask_glm_spark.operators.estimators import SoftmaxRegression

    if sparse is None:
        sparse = num_features > 4096
    if sparse:
        # label rides the featurizing scan itself (carry_cols) — joining
        # it back on doc id cost two exchanges of doc-scale rows for data
        # that was already on the row (r13, guide §2.4)
        rows = _sparse_rows(
            docs.withColumn("label", F.col(label_col)),
            text_col, id_col, num_features, carry_cols=("label",),
        ).where(F.size("buckets") > 0)
        data = rows.select(
            F.col("buckets").alias("findices"),
            F.col("tfs").alias("fvalues"),
            "label",
        )
        model = SoftmaxRegression(
            solver="lbfgs", regularizer=regularizer, lamduh=lamduh,
            max_iter=max_iter, fit_intercept=False,
        )
        model.fit(data, p=num_features)
    else:
        # label rides the featurizing scan itself (r14, the sparse twin's
        # r13 fix): the old feats.join(labels, id_col) was two exchanges
        # of doc-scale rows for data already on the row
        feats = hashing_tf(
            docs.withColumn("label", F.col(label_col)),
            text_col=text_col, id_col=id_col, num_features=num_features,
            carry_cols=("label",),
        )
        data = feats.select("features", "label")
        model = SoftmaxRegression(
            solver="lbfgs", regularizer=regularizer, lamduh=lamduh,
            max_iter=max_iter,
        )
        model.fit(data, normalize=False)
    model.num_features_ = num_features
    model.sparse_ = sparse
    return model


def classify_text(
    model,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_features: int | None = None,
    sparse: bool | None = None,
) -> DataFrame:
    """Score documents with a `fit_text_classifier` model: one featurize
    pass + the estimator's single predict pass. Returns (id_col, label).
    Docs with no tokens emit no row (no features to score).

    ``num_features``/``sparse`` override the model's recorded
    featurization (required for models reloaded from JSON persistence,
    which round-trips coefficients but not these annotations — pass the
    values used at fit time)."""
    nf = num_features if num_features is not None else model.num_features_
    sp = sparse if sparse is not None else getattr(model, "sparse_", False)
    if sp:
        feats = _sparse_rows(docs, text_col, id_col, nf).where(
            F.size("buckets") > 0
        ).select(
            id_col,
            F.col("buckets").alias("findices"),
            F.col("tfs").alias("fvalues"),
        )
    else:
        feats = hashing_tf(
            docs, text_col=text_col, id_col=id_col, num_features=nf
        )
    return model.predict(feats).select(
        id_col, F.col("prediction").alias("label")
    )


def vocab_topk_by(
    df: DataFrame,
    by: str,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Per-group heavy hitters: the k most frequent tokens within each
    ``by`` group (tf desc, token asc — the q36 total order, per group).

    One explode + one (group, token) count aggregate + the shared
    Window-free ``grouped_topk`` — a group with a huge vocabulary never
    funnels through one window task. Returns (by, token, tf, rank).
    Empty tokens are filtered (the TF-path convention)."""
    from dask_glm_spark.operators.topk import grouped_topk

    toks = df.select(
        F.col(by), F.explode(tokens_expr(text_col)).alias("token")
    ).where(F.length("token") > 0)
    counts = toks.groupBy(by, "token").agg(
        F.count("*").cast("long").alias("tf")
    )
    ranked = grouped_topk(
        counts.withColumn("_ntf", -F.col("tf")),
        by, ["_ntf", "token"], k, carry_cols=["tf"], rank_col="rank",
    )
    return ranked.select(by, "token", "tf", "rank")


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    form: str = "NFKC",
    lowercase: bool = False,
    strip_accents: bool = False,
    collapse_whitespace: bool = False,
) -> DataFrame:
    """Unicode normalization — the canonical step BEFORE fingerprinting /
    shingling (visually-identical strings with different codepoint
    sequences, fullwidth forms, ligatures, etc. otherwise defeat exact
    and near dedup alike).

    - ``form``: NFC / NFKC / NFD / NFKD via pandas' vectorized
      ``str.normalize`` in one Arrow pass (no per-row Python loop);
    - ``strip_accents``: decompose (NFKD) → drop combining marks →
      recompose to ``form``;
    - ``lowercase`` / ``collapse_whitespace``: the usual casefold and
      single-space folding, applied after normalization.

    NULL text stays NULL; all other input columns ride through unchanged.
    """
    import unicodedata

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"form must be NFC|NFKC|NFD|NFKD, got {form!r}")
    out_col = out_col or text_col
    cols = df.columns

    def op(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            s = pdf[text_col]
            mask = s.notna()
            t = s[mask].astype(str)
            if strip_accents:
                t = t.str.normalize("NFKD")
                t = t.map(
                    lambda x: "".join(
                        ch for ch in x if not unicodedata.combining(ch)
                    )
                )
                t = pd.Series(t, index=s[mask].index).str.normalize(form)
            else:
                t = t.str.normalize(form)
            if lowercase:
                t = t.str.casefold()
            if collapse_whitespace:
                t = t.str.replace(r"\s+", " ", regex=True).str.strip()
            res = pd.Series([None] * len(s), index=s.index, dtype=object)
            res[mask] = t
            out = {c: pdf[c] for c in cols if c != out_col}
            out[out_col] = res
            yield pd.DataFrame(out)

    keep = [c for c in cols if c != out_col]
    fields = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keep
    )
    schema = f"{fields}, {out_col} string" if keep else f"{out_col} string"
    res = df.mapInPandas(op, schema=schema)
    return res.select(*(cols if out_col in cols else [*cols, out_col]))
