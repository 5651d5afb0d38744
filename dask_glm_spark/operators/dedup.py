"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Beyond-reference surface (SURVEY.md §7 step 10). Scale contract — the part
the 100 TB design hinges on:

- **Never all-pairs.** Candidate generation is always a *bucketed
  equi-join*: MinHash band keys, SimHash bands, or a caller-supplied block
  column. The only O(pairs) work is the verification of candidates that
  already share a bucket (LSH guarantees that's a vanishing fraction of
  n²/2 at any realistic threshold).
- **Narrow until the join.** Shingling, hashing, signatures are per-row
  maps: the pair operators run one vectorized Arrow (mapInPandas) pass,
  bit-identical to the built-in expression chain that the incremental
  variants and the DuckDB oracle use. The band explode multiplies rows by
  BANDS (a small constant), then one shuffle on the band key. Skewed
  buckets (e.g. a boilerplate header shared by millions of docs) are
  handled by AQE skew-join plus the ``max_bucket`` guard that drops
  degenerate buckets (observable via ``lsh_bucket_stats`` or
  ``log_dropped=True``).
- All hashes derive from the engine-portable 31-base polynomial hash
  (operators/text.py), so signatures are deterministic across runs,
  sessions, and engines — the DuckDB oracle can recompute them exactly.
"""

from __future__ import annotations

import logging

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_glm_spark.operators.text import (
    POLY_BASE,
    POLY_MOD,
    polyhash_expr,
    tokens_expr,
)
from dask_glm_spark.plans.layout import ensure_min_parallelism

_log = logging.getLogger(__name__)

SHINGLE_K = 3
NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = NUM_PERM // BANDS

# Fixed affine-permutation parameters (a*h + b) mod POLY_MOD, deterministic
# across runs — generated once from the classic MINSTD LCG (seed 42) and
# frozen here so the oracle can hardcode the same values.
_LCG_M = 2_147_483_647


def _minstd(seed: int, n: int) -> list[int]:
    out, x = [], seed
    for _ in range(n):
        x = (x * 16807) % _LCG_M
        out.append(x)
    return out


PERM_A = [a | 1 for a in _minstd(42, NUM_PERM)]  # odd => invertible-ish
PERM_B = _minstd(4242, NUM_PERM)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(
    df: DataFrame, cols: list[str], order_col: str | None = None
) -> DataFrame:
    """Keep one REAL row per distinct `cols` value.

    The survivor is the whole row whose non-key tuple is lexicographically
    smallest — ordered by ``order_col`` first when given (e.g. a stable doc
    id), then the remaining columns as tie-break. Implemented as a single
    ``min(struct(...))`` aggregate (one hash-shuffle on the dedup key, full
    map-side partial aggregation, no window sort), so the pick is
    deterministic across partitionings AND every output row existed in the
    input — unlike per-column ``min`` which can stitch values from
    different duplicates into a row that never existed.
    """
    other = [c for c in df.columns if c not in cols]
    if not other:
        return df.distinct()
    ordered = other
    if order_col is not None:
        if order_col not in other:
            raise ValueError(f"order_col {order_col!r} must be a non-key column")
        ordered = [order_col] + [c for c in other if c != order_col]
    w = df.groupBy(*cols).agg(
        F.min(F.struct(*[F.col(c) for c in ordered])).alias("_survivor")
    )
    return w.select(
        *cols, *[F.col(f"_survivor.{c}").alias(c) for c in other]
    ).select(df.columns)


def duplicate_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """(dup_groups, dup_rows): groups with >1 identical `cols`, and the
    number of redundant rows they contain."""
    g = df.groupBy(*cols).agg(F.count("*").alias("c")).where(F.col("c") > 1)
    return g.agg(
        F.coalesce(F.count("*"), F.lit(0)).cast("long").alias("dup_groups"),
        F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("long").alias("dup_rows"),
    )


# ---------------------------------------------------------------------------
# Shingles + MinHash + banded LSH
# ---------------------------------------------------------------------------
def shingles_expr(text: Column | str, k: int = SHINGLE_K) -> Column:
    """Distinct k-token shingles (space-joined). Docs shorter than k tokens
    contribute their full token string as a single shingle."""
    toks = tokens_expr(text)
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.array_distinct(F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", toks))))


# Shared let-binding combinator (promoted to functions/exprs in round 7):
# without it the shingle-hash array would be recomputed once per
# permutation/band (measured 10-60x slowdowns on the MinHash/SimHash paths).
from dask_glm_spark.functions.exprs import let as _let  # noqa: E402


def shingle_hashes_expr(text: Column | str, k: int = SHINGLE_K) -> Column:
    return F.transform(shingles_expr(text, k), polyhash_expr)


def minhash_signature_from_hashes(hashes: Column) -> Column:
    """Signature from an already-computed shingle-hash array: ONE fold that
    updates all NUM_PERM running minima per hash, so the (expensive)
    shingle hashing happens exactly once per row."""
    # sentinel: every permuted value is < POLY_MOD, so POLY_MOD = +inf here
    init = F.array_repeat(F.lit(POLY_MOD).cast("long"), NUM_PERM)

    def merge(acc: Column, h: Column) -> Column:
        perms = F.array(*[(h * a + b) % POLY_MOD for a, b in zip(PERM_A, PERM_B)])
        return F.zip_with(acc, perms, lambda x, y: F.least(x, y))

    return F.aggregate(hashes, init, merge)


def minhash_signature_expr(text: Column | str, k: int = SHINGLE_K) -> Column:
    """NUM_PERM-long signature: sig[i] = min over shingles of (a_i*h + b_i)
    mod 1e9+7."""
    return minhash_signature_from_hashes(shingle_hashes_expr(text, k))


def band_keys_expr(sig: Column) -> Column:
    """BANDS band keys: polyhash of the '-'-joined signature slice, salted
    with the band index so different bands never collide. The signature is
    let-bound so it is computed once, not once per band."""

    def body(s: Column) -> Column:
        keys = []
        for b in range(BANDS):
            piece = F.concat_ws(
                "-",
                F.lit(str(b)),
                *[s[b * ROWS_PER_BAND + r].cast("string") for r in range(ROWS_PER_BAND)],
            )
            keys.append(polyhash_expr(piece))
        return F.array(*keys)

    return _let(sig, body)


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = SHINGLE_K
) -> DataFrame:
    return df.select(
        F.col(id_col),
        minhash_signature_expr(text_col, k).alias("signature"),
    )


def banded_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SHINGLE_K,
) -> DataFrame:
    """(id, band_key) rows: narrow signature map -> explode BANDS rows/doc."""
    sig = df.select(
        F.col(id_col), band_keys_expr(minhash_signature_expr(text_col, k)).alias("bands")
    )
    return sig.select(id_col, F.explode("bands").alias("band_key"))


def lsh_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SHINGLE_K,
    max_bucket: int = 10_000,
    banded: DataFrame | None = None,
) -> DataFrame:
    """One-row recall-loss report for the ``max_bucket`` guard:
    (n_buckets, n_dropped_buckets, n_dropped_rows) where n_dropped_rows is
    the number of (doc, band) memberships in oversized buckets. Run this
    next to ``lsh_candidates`` to make silent bucket drops observable."""
    if banded is None:
        banded = banded_minhash(df, text_col, id_col, k)
    sizes = banded.groupBy("band_key").agg(F.count("*").alias("m"))
    over = F.col("m") > max_bucket
    return sizes.agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.coalesce(F.sum(over.cast("long")), F.lit(0)).cast("long").alias("n_dropped_buckets"),
        F.coalesce(F.sum(F.when(over, F.col("m"))), F.lit(0)).cast("long").alias("n_dropped_rows"),
    )


def lsh_candidates(
    df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SHINGLE_K,
    max_bucket: int = 10_000,
    banded: DataFrame | None = None,
    log_dropped: bool = False,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >= 1 MinHash band.

    Plan: (id, band_key) explode -> bucket-size COUNT (tiny aggregation
    state — ids are never collected) -> inner-join back to keep only
    usable buckets (2 <= m <= max_bucket; oversized buckets are filtered
    out BEFORE any pair materialization) -> band-key SELF-JOIN. Pairs come
    from a shuffle join, so AQE skew-split can fan a hot bucket across
    tasks — never a single collect_list row holding m ids and exploding
    m(m-1)/2 structs in one task.

    ``max_bucket`` drops degenerate buckets (a bucket of m docs contributes
    m(m-1)/2 pairs; at 100 TB a boilerplate bucket would otherwise
    quadratically explode — those docs are better handled by exact dedup
    upstream). Pass ``log_dropped=True`` to eagerly count and WARN-log the
    dropped buckets (one extra small job over the bucket-size aggregate),
    or call ``lsh_bucket_stats`` for the same numbers as a DataFrame.
    """
    if banded is None:
        if df is None:
            raise ValueError("either df or banded is required")
        banded = banded_minhash(df, text_col, id_col, k)
    sizes = banded.groupBy("band_key").agg(F.count("*").alias("m"))
    if log_dropped:
        from dask_glm_spark.functions.kernels import kernel_exec

        with kernel_exec(sizes.sparkSession):
            row = sizes.where(F.col("m") > max_bucket).agg(
                F.count("*").alias("b"),
                F.coalesce(F.sum("m"), F.lit(0)).alias("d"),
            ).collect()[0]
        if row["b"]:
            _log.warning(
                "lsh_candidates: dropped %d oversized buckets (> %d members) "
                "covering %d doc-band rows — recall may suffer; run exact "
                "dedup upstream or raise max_bucket",
                row["b"], max_bucket, row["d"],
            )
    ok_keys = sizes.where((F.col("m") > 1) & (F.col("m") <= max_bucket)).select("band_key")
    keep = banded.join(ok_keys, "band_key")
    l = keep.select("band_key", F.col(id_col).alias("id_a"))
    r = keep.select("band_key", F.col(id_col).alias("id_b"))
    pairs = l.join(r, "band_key").where(F.col("id_a") < F.col("id_b"))
    return pairs.select("id_a", "id_b").distinct()


def jaccard_expr(sh_a: Column, sh_b: Column) -> Column:
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = (F.size(sh_a) + F.size(sh_b)).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# Vectorized Arrow derivation of the MinHash projections (round 6)
# ---------------------------------------------------------------------------
def _np_polyhash_batch(strings, pow_cache):
    """Vectorized 31-base polyhash, bit-identical to ``polyhash_expr``:
    h(s) = sum_j code(s[j]) * 31^(n-1-j) mod 1e9+7 (Horner unrolled).
    Codepoints come from one ``utf-32-le`` reinterpret per string — no
    per-character Python. ``pow_cache`` is a growable [31^0, 31^1, ...]
    mod-table shared across the batch."""
    import numpy as np

    out = np.empty(len(strings), dtype=np.int64)
    for i, s in enumerate(strings):
        n = len(s)
        if n == 0:
            out[i] = 0
            continue
        while len(pow_cache) < n:
            pow_cache.append((pow_cache[-1] * POLY_BASE) % POLY_MOD)
        codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
            np.int64
        )
        p = np.asarray(pow_cache[n - 1 :: -1] if n > 1 else pow_cache[:1])
        out[i] = int((codes * p % POLY_MOD).sum() % POLY_MOD)
    return out


_JAVA_WS = "[ \t\n\x0b\f\r]+"  # java regex \s+ (ASCII classes only)


def _py_tokens(text: str) -> list[str]:
    r"""EXACTLY tokens_expr's semantics: lower -> trim (0x20 only, like
    UTF8String.trim) -> split on java \s+ keeping leading/trailing empty
    tokens (Spark F.split uses limit -1)."""
    import re

    return re.split(_JAVA_WS, text.lower().strip(" "))


def _py_shingles(text: str, k: int) -> list[str]:
    """EXACTLY shingles_expr's semantics: distinct k-token shingles in
    first-occurrence order; docs under k tokens contribute the full token
    string as one shingle."""
    toks = _py_tokens(text)
    if len(toks) >= k:
        return list(
            dict.fromkeys(
                " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
            )
        )
    return [" ".join(toks)]


def shingle_rows_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SHINGLE_K,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep_cols, sh array<string>) — the shingles-only arrow twin
    (used by the exact-Jaccard family where no signatures are needed);
    ``keep_cols`` ride through the same pass so no re-attach join is
    needed."""
    import pandas as pd

    cols = [id_col, *keep_cols]
    fields = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in cols
    )

    def op(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {c: pdf[c] for c in cols}
            out["sh"] = [_py_shingles(t or "", k) for t in pdf[text_col]]
            yield pd.DataFrame(out)

    return df.select(*cols, text_col).mapInPandas(
        op, schema=f"{fields}, sh array<string>"
    )



def minhash_rows_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SHINGLE_K,
    memo_cap: int = 2_000_000,
) -> DataFrame:
    """(id, sh array<string>, bands array<long>) in ONE mapInPandas pass —
    the vectorized twin of the shingles_expr/minhash/band_keys expression
    chain, producing BIT-IDENTICAL shingles, signatures, and band keys
    (parity pytest-pinned over the real multilingual corpus at two SFs).

    Why it exists: the expression chain runs through interpreted
    higher-order functions (no codegen) and re-walks every character of
    every shingle through a per-char fold — the single hottest map in the
    dedup family (q21/q32/q34/q35/q39). Here the per-shingle hash is one
    numpy multiply-sum over a utf-32 reinterpret, the NUM_PERM minima are
    one (perm x shingle) GEMM-shaped min-reduce, and a per-batch shingle
    memo exploits the near-dup-heavy corpora dedup exists for."""
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    a_arr = None  # built lazily inside the worker
    b_arr = None

    def op(batches):
        nonlocal a_arr, b_arr
        import numpy as np

        if a_arr is None:
            a_arr = np.asarray(PERM_A, dtype=np.int64)[:, None]
            b_arr = np.asarray(PERM_B, dtype=np.int64)[:, None]
        pow_cache = [1]
        memo: dict[str, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sh_col, bands_col = [], []
            for text in pdf[text_col]:
                shingles = _py_shingles(text or "", k)
                missing = [s for s in shingles if s not in memo]
                if missing:
                    hs = _np_polyhash_batch(missing, pow_cache)
                    memo.update(zip(missing, hs.tolist()))
                h = np.asarray([memo[s] for s in shingles], dtype=np.int64)
                if len(memo) > memo_cap:  # bound worker memory
                    # Repopulate with the CURRENT doc's full hash set (looked
                    # up above, before the clear) so the next doc's overlap
                    # with this one still hits; clearing to only `missing`
                    # would KeyError on previously-memoized shingles.
                    memo.clear()
                    memo.update(zip(shingles, h.tolist()))
                sig = ((h[None, :] * a_arr + b_arr) % POLY_MOD).min(axis=1)
                keys = [
                    "-".join(
                        [str(b)]
                        + [
                            str(int(sig[b * ROWS_PER_BAND + r]))
                            for r in range(ROWS_PER_BAND)
                        ]
                    )
                    for b in range(BANDS)
                ]
                bands = _np_polyhash_batch(keys, pow_cache)
                sh_col.append(shingles)
                bands_col.append(bands.tolist())
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "sh": sh_col,
                    "bands": bands_col,
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        op, schema=f"{id_col} {id_type}, sh array<string>, bands array<long>"
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    k: int = SHINGLE_K,
    path: str = "arrow",
) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates whose exact shingle
    Jaccard >= threshold. Verification joins shingle sets back by id (two
    broadcast-or-shuffle hash joins on the id key), touching only
    candidates — never n².

    Shingles and band keys come from ONE vectorized ``minhash_rows_arrow``
    pass (bit-identical to the oracle-shared ``shingles_expr`` /
    ``minhash_signature_expr`` / ``band_keys_expr`` chain, pytest-pinned
    over the real corpus). That projection is persisted and feeds both the
    band explode and the two verification join sides; the ``(id,
    band_key)`` explode is persisted so the bucket-size count and both
    self-join sides of candidate generation read it from cache. Both
    caches are O(n·small) — shingle arrays and one long per band row — and
    are left to Spark's LRU (the returned DataFrame is lazy and still
    reads them)."""
    # `path` stays only because glmbench/workloads.py passes path="arrow".
    if path != "arrow":
        raise ValueError(f"path must be 'arrow', got {path!r}")
    # Spread first: the shingle/signature map is the expensive work, and a
    # single-row-group input would otherwise compute it all in one task
    # (no-op at scale — see plans/layout.py).
    rows = minhash_rows_arrow(
        ensure_min_parallelism(df), text_col, id_col, k
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sh = rows.select(id_col, "sh")
    banded = rows.select(
        F.col(id_col), F.explode("bands").alias("band_key")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cands = lsh_candidates(id_col=id_col, banded=banded)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    j = cands.join(a, "id_a").join(b, "id_b")
    return (
        j.select(
            "id_a",
            "id_b",
            F.round(jaccard_expr(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
# 28, not 32: token hashes are polyhash values < 1e9+7 < 2^30, so bits 30
# and 31 of every token hash are structurally zero and a "32-bit" simhash
# carried two constant-zero bits — the top pigeonhole band had only 6
# informative bits, quadratically inflating its candidate buckets (review
# r5). 28 divides evenly into the default 4 bands (7 informative bits
# each); hamming distances are now over informative bits only. The DuckDB
# oracles (q22/q30) derive from this constant, so both engines moved
# together.
SIMHASH_BITS = 28


def simhash_expr(text: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """Classic SimHash over token polyhashes: bit j of the output is 1 iff
    the sum over tokens of ±1 (per token-hash bit j) is positive."""
    toks = F.array_distinct(tokens_expr(text))
    hashes = F.transform(toks, polyhash_expr)

    def bit_vote(j: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    def body(hs: Column) -> Column:
        # hs is the let-bound, already-evaluated hash array: the 32 bit
        # folds each walk the array values without re-hashing the tokens
        out = F.lit(0).cast("long")
        for j in range(bits):
            vote = F.aggregate(hs, F.lit(0).cast("long"), bit_vote(j))
            out = out + F.when(vote > 0, F.lit(2**j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return out

    return _let(hashes, body)


def hamming_expr(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_rows_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    memo_cap: int = 2_000_000,
) -> DataFrame:
    """(id, simhash long) — vectorized twin of ``simhash_expr`` (the 28
    interpreted per-bit vote folds become ONE numpy (tokens x bits)
    sign-sum per doc; token hashes share the per-batch memo). Bit-identical
    values, parity pytest-pinned."""
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    jbits = None

    def op(batches):
        nonlocal jbits
        import numpy as np

        if jbits is None:
            jbits = np.arange(bits, dtype=np.int64)
        pow_cache = [1]
        memo: dict[str, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            for text in pdf[text_col]:
                toks = list(dict.fromkeys(_py_tokens(text or "")))
                missing = [t for t in toks if t not in memo]
                if missing:
                    hs_new = _np_polyhash_batch(missing, pow_cache)
                    memo.update(zip(missing, hs_new.tolist()))
                hs = np.asarray([memo[t] for t in toks], dtype=np.int64)
                if len(memo) > memo_cap:
                    # Full-doc repopulate after lookup — see minhash twin.
                    memo.clear()
                    memo.update(zip(toks, hs.tolist()))
                votes = (
                    (((hs[:, None] >> jbits[None, :]) & 1) * 2 - 1).sum(axis=0)
                    if len(hs)
                    else np.zeros(bits, dtype=np.int64)
                )
                out.append(int(((votes > 0).astype(np.int64) << jbits).sum()))
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    return df.select(id_col, text_col).mapInPandas(
        op, schema=f"{id_col} {id_type}, simhash long"
    )



def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded: the `bits`-bit
    hash splits into (max_hamming+1) bands; any pair within `max_hamming`
    shares at least one exact band (pigeonhole), so candidates come from a
    bucketed equi-join on (band_idx, band_value), never all-pairs. Hashes
    come from the vectorized ``simhash_rows_arrow`` (bit-identical to
    ``simhash_expr``, pytest-pinned)."""
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    # Spread (no-op at scale) THEN hash; both join sides below reuse the
    # persisted banded projection instead of re-hashing every doc.
    sh = simhash_rows_arrow(ensure_min_parallelism(df), text_col, id_col, bits)
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright(F.col("simhash"), i * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for i in range(n_bands)
        ]
    )
    banded = sh.select(id_col, "simhash", F.explode(bands).alias("b")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    l = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "b"
    )
    r = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "b"
    )
    # hamming filter BEFORE the distinct: the verify predicate is a cheap
    # row-local expression, so applying it to the raw (pair x shared-band)
    # join output shrinks the distinct's shuffle to verified pairs only —
    # on a near-dup-heavy corpus that is the difference between shuffling
    # every candidate duplicate and shuffling the answer.
    cand = (
        l.join(r, ["b"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            hamming_expr(F.col("sim_a"), F.col("sim_b")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    return cand.distinct().orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Blocked n-gram Jaccard (caller-supplied block column, e.g. `source`)
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SHINGLE_K,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact shingle-Jaccard for every within-block pair. For corpora with
    a natural partition key (source, domain, date bucket) this is the
    simple exact alternative to MinHash: the join shuffles on the block
    key, and pair count is bounded by the largest block squared — the
    caller owns keeping blocks small.

    Physical shape: an INVERTED-INDEX join, not a pair join over shingle
    arrays. The naive formulation joins whole shingle arrays per candidate
    pair — at bench scale that shuffles ~1 KB of array payload per pair
    (hundreds of MB); here the join carries only small ``(block, shingle,
    id, n)`` rows, intersection sizes fall out of a count aggregate over
    co-occurrences, and Jaccard closes from the sizes alone:
    ``|A∩B| / (|A|+|B| - |A∩B|)``. Measured 12.9 s -> ~4 s at sf0.1.

    Two standard set-similarity-join prunes stack on top: the size-ratio
    filter (Jaccard >= t requires min(n) >= t*max(n), two cheap ints
    carried through the join) and the implicit candidate filter (pairs
    sharing zero shingles never materialize). Consequence: with
    ``threshold=0.0`` pairs with Jaccard exactly 0 are OMITTED rather than
    emitted as zero rows.

    Shingles come from the vectorized ``shingle_rows_arrow`` pass
    (bit-identical to ``shingles_expr``, pytest-pinned)."""
    sh = (
        shingle_rows_arrow(
            ensure_min_parallelism(df),
            text_col,
            id_col,
            k,
            keep_cols=(block_col,),
        )
        .select(F.col(block_col).alias("blk"), id_col, "sh")
        .withColumn("n", F.size("sh"))
    )
    # Persisted: BOTH sides of the inverted-index self-join read this
    # projection — without the cache the shingle build runs twice over
    # the corpus.
    ex = sh.select(
        "blk", F.col(id_col), "n", F.explode("sh").alias("s")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = ex.select(
        "blk", "s", F.col(id_col).alias("id_a"), F.col("n").alias("n_a")
    )
    b = ex.select(
        "blk", "s", F.col(id_col).alias("id_b"), F.col("n").alias("n_b")
    )
    joined = a.join(b, ["blk", "s"]).where(F.col("id_a") < F.col("id_b"))
    if threshold > 0.0:
        joined = joined.where(
            F.least("n_a", "n_b").cast("double")
            >= F.lit(threshold) * F.greatest("n_a", "n_b").cast("double")
        )
    common = joined.groupBy("blk", "id_a", "n_a", "id_b", "n_b").agg(
        F.count("*").alias("common")
    )
    jac = F.round(
        F.col("common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double"),
        6,
    )
    # Overlap coefficient |A∩B| / min(|A|,|B|) (round 9): the ASYMMETRIC
    # near-dup signal — a short doc fully quoted inside a long one scores
    # containment 1.0 while its Jaccard (|A∩B|/|A∪B|) stays near
    # |B|/|A| and slips under any symmetric threshold. Training-corpus
    # dedup wants both: Jaccard for same-size near-dups, containment for
    # subset/quotation structure. Emitted as a column (falls out of the
    # same count aggregate for free); the row filter remains Jaccard —
    # filter on containment caller-side (the size-ratio prune above is
    # only sound for the Jaccard threshold, so a containment-threshold
    # variant must pass threshold=0.0).
    cont = F.round(
        F.col("common").cast("double")
        / F.least("n_a", "n_b").cast("double"),
        6,
    )
    return (
        common.select(
            "blk", "id_a", "id_b", jac.alias("jaccard"),
            cont.alias("containment"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def exact_dedup_incremental(
    new_docs: DataFrame,
    seen_fps: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fp",
    fp_expr: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Cross-batch exact dedup for continuous ingestion: drop new rows
    whose content fingerprint was seen in ANY previous batch, dedup the
    batch internally, and hand back the grown fingerprint index.

    Returns ``(survivors, updated_seen)`` where ``updated_seen`` is the
    union of ``seen_fps`` and the survivors' ``(fp_col)`` rows — persist
    it (parquet) between runs and feed it back. The index holds ONE
    64-bit-ish fingerprint row per distinct document ever kept: O(corpus
    distinct) state, the smallest possible exact-dedup memory, and the
    anti-join shuffles only fingerprints, never text. At 100 TB keep the
    index bucketed by ``fp_col`` (``joins.write_bucketed``) so the
    per-batch anti-join co-locates without exchanging the index side.

    Within-batch semantics match ``exact_dedup`` on the fingerprint
    (smallest (id, ...) row survives); collision risk is the fingerprint
    family's (polyhash mod 1e9+7 — swap in a wider ``fp_col`` expression
    upstream if the corpus is large enough to care)."""
    from dask_glm_spark.operators.text import fingerprint_fast_expr

    # fp_expr hook (the domain_caps hash_col pattern): default is the
    # codegen xxhash64 fast path; the q20 gate passes the engine-portable
    # polyhash so DuckDB re-derives the identical survivor sets
    fp = new_docs.withColumn(
        fp_col,
        fp_expr if fp_expr is not None else fingerprint_fast_expr(text_col),
    )
    if seen_fps is not None:
        fp = fp.join(seen_fps.select(fp_col).distinct(), fp_col, "left_anti")
    survivors = exact_dedup(fp, [fp_col], order_col=id_col)
    new_seen = survivors.select(fp_col)
    updated = (
        new_seen
        if seen_fps is None
        else seen_fps.select(fp_col).union(new_seen).distinct()
    )
    return survivors.drop(fp_col), updated


def minhash_est_jaccard_expr(sig_a: Column, sig_b: Column) -> Column:
    """Signature-estimated Jaccard: fraction of agreeing positions — the
    standard MinHash estimator (granularity 1/NUM_PERM)."""
    return F.aggregate(
        F.zip_with(sig_a, sig_b, lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double") / F.lit(float(NUM_PERM))


def minhash_dedup_incremental(
    new_docs: DataFrame,
    seen_index: DataFrame | None,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Cross-batch NEAR-dedup for continuous ingestion — the MinHash
    companion to ``exact_dedup_incremental``.

    The persisted index holds ``(doc_id, sig, bands)`` per kept doc —
    NUM_PERM longs + BANDS band keys, never text: O(corpus kept) state at
    ~200 bytes/doc. A new batch:

    1. drops every doc whose banded-LSH candidates against the index
       include a signature with estimated Jaccard ≥ threshold (the
       1/NUM_PERM-granular position-agreement estimator — cross-batch
       checks are estimator-based BY DESIGN, since the index keeps no
       text to verify against);
    2. near-dedups internally with the exact verified pipeline
       (``minhash_dedup_pairs`` + connected-component survivors — full
       text available within the batch);
    3. returns ``(survivors, updated_index)``; persist the index
       (parquet, ideally bucketed by a band column after explode)
       between runs.

    Hot-band behavior matches ``lsh_candidates``' analysis: a band shared
    by M index docs and N batch docs joins M·N pairs — cap the batch or
    index side upstream (``topk.grouped_topk`` by hash) if a boilerplate
    band ever dominates."""
    from dask_glm_spark.operators.graph import neardup_survivors

    sig = minhash_signature_expr(text_col)
    newf = new_docs.withColumn("_sig", sig).withColumn(
        "_bands", band_keys_expr(F.col("_sig"))
    )
    if seen_index is not None:
        nb = newf.select(
            F.col(id_col), F.col("_sig"), F.explode("_bands").alias("_b")
        )
        ib = seen_index.select(
            F.col("sig").alias("_osig"), F.explode("bands").alias("_b")
        )
        hits = (
            nb.join(ib, "_b")
            .select(
                id_col,
                minhash_est_jaccard_expr(
                    F.col("_sig"), F.col("_osig")
                ).alias("_est"),
            )
            .groupBy(id_col)
            .agg(F.max("_est").alias("_best"))
            .where(F.col("_best") >= threshold)
            .select(id_col)
        )
        newf = newf.join(hits, id_col, "left_anti")

    fresh = newf.drop("_sig", "_bands")
    pairs = minhash_dedup_pairs(fresh, threshold=threshold)
    survivors = neardup_survivors(fresh, pairs, id_col=id_col)
    new_rows = newf.join(
        survivors.select(id_col), id_col, "left_semi"
    ).select(
        F.col(id_col).alias("doc_id"),
        F.col("_sig").alias("sig"),
        F.col("_bands").alias("bands"),
    )
    updated = (
        new_rows if seen_index is None else seen_index.union(new_rows)
    )
    return survivors, updated


def simhash_dedup_incremental(
    new_docs: DataFrame,
    seen_index: DataFrame | None,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> tuple[DataFrame, DataFrame]:
    """Cross-batch SimHash near-dedup — the third incremental variant
    (exact / MinHash / SimHash share the pattern: tiny persisted index,
    banded candidates, survivors + grown index back).

    Index rows: ``(doc_id, simhash)`` — ONE long per kept doc, the
    cheapest near-dup memory of the three. New docs hash once; cross-batch
    candidates come from the pigeonhole band equi-join against the index
    (any pair within ``max_hamming`` shares a band), verified by exact
    hamming distance — unlike the MinHash variant this cross-batch check
    is EXACT, because the simhash IS the similarity state. Within-batch
    dedup reuses ``simhash_dedup_pairs`` + component survivors."""
    from dask_glm_spark.operators.graph import neardup_survivors

    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1

    def band_rows(df_, sh_col, out_id):
        bands = F.array(
            *[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.shiftright(F.col(sh_col), i * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("band_val"),
                )
                for i in range(n_bands)
            ]
        )
        return df_.select(
            F.col(sh_col), F.col(out_id), F.explode(bands).alias("b")
        )

    newh = new_docs.withColumn("_sh", simhash_expr(text_col, bits))
    if seen_index is not None:
        nb = band_rows(newh.select(id_col, "_sh"), "_sh", id_col)
        ib = band_rows(
            seen_index.select(F.col("simhash").alias("_osh")), "_osh",
            "_osh",
        ).select("_osh", "b")
        hits = (
            nb.join(ib, ["b"])
            .where(hamming_expr(F.col("_sh"), F.col("_osh")) <= max_hamming)
            .select(id_col)
            .distinct()
        )
        newh = newh.join(hits, id_col, "left_anti")

    fresh = newh.drop("_sh")
    pairs = simhash_dedup_pairs(
        fresh, text_col=text_col, id_col=id_col,
        max_hamming=max_hamming, bits=bits,
    )
    survivors = neardup_survivors(fresh, pairs, id_col=id_col)
    new_rows = newh.join(survivors.select(id_col), id_col, "left_semi").select(
        F.col(id_col).alias("doc_id"), F.col("_sh").alias("simhash")
    )
    updated = new_rows if seen_index is None else seen_index.union(new_rows)
    return survivors, updated
