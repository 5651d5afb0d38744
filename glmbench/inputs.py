"""Seeded input generator for the GLM benchmark (numpy + pyarrow only).

Every table is a pure function of ``(seed, workload)``: the same seed
writes byte-identical parquet. The library under test only ever sees the
parquet paths; the numpy arrays stay on the driver as the reference the
correctness checks recompute against.

- ``glm`` tables: dense ``(features array<double>, label double)`` drawn
  from planted coefficients (logistic for ``paper-fit``, Poisson for
  ``wide-path``), written in 64k-row row groups so a scan splits across
  cores the way a real multi-file table does.
- ``docs``: a ``(doc_id, text, lang, source)`` corpus with a zipfian
  English majority, a non-English slice, low-quality junk, exact copies,
  one-token-edit near-duplicates and repeated lines — the same mix
  ``scripts/make_testdata.py`` plants, reseeded per run.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUP = 65_536

EN_WORDS = (
    "the of and to in a is that for it as with on be at by this from or "
    "an are not we you they data model table query engine spark stream "
    "join index vector token text batch shuffle plan scan filter merge "
    "count group sort hash cache disk memory node task stage row column"
).split()
LANG_WORDS = {
    "de": "der die das und ist nicht mit ein von zu den sich auf".split(),
    "fr": "le la les et est pas avec un des pour dans une sur".split(),
    "es": "el la los y es no con un de para en que una".split(),
    "zh": "的 是 了 在 我 有 他 这 中 大 来 上 国".split(),
}
JUNK_WORDS = "## 404 ** 0x1f ... $$ 17 ?? || 9000 -- @@".split()
N_SOURCES = 16


def _zipf_probs(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1)
    return w / w.sum()


def write_glm(path: str, X: np.ndarray, y: np.ndarray) -> None:
    n, p = X.shape
    feats = pa.FixedSizeListArray.from_arrays(
        pa.array(np.ascontiguousarray(X, dtype=np.float64).ravel()), p
    ).cast(pa.list_(pa.float64()))
    pq.write_table(
        pa.table({"features": feats, "label": pa.array(y, pa.float64())}),
        path,
        row_group_size=ROW_GROUP,
    )


def logistic_table(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n x 5`` features on unequal scales/offsets (so standardization
    matters), labels from a planted logistic model with two null
    coefficients (so an L1 fit has coordinates to zero)."""
    rng = np.random.default_rng([seed, 1])
    scale = np.array([10.0, 3.0, 1.0, 0.3, 0.1])
    shift = np.array([25.0, 5.0, 0.0, 0.5, 0.0])
    Z = rng.standard_normal((n, 5))
    X = Z * scale + shift
    beta = np.array([1.0, -0.5, 0.25, 0.0, 0.0]) * rng.uniform(0.8, 1.2, 5)
    logits = Z @ beta + 0.3
    y = (rng.random(n) < 1.0 / (1.0 + np.exp(-logits))).astype(np.float64)
    return X, y


def poisson_table(seed: int, n: int, p: int) -> tuple[np.ndarray, np.ndarray]:
    """``n x p`` standard-normal features, counts from a planted sparse
    Poisson model (p // 10 active coefficients)."""
    rng = np.random.default_rng([seed, 2])
    X = rng.standard_normal((n, p))
    beta = np.zeros(p)
    active = rng.choice(p, max(p // 10, 2), replace=False)
    beta[active] = rng.choice([-1.0, 1.0], active.size) * rng.uniform(
        0.1, 0.25, active.size
    )
    y = rng.poisson(np.exp(X @ beta)).astype(np.float64)
    return X, y


def _text(rng, words, probs, n_tok: int, line_len: int) -> str:
    toks = np.asarray(words)[rng.choice(len(words), n_tok, p=probs)].tolist()
    lines = [" ".join(toks[i:i + line_len]) for i in range(0, n_tok, line_len)]
    return "\n".join(lines)


def corpus(seed: int, n_docs: int) -> dict[str, list]:
    """The curation corpus. Mix: 62 % fresh English, 14 % non-English,
    4 % junk, 8 % exact copies and 10 % near-duplicates (one token
    replaced) of earlier docs, and 2 % English docs that repeat a line.
    ``near_of`` maps each near-duplicate's doc_id to its source doc_id."""
    rng = np.random.default_rng([seed, 3])
    en_p = _zipf_probs(len(EN_WORDS))
    lang_p = {k: _zipf_probs(len(v)) for k, v in LANG_WORDS.items()}
    langs_nonen = sorted(LANG_WORDS)
    kinds = rng.choice(
        6, n_docs, p=[0.62, 0.14, 0.04, 0.08, 0.10, 0.02]
    )
    texts: list[str] = []
    langs: list[str] = []
    near_of: dict[int, int] = {}
    for i, kind in enumerate(kinds):
        if kind in (3, 4) and i == 0:
            kind = 0
        if kind == 0:
            texts.append(_text(rng, EN_WORDS, en_p, int(rng.integers(40, 160)), 12))
            langs.append("en")
        elif kind == 1:
            lg = langs_nonen[int(rng.integers(len(langs_nonen)))]
            texts.append(
                _text(rng, LANG_WORDS[lg], lang_p[lg], int(rng.integers(30, 120)), 12)
            )
            langs.append(lg)
        elif kind == 2:
            picks = rng.integers(0, len(JUNK_WORDS), int(rng.integers(3, 12)))
            texts.append(" ".join(np.asarray(JUNK_WORDS)[picks]))
            langs.append("en")
        elif kind == 3:
            j = int(rng.integers(i))
            texts.append(texts[j])
            langs.append(langs[j])
        elif kind == 4:
            j = int(rng.integers(i))
            lines = texts[j].split("\n")
            li = int(rng.integers(len(lines)))
            toks = lines[li].split(" ")
            toks[int(rng.integers(len(toks)))] = EN_WORDS[int(rng.integers(len(EN_WORDS)))]
            lines[li] = " ".join(toks)
            texts.append("\n".join(lines))
            langs.append(langs[j])
            near_of[i + 1] = j + 1
        else:
            t = _text(rng, EN_WORDS, en_p, int(rng.integers(40, 120)), 12)
            first = t.split("\n", 1)[0]
            texts.append(f"{t}\n{first}\n{first}")
            langs.append("en")
    return {
        "doc_id": list(range(1, n_docs + 1)),
        "text": texts,
        "lang": langs,
        "source": [f"src{int(s):02d}" for s in rng.integers(0, N_SOURCES, n_docs)],
        "near_of": near_of,
    }


def write_corpus(path: str, docs: dict[str, list]) -> None:
    pq.write_table(
        pa.table({
            "doc_id": pa.array(docs["doc_id"], pa.int64()),
            "text": pa.array(docs["text"], pa.string()),
            "lang": pa.array(docs["lang"], pa.string()),
            "source": pa.array(docs["source"], pa.string()),
        }),
        path,
        row_group_size=max(len(docs["doc_id"]) // 4, 1),
    )


def table_path(root: str, name: str) -> str:
    """Where ``sources.glm_source.load_table(spark, root, name)`` reads."""
    os.makedirs(root, exist_ok=True)
    return os.path.join(root, f"{name}.parquet")
