"""The benchmark's workloads: ``paper-fit`` and ``wide-path`` (listed
together as ``glm-fit``) and ``curate``.

Each workload generates its inputs from the seed, loads them through
``sources.glm_source.load_table`` (the library only ever gets a parquet
directory), warms the session on a small slice, and yields its ops. An op
is one fit, one path sweep or one pipeline stage: ``run`` is timed,
``check`` is not and raises ``CheckFailed`` when the result is wrong.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

import inputs
from reference import Problem

TOLERANCES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tolerances.json")


def tolerance(*keys: str):
    """A value from tolerances.json, e.g. ``tolerance("objective_gap", op)``."""
    with open(TOLERANCES, encoding="utf-8") as fh:
        value = json.load(fh)
    for key in keys:
        value = value[key]
    return value


class CheckFailed(Exception):
    pass


def expect(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], object]


def check_objective(op: str, prob: Problem, coef, f_ref: float, kind: str) -> float:
    """``kind == "optimum"``: the relative gap F(coef) - F* must stay within
    the op's tolerance. ``kind == "twin"``: F(coef) must equal the objective
    of the numpy twin of the op's proximal-gradient policy to
    ``twin_rel_diff``."""
    if kind == "twin":
        diff = abs(prob.objective(coef) - f_ref) / max(1.0, abs(f_ref))
        expect(np.isfinite(diff) and diff <= tolerance("twin_rel_diff"),
               f"{op}: objective differs from its numpy twin by {diff:.3g}")
        return diff
    gap, bound = prob.gap(coef, f_ref), tolerance("objective_gap", op)
    expect(np.isfinite(gap) and gap <= bound,
           f"{op}: relative objective gap {gap:.3g} > {bound}")
    return gap


def coefficients(model) -> np.ndarray:
    """A fitted estimator's coefficients, intercept last when it has one."""
    coef = np.asarray(model.coef_, dtype=np.float64)
    return coef if model.intercept_ is None else np.append(coef, model.intercept_)


def _n(base: int, scale: float, floor: int) -> int:
    return max(int(base * scale), floor)


class Workload:
    name = ""
    headline = ""
    headline_reps = 1  # back-to-back runs of the headline op per pass

    def __init__(self, seed: int, scale: float, tracer):
        self.seed, self.tracer = seed, tracer

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def generate(self, root: str) -> None:
        raise NotImplementedError

    def load(self, spark, root: str) -> None:
        raise NotImplementedError

    def warm_up(self, spark, root: str) -> dict[str, float]:
        """Run every op once on the small slice; returns each op's seconds."""
        times = {}
        for op in self.ops(spark, root, os.path.join(root, "warm"), warm=True):
            t = time.perf_counter()
            op.run()
            times[op.name] = time.perf_counter() - t
        return times

    def prepare(self) -> None:
        """Driver-side reference values (untimed, after set-up)."""

    def ops(self, spark, root: str, out: str, warm: bool = False) -> list[Op]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# paper-fit: the reference's published shape, the dense solvers
# ---------------------------------------------------------------------------
class PaperFit(Workload):
    name = "paper-fit"
    headline = "fit_admm_l2"
    # (op, estimator kwargs, penalty, penalty weight, fit_intercept).
    # Caps are fixed and stopping tolerances zero, so every seed runs the
    # same number of iterations; the l1 weight is bench.py's.
    FITS = (
        ("fit_admm_l2", dict(solver="admm", regularizer="l2", lamduh=1.0,
                             fit_intercept=False, max_iter=3, abstol=0.0,
                             reltol=0.0), "l2", 1.0, False),
        ("fit_lbfgs", dict(solver="lbfgs", regularizer=None, max_iter=3,
                           tol=0.0), None, 0.0, True),
        ("fit_newton", dict(solver="newton", max_iter=2, tol=0.0), None, 0.0, True),
        ("fit_proximal_grad_l1", dict(solver="proximal_grad", regularizer="l1",
                                      lamduh=0.01, max_iter=1, tol=0.0),
         "l1", 0.01, True),
    )

    def __init__(self, seed, scale, tracer):
        super().__init__(seed, scale, tracer)
        self.n = _n(637_000, scale, 20_000)
        self.n_warm = 5_000

    def generate(self, root):
        self.X, self.y = inputs.logistic_table(self.seed, self.n)
        inputs.write_glm(inputs.table_path(root, "logit"), self.X, self.y)
        inputs.write_glm(
            inputs.table_path(root, "logit_warm"),
            self.X[: self.n_warm], self.y[: self.n_warm],
        )

    def load(self, spark, root):
        from dask_glm_spark.sources import glm_source

        for name in ("logit", "logit_warm"):
            glm_source.load_table(spark, root, name).count()

    def prepare(self):
        """Reference objective per fit: the Newton optimum, or for the l1
        proximal-gradient fit the numpy twin of its step policy (ISTA)."""
        base = {
            icpt: Problem(self.X, self.y, "logistic", icpt)
            for icpt in (False, True)
        }
        optima: dict = {}
        self.ref = {}
        for op, kw, reg, lam, icpt in self.FITS:
            prob = base[icpt].with_penalty(reg, lam)
            if reg == "l1":
                self.ref[op] = (prob, prob.ista(kw["max_iter"])[0], "twin")
                continue
            if (reg, lam, icpt) not in optima:
                optima[reg, lam, icpt] = prob.optimum()[0]
            self.ref[op] = (prob, optima[reg, lam, icpt], "optimum")

    def _fit(self, spark, root, table, op, kw):
        from dask_glm_spark import LogisticRegression
        from dask_glm_spark.sources import glm_source

        def run():
            df = glm_source.load_table(spark, root, table)
            model = LogisticRegression(**kw).fit(df)
            return coefficients(model)

        def check(coef):
            prob, f_ref, kind = self.ref[op]
            return check_objective(op, prob, coef, f_ref, kind)

        return Op(op, run, check)

    def ops(self, spark, root, out, warm=False):
        table = "logit_warm" if warm else "logit"
        ops = []
        for op, kw, _, _, _ in self.FITS:
            if warm:
                kw = dict(kw, max_iter=1)
            ops.append(self._fit(spark, root, table, op, kw))
        return ops


# ---------------------------------------------------------------------------
# wide-path: p > UNROLL_MAX, so the Arrow kernel path runs; lambda sweep
# ---------------------------------------------------------------------------
class WidePath(Workload):
    name = "wide-path"
    headline = "fit_lbfgs_poisson"
    LAMBDA_SHARES = (0.5, 0.25)  # of lamduh_max, descending
    PATH_ITERS = 2

    def __init__(self, seed, scale, tracer):
        super().__init__(seed, scale, tracer)
        self.n = _n(10_000, scale, 4_000)
        self.p = 128
        self.n_warm = 1_000

    def generate(self, root):
        self.X, self.y = inputs.poisson_table(self.seed, self.n, self.p)
        inputs.write_glm(inputs.table_path(root, "poisson"), self.X, self.y)
        inputs.write_glm(
            inputs.table_path(root, "poisson_warm"),
            self.X[: self.n_warm], self.y[: self.n_warm],
        )

    def load(self, spark, root):
        from dask_glm_spark.sources import glm_source

        for name in ("poisson", "poisson_warm"):
            glm_source.load_table(spark, root, name).count()

    def prepare(self):
        # lamduh_max at beta = 0 on the raw features: ||X'(exp(0) - y)||_inf
        self.lam_max = float(np.max(np.abs(self.X.T @ (1.0 - self.y))))
        self.lams = [s * self.lam_max for s in self.LAMBDA_SHARES]
        base = Problem(self.X, self.y, "poisson", False)
        # the path runs in descending lambda order, each fit warm-started
        # from the previous one; its twin does the same
        self.path_ref, start = [], None
        for lam in self.lams:
            prob = base.with_penalty("l1", lam)
            f_ref, start = prob.fista(self.PATH_ITERS, start=start)
            self.path_ref.append((prob, f_ref))
        self.refit_ref = (base, base.optimum()[0])

    def ops(self, spark, root, out, warm=False):
        from dask_glm_spark import PoissonRegression
        from dask_glm_spark.functions.families import Poisson
        from dask_glm_spark.operators import model_selection
        from dask_glm_spark.sources import glm_source

        table = "poisson_warm" if warm else "poisson"
        cap = 1 if warm else None
        lams = [s * 10.0 for s in self.LAMBDA_SHARES] if warm else self.lams

        def run_lmax():
            df = glm_source.load_table(spark, root, table)
            return model_selection.lamduh_max(df, family=Poisson)

        def check_lmax(v):
            err = abs(v - self.lam_max) / self.lam_max
            expect(err <= tolerance("lamduh_max_rel_err"),
                   f"lamduh_max: relative error {err:.3g}")
            return err

        def run_path():
            df = glm_source.load_table(spark, root, table)
            return model_selection.regularization_path(
                df, lams, solver="proximal_grad", regularizer="l1",
                family=Poisson, max_iter=cap or self.PATH_ITERS, tol=0.0,
                accelerate=True,
            )

        def check_path(coefs):
            expect(np.shape(coefs) == (len(self.lams), self.p),
                   f"regularization_path: shape {np.shape(coefs)}")
            return max(
                check_objective("regularization_path", prob, row, f_ref, "twin")
                for row, (prob, f_ref) in zip(np.asarray(coefs), self.path_ref)
            )

        def run_refit():
            df = glm_source.load_table(spark, root, table)
            model = PoissonRegression(
                solver="lbfgs", regularizer=None, fit_intercept=False,
                max_iter=cap or 2, tol=0.0,
            ).fit(df)
            return coefficients(model)

        def check_refit(coef):
            prob, f_star = self.refit_ref
            return check_objective("fit_lbfgs_poisson", prob, coef, f_star, "optimum")

        return [
            Op("lamduh_max", run_lmax, check_lmax),
            Op("regularization_path", run_path, check_path),
            Op("fit_lbfgs_poisson", run_refit, check_refit),
        ]


# ---------------------------------------------------------------------------
# curate: shuffles, joins, operator-owned caches; almost no dense kernels
# ---------------------------------------------------------------------------
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")
_DELIMS = re.compile(r"[\t\n\r.,;:!?]")
QUALITY_MIN = 0.5
NUM_FEATURES = 4096


def py_tokens(text: str) -> list[str]:
    """Whitespace tokens: lower, trim spaces, split on runs of whitespace."""
    return _JAVA_WS.split(text.lower().strip(" "))


def py_shingles(text: str, k: int) -> set[str]:
    toks = py_tokens(text)
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def py_lang_quality(text: str, markers, order) -> tuple[str, float]:
    """Marker-word language id (first language reaching the top score)
    and the composite quality score, as the filter defines them."""
    padded = " " + _DELIMS.sub(" ", text.lower()) + " "
    scores = {lg: sum(f" {w} " in padded for w in ws) for lg, ws in markers.items()}
    top = max(scores.values())
    lang = next(lg for lg in order if scores[lg] == top)
    stop = float(scores["en"]) / float(len(markers["en"]))
    len_score = min(len(py_tokens(text)) / 100.0, 1.0)
    alpha = len(re.sub("[^a-z ]", "", text.lower()))
    alpha_ratio = alpha / len(text) if len(text) else 0.0
    return lang, 0.4 * stop + 0.3 * len_score + 0.3 * alpha_ratio


def _read(path: str) -> dict[str, list]:
    return pq.read_table(path).to_pydict()


class Curate(Workload):
    name = "curate"
    headline = "fit_text_classifier"
    headline_reps = 3

    def __init__(self, seed, scale, tracer):
        super().__init__(seed, scale, tracer)
        self.n = _n(5_000, scale, 1_500)
        self.n_warm = 200

    def generate(self, root):
        self.docs = inputs.corpus(self.seed, self.n)
        inputs.write_corpus(inputs.table_path(root, "docs"), self.docs)
        warm = {k: v[: self.n_warm] for k, v in self.docs.items() if k != "near_of"}
        inputs.write_corpus(inputs.table_path(root, "docs_warm"), warm)

    def load(self, spark, root):
        from dask_glm_spark.sources import glm_source

        for name in ("docs", "docs_warm"):
            glm_source.load_table(spark, root, name).count()

    def prepare(self):
        from dask_glm_spark.operators.text import LANG_ORDER, MARKER_WORDS

        self.text = dict(zip(self.docs["doc_id"], self.docs["text"]))
        self.lang = dict(zip(self.docs["doc_id"], self.docs["lang"]))
        self.source = dict(zip(self.docs["doc_id"], self.docs["source"]))
        self.expect_kept, self.borderline = set(), set()
        for i, t in self.text.items():
            lang, q = py_lang_quality(t, MARKER_WORDS, LANG_ORDER)
            if abs(q - QUALITY_MIN) < 1e-9:
                self.borderline.add(i)
            if lang == "en" and q >= QUALITY_MIN:
                self.expect_kept.add(i)

    def ops(self, spark, root, out, warm=False):
        from pyspark.sql import functions as F

        from dask_glm_spark.operators import dedup, graph, quality, text
        from dask_glm_spark.sources import glm_source

        docs_table = "docs_warm" if warm else "docs"
        os.makedirs(out, exist_ok=True)
        load = glm_source.load_table
        state: dict = {}

        def write(df, name):
            df.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
            return os.path.join(out, f"{name}.parquet")

        def run_filter():
            with self.span("text.langid_quality_filter"):
                docs = load(spark, root, docs_table)
                kept = docs.where(
                    (text.langid_expr("text") == "en")
                    & (text.quality_score_expr("text") >= QUALITY_MIN)
                )
                return write(kept, "filtered")

        def check_filter(path):
            ids = set(_read(path)["doc_id"])
            state["filtered"] = ids
            diff = (ids ^ self.expect_kept) - self.borderline
            expect(not diff, f"quality filter: {len(diff)} docs differ from the recount")

        def run_exact():
            with self.span("dedup.exact_dedup"):
                df = dedup.exact_dedup(load(spark, out, "filtered"), ["text"],
                                       order_col="doc_id")
                return write(df, "exact")

        def check_exact(path):
            got = set(_read(path)["doc_id"])
            first: dict[str, int] = {}
            for i in sorted(state.get("filtered", ())):
                first.setdefault(self.text[i], i)
            want = set(first.values())
            state["exact"] = got
            expect(len(got) == len(want),
                   f"exact_dedup: {len(got)} survivors, pandas recount {len(want)}")
            expect(got == want, "exact_dedup: survivor ids differ from the recount")

        def run_pairs():
            with self.span("dedup.minhash_dedup_pairs"):
                pairs = dedup.minhash_dedup_pairs(
                    load(spark, out, "exact"), threshold=0.8, path="arrow"
                )
                return write(pairs, "pairs")

        def check_pairs(path):
            t = _read(path)
            pairs = list(zip(t["id_a"], t["id_b"], t["jaccard"]))
            state["pairs"] = [(a, b) for a, b, _ in pairs]
            k = dedup.SHINGLE_K
            for a, b, jac in pairs:
                sa, sb = py_shingles(self.text[a], k), py_shingles(self.text[b], k)
                true = round(len(sa & sb) / len(sa | sb), 6)
                expect(a < b and abs(true - jac) < 1e-6 and jac >= 0.8,
                       f"minhash pair ({a}, {b}): jaccard {jac} vs {true}")
            planted = state.get("planted")
            if planted is None:
                planted = self._planted_pairs(state.get("exact", set()), k)
                state["planted"] = planted
            found = {(a, b) for a, b, _ in pairs}
            if planted:
                recall = len(planted & found) / len(planted)
                expect(recall >= tolerance("lsh_recall_min"),
                       f"minhash recall {recall:.3f} on {len(planted)} planted pairs")
                return recall

        def run_survivors():
            with self.span("graph.neardup_survivors"):
                s = graph.neardup_survivors(
                    load(spark, out, "exact"), load(spark, out, "pairs")
                )
                return write(s, "survivors")

        def check_survivors(path):
            got = set(_read(path)["doc_id"])
            parent: dict[int, int] = {}

            def find(x):
                while parent.get(x, x) != x:
                    x = parent[x]
                return x

            for a, b in state.get("pairs", []):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            nodes = {x for pair in state.get("pairs", []) for x in pair}
            losers = {x for x in nodes if find(x) != x}
            want = state.get("exact", set()) - losers
            state["survivors"] = got
            expect(len(got) <= len(state.get("exact", set())),
                   "near-dup survivors exceed exact survivors")
            expect(got == want, f"neardup_survivors: {len(got)} rows, expected {len(want)}")

        def run_repetition():
            with self.span("quality.repetition_stats"):
                r = quality.repetition_stats(load(spark, out, "survivors"))
                return write(r, "repetition")

        def check_repetition(path):
            t = _read(path)
            expect(set(t["doc_id"]) == state.get("survivors"),
                   "repetition_stats: rows differ from its input")
            for i, n_lines, frac in zip(t["doc_id"], t["n_lines"], t["dup_line_frac"]):
                lines = [s.strip(" ") for s in self.text[i].split("\n")]
                lines = [s for s in lines if s]
                want = round(1.0 - len(set(lines)) / len(lines), 6) if lines else 0.0
                expect(n_lines == len(lines) and abs(frac - want) < 1e-6,
                       f"repetition_stats doc {i}: ({n_lines}, {frac}) vs ({len(lines)}, {want})")

        def run_report():
            with self.span("text.token_report"):
                df = load(spark, out, "survivors")
                rows = df.groupBy("source").agg(
                    F.sum(text.token_count_expr("text")).alias("tokens"),
                    F.count("*").alias("docs"),
                ).collect()
                return {r["source"]: (r["tokens"], r["docs"]) for r in rows}

        def check_report(rep):
            want: dict[str, list[int]] = {}
            for i in state.get("survivors", ()):
                w = want.setdefault(self.source[i], [0, 0])
                w[0] += len(py_tokens(self.text[i]))
                w[1] += 1
            expect(rep == {k: tuple(v) for k, v in want.items()},
                   "token report differs from the per-source recount")

        def run_classifier():
            with self.span("text.fit_text_classifier"):
                docs = load(spark, root, docs_table)
                return text.fit_text_classifier(
                    docs, label_col="lang", num_features=NUM_FEATURES,
                    max_iter=2 if warm else 4, sparse=True,
                )

        def check_classifier(model):
            from dask_glm_spark.operators import text as text_ops

            pred = text_ops.classify_text(model, load(spark, root, docs_table)).collect()
            hits = sum(1 for r in pred if self.lang[r["doc_id"]] == r["label"])
            acc = hits / len(self.docs["doc_id"])
            expect(acc >= tolerance("classifier_train_accuracy_min"),
                   f"text classifier train accuracy {acc:.3f}")
            return acc

        return [
            Op("quality_filter", run_filter, check_filter),
            Op("exact_dedup", run_exact, check_exact),
            Op("minhash_dedup_pairs", run_pairs, check_pairs),
            Op("neardup_survivors", run_survivors, check_survivors),
            Op("repetition_stats", run_repetition, check_repetition),
            Op("token_report", run_report, check_report),
            Op("fit_text_classifier", run_classifier, check_classifier),
        ]

    def _planted_pairs(self, exact: set, k: int) -> set:
        """Planted near-duplicate pairs whose both ends survived exact dedup
        and whose true shingle Jaccard is at least 0.9 (LSH finds these
        with probability > 0.98 each)."""
        planted = set()
        for i, j in self.docs.get("near_of", {}).items():
            if i in exact and j in exact:
                sa, sb = py_shingles(self.text[i], k), py_shingles(self.text[j], k)
                if len(sa & sb) / len(sa | sb) >= 0.9:
                    planted.add((min(i, j), max(i, j)))
        return planted


# ---------------------------------------------------------------------------
# glm-fit: paper-fit and wide-path in one process (both kernel paths)
# ---------------------------------------------------------------------------
class GlmFit(Workload):
    name = "glm-fit"
    headline = PaperFit.headline
    PARTS = (PaperFit, WidePath)

    def __init__(self, seed, scale, tracer):
        super().__init__(seed, scale, tracer)
        self.parts = [P(seed, scale, tracer) for P in self.PARTS]

    def generate(self, root):
        for part in self.parts:
            part.generate(root)

    def load(self, spark, root):
        for part in self.parts:
            part.load(spark, root)

    def prepare(self):
        for part in self.parts:
            part.prepare()

    def ops(self, spark, root, out, warm=False):
        return [op for part in self.parts for op in part.ops(spark, root, out, warm)]


WORKLOADS = {w.name: w for w in (GlmFit, Curate, PaperFit, WidePath)}
