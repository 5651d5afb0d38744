"""Layer spans recorded from outside the library, plus Spark's event log.

A span is ``(id, name, parent, op, start, end)``; the spans of one op
share the op's id. Each span runs its Spark jobs under its own job group
(``glmbench-<id>``), so the event log says which span submitted which job.
Spans come from two places, both in this directory:

- ``Tracer.install()`` wraps the library's public functions per layer
  (module attributes, the solver registry, the estimators' ``fit``), so
  calls the library makes internally are seen too;
- the workloads open spans around pipeline operators themselves, because
  those return lazy frames: the span covers the call AND the write or
  collect that runs it.

Nothing here changes arguments or results; with ``enabled`` off a wrapper
is one attribute test and a direct call.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

KERNEL_FNS = (
    "column_moments_full", "column_moments", "infer_p",
    "loss_gradient", "loss_gradient_fused", "gradient", "loss",
    "multi_loss", "multi_loss_gradient", "gradient_hessian",
    "hessian_vector_product", "softmax_loss_gradient", "fused_softmax_hvp",
    "softmax_multi_loss", "softmax_multi_loss_gradient",
    "softmax_hessian_vector_product",
)
NAMED_KERNELS = (
    "column_moments_full", "loss_gradient", "multi_loss_gradient",
    "gradient_hessian", "hessian_vector_product",
)
NAMED_SOLVERS = (
    "admm", "lbfgs", "newton", "proximal_grad", "softmax_lbfgs_sparse",
)
# layers whose outermost spans get driver-only / executor-run totals
SPLIT_LAYERS = (
    "kernels", "kernels_sparse", "solvers", "optimize", "estimators",
    "model_selection", "dedup", "graph", "quality", "text",
)
PIPELINE = (
    ("dedup.exact_dedup", ("s", "jobs")),
    ("dedup.minhash_dedup_pairs", ("s", "jobs")),
    ("graph.neardup_survivors", ("s", "jobs")),
    ("quality.repetition_stats", ("s",)),
    ("text.fit_text_classifier", ("s", "jobs")),
)


def per_layer_spec() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in print order."""
    out = [
        ("kernels.calls", "count"), ("kernels.s", "s"),
        ("kernels.ms_per_call", "ms"), ("kernels.jobs", "count"),
        ("kernels.tasks", "count"),
    ]
    for fn in NAMED_KERNELS:
        out += [(f"kernels.{fn}.calls", "count"), (f"kernels.{fn}.ms_p50", "ms")]
    out += [("kernels_sparse.calls", "count"), ("kernels_sparse.s", "s")]
    for name in NAMED_SOLVERS:
        out += [
            (f"solvers.{name}.iters", "count"), (f"solvers.{name}.evals", "count"),
            (f"solvers.{name}.jobs", "count"), (f"solvers.{name}.self_s", "s"),
        ]
    out += [
        ("solvers.evals_per_iter", "ratio"),
        ("optimize.fmin_l_bfgs_b.self_s", "s"),
        ("estimators.fit.self_s", "s"),
        ("model_selection.regularization_path.self_s", "s"),
        ("model_selection.regularization_path.evals", "count"),
        ("model_selection.lamduh_max.s", "s"),
    ]
    for name, kinds in PIPELINE:
        out += [(f"{name}.{k}", "s" if k == "s" else "count") for k in kinds]
    out += [
        ("sources.load_table.calls", "count"), ("sources.load_table.jobs", "count"),
        ("sources.load_table.s", "s"), ("session.start_s", "s"),
        ("spark.jobs", "count"), ("spark.stages", "count"),
        ("spark.tasks", "count"), ("spark.failed_tasks", "count"),
        ("op.driver_only_s", "s"), ("op.exec_run_s", "s"),
    ]
    for layer in SPLIT_LAYERS:
        out += [(f"{layer}.driver_only_s", "s"), (f"{layer}.exec_run_s", "s")]
    out += [
        ("session.leaked_rdds", "count"), ("session.conf_drift", "count"),
        ("trace.overhead_s", "s"),
    ]
    return out


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.overhead_s = 0.0  # time spent entering and leaving spans
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    # -- spans ---------------------------------------------------------
    def _group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"glmbench-{rec['id']}", rec["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_enter = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else len(self.spans),
            "attrs": dict(attrs),
            "t0": time.perf_counter(),
            "w0": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._group(rec)
        self.overhead_s += time.perf_counter() - t_enter
        try:
            yield rec
        finally:
            t_exit = time.perf_counter()
            rec["w1"] = time.time()
            rec["t1"] = t_exit
            self._stack.pop()
            self._group(parent)
            self.overhead_s += time.perf_counter() - t_exit

    # -- library wrappers -----------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, kwargs)
                return out

        setattr(owner, attr, traced)
        return traced

    def install(self) -> None:
        from dask_glm_spark.functions import kernels, kernels_sparse, optimize
        from dask_glm_spark.operators import estimators, model_selection, solvers
        from dask_glm_spark.sources import glm_source

        for fn in KERNEL_FNS:
            if hasattr(kernels, fn):
                self.wrap(kernels, fn, f"kernels.{fn}")
        for fn in sorted(vars(kernels_sparse)):
            if fn.endswith("_sparse") and not fn.startswith("_") and callable(
                getattr(kernels_sparse, fn)
            ):
                self.wrap(kernels_sparse, fn, f"kernels_sparse.{fn}")
        self.wrap(optimize, "fmin_l_bfgs_b", "optimize.fmin_l_bfgs_b")

        def record_iters(rec, kwargs):
            info = kwargs.get("fit_info")
            if isinstance(info, dict) and info.get("n_iter") is not None:
                rec["attrs"]["iters"] = int(info["n_iter"])

        names = set(solvers._solvers) | {
            n for n in vars(solvers)
            if not n.startswith("_") and callable(getattr(solvers, n))
            and (n.startswith("softmax_") or n.endswith("_sparse"))
            and getattr(getattr(solvers, n), "__module__", "") == solvers.__name__
        }
        for n in sorted(names):
            traced = self.wrap(solvers, n, f"solvers.{n}", after=record_iters)
            if n in solvers._solvers:
                solvers._solvers[n] = traced
        for cls in (
            estimators._GLM, estimators.MulticlassLogisticRegression,
            estimators.SoftmaxRegression,
        ):
            if "fit" in vars(cls):
                self.wrap(cls, "fit", "estimators.fit")
        for fn in ("regularization_path", "lamduh_max"):
            self.wrap(model_selection, fn, f"model_selection.{fn}")
        self.wrap(glm_source, "load_table", "sources.load_table")


# -- Spark event log ---------------------------------------------------
def read_event_log(log_dir: str) -> dict[int, dict]:
    """Job id -> {group, w0, w1, tasks, failed_tasks, run_s, stages}.

    Times are wall-clock seconds (the JVM's currentTimeMillis, the same
    clock as ``time.time()``). A stage counts once, for the first job
    that lists it; only stages that actually ran are counted."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    ran: set[int] = set()
    tasks: list[tuple[int, float, bool]] = []
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "w0": ev["Submission Time"] / 1000.0,
                        "w1": ev["Submission Time"] / 1000.0,
                        "tasks": 0, "failed_tasks": 0, "run_s": 0.0, "stages": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["w1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    ran.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                    run_ms = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
                    failed = bool(info.get("Failed")) or reason != "Success"
                    tasks.append((ev["Stage ID"], run_ms / 1000.0, failed))
    for sid in ran:
        if stage_job.get(sid) in jobs:
            jobs[stage_job[sid]]["stages"] += 1
    for sid, run_s, failed in tasks:
        job = jobs.get(stage_job.get(sid))
        if job is not None:
            job["tasks"] += 1
            job["failed_tasks"] += int(failed)
            job["run_s"] += run_s
    return jobs


# -- aggregation -------------------------------------------------------
def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Aggregate:
    """Per-layer numbers over a set of op spans (and their descendants)."""

    def __init__(self, spans: list[dict], jobs: dict[int, dict], ops: set[int]):
        self.spans = [s for s in spans if s["op"] in ops and "t1" in s]
        self.by_id = {s["id"]: s for s in self.spans}
        self.children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)
        self.own_jobs: dict[int, list[dict]] = {}
        for job in jobs.values():
            g = job["group"] or ""
            if g.startswith("glmbench-") and int(g[9:]) in self.by_id:
                self.own_jobs.setdefault(int(g[9:]), []).append(job)

    def dur(self, s: dict) -> float:
        return s["t1"] - s["t0"]

    def self_time(self, s: dict) -> float:
        kids = [(c["t0"], c["t1"]) for c in self.children.get(s["id"], [])]
        return self.dur(s) - _union(kids)

    def subtree(self, s: dict) -> list[dict]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur["id"], []))
        return out

    def jobs_in(self, s: dict) -> list[dict]:
        return [j for x in self.subtree(s) for j in self.own_jobs.get(x["id"], [])]

    def ancestors(self, s: dict):
        p = s["parent"]
        while p is not None and p in self.by_id:
            yield self.by_id[p]
            p = self.by_id[p]["parent"]

    def outermost(self, pred) -> list[dict]:
        """Spans matching ``pred`` with no matching ancestor."""
        return [
            s for s in self.spans
            if pred(s) and not any(pred(a) for a in self.ancestors(s))
        ]

    def totals(self, spans: list[dict]) -> dict[str, float]:
        jobs = [j for s in spans for j in self.jobs_in(s)]
        driver_only = 0.0
        for s in spans:
            iv = [
                (max(j["w0"], s["w0"]), min(j["w1"], s["w1"]))
                for j in self.jobs_in(s)
            ]
            driver_only += (s["w1"] - s["w0"]) - _union([i for i in iv if i[1] > i[0]])
        return {
            "calls": len(spans),
            "s": sum(self.dur(s) for s in spans),
            "jobs": len(jobs),
            "stages": sum(j["stages"] for j in jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "failed_tasks": sum(j["failed_tasks"] for j in jobs),
            "exec_run_s": sum(j["run_s"] for j in jobs),
            "driver_only_s": driver_only,
        }

    def evals(self, s: dict) -> int:
        """Outermost dense or sparse kernel calls under ``s``."""
        n, todo = 0, list(self.children.get(s["id"], []))
        while todo:
            x = todo.pop()
            if x["layer"] in ("kernels", "kernels_sparse"):
                n += 1
            else:
                todo.extend(self.children.get(x["id"], []))
        return n

    def selftime_residual(self) -> float:
        """max over ops of |sum of span self times - op wall| (0 when every
        child lies inside its parent and siblings do not overlap)."""
        worst = 0.0
        for root in (s for s in self.spans if s["parent"] is None):
            tree = self.subtree(root)
            worst = max(worst, abs(sum(self.self_time(x) for x in tree) - self.dur(root)))
        return worst


def layer_metrics(agg: Aggregate, setup: Aggregate) -> dict[str, float]:
    """Every per-layer metric except the ones the runner measures itself
    (session.start_s, session.leaked_rdds, session.conf_drift,
    trace.overhead_s: the time the timed passes spent in span
    bookkeeping)."""
    m: dict[str, float] = {}

    def named(name):
        return agg.outermost(lambda s: s["name"] == name)

    kern = agg.outermost(lambda s: s["layer"] == "kernels")
    t = agg.totals(kern)
    m["kernels.calls"] = t["calls"]
    m["kernels.s"] = t["s"]
    m["kernels.ms_per_call"] = 1000.0 * t["s"] / t["calls"] if t["calls"] else 0.0
    m["kernels.jobs"] = t["jobs"]
    m["kernels.tasks"] = t["tasks"]
    for fn in NAMED_KERNELS:
        calls = [s for s in agg.spans if s["name"] == f"kernels.{fn}"]
        m[f"kernels.{fn}.calls"] = len(calls)
        m[f"kernels.{fn}.ms_p50"] = (
            1000.0 * statistics.median(agg.dur(s) for s in calls) if calls else 0.0
        )
    ks = agg.totals(agg.outermost(lambda s: s["layer"] == "kernels_sparse"))
    m["kernels_sparse.calls"] = ks["calls"]
    m["kernels_sparse.s"] = ks["s"]

    iters_total = evals_total = 0
    for name in NAMED_SOLVERS:
        spans = [s for s in agg.spans if s["name"] == f"solvers.{name}"]
        iters = sum(s["attrs"].get("iters", 0) for s in spans)
        evals = sum(agg.evals(s) for s in spans)
        m[f"solvers.{name}.iters"] = iters
        m[f"solvers.{name}.evals"] = evals
        m[f"solvers.{name}.jobs"] = agg.totals(named(f"solvers.{name}"))["jobs"]
        m[f"solvers.{name}.self_s"] = sum(agg.self_time(s) for s in spans)
    for s in agg.spans:
        if s["layer"] == "solvers" and "iters" in s["attrs"]:
            iters_total += s["attrs"]["iters"]
            evals_total += agg.evals(s)
    m["solvers.evals_per_iter"] = evals_total / iters_total if iters_total else 0.0

    for key, name in (
        ("optimize.fmin_l_bfgs_b.self_s", "optimize.fmin_l_bfgs_b"),
        ("estimators.fit.self_s", "estimators.fit"),
        ("model_selection.regularization_path.self_s",
         "model_selection.regularization_path"),
    ):
        m[key] = sum(agg.self_time(s) for s in agg.spans if s["name"] == name)
    m["model_selection.regularization_path.evals"] = sum(
        agg.evals(s) for s in named("model_selection.regularization_path")
    )
    m["model_selection.lamduh_max.s"] = agg.totals(
        named("model_selection.lamduh_max"))["s"]
    for name, kinds in PIPELINE:
        t = agg.totals(named(name))
        for k in kinds:
            m[f"{name}.{k}"] = t[k]

    src = setup.totals(setup.outermost(lambda s: s["name"] == "sources.load_table"))
    m["sources.load_table.calls"] = src["calls"]
    m["sources.load_table.jobs"] = src["jobs"]
    m["sources.load_table.s"] = src["s"]

    ops = agg.totals([s for s in agg.spans if s["parent"] is None])
    m["spark.jobs"] = ops["jobs"]
    m["spark.stages"] = ops["stages"]
    m["spark.tasks"] = ops["tasks"]
    m["spark.failed_tasks"] = ops["failed_tasks"]
    m["op.driver_only_s"] = ops["driver_only_s"]
    m["op.exec_run_s"] = ops["exec_run_s"]
    for layer in SPLIT_LAYERS:
        t = agg.totals(agg.outermost(lambda s, L=layer: s["layer"] == L))
        m[f"{layer}.driver_only_s"] = t["driver_only_s"]
        m[f"{layer}.exec_run_s"] = t["exec_run_s"]
    return m
