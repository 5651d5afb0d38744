"""GLM benchmark runner: one workload, one seed, one process.

    python3 glmbench/run.py --workload glm-fit --seed 1 --seconds 10 --trace 0

It generates the seed's inputs under ``.glmbench_work/`` (removed on
exit), starts ``local[nproc/2]``, warms up, runs the workload's ops for
``--seconds`` and prints one JSON line last: ``{"correct", "attempted",
"failed", "metrics"}``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` turns on Spark's event log and the layer spans and reports
the per-layer metrics (see README.md). ``--scale`` shrinks every input
(the self-test uses it); 1 is the benchmark.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# The driver heap is fixed and pre-touched, so the JVM's share of
# peak_rss_mb does not depend on when G1 decides to grow the heap.
DRIVER_MEM = "3g"
PINNED_CONF = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.optimizer.excludedRules",
)
END_TO_END = (
    ("setup_s", "s"), ("wall_s", "s"), ("headline_fit_s", "s"), ("peak_rss_mb", "MB"),
)


# -- process tree --------------------------------------------------------
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pid: int) -> dict[str, float]:
    """RSS in MB of ``pid`` and its java/python descendants, summed per
    command name. A child the JVM has forked but not yet exec'd carries a
    thread name and shares the JVM's pages; it is skipped, not counted
    twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[str, float] = {}
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm", encoding="ascii") as fh:
                rss = int(fh.read().split()[1]) * page / 2**20
            with open(f"/proc/{p}/comm", encoding="ascii", errors="replace") as fh:
                comm = fh.read().strip()
        except (OSError, IndexError, ValueError):
            continue
        if comm == "java" or comm.startswith("python"):
            out[comm] = out.get(comm, 0.0) + rss
    return out


class RssSampler(threading.Thread):
    """Peak RSS of this process and every descendant (JVM, Python workers)."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period, self.peak = period, 0.0
        self.at_peak: dict[str, float] = {}
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            sample = tree_rss_mb(os.getpid())
            if sum(sample.values()) > self.peak:
                self.peak, self.at_peak = sum(sample.values()), sample
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak


# -- run -----------------------------------------------------------------
def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def pin_environment(work: str) -> int:
    """Set before pyspark starts the JVM: core count, driver heap, import
    path for Python workers, and every scratch directory inside ``work``.

    Spark gets half the CPUs. Its jobs here are short and wait on their
    slowest task, so on a virtual machine whose vCPUs the host deschedules
    a stalled vCPU stalls the job; with spare vCPUs for the driver, the
    Python workers and the scheduler, a run on 4 vCPUs was both faster
    and about half as variable between runs as with all four."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, nproc // 2))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return nproc


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, close the JVM and wait until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        try:
            jvm.stdin.close()
        except OSError:
            pass
        try:
            jvm.wait(timeout=30)
        except Exception:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        for p in procs:  # reap our own children; others are re-parented
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        if not procs:
            return
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


class Runner:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.leaked = self.drift = 0
        self.breakdown: dict = {}
        self.op_log: list[dict] = []
        self.checked: dict[str, list] = {}
        self.headline: list[float] = []

    def op_once(self, spark, tracer, op, tracked: bool) -> float | None:
        """Run and check one op; returns its latency, None if it failed."""
        self.attempted += 1
        sc = spark.sparkContext
        before = sc._jsc.getPersistentRDDs().size() if tracked else 0
        try:
            with tracer.span(f"op.{op.name}", phase="timed") if tracer else nullcontext():
                t0 = time.perf_counter()
                out = op.run()
                dt = time.perf_counter() - t0
            measured = op.check(out)
            if measured is not None:
                self.checked.setdefault(op.name, []).append(measured)
        except Exception as ex:  # a failed op or a failed check
            self.failed += 1
            self.failures.append(f"{op.name}: {type(ex).__name__}: {ex}")
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            if tracked:
                self.leaked += max(0, sc._jsc.getPersistentRDDs().size() - before)
                now = {k: spark.conf.get(k, None) for k in PINNED_CONF}
                self.drift += int(now != self.conf_baseline)
        return dt

    def one_pass(self, spark, tracer, wl, k: int, tracked: bool):
        """One pass over the workload's ops; the headline op runs
        ``wl.headline_reps`` times in a row and counts with its median."""
        times = {}
        for op in wl.ops(spark, self.root, os.path.join(self.root, f"pass{k}")):
            reps = wl.headline_reps if op.name == wl.headline else 1
            runs = [self.op_once(spark, tracer, op, tracked) for _ in range(reps)]
            ok = [t for t in runs if t is not None]
            if op.name == wl.headline:
                self.headline += ok
            times[op.name] = statistics.median(ok) if len(ok) == reps else None
        return times

    def main(self) -> dict:
        from workloads import WORKLOADS

        args, trace = self.args, bool(self.args.trace)
        t0 = time.perf_counter()
        from dask_glm_spark.session import get_spark

        spark = get_spark(app_name=f"glmbench-{args.workload}",
                          extra_conf=spark_conf(self.work, trace))
        start_s = time.perf_counter() - t0
        tracer = None
        if trace:
            from layertrace import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install()
            tracer.enabled = True
        wl = WORKLOADS[args.workload](args.seed, args.scale, tracer)
        try:
            return self._measure(spark, tracer, wl, start_s)
        finally:
            if tracer is not None:
                tracer.enabled = False
            stop_spark(spark)

    def _measure(self, spark, tracer, wl, start_s: float) -> dict:
        args, trace = self.args, tracer is not None
        # set-up: input generation + first scan, repeated; then warm-up
        reps = []
        for r in range(SETUP_REPS):
            root = os.path.join(self.work, f"inputs{r}")
            t = time.perf_counter()
            with tracer.span("setup.inputs", phase="setup") if trace else nullcontext():
                wl.generate(root)
                wl.load(spark, root)
            reps.append(time.perf_counter() - t)
        self.root = root
        t = time.perf_counter()
        with tracer.span("setup.warm_up", phase="setup") if trace else nullcontext():
            warm_ops = wl.warm_up(spark, root)
        warm_s = time.perf_counter() - t
        setup_s = start_s + statistics.median(reps) + warm_s
        t = time.perf_counter()
        wl.prepare()
        self.breakdown = {
            "session_start_s": start_s, "inputs_s": reps, "warm_up_s": warm_s,
            "warm_up_ops_s": warm_ops,
            "reference_s": time.perf_counter() - t,
        }
        self.conf_baseline = {k: spark.conf.get(k, None) for k in PINNED_CONF}

        pass_walls: list[float] = []
        sampler = RssSampler()
        sampler.start()
        ticks0 = cpu_ticks()
        if trace:
            tracer.overhead_s = 0.0
        t_phase = time.perf_counter()
        while True:
            times = self.one_pass(spark, tracer, wl, len(pass_walls), trace)
            self.op_log.append(times)
            pass_walls.append(sum(v for v in times.values() if v is not None))
            elapsed = time.perf_counter() - t_phase
            if elapsed + elapsed / len(pass_walls) > args.seconds:
                break
        peak = sampler.stop()
        ticks1 = cpu_ticks()
        self.breakdown["peak_rss_by_command_mb"] = sampler.at_peak
        self.breakdown["cpu_steal_share"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])

        if not trace:
            metrics = {
                "setup_s": setup_s,
                "wall_s": statistics.median(pass_walls),
                "headline_fit_s": statistics.median(self.headline) if self.headline else 0.0,
                "peak_rss_mb": peak,
            }
            return self._result(metrics, dict(END_TO_END))
        tracer.enabled = False
        return self._traced_result(spark, tracer, start_s, tracer.overhead_s)

    def _traced_result(self, spark, tracer, start_s, overhead_s) -> dict:
        from layertrace import Aggregate, layer_metrics, per_layer_spec, read_event_log

        spark.stop()  # flushes and closes the event log
        jobs = read_event_log(os.path.join(self.work, "eventlog"))
        roots = [s for s in tracer.spans if s["parent"] is None]
        timed = {s["id"] for s in roots if s["attrs"].get("phase") == "timed"}
        setup = {s["id"] for s in roots if s["attrs"].get("phase") == "setup"}
        agg = Aggregate(tracer.spans, jobs, timed)
        metrics = layer_metrics(agg, Aggregate(tracer.spans, jobs, setup))
        metrics.update({
            "session.start_s": start_s,
            "session.leaked_rdds": self.leaked,
            "session.conf_drift": self.drift,
            "trace.overhead_s": overhead_s,
        })
        residual = agg.selftime_residual()
        if residual > 1e-6:
            self.failures.append(f"span self times miss op wall by {residual:.3g} s")
        return self._result(metrics, dict(per_layer_spec()))

    def _result(self, metrics: dict, units: dict) -> dict:
        return {
            "correct": self.failed == 0 and not self.failures,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                name: {"value": float(metrics[name]), "unit": unit}
                for name, unit in units.items()
            },
        }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("glm-fit", "curate", "paper-fit", "wide-path"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    return ap.parse_args(argv)


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # runs the finally blocks: Spark and work dir


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    if not os.path.isdir(os.path.join(ROOT, "dask_glm_spark")):
        print(f"glmbench: no dask_glm_spark package next to {HERE}; run it from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    if importlib.util.find_spec("pyspark") is None:
        print("glmbench: pyspark is not installed", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".glmbench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        nproc = pin_environment(work)
        runner = Runner(args, work)
        result = runner.main()
        print("# glmbench " + json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": nproc, "spark_cores": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg": list(os.getloadavg()),
            "attempted": runner.attempted, "failures": runner.failures,
            "setup": runner.breakdown, "ops_s": runner.op_log,
            "checked": runner.checked,
        }))
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
