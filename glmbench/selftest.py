"""Fast self-test of the benchmark itself (not of the library).

    python3 glmbench/selftest.py            # every listed workload, both modes
    python3 glmbench/selftest.py curate     # one workload

Runs each workload of BENCHMARK.json at toy size (``--scale 0.02``, a
few seconds of measuring) with ``--trace 0`` and ``--trace 1`` and asserts
that the last output line is the result object, that every op passed its
check, and that every metric BENCHMARK.json names is printed with its unit.
It also runs the benchmark from a directory holding only BENCHMARK.json
and this directory, where it must fail without printing a result.
Run it from the repository root; it takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.02"


def run(cmd: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_workload(spec: dict, name: str, trace: int) -> None:
    cmd = spec["command"] + [
        "--workload", name, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", SCALE,
    ]
    proc = run(cmd, ROOT)
    assert proc.returncode == 0, (
        f"{name} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, (name, trace, proc.stdout[-3000:])
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, sorted(set(got) ^ {m["name"] for m in wanted})
    for m in wanted:
        value = got[m["name"]]
        assert value["unit"] == m["unit"], (m["name"], value)
        assert isinstance(value["value"], (int, float)), (m["name"], value)
        if not trace:
            assert value["value"] > 0, (m["name"], value)
    print(f"ok  {name} trace={trace}: {len(got)} metrics, attempted {result['attempted']}")


def check_stripped(spec: dict) -> None:
    """Without the library next to it the benchmark must fail cleanly."""
    bare = os.path.join(ROOT, ".glmbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, os.path.basename(HERE)),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        name = spec["workloads"][0]["name"]
        proc = run(spec["command"] + ["--workload", name, "--seed", "1",
                                      "--seconds", "1", "--trace", "0"], bare)
        assert proc.returncode != 0, "benchmark succeeded without the library"
        assert '"metrics"' not in proc.stdout, "benchmark printed a result without the library"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        parent = os.path.dirname(bare)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print("ok  stripped checkout fails without a result")


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = argv or [w["name"] for w in spec["workloads"]]
    check_stripped(spec)
    for name in names:
        for trace in (0, 1):
            check_workload(spec, name, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
