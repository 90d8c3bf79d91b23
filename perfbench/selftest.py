"""Self-test of the benchmark harness: one short run per workload.

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json`` it runs ``perfbench/run.py``
untraced and traced with ``--seconds 1`` and asserts that

* the run exits 0 and its last line is the result object, with
  ``correct`` true;
* every ``end_to_end`` metric (untraced) and every ``per_layer`` metric
  (traced) is printed by name with the unit ``BENCHMARK.json`` gives;
* in the traced run, ``build.s + exec.s`` is within 5% of each query's
  latency and ``exec.job_s <= exec.s`` for every query.

It also checks that the benchmark fails, without a result line, in a
directory holding only ``BENCHMARK.json`` and ``perfbench/``.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result(proc: subprocess.CompletedProcess, what: str) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"{what}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    if sorted(out) != ["attempted", "correct", "failed", "metrics"]:
        raise AssertionError(f"{what}: result keys {sorted(out)}")
    if not out["correct"]:
        raise AssertionError(f"{what}: not correct: {lines[-2]}")
    return out


def check_metrics(out: dict, specs: list[dict], what: str) -> None:
    for spec in specs:
        got = out["metrics"].get(spec["name"])
        if got is None or got.get("unit") != spec["unit"]:
            raise AssertionError(f"{what}: metric {spec['name']} printed as {got}")
        if not isinstance(got["value"], (int, float)):
            raise AssertionError(f"{what}: metric {spec['name']} is not a number")


def check_trace(path: str, what: str) -> None:
    with open(os.path.join(ROOT, path)) as f:
        records = json.load(f)["queries"]
    if not records:
        raise AssertionError(f"{what}: trace has no query records")
    for r in records:
        parts = r["build_s"] + r["exec_s"]
        if abs(parts - r["latency_s"]) > 0.05 * r["latency_s"]:
            raise AssertionError(
                f"{what}: {r['query']} build+exec {parts:.4f} s vs latency "
                f"{r['latency_s']:.4f} s")
        if r["job_s"] > r["exec_s"]:
            raise AssertionError(
                f"{what}: {r['query']} job_s {r['job_s']:.4f} > exec_s {r['exec_s']:.4f}")


def check_bare() -> None:
    """Without the engine beside it, the benchmark must fail cleanly."""
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = run(bare, "--workload", "relational", "--seed", "1",
                   "--seconds", "1", "--trace", "0")
        if proc.returncode == 0 or '"metrics"' in proc.stdout:
            raise AssertionError("bare directory: the benchmark did not fail cleanly")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_bare()
    print("ok   bare directory fails without a result")
    for w in spec["workloads"]:
        name = w["name"]
        base = ["--workload", name, "--seed", "1", "--seconds", "1"]
        out = result(run(ROOT, *base, "--trace", "0"), f"{name} untraced")
        check_metrics(out, spec["end_to_end"], f"{name} untraced")
        print(f"ok   {name} untraced: {len(out['metrics'])} metrics")
        proc = run(ROOT, *base, "--trace", "1")
        out = result(proc, f"{name} traced")
        check_metrics(out, spec["per_layer"], f"{name} traced")
        detail = json.loads(proc.stdout.strip().splitlines()[-2])["detail"]
        check_trace(detail["trace_file"], f"{name} traced")
        print(f"ok   {name} traced: {len(out['metrics'])} metrics, "
              f"overhead {detail['trace_overhead_s']:+.3f} s")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
