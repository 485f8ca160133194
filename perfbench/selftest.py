"""Self-test of the benchmark on tiny inputs.

Run from the repository root:

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all four) it runs ``run.py --size tiny``
three times and checks that

- an untraced run is correct and emits exactly the end-to-end metrics of
  BENCHMARK.json, with their units;
- a traced run emits exactly the per-layer metrics of BENCHMARK.json, and
  two independent clocks agree: every Spark job (status store) runs
  inside a span (the benchmark's wrappers), and the jobs' task time fits
  on the cores within the job-covered part of the traced wall;
- a run whose expected counts are perturbed reports every attempt failed.

It also checks that the benchmark exits non-zero, printing no result, in
a directory holding only BENCHMARK.json and the benchmark's files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
sys.path.insert(0, ROOT)


def run(*args: str, cwd: str = ROOT) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return proc.returncode, result, proc.stderr[-3000:]


def check(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def main() -> int:
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    failures: list[str] = []
    cores = len(os.sched_getaffinity(0))

    for name in sys.argv[1:] or list(WORKLOADS):
        common = ["--workload", name, "--size", "tiny"]
        code, res, err = run(*common, "--trace", "0")
        ok = code == 0 and res is not None
        check(ok and res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
              f"{name}: untraced run is correct", failures)
        check(ok and {k: v["unit"] for k, v in res["metrics"].items()} == e2e,
              f"{name}: emits every end-to-end metric", failures)
        if not ok:
            print(err)

        code, res, err = run(*common, "--trace", "1")
        ok = code == 0 and res is not None
        check(ok and res["correct"], f"{name}: traced run is correct", failures)
        check(ok and {k: v["unit"] for k, v in res["metrics"].items()} == per_layer,
              f"{name}: emits every per-layer metric", failures)
        if ok:
            m = {k: v["value"] for k, v in res["metrics"].items()}
            wall = m["trace.wall_s"]
            check(m["trace.jobs_outside_spans_s"] <= 0.02 * wall + 0.05,
                  f"{name}: every Spark job ran inside a spanned call", failures)
            job_s = wall - m["driver.unattributed_s"]
            check(0 < m["spark.task_s"] <= cores * job_s * 1.05 + 0.2,
                  f"{name}: task time fits on {cores} cores within the job time", failures)
            check(m["trace.overhead_ratio"] > 0, f"{name}: tracing overhead reported", failures)
        else:
            print(err)

        code, res, err = run(*common, "--trace", "0", "--perturb")
        check(code == 0 and res is not None and not res["correct"]
              and res["failed"] == res["attempted"] >= 1,
              f"{name}: a perturbed expected count is reported as failed", failures)

    bare = os.path.join(ROOT, ".bench_build", "perfbench-selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res, _ = run("--workload", "curation_funnel", "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(code != 0 and res is None, "bare checkout: exits non-zero without a result", failures)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
