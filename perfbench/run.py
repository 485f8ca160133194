"""Seeded, oracle-checked benchmark of the skewer_spark gateway.

Run from the repository root:

    python3 perfbench/run.py --workload spine_hotkey --seed 1 --seconds 10 --trace 0

One invocation is one closed-loop run of one workload (see workloads.py)
at local[<cores>]. It prepares the seeded inputs and DuckDB answers
(cached, untimed) and sets the session up once, from a cold JVM. It then
runs as many units as take ``--seconds`` at the workload's nominal unit
time, so every run does the same work, checking each unit against the
oracle and the per-turn digest of the first. With ``--trace 1`` it then
runs one traced unit and reports the per-layer metrics instead of the
end-to-end ones.

Progress goes to stderr. The last line of stdout is one JSON object with
the keys correct, attempted, failed and metrics. Inputs, answers and run
files live under ``$CARGO_TARGET_DIR`` (default ``.bench_build``) inside
the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import sys
import tempfile
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

# end-to-end metric -> unit
END_TO_END = {
    "rows_per_s": "1/s",
    "epoch_p50_s": "s",
    "epoch_tail_s": "s",
    "setup_s": "s",
    "stored_bytes_per_input_byte": "ratio",
}
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _environment(run_dir: str) -> dict:
    """Point every scratch location at the run directory and return the
    session arguments. Must run before pyspark starts its JVM."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # every JVM, the spark-submit launcher included: temp files into the
    # run directory and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    cpus = len(os.sched_getaffinity(0))
    return {
        "app_name": "perfbench",
        "master": f"local[{cpus}]",
        "shuffle_partitions": 2 * cpus,
        "silence_window_warn": True,
        "extra_conf": {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    }


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it; the maximum (percentile 100) below 20 samples,
    where that percentile would fall under the median."""
    xs = sorted(samples)
    n = len(xs)
    if n >= 20:
        return xs[n - 11], 100.0 * (n - 10) / n
    return (xs[-1] if xs else 0.0), 100.0


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "tiny"), default="full", help="tiny: self-test inputs"
    )
    ap.add_argument(
        "--perturb", action="store_true",
        help="self-test: add one to an expected count, so every unit must fail",
    )
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "skewer_spark", "pipeline.py")):
        log(f"no skewer_spark package under {ROOT}: run from the repository root")
        return 2
    from perfbench import inputs, layers
    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    if not os.path.exists(os.path.join(ROOT, inputs.DOC_BASE)):
        log(f"missing {inputs.DOC_BASE}: run from the repository root")
        return 2

    work = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    cache, run_dir = os.path.join(work, "cache"), os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    conf = _environment(run_dir)
    t_prep = time.time()
    wl = WORKLOADS[args.workload](ROOT, run_dir, cache, args.seed, args.size)
    wl.perturb = args.perturb
    log(f"{wl.name}: inputs and answers ready in {time.time() - t_prep:.1f}s ({wl.why})")

    from skewer_spark import session

    tracer = T.Tracer() if args.trace else None
    if tracer:
        tracer.install()
        tracer.active = True
    spark = None
    try:
        t0 = time.time()
        spark = session.get_spark(**conf)
        t1 = time.time()
        wl.touch(spark)
        wl.warm(spark)
        setup = (t1 - t0, time.time() - t1)
        log("setup (start, touch + warm-up) s: ({:.2f}, {:.2f})".format(*setup))
        if tracer:
            tracer.active = False

        units = []
        digest_done = False
        for _ in range(wl.units_for(args.seconds)):
            unit = wl.run_unit(spark, len(units))
            if unit.ok and not digest_done:
                digest_done = True
                unit.why = wl.digest_check(unit)
                unit.ok = not unit.why
            units.append(unit)
            log(f"unit {len(units)}: {unit.rows} rows in {unit.wall:.3f}s ok={unit.ok} {unit.why}")
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = T.peak_rss_mb([os.getpid(), jvm_pid])

        walls = sum(u.wall for u in units)
        rows_per_s = sum(u.rows for u in units) / walls if walls > 0 else 0.0
        samples = wl.epoch_samples(units)
        tail_s, tail_pct = tail(samples)
        log(f"epochs: n={len(samples)}, tail = p{tail_pct:.1f}, "
            + ", ".join(f"{x:.2f}" for x in samples))

        traced = None
        if tracer:
            wl.timed = lambda: tracer.span("unit", root=True)
            with T.WorkerSampler(jvm_pid) as sampler:
                tracer.active = True
                traced = wl.run_unit(spark, len(units))
                tracer.active = False
            wl.timed = contextlib.nullcontext
            units.append(traced)
            log(f"traced unit: {traced.rows} rows in {traced.wall:.3f}s "
                f"ok={traced.ok} {traced.why}")

        attempted = sum(wl.attempts(u) for u in units)
        failed = sum(wl.attempts(u) for u in units if not u.ok)
        if traced is not None:
            root = next(s for s in reversed(tracer.spans) if s.name == "unit")
            T.flush_listeners(spark)
            execs = T.read_executions(spark, root.start, root.end)
            jobs, stages = T.read_jobs(spark, root.start, root.end)
            values = layers.fold(
                spans=tracer.spans, root=root, execs=execs, jobs=jobs, stages=stages,
                sampler=sampler, unit=traced, input_rows=wl.input_rows(),
                survivor_ratio=wl.survivor_ratio(), setup=setup, untraced_rows_per_s=rows_per_s,
            )
            values["epoch.count"] = len(samples)
            values["epoch.tail_pct"] = tail_pct
            values["failed_share"] = failed / attempted
            values["process.peak_rss_mb"] = peak_rss
            units_of = layers.LAYER_UNITS
        else:
            ok = [u for u in units if u.ok]
            values = {
                "rows_per_s": rows_per_s,
                "epoch_p50_s": T.median(samples),
                "epoch_tail_s": tail_s,
                "setup_s": sum(setup),
                "stored_bytes_per_input_byte": (
                    T.median(u.stored_bytes for u in ok) / wl.input_bytes()
                ),
            }
            units_of = END_TO_END
    finally:
        if tracer:
            tracer.uninstall()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units_of.items()},
    }
    bad = [k for k, v in result["metrics"].items() if not math.isfinite(v["value"])]
    if bad:
        raise RuntimeError(f"non-finite metrics: {bad}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
