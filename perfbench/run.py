"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process runs one workload: it
starts Spark through the program's session factory, generates the
workload's inputs from the seed, runs the workload's untimed warm-up
rounds, then times whole rounds until ``--seconds`` have passed (and at
least three), checks the program's outputs against independent models
and prints one JSON object as the last line of stdout. It exits 1 if a
check failed. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run. Every file
the run writes lives under ``.perfbench_work/`` in the checkout and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _env(work: str) -> None:
    """Keep every temp file inside the work directory and let Spark's
    Python workers import the program: sequence passes run Arrow UDFs
    that fail with ModuleNotFoundError otherwise."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "alerta_spark")):
        raise SystemExit("alerta_spark is missing from the checkout")

    work = harness.make_workdir(ROOT)
    _env(work)
    spark = None
    try:
        tracer = None
        if args.trace:
            from perfbench import trace

            tracer = trace.Tracer()
            trace.install(tracer)
        t0 = time.perf_counter()
        spark = harness.start_spark(work)
        session_s = time.perf_counter() - t0
        bench = harness.Bench(spark)
        if tracer is not None:
            tracer.attach(bench)
        workload = WORKLOADS[args.workload](bench, work, args.seed)
        for i in range(workload.warm_rounds):
            workload.round(f"warm{i}")
        setup_s = harness.process_age_s()

        bench.timed = True
        attempted = failed = 0
        rounds = 0
        # at least three timed units, so that the median of their times
        # rides out one stall; the traced run orders its rounds
        # untraced, traced, traced, untraced (so that the warm-up trend
        # favours neither) and needs one such block
        min_rounds = 4 if tracer is not None else 3
        deadline = time.perf_counter() + args.seconds
        while (
            rounds < min_rounds
            or time.perf_counter() < deadline
            or (tracer is not None and rounds % 4)
        ):
            if tracer is not None:
                tracer.enabled = rounds % 4 in (1, 2)
            n, bad = workload.round(f"r{rounds}")
            attempted += n
            failed += bad
            rounds += 1
        bench.timed = False
        if tracer is not None:
            tracer.enabled = False

        per_key = harness.attribute_work(bench)
        # before the checks, which run in this process too
        if args.trace:
            metrics = trace.layer_metrics(tracer, bench, per_key, session_s, workload)
        else:
            metrics = harness.end_to_end(bench, setup_s, harness.unit_work(per_key))
        problems = workload.check()
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        result = {
            "correct": not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
