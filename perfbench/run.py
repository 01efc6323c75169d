#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload dashboard|curation|ingest \\
        --seed N --seconds S --trace 0|1 [--scale F]

Run from the repository root. Each run:

1. pins its environment (fresh TMPDIR, Spark local dirs, PYTHONPATH for
   executor Python workers, SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM),
   all under ``.bench_work/`` in the checkout;
2. generates its inputs from ``--seed`` with ``loadgen.py`` in a
   separate process;
3. starts the engine three times (session + table load; the first start
   launches the JVM) and keeps the last session;
4. warms up, then runs the workload's closed loop in whole passes for
   at least ``--seconds``;
5. checks the outputs against DuckDB outside the timed loop.

It prints a ``{"report": ...}`` line with every measurement and setting,
then, as its last line, ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``; spans are written to ``.bench_work/trace-*.json``).
Metric definitions and the layer -> end-to-end map: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "curation", "ingest")
DEFAULT_SCALE = 0.02  # lineitem 120k rows: above the engine's mirror threshold
DRIVER_MEM = "2g"
WATCHDOG_S = 170


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=DEFAULT_SCALE)
    ap.add_argument(
        "--corrupt",
        metavar="CHECK",
        help="drop a row from one checked result, to prove the gate trips",
    )
    return ap.parse_args(argv)


def pin_environment(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    settings = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        # the JVM spark-submit starts first to build the driver's command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(settings)
    return settings


def _watchdog(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {WATCHDOG_S} s")


def _terminate(signum, frame):
    sys.exit(128 + signum)  # unwinds through the cleanup in main()


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGALRM, _watchdog)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(WATCHDOG_S)
    started = time.perf_counter()
    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    run = None
    try:
        settings = pin_environment(work)
        sys.path.insert(0, ROOT)
        import workloads  # imports the engine: fails fast without it

        gen_out = os.path.join(work, "inputs")
        t0 = time.perf_counter()
        subprocess.run(
            [
                sys.executable,
                os.path.join(HERE, "loadgen.py"),
                "--out", gen_out,
                "--seed", str(args.seed),
                "--scale", str(args.scale),
                "--workload", args.workload,
            ],
            check=True,
        )
        loadgen_s = time.perf_counter() - t0
        with open(os.path.join(gen_out, "plan.json")) as fh:
            plan = json.load(fh)
        os.environ["SPARK_GRAFT_SF_DIR"] = settings["SPARK_GRAFT_SF_DIR"] = plan["tables"]

        run = workloads.Run(plan, work, args.seconds, bool(args.trace), args.corrupt)
        run.start_engine()
        warmup = workloads.WARMUP_PASSES[args.workload]
        if args.workload == "ingest":
            workloads.run_ingest(run, warmup)
        else:
            workloads.run_passes(run, warmup, reset_cache=args.workload == "curation")

        if args.trace:
            metrics = workloads.per_layer(run)
            run.tracer.dump(os.path.join(bench_dir, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = workloads.end_to_end(run)
        rep = workloads.report(run)
    finally:
        try:
            if run is not None:
                run.stop_engine()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            signal.alarm(0)

    failed = rep["failed_ops"] + len(rep["failed_checks"])
    rep.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        scale=args.scale,
        settings={k: v.replace(ROOT, ".") for k, v in settings.items()},
        loadgen_s=loadgen_s,
        wall_s=time.perf_counter() - started,
    )
    print(json.dumps({"report": rep}, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": rep["ops"] + rep["checks"],
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
