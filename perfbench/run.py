#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload scratch --seed 1 --seconds 1 --trace 0

Works from any working directory: the repository root is found from
this file's path and handed to the Spark Python workers through
``PYTHONPATH``. Everything the run writes goes under
``.perfbench_work/`` in the repository root and is removed at the end,
except the traced run's span file.

Standard output ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, measured with tracing off; with
``--trace 1`` the run measures once untraced and then, in a new driver
JVM, sets up again and measures once more traced (Spark UI on, jobs
read from its REST API); it prints the per-layer metrics and the
tracing overhead. A ``{"context": ...}`` line before it records
the host's core count and CPU steal share over the run.
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

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    ``BENCHMARK.json`` lists."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _prepare_env(work: str) -> None:
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM Spark starts (launcher and driver) keeps its temp files
    # in the work dir and writes no hsperfdata file to /tmp
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts) if o)
    # the session factory puts shuffle files on /dev/shm by default; a
    # run may write only inside its checkout, so they go to the work dir
    os.environ["SPARK_GRAFT_TMPFS"] = "0"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"


def _shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every child process."""
    from pyspark import SparkContext

    from perfbench.host import descendants

    gateway = SparkContext._gateway
    spark.stop()
    # the next session launches a new JVM
    SparkContext._gateway = SparkContext._jvm = None
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, REPO)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "deduplicator_go_spark")):
        print(f"perfbench: no deduplicator_go_spark package under {REPO}", file=sys.stderr)
        return 2
    base = os.path.join(REPO, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)

    from perfbench.host import cpu_jiffies, steal_share
    from perfbench.spans import Tracer
    from perfbench.workloads import layer_metrics, start_session, summarize

    cpu0 = cpu_jiffies()
    spark = None
    try:
        t0 = time.time()
        spark = start_session(work, ui=False)
        session_s = time.time() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        setup_s = time.time() - t0
        untraced = wl.measure(args.seconds)
        outcomes = [untraced]
        if args.trace:
            # the traced phase repeats set-up and measurement in a new
            # driver JVM, so that it measures from the state the untraced
            # phase measured from
            _shutdown(spark)
            spark = None
            spark = start_session(work, ui=True)
            traced_dir = os.path.join(work, "traced")
            os.makedirs(traced_dir)
            wl = WORKLOADS[args.workload](spark, traced_dir, args.seed)
            wl.setup()
            run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
            tracer = Tracer(spark.sparkContext, run_id)
            traced = wl.measure(args.seconds, tracer)
            outcomes.append(traced)
            tracer.write(os.path.join(base, f"spans-{args.workload}-seed{args.seed}.json"))
    finally:
        try:
            if spark is not None:
                _shutdown(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)

    attempted = sum(o.attempted for o in outcomes)
    failed = sum(o.failed for o in outcomes)
    if args.trace:
        values = layer_metrics(traced, untraced)
        values["session.start_s"] = session_s
        values["check.error_rate"] = failed / attempted
        values["trace.collect_s"] = tracer.collect_s
        units = metric_units("per_layer")
    else:
        values = summarize(untraced, wl.input_text_bytes)
        values["setup_s"] = setup_s
        units = metric_units("end_to_end")
    missing = sorted(set(units) - set(values))
    if missing:
        attempted += 1
        failed += 1
    context = {
        "workload": args.workload, "seed": args.seed, "cores": os.cpu_count(),
        "spark_master": "local[4]", "steal_share": steal_share(cpu0, cpu_jiffies()),
        "walls_s": [o.walls for o in outcomes],
        "peak_rss_python_mb": [o.peak_rss_python_mb for o in outcomes], "errors": [e for o in outcomes for e in o.errors],
        "missing_metrics": missing,
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
