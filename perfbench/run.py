"""Benchmark entry point.

    python3 perfbench/run.py --workload import_batches --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed, starts a ``local[N]`` Spark session with a pinned environment,
sets up the stores, runs the closed-loop timed operations for about
``--seconds`` (at least one operation), checks every output, and prints
as its last line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end metrics;
with ``--trace 1`` spans are on for the timed loop and the end-of-run steps
and the metrics are the per-layer ones (spans are written as JSONL to
``.perfbench_work/spans-<workload>-<seed>.jsonl``). Exits non-zero when
a check fails or the package cannot be imported. Everything it writes stays under ``.perfbench_work/``
in the checkout; the run's scratch directory is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Spark cores and driver heap: small enough for a shared 4-core host
CPUS = 2
DRIVER_MEMORY = "2g"


def _pin_environment(work: str, trace: bool) -> dict:
    """Environment for the Spark JVM and Python workers; returns the record
    that goes into the result."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(work, "events")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    cpus = min(CPUS, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    # every JVM the run starts (the launcher too) keeps its temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = []
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{events}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    try:
        mem_kb = int(next(l for l in open("/proc/meminfo") if l.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        mem_kb = 0
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark_cpus": cpus,
        "driver_memory": DRIVER_MEMORY,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "events": events,
    }


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to
    exit (it exits when its stdin closes; its Python workers go with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _loop(w, seconds: float) -> float:
    """Closed loop: one step at a time until the budget is spent or the
    inputs run out."""
    t0 = time.perf_counter()
    while True:
        if not w.step():
            break
        if time.perf_counter() - t0 >= seconds:
            break
    return time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen  # noqa: E402
    import metrics  # noqa: E402
    import spans  # noqa: E402
    from workloads import WORKLOADS  # noqa: E402

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    # the program under test must come from this checkout
    import wcdimportbot_spark.session  # noqa: F401,E402

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        env = _pin_environment(work, bool(args.trace))
        plan = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
        tracer = spans.Tracer()

        t_setup = time.perf_counter()
        from wcdimportbot_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_setup
        env["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        w = WORKLOADS[args.workload](spark, plan, work, tracer)
        w.setup()
        setup_s = time.perf_counter() - t_setup

        if args.trace:
            tracer.install()
        t_start = time.time()
        loop_s = _loop(w, args.seconds)
        t_loop = time.time()
        w.finish()
        tracer.uninstall()
        _stop(spark)
        spark = None

        if args.trace:
            tracer.write_jsonl(os.path.join(
                ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
            values = metrics.per_layer(
                w, tracer, spans.EventLog(env["events"]), t_start, t_loop, spans.span_cost()
            )
        else:
            values = metrics.end_to_end(w, setup_s)
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "env": {k: v for k, v in env.items() if k != "events"},
            "params": plan["params"],
            "session_s": session_s,
            "setup_s": setup_s,
            "loop_s": loop_s,
            "samples": {k: len(v) for k, v in w.samples.items()},
            "named": metrics.named(w),
            "errors": w.errors[:20],
        }
        print(json.dumps(info, sort_keys=True))
        correct = w.failed == 0
        print(json.dumps({
            "correct": correct,
            "attempted": w.attempted,
            "failed": w.failed,
            "metrics": values,
        }, sort_keys=True))
        return 0 if correct else 1
    except Exception:  # noqa: BLE001 - report, then fail without a result line
        traceback.print_exc()
        return 2
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
