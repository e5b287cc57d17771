#!/usr/bin/env python3
"""Serving benchmark for dgraph-spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see perfbench/README.md) from the root of a checkout,
checks every output against DuckDB, and prints a summary of every
figure it measured (``# name = value unit`` lines) followed, as the
last line of stdout, by one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` the per-layer ones and writes the span
trace to perfbench/.work/. ``perfbench/repeat.py`` runs it over several
seeds.

Exits 1 on a correctness mismatch (after printing the result) and 2
when the engine cannot be imported (nothing printed on stdout).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# the end-to-end metrics of BENCHMARK.json, which every workload reports
END_TO_END = ("setup_s", "read_p50_s", "pass_s", "ops_per_s")


def _prepare_env() -> None:
    """Keep every file Spark and Python write inside the checkout, size
    the session for this machine, and silence the progress bar."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    # C1 only: a run's JVM lives about a minute, all of it while C2 is
    # still recompiling Spark's hot paths. With C2 on, request latency
    # fell by a third over the first 40 s of requests and set-up took
    # 10 s longer, so a run measured a point on a slope whose position
    # moved with the host's load. C1 alone defaults to a 48 MB code
    # cache, which a traced run filled, so the tiered default is kept.
    jvm = f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{jvm}" '
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.enabled=false "
        "--conf spark.ui.retainedJobs=100000 "
        "--conf spark.ui.retainedStages=100000 pyspark-shell")


def _vmhwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _prepare_env()
    sys.path.insert(0, ROOT)
    try:
        import dgraph_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import datagen
    from dgraph_spark import get_spark
    from tracing import Tracer, jvm_gc_s, median
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    data = datagen.ensure(os.path.join(WORK, "data"))

    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, data, tracer)
    with ThreadPoolExecutor(1) as pool:
        # DuckDB computes the expected answers while the JVM starts
        expecting = pool.submit(wl.expect)
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        expecting.result()
    tracer.attach(spark)
    try:
        t1 = time.perf_counter()
        wl.load(spark)
        t2 = time.perf_counter()
        warm = wl.warmup()
        # start the window on a collected heap, so that no run inherits
        # a collection the warm-up made due
        spark._jvm.System.gc()
        gc0 = jvm_gc_s(spark)
        t3 = time.perf_counter()
        ops = wl.measure(t3 + args.seconds)
        window_s = time.perf_counter() - t3
        window_gc_s = jvm_gc_s(spark) - gc0
        wl.verify(warm + ops)
        verify_s = time.perf_counter() - t3 - window_s
        e2e, extra = wl.summary(ops, window_s)
        rss_py = _vmhwm_mb("self")
        rss_jvm = _vmhwm_mb(spark.sparkContext._gateway.proc.pid)
        layers = {}
        if args.trace:
            tracer.job_stats()
            layers = wl.layers()
    finally:
        _stop(spark)

    load_s, warm_s = t2 - t1, t3 - t2
    attempted = len(warm) + len(ops)
    failed = sum(not o.ok for o in warm + ops)
    e2e = {"setup_s": (start_s + load_s + warm_s, "s"), **e2e}
    assert list(e2e) == list(END_TO_END), list(e2e)
    setup = {"session.start_s": (start_s, "s"), "sources.load_s": (load_s, "s"),
             "setup.warmup_s": (warm_s, "s")}
    # peak RSS is shown but not a bounded metric: the JVM's share moves
    # with garbage-collection timing by more than any useful bound
    shown = {**e2e, **extra, "peak_rss_mb": (rss_py + rss_jvm, "MB"),
             "failed_frac": (failed / attempted, "ratio"), **setup,
             "window_s": (window_s, "s"), "window_gc_s": (window_gc_s, "s"),
             "verify_s": (verify_s, "s"),
             "rss_python_mb": (rss_py, "MB"), "rss_jvm_mb": (rss_jvm, "MB")}
    if args.trace:
        per_op = tracer.per_op()
        metrics = {
            **setup,
            "spark.jobs_per_op": (median(o["jobs"] for o in per_op), "count"),
            "spark.stages_per_op": (median(o["stages"] for o in per_op), "count"),
            "spark.tasks_per_op": (median(o["tasks"] for o in per_op), "count"),
            "spark.job_s_per_op": (median(o["job_s"] for o in per_op), "s"),
            "driver.self_s_per_op": (
                median(o["dur"] - o["job_s"] for o in per_op), "s"),
        }
        shown.update(metrics)
        shown.update(layers)
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                           "end_to_end": e2e,
                           "layers": {**metrics, **layers}})
        print(f"# trace written to {os.path.relpath(path, ROOT)}")
    else:
        metrics = e2e

    print(f"# workload {args.workload} seed {args.seed}: {len(ops)} ops in "
          f"{window_s:.2f} s window, {attempted} attempted, {failed} failed")
    for name, (value, unit) in shown.items():
        print(f"# {name} = {value:.6g} {unit}")
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
