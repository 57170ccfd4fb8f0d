#!/usr/bin/env python3
"""Benchmark entry point: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload scan_epochs --seed 7 --seconds 25 --trace 0

Workloads (closed loop, one client, samples timed only after warm-up):

 - ``scan_epochs``: seeded odds pages through ``process_scan_epoch``;
   one sample is one epoch (see scan.py).
 - ``suite_light``: passes over fast headline queries at sf0.1; one
   sample is one pass (see suite.py).

The session runs on ``local[$SPARK_GRAFT_CPUS]``, which defaults to the
CPUs this process may run on.  Spark's scratch space, the alert log and
temporary files live under ``.perfbench_work/`` next to this directory.

``--trace 0`` measures the end-to-end metrics.  ``--trace 1`` installs
span wrappers on every layer and per-sample Spark counters, alternates
traced and untraced samples, and reports the per-layer metrics, the
tracing overhead among them.  A layer the workload does not reach
reports a measured zero and is listed as ``not_exercised``; a layer it
must reach that records no call fails the run.  The metric names and units come from
BENCHMARK.json.  The next-to-last stdout line describes the run (sample
counts, host diagnostics, workload parameters); the last line is the
result.  A failed correctness check, or a step that raises, counts as
a failed operation and makes the run exit with status 1.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = {"scan_epochs": ("scan", "ScanEpochs"), "suite_light": ("suite", "SuiteLight")}


def since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_environment() -> None:
    # the alert log's dates and the oracle's are wall-clock UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path[:0] = [ROOT, HERE]


def stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise


def attempt(fn, what: str, problems: list[str]) -> bool:
    """Run one step; an exception is a failed operation, not a crash."""
    try:
        fn()
        return True
    except Exception:
        traceback.print_exc()
        problems.append(f"{what} raised")
        return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    prepare_environment()
    from probes import LAYERS, EngineCounters, Tracer, calibrate, host_cpu, install_wrappers

    from banksy_spark.session import get_spark

    calib = [calibrate()]
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    session_s = time.perf_counter() - t0
    problems: list[str] = []
    try:
        module, cls = WORKLOADS[args.workload]
        tracer = Tracer()
        counters = EngineCounters(spark)
        w = getattr(importlib.import_module(module), cls)(spark, args.seed, ROOT, WORK, tracer, counters)
        ready = attempt(w.setup, "setup", problems)
        if ready and args.trace:
            ready = attempt(lambda: install_wrappers(tracer, counters), "installing wrappers", problems)
        setup_s = since_process_start()
        steal0, ticks0 = host_cpu()
        deadline = time.perf_counter() + args.seconds
        traced = False
        while ready and (
            time.perf_counter() < deadline
            or w.n_untraced < (1 if args.trace else w.MIN_SAMPLES)
            or (args.trace and not w.n_traced)
        ):
            if not attempt(lambda: w.sample(traced=traced), "a sample", problems):
                break
            traced = bool(args.trace) and not traced
        steal1, ticks1 = host_cpu()
        calib.append(calibrate())
        attempt(lambda: problems.extend(w.check()), "the correctness check", problems)
    finally:
        stop(spark)

    host = {
        "host.steal_frac": (steal1 - steal0) / max(ticks1 - ticks0, 1),
        "host.calib_s": statistics.median(calib),
    }
    info_extra: dict = {}
    values: dict[str, float] = {}
    if args.trace and w.n_traced and w.n_untraced:
        # a layer's wrapper is on in every traced run, so a layer with no
        # span reports a measured zero; one the workload must reach fails
        for layer in sorted(set(LAYERS) - tracer.reached()):
            if f"{layer}_s" not in w.NOT_EXERCISED:
                problems.append(f"layer {layer} recorded no call")
        keys = {f"{layer}_s" for layer in LAYERS} | {k for sample in w.traced for k in sample}
        mean = {k: statistics.fmean(sample.get(k, 0.0) for sample in w.traced) for k in keys}
        traced_s = w.traced_latency_s()
        values = {
            **{name: 0.0 for name in w.NOT_EXERCISED},
            **mean,
            **w.layer_totals(),
            **host,
            "session.start_s": session_s,
            "trace.latency_s": traced_s,
            "trace.overhead_frac": traced_s / w.p50_s() - 1,
        }
        info_extra = {"traced_samples": w.n_traced, "not_exercised": list(w.NOT_EXERCISED)}
        if "layers_sum_s" in mean:
            # the layer times that partition a traced sample, against its latency
            info_extra.update(layers_sum_s=mean["layers_sum_s"], traced_latency_s=mean["latency_s"])
        wanted = spec["per_layer"]
    elif not args.trace and w.n_untraced:
        values = {"setup_s": setup_s, "p50_s": w.p50_s()}
        wanted = spec["end_to_end"]
    else:
        wanted = []
    metrics = {}
    for m in wanted:
        if m["name"] in values:
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        else:
            problems.append(f"metric {m['name']} has no value")
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    failed = len(problems)

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "session_s": session_s,
        "samples": w.n_untraced,
        "metrics": {
            k: {**v, "n": 1 if k == "setup_s" else (w.n_traced if args.trace else w.n_untraced)}
            for k, v in metrics.items()
        },
        "latencies_s": getattr(w, "latencies", None),
        "host": host,
        "params": w.describe(),
        **info_extra,
    }
    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(w.ops, 1),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
