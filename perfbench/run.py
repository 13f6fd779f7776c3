"""Benchmark entry point.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 10 --trace 0

Run from the repository root. One run starts its own Spark session with
a pinned environment (cores = nproc, bounded driver memory, its own
sink, table cache and Spark local dirs, spine cache off), builds the
workload's seeded inputs, measures closed-loop operations for
--seconds (at least two), checks the outputs against independent
references, stops Spark and waits for its JVM.

Standard output ends with two JSON lines: the run's metadata (the pinned
environment, the box-health calibration, outcome details, the trace
file) and then the result, {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics; --trace 1 wraps
the layer calls and reports the per-layer metrics instead, and writes
every span to .perfbench_runs/trace-<workload>-seed<n>.json.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
DRIVER_MEMORY = "3g"
# interpreter-bound calibration: median seconds on an uncontended
# 4-core x86-64 VM (Python 3.11); a run whose start or end calibration
# exceeds HEALTHY_FACTOR times this is flagged box_ok=false
CALIBRATION_REF_S = 0.125
HEALTHY_FACTOR = 1.5


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of BENCHMARK.json's "end_to_end" or "per_layer" list."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def calibrate() -> float:
    """Median of three timings of a fixed pure-Python loop."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def pin_environment(run_dir: str) -> dict[str, str]:
    """Per-run isolation and a pinned session, set before the library
    is imported (it reads SPARK_GRAFT_CACHE_DIR at import)."""
    cpus = str(len(os.sched_getaffinity(0)))
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_SPINE_CACHE": "0",
        "SPARK_GRAFT_CACHE_DIR": os.path.join(run_dir, "table_cache"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark_local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    return env


def jvm_memory_mb(spark) -> dict[str, float]:
    """What the JVM holds once released frames are cleaned up: live heap,
    non-heap (metaspace, code cache) and direct buffers, in MB. Unlike
    the heap's resident or peak size, these do not depend on how far the
    collector let garbage grow."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    mem = mf.getMemoryMXBean()
    # Python frees its frames' JVM objects, a full collection hands the
    # released RDDs to Spark's ContextCleaner, which drops their blocks:
    # repeat until the live heap has not shrunk three times running
    heap, steady = float("inf"), 0
    for _ in range(20):
        gc.collect()
        jvm.java.lang.System.gc()
        used = mem.getHeapMemoryUsage().getUsed() / 2**20
        if used > heap - 1:
            steady += 1
            if steady == 3:
                break
        else:
            heap, steady = used, 0
        time.sleep(0.25)
    buffer_pools = jvm.java.lang.management.BufferPoolMXBean._java_lang_class
    direct = sum(pool.getMemoryUsed() for pool in mf.getPlatformMXBeans(buffer_pools))
    return {
        "heap_live": heap,
        "non_heap": mem.getNonHeapMemoryUsage().getUsed() / 2**20,
        "direct": direct / 2**20,
    }


def job_floor_s(spark, n: int = 10) -> float:
    """Median wall time of a one-row Spark job: the scheduling floor
    every job of a layer pays."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).count()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes; one that does not is
        # terminated, then killed, rather than holding up the run
        proc.stdin.close()
        for signal_it in (None, proc.terminate, proc.kill):
            if signal_it is not None:
                signal_it()
            try:
                proc.wait(timeout=5)
                break
            except subprocess.TimeoutExpired:
                continue


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    calib_start = calibrate()
    run_dir = os.path.join(RUNS_DIR, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    try:
        from blockchain_indexer_spark.session import get_spark
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"cannot import the indexer from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                # the heap reserved whole at start (not touched): no heap
                # growth inside the first timed operations
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={env['TMPDIR']}"
                ),
            },
        )
        spark.range(1).count()
        start_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext) if args.trace else None
        res = WORKLOADS[args.workload](spark, run_dir, args.seed, args.seconds, tracer)
        if args.trace:
            res.layers["session.job_floor_s"] = job_floor_s(spark)
    finally:
        t_stop = time.perf_counter()
        jvm_mb = {}
        if spark is not None:
            try:
                jvm_mb = jvm_memory_mb(spark)
            finally:
                stop_spark(spark)
        stop_s = time.perf_counter() - t_stop
        shutil.rmtree(run_dir, ignore_errors=True)
    calib_end = calibrate()

    setup_s = start_s + sum(res.setup.values())
    latency = statistics.median(res.latencies) if res.latencies else 0.0
    if args.trace:
        layers = {
            **res.layers,
            "session.start_s": start_s,
            "session.warm_s": res.setup.get("warm_s", 0.0),
            "session.fixture_s": res.setup.get("fixture_s", 0.0),
            "trace.latency_s_p50": latency,
            "trace.overhead_s": tracer.overhead_s / max(1, len(res.latencies)),
        }
        metrics = {
            k: {"value": layers.get(k, 0.0), "unit": u}
            for k, u in metric_units("per_layer").items()
        }
        trace_path = os.path.join(RUNS_DIR, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(tracer.spans, f)
    else:
        # the bench process's peak RSS plus what the JVM holds at the end
        memory_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 + sum(
            jvm_mb.values()
        )
        values = {"latency_s_p50": latency, "setup_s": setup_s, "memory_mb": memory_mb}
        metrics = {
            k: {"value": values[k], "unit": u} for k, u in metric_units("end_to_end").items()
        }
        trace_path = None

    healthy = CALIBRATION_REF_S * HEALTHY_FACTOR
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": {**env, "driver_memory": DRIVER_MEMORY},
        "calibration_s": {"start": calib_start, "end": calib_end, "reference": CALIBRATION_REF_S},
        "box_ok": max(calib_start, calib_end) <= healthy,
        "latencies_s": res.latencies,
        "setup_parts_s": {"session_start": start_s, **res.setup},
        "problems": res.problems[:20],
        "jvm_memory_mb": jvm_mb,
        "stop_s": stop_s,
        "trace_file": trace_path,
    }
    print(json.dumps({"meta": meta}))
    print(
        json.dumps(
            {
                "correct": res.failed == 0 and not res.problems,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
