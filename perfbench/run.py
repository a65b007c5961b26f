#!/usr/bin/env python3
"""Benchmark of the parquet_python_spark store: one seeded workload per run.

    python3 perfbench/run.py --workload code_rw --seed 1 --seconds 15 --trace 0

A run starts one local Spark session sized from ``nproc`` (one Python
process, one closed-loop client), generates its input from ``--seed``,
warms up, and then measures rounds (see ``workload.Workload.round``) until
``--seconds`` have passed, at least ``MIN_ROUNDS`` and one more if the host
stole CPU time during one of them (see ``NOISY_STEAL``).  Every timed
output is checked; a failed or wrong operation counts in ``failed``.

The last stdout line is the result JSON (``correct``, ``attempted``,
``failed``, ``metrics``): end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``.  The line before it is a detail JSON with the
per-operation samples, host load and steal per phase, and (traced) the
per-layer self-time ledger.  See perfbench/README.md for the workloads and
which layer metric should move which end-to-end metric.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.layers import TracedWorkload  # noqa: E402
from perfbench.workload import WORKLOADS, Workload  # noqa: E402

MIN_ROUNDS = 2
# A round during which the hypervisor stole more than this share of the
# host's CPU time ran 1.2-1.4x slow on a shared 4-vCPU host (quiet rounds
# see 0.1-1%).  One more round is then measured, at most MAX_ROUNDS, so the
# median of three can pass over one slowed round.
NOISY_STEAL = 0.02
MAX_ROUNDS = 3
PREP_REPS = 3


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def build_spark(work: str, cpus: int):
    from pyspark.sql import SparkSession

    # a quarter of the host's RAM, at most 2 GiB: the inputs are < 40 MB and
    # the host is shared, so the heap only has to hold blocks in flight.
    # The heap starts at full size, so its growth is not timed as work.
    mem_mb = max(1024, min(2048, _mem_total_bytes() // 4 // (1 << 20)))
    tmp = os.path.join(work, "tmp")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem_mb}m -Djava.io.tmpdir={tmp} -Duser.timezone=UTC")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.executorEnv.MALLOC_MMAP_MAX_", "0")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
        .getOrCreate()
    )


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every Python worker it forked, and
    wait for each to exit."""
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc  # the JVM exits when its stdin closes
    kids = trace.descendants(jvm.pid)
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait(timeout=30)
    deadline = time.time() + 30
    for pid in kids:
        while trace.alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if trace.alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def gc_seconds(spark) -> float:
    beans = (spark._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def peak_rss_mb(spark) -> float:
    """Sum of VmHWM over this process, the JVM and its live Python workers."""
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    pids = [os.getpid(), jvm] + trace.descendants(jvm)
    return sum(trace.vm_hwm_mb(p) for p in pids)


def end_to_end(w: Workload, setup_s: float, rss: float) -> dict:
    s = w.samples
    med = statistics.median
    summ = w.last_summary
    return {
        "setup_s": (setup_s, "s"),
        "ingest_mbps": (med(s["ingest_mbps"]), "MB/s"),
        "bytes_ratio": (summ["enc_bytes"] / summ["raw_bytes"], "ratio"),
        "compact_s": (med(s["compact_s"]), "s"),
        "scan_mbps": (med(s["scan_mbps"]), "MB/s"),
        "lookup_p50_ms": (1000 * med(s["lookup_s"]), "ms"),
        "q1_s": (med(s["q1_s"]), "s"),
        "peak_rss_mb": (rss, "MB"),
        "ok_frac": ((w.attempted - w.failed) / max(w.attempted, 1), "ratio"),
    }


def main(argv=None) -> int:
    args = _args(argv)
    import parquet_python_spark  # noqa: F401 - fail fast without the package

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
        "MALLOC_MMAP_MAX_": "0",
        "MALLOC_TRIM_THRESHOLD_": "-1",
        "ARROW_DEFAULT_MEMORY_POOL": "system",
    })
    time.tzset()
    try:
        return _run(args, cpus, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cpus: int, work: str) -> int:
    host = {"start": trace.host_sample()}
    t_setup = time.perf_counter()
    spark = build_spark(work, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark_start_s = time.perf_counter() - t_setup
        tracer = trace.Tracer() if args.trace else trace.NullTracer()
        w = (TracedWorkload if args.trace else Workload)(
            spark, args.workload, args.seed, work, tracer)
        prep = [w.prepare(i) for i in range(PREP_REPS)]
        t0 = time.perf_counter()
        w.expectations()
        t1 = time.perf_counter()
        w.warm_up()
        warm_s = time.perf_counter() - t1
        setup_s = spark_start_s + statistics.median(prep) + (
            time.perf_counter() - t0)
        host["setup_end"] = trace.host_sample()

        first_exec = trace.last_execution_id(spark) + 1
        gc0 = gc_seconds(spark)
        tracer.install()
        t_win = time.perf_counter()
        round_steal = []
        try:
            while (len(round_steal) < MIN_ROUNDS
                   or time.perf_counter() - t_win < args.seconds
                   or (max(round_steal) > NOISY_STEAL
                       and len(round_steal) < MAX_ROUNDS)):
                before = trace.host_sample()
                w.round(len(round_steal))
                round_steal.append(trace.steal_share(before,
                                                     trace.host_sample()))
        finally:
            tracer.uninstall()
        rounds = len(round_steal)
        window_s = time.perf_counter() - t_win
        gc_s = gc_seconds(spark) - gc0
        host["window_end"] = trace.host_sample()
        rss = peak_rss_mb(spark)

        metrics = end_to_end(w, setup_s, rss)
        detail = {
            "workload": args.workload, "seed": args.seed, "cpus": cpus,
            "rounds": rounds, "window_s": window_s,
            "spark_start_s": spark_start_s, "prep_s": prep,
            "expectations_s": t1 - t0, "warm_up_s": warm_s,
            "samples": w.samples, "failures": w.failures,
            "host": {k: {"loadavg": v["loadavg"]} for k, v in host.items()},
            "steal_share": {
                "setup": trace.steal_share(host["start"], host["setup_end"]),
                "window": trace.steal_share(host["setup_end"],
                                            host["window_end"]),
                "rounds": round_steal},
            "store": w.last_summary, "jvm_gc_s": gc_s,
        }
        if args.trace:
            metrics, traced = w.layer_metrics(first_exec, gc_s, window_s)
            detail["trace"] = traced
            path = os.path.join(ROOT, ".bench_work", "traces",
                                f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump({"spans": tracer.spans, "detail": detail}, f,
                          default=str)
    finally:
        stop_spark(spark)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
