"""Benchmark command: one workload, one fresh driver process.

    python3 perfbench/run.py --workload sensor_stream --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --list

Run from the repository root.  The run starts its own SparkSession at
``local[<cpus>]`` through the program's ``session.get_spark``, keeps every
file it writes under ``.perfbench/`` in the working directory, checks the
program's outputs against a plain-Python recomputation, appends a record to
``.perfbench/records.jsonl`` and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: The end-to-end metrics every run reports: unit and meaning per workload.
END_TO_END = {
    "cpu_ms_per_op": ("ms", {"sensor_stream": "CPU time per event ingested",
                             "dashboard": "CPU time per request served"}),
    "ops_per_s": ("1/s", {"sensor_stream": "events ingested per second of the timed phase",
                          "dashboard": "requests served per second of the timed phase"}),
    "setup_s": ("s", {"sensor_stream": "JVM start, input generation, one warm-up round",
                      "dashboard": "JVM start, input generation, sink build, "
                                   "one warm-up page load"}),
}

def host_ref_ms() -> float:
    """CPU ms of a fixed pure-Python loop on this thread, median of 7: the
    host's speed at that moment, kept in the run record.  It runs none of
    the program, so no change to the program moves it."""
    samples = []
    for _ in range(7):
        t0, x = time.thread_time(), 0
        for i in range(300_000):
            x = (x * 31 + i) % 1_000_003
        samples.append((time.thread_time() - t0) * 1e3)
    return statistics.median(samples)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def git_sha() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def start_spark(work: str):
    from kafkasparkstream_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpu_count()}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # Compiler threads that live for the whole run keep JIT CPU
            # time separable from the rest (layers.cpu_seconds).
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark's scratch space; the variable, if set, would win over spark.local.dir.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TZ"] = "UTC"  # collected timestamps are rendered in local time
    time.tzset()

    ref0 = host_ref_ms()
    steal0, total0 = cpu_times()
    t_start = time.perf_counter()
    spark = start_spark(work)
    marks = {"session": time.perf_counter() - t_start}

    def mark(phase: str) -> None:
        marks[phase] = time.perf_counter() - t_start

    try:
        res = workloads.WORKLOADS[workload](spark, work, seed, seconds, trace, mark)
        mark("checked")
    finally:
        stop_spark(spark)
    steal1, total1 = cpu_times()
    shutil.rmtree(work, ignore_errors=True)
    ref1 = host_ref_ms()

    e2e = {"cpu_ms_per_op": (res.cpu_ms_per_op, "ms"), "ops_per_s": res.wall["ops_per_s"],
           "setup_s": (marks["setup"], "s")}
    if trace:
        metrics = dict(res.layers, **{"session.start_ms": (marks["session"] * 1e3, "ms")})
        metrics.update({f"traced.{k}": v for k, v in (e2e | res.wall).items()})
    else:
        metrics = e2e
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "nproc": cpu_count(), "git_sha": git_sha(),
        "attempted": res.attempted, "failed": res.failed, "mismatched": res.mismatched,
        "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "host_ref_ms": [ref0, ref1],
        "phase_ends_s": marks,
        "detail": res.detail,
        "metrics": {k: v for k, (v, _) in (metrics | res.wall).items()},
    }
    with open(os.path.join(base, "records.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(record), file=sys.stderr)
    return {
        "correct": res.mismatched == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="timed-phase length (run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--list", action="store_true",
                    help="print every (workload, end-to-end metric, unit) and exit")
    args = ap.parse_args()
    if args.list:
        for workload in workloads.WORKLOADS:
            for name, (unit, meaning) in END_TO_END.items():
                print(f"{workload}\t{name}\t{unit}\t{meaning[workload]}")
        return 0
    if args.workload is None or args.seconds is None:
        ap.error("--workload and --seconds are required")
    if not os.path.isdir(os.path.join(os.getcwd(), "kafkasparkstream_spark")):
        print("perfbench: run from the repository root (kafkasparkstream_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    print(json.dumps(run(args.workload, args.seed, args.seconds, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
