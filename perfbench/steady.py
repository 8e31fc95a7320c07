"""Steadiness command: run every workload repeatedly, alternating their
order, each run with its own seed, and print each metric's median,
quartiles and spread (quartile distance over median).  The bounds in
BENCHMARK.json were set from its output.

    python3 perfbench/steady.py --runs 10
    python3 perfbench/steady.py --runs 3 --traced 3   # plus tracing overhead

Run from the repository root.  Each run measures BENCHMARK.json's
``run_seconds``.  Besides the gated end-to-end metrics it prints the other
figures of the run records (bound "nan": not gated), and it flags every
gated metric whose spread is above a third of its bound.
``--traced N`` adds N traced runs per workload, each beside the plain run of
the same seed, and prints how far each figure's median moves under
tracing against the plain runs of those seeds.
All runs are kept in ``.perfbench/steady-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    record = [line for line in out.stderr.splitlines() if line.startswith('{"workload"')][-1]
    res.update(workload=workload, seed=seed, trace=trace, wall_s=wall,
               record=json.loads(record))
    print(f"  {workload:14s} seed {seed:3d} trace {trace} {wall:6.1f} s  "
          f"attempted {res['attempted']} failed {res['failed']} correct {res['correct']}  "
          + " ".join(f"{k}={v:.4g}" for k, v in res["record"]["metrics"].items()
                     if trace == 0 or k.startswith("traced.")), flush=True)
    return res


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    names = [w["name"] for w in bench["workloads"]]

    runs: list[dict] = []
    for i in range(max(args.runs, args.traced)):
        order = names if i % 2 == 0 else names[::-1]
        for workload in order:
            if i < args.runs:
                runs.append(one_run(workload, args.first_seed + i, seconds, 0))
            if i < args.traced:
                runs.append(one_run(workload, args.first_seed + i, seconds, 1))

    os.makedirs(".perfbench", exist_ok=True)
    path = os.path.join(".perfbench", f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump(runs, f, indent=1)
    ok = report(runs, bench)
    print(f"runs kept in {path}")
    return 0 if ok else 1


def report(runs: list[dict], bench: dict) -> bool:
    """Print the table; False if a gated metric's spread is above a third of
    its bound or the failed share differs between runs."""
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"\n{'workload':14s} {'metric':22s} {'median':>10s} {'q1':>10s} "
          f"{'q3':>10s} {'spread':>7s} {'bound':>6s} {'traced':>8s}")
    ok = True
    for workload in [w["name"] for w in bench["workloads"]]:
        plain = [r for r in runs if r["workload"] == workload and r["trace"] == 0]
        traced = [r for r in runs if r["workload"] == workload and r["trace"] == 1]
        shares = {r["failed"] / r["attempted"] for r in plain}
        if len(shares) > 1:
            ok = False
            print(f"{workload}: failed share differs between runs: {sorted(shares)}")
        # Gated metrics first, then the run record's wall-clock figures.
        metrics = list(plain[0]["metrics"]) if plain else []
        metrics += [k for k in (plain[0]["record"]["metrics"] if plain else ()) if k not in metrics]
        for name in metrics:
            values = [r["record"]["metrics"][name] for r in plain]
            med, q1, q3, sp = spread(values) if len(values) > 1 else (values[0],) * 3 + (0.0,)
            bound = bounds.get(name, float("nan"))
            steady = name not in bounds or sp <= bound / 3
            ok &= steady
            shift = ""
            if traced and f"traced.{name}" in traced[0]["record"]["metrics"]:
                # Against the plain runs of the same seeds, which ran beside them.
                seeds = {r["seed"] for r in traced}
                tv = statistics.median(r["record"]["metrics"][f"traced.{name}"] for r in traced)
                pv = statistics.median(r["record"]["metrics"][name]
                                       for r in plain if r["seed"] in seeds)
                shift = f"{tv / pv - 1:+.1%}"
            print(f"{workload:14s} {name:22s} {med:10.4g} {q1:10.4g} {q3:10.4g} {sp:7.1%} "
                  f"{bound:6.2f} {shift:>8s}"
                  + ("" if steady else "  <- spread above a third of the bound"))
    walls = [r["wall_s"] for r in runs if r["trace"] == 0]
    if walls:
        print(f"\nrun wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    return ok


if __name__ == "__main__":
    sys.exit(main())
