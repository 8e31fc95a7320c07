"""The one place that times a registry query, and its A/B runner.

Library (``bench.py`` and ``scripts/streaming_trigger_audit.py`` use it):

- :func:`warm_up` touches every table and starts one Python worker per
  core, so the first timed query is billed neither for JVM class loading
  and parquet footer reads nor for worker forks.
- :func:`time_query` runs a query ``repeat`` times, each full collect timed
  inside its own ``query_scope``; callers take the min.

Command: interleaved A/B of named configs over a query list::

    python perf.py ab --queries q1,q2 \\
        --config base \\
        --config rocks spark.sql.streaming.stateStore.providerClass=... \\
        --config c8 SPARK_GRAFT_CPUS=8 \\
        [--rounds N] [--repeat N] --out AB.json

A config is a name plus ``KEY=VALUE`` words: keys starting with ``spark.``
are Spark confs given to the session builder, any other key is an
environment variable of the child. Every (round, config) runs in a fresh
subprocess with its own session, and the config order alternates between
rounds (A B / B A) so drift in the host's speed hits every config alike.
The data comes from ``tables.DEFAULT_SF_DIR`` (``$SPARK_GRAFT_SF_DIR``).
The JSON written to ``--out`` holds every timing of every run, each
child's view of its Spark confs, and per config the per-query min and
their sum.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
RESULT_PREFIX = "PERF_RESULT "


def warm_up(spark, sf_dir: str) -> None:
    """Touch every table once and start a Python worker on every core."""
    from kafkasparkstream_spark.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, t, sf_dir).count()
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(lambda it: it, "id long").count()


def time_query(spark, name: str, fn, sf_dir: str,
               repeat: int) -> tuple[list[float], int]:
    """Seconds of each of ``repeat`` full collects of ``fn(spark, sf_dir)``,
    and the row count of the last. Each repeat runs in its own query scope,
    whose blocks are freed after the clock stops, so no repeat reads a
    cache an earlier one left."""
    from kafkasparkstream_spark.util import query_scope

    times: list[float] = []
    rows = 0
    for _ in range(repeat):
        with query_scope(spark, name):
            t0 = time.perf_counter()
            rows = len(fn(spark, sf_dir).collect())
            times.append(time.perf_counter() - t0)
    return times, rows


def parse_config(words: list[str]) -> dict:
    """``[name, KEY=VALUE, ...]`` -> ``{"name", "env", "conf"}``."""
    name, *pairs = words
    cfg: dict = {"name": name, "env": {}, "conf": {}}
    for pair in pairs:
        key, sep, value = pair.partition("=")
        if not sep or not key:
            raise SystemExit(f"config {name}: expected KEY=VALUE, got {pair!r}")
        cfg["conf" if key.startswith("spark.") else "env"][key] = value
    return cfg


def round_order(configs: list, r: int) -> list:
    """Round ``r``'s config order: as given on even rounds, reversed on odd."""
    return configs if r % 2 == 0 else configs[::-1]


def run_child(queries: list[str], repeat: int, conf: dict[str, str]) -> None:
    """One (round, config) of ``ab``: a fresh session times every query and
    prints one result line."""
    from kafkasparkstream_spark.session import get_spark
    from kafkasparkstream_spark.tables import DEFAULT_SF_DIR as sf_dir

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="perf-ab", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)
    registry = entrymod.queries()
    out = {}
    for name in queries:
        times, rows = time_query(spark, name, registry[name], sf_dir, repeat)
        out[name] = {"times": [round(t, 4) for t in times], "rows": rows}
        print(f"# {name}: {min(times):.3f}s ({rows} rows)", file=sys.stderr)
    print(RESULT_PREFIX + json.dumps({
        "cores": spark.sparkContext.defaultParallelism,
        "conf": {k: spark.conf.get(k, None) for k in conf},
        "queries": out,
    }))


def run_ab(queries: list[str], configs: list[dict], rounds: int,
           repeat: int, out_path: str) -> None:
    from kafkasparkstream_spark.tables import DEFAULT_SF_DIR

    names = [c["name"] for c in configs]
    if len(set(names)) != len(names):
        raise SystemExit(f"config names must be unique: {names}")
    report = {c["name"]: {**c, "runs": []} for c in configs}
    for r in range(rounds):
        for cfg in round_order(configs, r):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "run",
                 "--queries", ",".join(queries), "--repeat", str(repeat),
                 "--conf", json.dumps(cfg["conf"])],
                env={**os.environ, **cfg["env"]}, cwd=REPO,
                capture_output=True, text=True,
            )
            lines = [ln for ln in proc.stdout.splitlines()
                     if ln.startswith(RESULT_PREFIX)]
            if not lines:
                run = {"round": r, "error": proc.stderr[-2000:]}
                print(f"round {r} {cfg['name']}: FAILED\n{run['error']}",
                      file=sys.stderr)
            else:
                run = {"round": r, **json.loads(lines[-1][len(RESULT_PREFIX):])}
                print(f"round {r} {cfg['name']}: sum-min "
                      f"{sum(min(q['times']) for q in run['queries'].values()):.2f}s"
                      f" (wall {time.time() - t0:.0f}s)", file=sys.stderr)
            report[cfg["name"]]["runs"].append(run)

    for entry in report.values():
        ok = [run for run in entry["runs"] if "queries" in run]
        entry["min"] = {
            q: min(t for run in ok for t in run["queries"][q]["times"])
            for q in queries
        } if ok else {}
        entry["sum_min"] = round(sum(entry["min"].values()), 4)
    doc = {"sf_dir": DEFAULT_SF_DIR, "queries": queries, "rounds": rounds,
           "repeat": repeat, "configs": report}
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    for name, entry in report.items():
        print(f"{name:24s} sum-of-mins {entry['sum_min']:.3f}s")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    ab = sub.add_parser("ab", help="interleaved A/B of configs over queries")
    ab.add_argument("--queries", required=True,
                    help="comma-separated registry query names")
    ab.add_argument("--config", nargs="+", action="append",
                    metavar=("NAME", "KEY=VALUE"),
                    help="one config; repeat for each (default: one with no "
                         "settings)")
    ab.add_argument("--rounds", type=int, default=1)
    ab.add_argument("--repeat", type=int, default=2,
                    help="timed collects per query per run")
    ab.add_argument("--out", required=True, help="JSON report path")
    child = sub.add_parser("run", help="one run of `ab` (started by it)")
    child.add_argument("--queries", required=True)
    child.add_argument("--repeat", type=int, required=True)
    child.add_argument("--conf", default="{}", help="Spark confs as JSON")
    args = ap.parse_args(argv)

    queries = [q for q in args.queries.split(",") if q]
    if args.cmd == "run":
        run_child(queries, args.repeat, json.loads(args.conf))
    else:
        configs = [parse_config(w) for w in args.config or [["default"]]]
        run_ab(queries, configs, args.rounds, args.repeat, args.out)


if __name__ == "__main__":
    main()
