"""Benchmark harness: wall-clock per registered query at $SPARK_GRAFT_SF_DIR.

Runs every ``__spark_entry__.queries()`` entry on
``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``), timed by
:func:`perf.time_query` (full collect, each repeat in its own query scope)
after :func:`perf.warm_up`, and prints ONE JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

The driver that consumes this output captures only the LAST 2000 bytes of
stdout, so the JSON line must fit in that window with every per-query timing
present.  Full query names don't fit, so the ``queries`` keys are short keys
whose assignment is FROZEN (VERDICT r9 #3): the committed ``BENCH_KEYS.json``
(short -> full) is reused verbatim so keys never change meaning between
rounds, new queries mint keys from the unused pool, and retired keys are
never recycled.  Precision is uniform when it fits; otherwise whole seconds
everywhere with the slowest cells upgraded to 2dp inside the byte budget
(VERDICT r9 #7).  The full-fidelity record (full names, 4-decimal timings)
goes to ``BENCH_DETAIL_c{cores}.json``, one per core count, so a run on one
host does not overwrite another's record; per-query lines with full names
also go to stderr.

Notes:
- Each query is timed end-to-end (plan + execute + fetch), matching how the
  serving layer would pay for it.
- ``SPARK_GRAFT_BENCH_REPEAT`` (default 2) re-runs each query and keeps the
  minimum: single-run timings on a shared box show multi-second GC/straggler
  spikes on random queries; min-of-2 reports the query's real cost.
"""

from __future__ import annotations

import json
import os
import sys

# Stdout budget for the final JSON line. The driver keeps the last 2000 bytes
# of stdout; leave slack for the trailing newline and any stray runtime chatter.
STDOUT_BUDGET = 1900


def _load_frozen_keys() -> dict[str, str]:
    """full -> short from the committed BENCH_KEYS.json (short -> full).

    Round 9 lesson (VERDICT r9 #3): the short keys were re-minted every run
    with a width that adapts to the registry size, so the driver's literal
    key join between rounds matched nothing when the width changed (3 -> 2
    chars at 228 queries). The assignment is now FROZEN: keys recorded in
    BENCH_KEYS.json are reused verbatim and new queries mint keys from the
    unused pool, so a key never changes meaning across rounds.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_KEYS.json")) as f:
            short_to_full = json.load(f)
    except (OSError, ValueError):
        return {}
    if not isinstance(short_to_full, dict):
        return {}
    out: dict[str, str] = {}
    for s, full in short_to_full.items():
        if isinstance(s, str) and isinstance(full, str) and full not in out:
            out[full] = s
    return out


def _stable_keymap(names: list[str], frozen: dict[str, str]) -> dict[str, str]:
    """Assign every name its frozen key; mint pool keys only for new names.

    Keys of retired names stay RESERVED (never recycled for a different
    query) so a driver joining by key can never alias two queries.
    """
    import itertools
    import string

    used = set(frozen.values())
    alphabet = string.ascii_lowercase + string.digits
    width = max((len(k) for k in frozen.values()), default=2)

    def pool_gen():
        for w in range(width, len(alphabet)):
            for p in itertools.product(alphabet, repeat=w):
                yield "".join(p)

    pool = (p for p in pool_gen() if p not in used)
    return {n: frozen[n] if n in frozen else next(pool) for n in names}


def _fit_line(timings: dict[str, float], total: float, sf) -> tuple[str, dict[str, str]]:
    """Build the stdout JSON line under STDOUT_BUDGET bytes.

    Keys come from :func:`_stable_keymap` (frozen across rounds). Precision
    is uniform if it fits, otherwise mixed: every cell gets whole seconds
    and the slowest cells are upgraded to 2dp while the byte budget allows
    (VERDICT r9 #7: integer-second quantization made the 8-vs-32-core
    scaling probe unreadable for sub-second cells; spending the slack on
    the heavy cells keeps the probe meaningful where it matters). Returns
    (line, short->full mapping).
    """
    names = sorted(timings)
    keymap = _stable_keymap(names, _load_frozen_keys())

    def _num(t: float, dp: int):
        """Minimal JSON number at dp decimals: 2.0 -> 2 (same parsed value,
        2 fewer bytes — ~10% of rounded timings land on a whole second)."""
        v = round(t, dp)
        return int(v) if v == int(v) else v

    def build_line(dps: dict[str, int]) -> str:
        return json.dumps(
            {"metric": "total_query_sec", "value": round(total, 3),
             "unit": "sec", "sf": sf,
             "queries": {keymap[n]: _num(timings[n], dps[n]) for n in names}},
            separators=(",", ":"),
        )

    mapping = {v: k for k, v in keymap.items()}
    for dp in (3, 2, 1):
        line = build_line(dict.fromkeys(names, dp))
        if len(line) <= STDOUT_BUDGET:
            return line, mapping
    # Mixed precision. A registry too large even for whole seconds returns
    # an over-budget line, which test_bench_line_fits_driver_window catches.
    dps = dict.fromkeys(names, 0)
    line = build_line(dps)
    if len(line) <= STDOUT_BUDGET:
        for n in sorted(names, key=lambda n: -timings[n]):
            dps[n] = 2
            cand = build_line(dps)
            if len(cand) <= STDOUT_BUDGET:
                line = cand
            else:
                dps[n] = 0
    return line, mapping


def main() -> None:
    from kafkasparkstream_spark.session import get_spark

    from kafkasparkstream_spark.tables import DEFAULT_SF_DIR as sf_dir

    import __spark_entry__ as entrymod
    from perf import time_query, warm_up

    repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    spark = get_spark(app_name="kafkasparkstream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)

    queries = entrymod.queries()
    timings: dict[str, float] = {}
    for name in sorted(queries):
        times, n = time_query(spark, name, queries[name], sf_dir, repeat)
        timings[name] = round(min(times), 4)
        print(f"# {name}: {min(times):.3f}s ({n} rows)", file=sys.stderr)

    total = sum(timings.values())
    line, key_map = _fit_line(timings, total, sf)

    # Full-fidelity record for humans/judges; the stdout line is the driver's.
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        import subprocess

        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=here,
            capture_output=True, text=True,
        ).stdout.strip() or None
    except Exception:
        sha = None
    try:
        cpus = spark.sparkContext.defaultParallelism
        with open(os.path.join(here, f"BENCH_DETAIL_c{cpus}.json"), "w") as f:
            json.dump(
                {"metric": "total_query_sec", "value": round(total, 4),
                 "unit": "sec", "sf": sf, "git_sha": sha,
                 "queries": timings},
                f, indent=1, sort_keys=True,
            )
        with open(os.path.join(here, "BENCH_KEYS.json"), "w") as f:
            json.dump(key_map, f, indent=1, sort_keys=True)
    except OSError as exc:  # read-only checkout shouldn't kill the bench
        print(f"# detail write skipped: {exc}", file=sys.stderr)

    print(line)


if __name__ == "__main__":
    main()
