"""Benchmark harness: wall-clock per registered query at $SPARK_GRAFT_SF_DIR.

Runs every ``__spark_entry__.queries()`` entry on
``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``), forces full execution
with a count-collect, and prints ONE JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

The driver that consumes this output captures only the LAST 2000 bytes of
stdout, so the JSON line must fit in that window with every per-query timing
present.  88+ full query names don't fit, so the ``queries`` keys are
abbreviated with the deterministic token dictionary below (``ann_cosine_topk``
-> ``ann_cos_topk``).  The full-fidelity record is written to
``BENCH_DETAIL.json`` (full names, 4-decimal timings) and the short->full
mapping to ``BENCH_KEYS.json``, both in the repo root; per-query lines with
full names also go to stderr.  The short-key assignment is FROZEN from round
10 on (VERDICT r9 #3): a committed ``BENCH_KEYS.json`` is reused verbatim so
keys never change meaning between rounds, new queries mint keys from the
unused pool, and retired keys are never recycled.  Precision is uniform when
it fits; otherwise whole seconds everywhere with the slowest cells upgraded
to 2dp inside the byte budget (VERDICT r9 #7).  Without a frozen map the
legacy degradation applies: 3dp -> 2dp, then prefix-truncated keys —
correctness of the *set* of timings is never sacrificed, only key length.

Notes:
- A warm-up query runs first so JVM/codegen startup isn't billed to q1.
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
import time

# Stdout budget for the final JSON line. The driver keeps the last 2000 bytes
# of stdout; leave slack for the trailing newline and any stray runtime chatter.
STDOUT_BUDGET = 1900

# Deterministic token abbreviations for bench-line keys. Longest-token coverage
# of the current registry; unknown tokens pass through unchanged. Keep entries
# stable across rounds so BENCH_r{N}.json files stay comparable.
ABBREV = {
    "count": "cnt", "counts": "cnts", "revenue": "rev", "customer": "cust",
    "customers": "custs", "window": "win", "windowed": "win", "windows": "wins",
    "embedding": "emb", "embeddings": "embs", "distribution": "distr",
    "purchase": "purch", "multimodal": "mm", "streaming": "strm",
    "incremental": "incr", "percentiles": "pctls", "normalize": "norm",
    "fingerprint": "fngr", "histogram": "hist", "retention": "retn",
    "forecast": "fcst", "grouped": "grp", "grouping": "grpg",
    "weighted": "wtd", "quantity": "qty", "priority": "prio",
    "supplier": "supp", "training": "trn", "pipeline": "pipe",
    "session": "sess", "sliding": "sld", "resample": "rsmp",
    "stratified": "strat", "inactive": "inact", "distinct": "dist",
    "approx": "apx", "aggregates": "aggs", "aggregate": "agg",
    "filtered": "fltd", "latest": "last", "moving": "mov", "average": "avg",
    "features": "feat", "nation": "ntn", "market": "mkt", "share": "shr",
    "events": "evts", "event": "evt", "quality": "qual", "values": "vals",
    "value": "val", "stats": "st", "orders": "ords", "order": "ord",
    "wealthy": "wlth", "disjunctive": "disj", "clusters": "clust",
    "profile": "prof", "tagged": "tag", "signup": "sgnp", "before": "bfr",
    "users": "usrs", "user": "usr", "sample": "smp", "energy": "enrg",
    "search": "srch", "volume": "vol", "change": "chg", "recent": "rcnt",
    "region": "rgn", "summary": "summ", "total": "tot", "terms": "trm",
    "spike": "spk", "salted": "salt", "pricing": "price", "pivot": "pvt",
    "unpivot": "unpvt", "hourly": "hrly", "small": "sm", "large": "lg",
    "brand": "brnd", "cohort": "coh", "type": "ty", "dedup": "dd",
    "exact": "ex", "minhash": "mh", "simhash": "sh", "ngram": "ng",
    "jaccard": "jac", "neardup": "nd", "cosine": "cos", "image": "img",
    "audio": "aud", "frame": "frm", "running": "run", "zscore": "z",
    "bucket": "bkt", "error": "err", "clicks": "clk", "click": "clk",
    "decile": "dec", "history": "hst", "rollup": "rlp", "merge": "mrg",
    "quantile": "qtl", "quantiles": "qtls", "weekly": "wkly", "daily": "dly",
    "anomaly": "anom", "interval": "ivl", "overlap": "ovlp", "range": "rng",
    "template": "tmpl", "document": "doc", "documents": "docs",
    "shipping": "ship", "returns": "rtn", "returned": "rtn",
    "secondary": "sec2", "global": "glb", "partition": "part",
    "watermark": "wm", "dimension": "dim", "dimensions": "dims",
    "entropy": "entr", "language": "lang", "detect": "det",
    "similarity": "sim", "frequency": "freq", "vector": "vec",
    "vectors": "vecs", "product": "prod", "products": "prods",
    "weight": "wt", "weights": "wts", "median": "med", "funnel": "fnl",
    "conversion": "conv", "attribution": "attr", "balance": "bal",
    "inventory": "inv", "velocity": "velo", "lineitem": "li",
    "supplier_part": "sp", "percent": "pct", "ratio": "ratio",
}


def short_name(name: str) -> str:
    """Deterministic per-token abbreviation of a registry query name."""
    return "_".join(ABBREV.get(tok, tok) for tok in name.split("_"))


def _disambiguate(keys: list[str]) -> dict[str, str]:
    """Map full names -> unique short names (suffix -2, -3... on collision)."""
    out: dict[str, str] = {}
    seen: dict[str, int] = {}
    for k in keys:
        s = short_name(k)
        n = seen.get(s, 0)
        seen[s] = n + 1
        out[k] = s if n == 0 else f"{s}-{n + 1}"
    return out


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
    out: dict[str, str] = {}
    alphabet = string.ascii_lowercase + string.digits
    width = max((len(k) for k in frozen.values()), default=2)

    def pool_gen():
        for w in range(width, len(alphabet)):
            for p in itertools.product(alphabet, repeat=w):
                yield "".join(p)

    pool = pool_gen()
    for n in names:
        if n in frozen:
            out[n] = frozen[n]
            continue
        c = short_name(n)[:width]
        if c in used:
            c = next(p for p in pool if p not in used)
        used.add(c)
        out[n] = c
    return out


def _fit_line(timings: dict[str, float], total: float, sf) -> tuple[str, dict[str, str]]:
    """Build the stdout JSON line under STDOUT_BUDGET bytes.

    With a committed BENCH_KEYS.json the key assignment is frozen (stable
    across rounds); precision is uniform if it fits, otherwise mixed — every
    cell gets whole seconds and the slowest cells are upgraded to 2dp while
    the byte budget allows (VERDICT r9 #7: integer-second quantization made
    the 8-vs-32-core scaling probe unreadable for sub-second cells; spending
    the slack on the heavy cells keeps the probe meaningful where it matters).
    Without a frozen map it degrades as before: abbreviated keys at
    3dp -> 2dp -> prefix-truncated keys. Returns (line, short->full mapping).
    """
    names = sorted(timings)
    frozen = _load_frozen_keys()

    def _num(t: float, dp: int):
        """Minimal JSON number at dp decimals: 2.0 -> 2 (same parsed value,
        2 fewer bytes — ~10% of rounded timings land on a whole second)."""
        v = round(t, dp)
        return int(v) if v == int(v) else v

    def build_line(q: dict) -> str:
        return json.dumps(
            {"metric": "total_query_sec", "value": round(total, 3),
             "unit": "sec", "sf": sf, "queries": q},
            separators=(",", ":"),
        )

    if frozen:
        keymap = _stable_keymap(names, frozen)
        # Uniform precision first.
        for dp in (3, 2, 1):
            line = build_line({keymap[n]: _num(timings[n], dp) for n in names})
            if len(line) <= STDOUT_BUDGET:
                return line, {v: k for k, v in keymap.items()}
        # Mixed precision: whole seconds everywhere, then upgrade the
        # slowest cells to 2dp greedily while the budget allows.
        dps = {n: 0 for n in names}
        line = build_line({keymap[n]: _num(timings[n], dps[n]) for n in names})
        if len(line) <= STDOUT_BUDGET:
            for n in sorted(names, key=lambda n: -timings[n]):
                dps[n] = 2
                cand = build_line(
                    {keymap[m]: _num(timings[m], dps[m]) for m in names})
                if len(cand) <= STDOUT_BUDGET:
                    line = cand
                else:
                    dps[n] = 0
            return line, {v: k for k, v in keymap.items()}
        # Frozen keys cannot fit even at whole seconds (registry grew a
        # lot): fall through to the legacy degradation path below.

    mapping = _disambiguate(names)

    def build(keymap: dict[str, str], dp: int) -> str:
        q = {keymap[n]: _num(timings[n], dp) for n in names}
        return json.dumps(
            {"metric": "total_query_sec", "value": round(total, 3),
             "unit": "sec", "sf": sf, "queries": q},
            separators=(",", ":"),
        )

    for dp in (3, 2):
        line = build(mapping, dp)
        if len(line) <= STDOUT_BUDGET:
            return line, {v: k for k, v in mapping.items()}

    # Next: truncate short names to unique prefixes of shrinking length, at
    # 2dp first, then 1dp, then whole seconds (BENCH_DETAIL.json keeps full
    # names + 4dp always).
    def _unique_trunc(width: int) -> dict[str, str]:
        """Unique keys of at most ``width`` chars where possible: an
        un-collided truncation keeps its natural (possibly shorter) form;
        a collided one draws the next unused combo from a deterministic
        base-36 pool of that width (growing a numeric suffix past the
        width blew the byte budget the truncation existed to meet at 200
        queries). Past 36^width names the pool chains to width+1 combos —
        slightly over-width keys beat a crash. BENCH_KEYS.json records
        the mapping either way."""
        import itertools
        import string

        alphabet = string.ascii_lowercase + string.digits

        def pool_gen():
            for w in range(width, len(alphabet)):
                for p in itertools.product(alphabet, repeat=w):
                    yield "".join(p)

        out: dict[str, str] = {}
        used: set[str] = set()
        pool = pool_gen()
        for n in names:
            c = short_name(n)[:width]
            if c in used:
                c = next(p for p in pool if p not in used)
            used.add(c)
            out[n] = c
        return out

    for dp in (2, 1, 0):
        for width in (10, 8, 6, 5, 4, 3, 2, 1):
            trunc = _unique_trunc(width)
            line = build(trunc, dp)
            if len(line) <= STDOUT_BUDGET:
                return line, {v: k for k, v in trunc.items()}
    # Thousands of queries: keep the slowest timings that fit (they are the
    # ones worth reading in a truncated record; BENCH_DETAIL.json always has
    # the full set) rather than emitting nothing.
    trunc = _unique_trunc(2)
    by_cost = sorted(names, key=lambda n: -timings[n])
    keep: dict[str, str] = {}
    line = json.dumps(
        {"metric": "total_query_sec", "value": round(total, 3),
         "unit": "sec", "sf": sf, "truncated": True, "queries": {}},
        separators=(",", ":"),
    )
    for n in by_cost:
        trial = dict(keep, **{n: trunc[n]})
        cand = json.dumps(
            {"metric": "total_query_sec", "value": round(total, 3),
             "unit": "sec", "sf": sf, "truncated": True,
             "queries": {trial[m]: round(timings[m], 1) for m in trial}},
            separators=(",", ":"),
        )
        if len(cand) > STDOUT_BUDGET:
            break
        keep, line = trial, cand
    return line, {v: k for k, v in keep.items()}


def _force(df) -> int:
    """Execute the full plan and materialize results (what a consumer pays)."""
    return len(df.collect())


def main() -> None:
    from kafkasparkstream_spark.session import get_spark

    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    spark = get_spark(app_name="kafkasparkstream-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = entrymod.queries()

    # Warm-up: touch every table once so first-timed query isn't billed for
    # JVM classloading / parquet footer reads, and spin up the Python UDF
    # worker pool so Arrow-kernel queries aren't billed for worker forks.
    from kafkasparkstream_spark.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, t, sf_dir).count()
    spark.range(64, numPartitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).mapInPandas(
        lambda it: it, "id long"
    ).count()

    from kafkasparkstream_spark.util import query_scope

    timings: dict[str, float] = {}
    for name in sorted(queries):
        best = None
        for _ in range(repeat):
            with query_scope(spark, name):  # frees the query's blocks, untimed
                t0 = time.perf_counter()
                n = _force(queries[name](spark, sf_dir))
                dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 4)
        print(f"# {name}: {best:.3f}s ({n} rows)", file=sys.stderr)

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
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
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
