"""Interleaved A/B of the r9 session stack (THP opt-out + malloc pinning).

VERDICT r9 #1: the driver's bench regressed 23% total while round 9 shipped a
session-level change inherited by every process (``prctl(PR_SET_THP_DISABLE)``
set in the driver before the JVM spawns, plus ``MALLOC_TRIM_THRESHOLD_=-1`` /
``MALLOC_MMAP_THRESHOLD_=128M`` exported process-wide). This script settles
whether either leg hurts the JVM-only query family.

Method (guide §1): the prctl and the malloc env are per-process, so each
configuration gets its own subprocess running the same fixed query list
(min-of-REPS in-process per query); configurations alternate launch-by-launch
(A B C D / D C B A / ...) so box waves hit every config equally. Two disjoint
query sets:

- ``jvm``: pure JVM scan/agg cells (incl. the six cells the r9 driver run read
  at >2x their floor) — these never touch a Python worker, so any effect here
  is the inherited prctl/malloc env acting on the JVM itself.
- ``kernel``: Arrow-kernel cells (numpy inside Python workers) — the family
  the r9 stack was built for.

Outer usage:   python scripts/session_stack_ab.py            (writes THP_AB.json)
Inner usage:   python scripts/session_stack_ab.py --inner jvm   (one config, env-set)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JVM_QUERIES = [
    "count_by_event_type",
    "count_by_user",
    "bi_nation_volume",
    "bm25_search",
    "bigram_top_per_lang",
    "zorder_curve_stats",
    "benford_first_digit",
    "pricing_summary",
    "region_revenue",
    "bpe_encode_stats",
]

KERNEL_QUERIES = [
    "knn_graph",
    "knn_jaccard_links",
    "knn_triangle_stats",
    "hard_negatives_topk",
    "user_series_knn",
    "cross_modal_search",
    "psi_value_drift",
    "quality_logreg_fit",
    "kmeans_embeddings",
    "semdedup_clusters",
]

# (name, DISABLE_THP, malloc pinned?). "pinned" = the r9 exports; "default" =
# pre-set glibc defaults so session.get_spark's setdefault is a no-op.
CONFIGS = [
    ("thp_off_malloc_pin", "1", True),   # r9 HEAD default
    ("thp_on_malloc_pin", "0", True),
    ("thp_off_malloc_def", "1", False),
    ("thp_on_malloc_def", "0", False),   # stock (pre-r9) behavior
]


def run_inner(which: str) -> None:
    sys.path.insert(0, REPO)
    from kafkasparkstream_spark.session import get_spark
    from kafkasparkstream_spark.util import query_scope

    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("AB_REPS", "2"))
    names = JVM_QUERIES if which == "jvm" else KERNEL_QUERIES

    spark = get_spark(app_name=f"session-stack-ab-{which}")
    spark.sparkContext.setLogLevel("ERROR")

    from kafkasparkstream_spark.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, t, sf_dir).count()
    spark.range(64, numPartitions=32).mapInPandas(lambda it: it, "id long").count()

    queries = entrymod.queries()
    out: dict[str, list[float]] = {}
    for name in names:
        times = []
        for _ in range(reps):
            with query_scope(spark, name):
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).collect()
                times.append(round(time.perf_counter() - t0, 4))
        out[name] = times
    print("AB_RESULT " + json.dumps(out))


def run_outer() -> None:
    rounds = int(os.environ.get("AB_ROUNDS", "4"))
    results: dict[str, dict[str, dict[str, list[float]]]] = {}
    order = list(range(len(CONFIGS)))
    for r in range(rounds):
        seq = order if r % 2 == 0 else order[::-1]
        for ci in seq:
            cname, thp, pinned = CONFIGS[ci]
            env = dict(os.environ)
            env["SPARK_GRAFT_DISABLE_THP"] = thp
            if pinned:
                env.pop("MALLOC_TRIM_THRESHOLD_", None)
                env.pop("MALLOC_MMAP_THRESHOLD_", None)
            else:
                env["MALLOC_TRIM_THRESHOLD_"] = "131072"
                env["MALLOC_MMAP_THRESHOLD_"] = "131072"
            for which in ("jvm", "kernel"):
                t0 = time.time()
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--inner", which],
                    env=env, capture_output=True, text=True, cwd=REPO,
                )
                line = [l for l in proc.stdout.splitlines() if l.startswith("AB_RESULT ")]
                if not line:
                    print(f"round {r} {cname} {which}: FAILED\n{proc.stderr[-2000:]}",
                          file=sys.stderr)
                    continue
                data = json.loads(line[-1][len("AB_RESULT "):])
                bucket = results.setdefault(cname, {}).setdefault(which, {})
                for q, times in data.items():
                    bucket.setdefault(q, []).extend(times)
                print(f"round {r} {cname} {which}: "
                      f"sum-min {sum(min(v) for v in data.values()):.2f}s "
                      f"(wall {time.time() - t0:.0f}s)", file=sys.stderr)

    summary = {}
    for cname, buckets in results.items():
        summary[cname] = {
            which: {
                "per_query_min": {q: min(v) for q, v in qs.items()},
                "sum_min": round(sum(min(v) for v in qs.values()), 3),
                "all_reps": qs,
            }
            for which, qs in buckets.items()
        }
    with open(os.path.join(REPO, "THP_AB.json"), "w") as f:
        json.dump({"rounds": rounds, "reps_env": os.environ.get("AB_REPS", "2"),
                   "configs": summary}, f, indent=1, sort_keys=True)
    for cname in summary:
        for which in summary[cname]:
            print(f"{cname:22s} {which:6s} sum-of-mins "
                  f"{summary[cname][which]['sum_min']:.2f}s")


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--inner":
        run_inner(sys.argv[2])
    else:
        run_outer()
