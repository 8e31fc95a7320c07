"""Core-scaling artifact the driver's sf0.1 integer-second probe cannot
produce (VERDICT r9 #7): run the heaviest registry queries at sf1.0 on
local[8] and local[32] (one subprocess per width — master is fixed at
session build) and record sec@8 / sec@32 with full float precision.

Usage:
    python scripts/make_sf1.py   # once
    python scripts/scaling_cores.py            # writes SCALING_CORES.json
Inner: python scripts/scaling_cores.py --inner  (env SPARK_GRAFT_CPUS set)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The 15 heaviest cells of the committed r10 baseline BENCH_DETAIL plus the
# two streaming cells the trigger audit names as data-scaling; families:
# dedup/LSH, ANN, BPE, kernels, streaming.
HEAVY_QUERIES = [
    "dedup_clusters",
    "dedup_keep_best",
    "dedup_minhash_lsh_capped",
    "training_pipeline_e2e",
    "dedup_containment_capped",
    "dedup_ngram_jaccard_capped",
    "ann_recall_report",
    "ann_ivfpq_rerank_adaptive",
    "bpe_encode_stats",
    "bpe_merge_table",
    "pagerank_knn_graph",
    "duplicated_span_stats",
    "knn_triangle_stats",
    "semdedup_clusters",
    "streaming_running_totals",
    "streaming_upsert_agg",
]


def run_inner() -> None:
    sys.path.insert(0, REPO)
    from kafkasparkstream_spark.session import get_spark
    from kafkasparkstream_spark.util import query_scope

    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("AB_REPS", "2"))
    spark = get_spark(app_name="scaling-cores")
    spark.sparkContext.setLogLevel("ERROR")

    from kafkasparkstream_spark.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, t, sf_dir).count()
    spark.range(64, numPartitions=8).mapInPandas(lambda it: it, "id long").count()

    queries = entrymod.queries()
    out: dict[str, float] = {}
    for name in HEAVY_QUERIES:
        if name not in queries:
            continue
        best = None
        for _ in range(reps):
            with query_scope(spark, name):
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).collect()
                dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
        print(f"# {name}: {best:.2f}s", file=sys.stderr)
    print("SCALING_RESULT " + json.dumps(out))


def run_outer() -> None:
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(REPO, ".scratch", "sf1.0")
    )
    per_width: dict[str, dict[str, float]] = {}
    for cpus in ("8", "32"):
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = cpus
        env["SPARK_GRAFT_SF_DIR"] = sf_dir
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--inner"],
            env=env, capture_output=True, text=True, cwd=REPO,
        )
        line = [l for l in proc.stdout.splitlines()
                if l.startswith("SCALING_RESULT ")]
        if not line:
            print(f"cpus={cpus} FAILED\n{proc.stderr[-3000:]}", file=sys.stderr)
            continue
        per_width[cpus] = json.loads(line[-1][len("SCALING_RESULT "):])
        print(f"cpus={cpus}: total "
              f"{sum(per_width[cpus].values()):.1f}s", file=sys.stderr)

    report = {
        "sf_dir": sf_dir,
        "method": "min-of-2 per query per width, one subprocess per width "
                  "(master local[N] fixed at session build), full collect",
        "queries": {},
    }
    for q in sorted(set().union(*per_width.values())) if per_width else []:
        s8 = per_width.get("8", {}).get(q)
        s32 = per_width.get("32", {}).get(q)
        report["queries"][q] = {
            "sec_at_8": s8, "sec_at_32": s32,
            "speedup_8_to_32": round(s8 / s32, 2) if s8 and s32 else None,
        }
    with open(os.path.join(REPO, "SCALING_CORES.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    for q, r in report["queries"].items():
        print(f"{q}: 8c={r['sec_at_8']} 32c={r['sec_at_32']} "
              f"ratio={r['speedup_8_to_32']}")


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--inner":
        run_inner()
    else:
        run_outer()
