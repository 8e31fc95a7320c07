"""Two-decade scaling probe for the dedup/ANN families (VERDICT r5 item 7).

Runs the document-dedup and embedding-ANN registry queries Spark-side (no
oracle) at sf0.1, sf1.0 (make_sf1.py) and sf10 (make_sf10.py), and records
per-query wall seconds plus decade ratios in SCALE_DECADES.json. The claim
under test: the banded/tiled/bucketed plans scale ~linearly in input size
across TWO decades — a quadratic plan would show a ~100x second-decade
ratio, linear shows ~10x (documents) / ~4x-ish supra-linear only where
output size itself grows (pair queries over replicated corpora).

Each query runs once cold (these are scale probes, not minima hunts) with
each query in its own query_scope so no pinned storage bleeds across
measurements (session-pinned-storage hazard, r4).

Usage:
    python scripts/make_sf1.py && python scripts/make_sf10.py
    python scripts/scale_decades.py [--only name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_ROOT))

# Spark-side probe set: every registry query whose only inputs are the two
# sf10-generated tables. Pair-enumerating queries over a replicated corpus
# legitimately grow output supra-linearly; they are annotated so the
# artifact separates plan cost from output growth.
PROBE = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_clusters",
    "dedup_incremental",
    "dedup_keep_best",
    "dedup_source_matrix",
    "dedup_edit_distance_blocked",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_quantized_topk",
    "embedding_neardup",
    "embedding_norm_stats",
    "kmeans_embeddings",
    "semdedup_clusters",
    "knn_graph",
    "pagerank_knn_graph",
]
PAIR_OUTPUT = {
    "dedup_minhash_lsh", "dedup_simhash_pairs", "dedup_ngram_jaccard",
    "dedup_containment", "embedding_neardup", "dedup_edit_distance_blocked",
}

# Queries excluded at a given scale, with the MEASURED reason. The sf10
# corpus (make_sf10.py over make_sf1.py) has ~100-replica near-dup cliques,
# and the exact shingle self-join's row count is sum(df^2) over shingles:
# measured via DuckDB on the actual corpora, 279.5M rows at sf1.0 vs
# 28.0B at sf10 (~670 GB through the join exchange) — quadratic in clique
# size, exceeding local disk ~8x (two ENOSPC-killed runs confirm). This is
# exactly the regime ngram_jaccard_pairs's docstring prescribes LSH-first
# for; the probe records the exclusion instead of thrashing the box.
EXCLUDE = {
    ("sf10", "dedup_ngram_jaccard"):
        "sum(df^2)=28.0B join rows measured (sf1.0: 279.5M); exact "
        "shingle self-join is quadratic in the ~100-replica cliques — "
        "run minhash_lsh first at this dup density (operator docstring)",
    ("sf10", "dedup_containment"):
        "prefix filtering cannot prune the ~100-replica cliques (every "
        "member shares every prefix token), so the verify join's exchange "
        "is quadratic in clique size like ngram_jaccard's; two measured "
        "kills: executor heap OOM at 8g/200s, local-disk ENOSPC at "
        "48g/639s (~80 GB shuffle). Same prescription as ngram_jaccard: "
        "LSH-first at this dup density (operator docstring)",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument(
        "--sf-dirs", nargs="*",
        default=["/root/testdata/sf0.1", str(_ROOT / ".scratch/sf1.0"),
                 str(_ROOT / ".scratch/sf10")],
    )
    args = ap.parse_args()
    names = args.only or PROBE

    # The sf10 pair joins need real heap: the default 8g OOM'd mid-probe
    # (dedup_containment, r6) and a dead JVM poisons every later query.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

    from kafkasparkstream_spark.session import get_spark
    from kafkasparkstream_spark.util import query_scope
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="scale-decades")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    # Merge into an existing artifact so a --only run extends the matrix
    # instead of clobbering the full-probe record.
    out_path = _ROOT / "SCALE_DECADES.json"
    result: dict = {"sf_dirs": args.sf_dirs, "queries": {}}
    if out_path.exists():
        try:
            prior = json.load(open(out_path))
            result["queries"].update(prior.get("queries", {}))
            prior_dirs = prior.get("sf_dirs", [])
            result["sf_dirs"] = prior_dirs + [
                d for d in args.sf_dirs if d not in prior_dirs
            ]
        except ValueError:
            pass
    for sf_dir in args.sf_dirs:
        label = os.path.basename(sf_dir.rstrip("/"))
        for name in names:
            if (label, name) in EXCLUDE:
                result["queries"].setdefault(name, {})[label] = {
                    "excluded": EXCLUDE[(label, name)]
                }
                print(f"{label} {name}: EXCLUDED ({EXCLUDE[(label, name)][:60]}...)",
                      flush=True)
                continue
            t0 = time.perf_counter()
            try:
                # count(), not collect(): pair queries at sf10 emit ~15M
                # rows (the replicated corpus forms near-dup cliques), and
                # collect() would measure driver materialization, not plan
                # cost.
                with query_scope(spark, name):
                    n = queries[name](spark, sf_dir).count()
                    dt = round(time.perf_counter() - t0, 2)
            except Exception as e:  # record the failure, keep probing
                dt = round(time.perf_counter() - t0, 2)
                err = str(e).splitlines()[0][:200] if str(e) else repr(e)[:200]
                result["queries"].setdefault(name, {})[label] = {
                    "sec": dt, "error": err
                }
                print(f"{label} {name}: ERROR after {dt}s ({err[:80]})", flush=True)
                # An executor OOM wedges the single local JVM and every
                # later query dies with 'Connection refused' (r6 sf10
                # post-mortem) — restart the session, don't just release.
                try:
                    spark.stop()
                except Exception:
                    pass
                spark = get_spark(app_name="scale-decades")
                spark.sparkContext.setLogLevel("ERROR")
                continue
            result["queries"].setdefault(name, {})[label] = {"sec": dt, "rows": n}
            print(f"{label} {name}: {dt}s ({n} rows)", flush=True)

    labels = [os.path.basename(d.rstrip("/")) for d in result["sf_dirs"]]
    for name, per in result["queries"].items():
        ratios = []
        for a, b in zip(labels, labels[1:]):
            sa = per.get(a, {}).get("sec")
            sb = per.get(b, {}).get("sec")
            if sa and sb and "error" not in per[a] and "error" not in per[b]:
                ratios.append(round(sb / sa, 2))
            else:
                ratios.append(None)
        per["decade_ratios"] = ratios
        per["pair_output"] = name in PAIR_OUTPUT
    with open(_ROOT / "SCALE_DECADES.json", "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print("wrote SCALE_DECADES.json")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
