"""Sampled-slice verification for queries whose FULL DuckDB oracles are
infeasible at big SF — the quadratic pair-emitters (all-pairs oracles) and,
at sf10, the two ENOSPC oracles (training_pipeline_e2e, user_series_knn;
VERDICT r7 items 3 & 5).

Two independent checks, per VERDICT r3 item 5:

1. **Sampled oracle** — build a deterministic modulus slice of the replica
   corpus that PRESERVES its near-duplicate structure: keeping
   ``doc_id % 5000 < K`` keeps the same K base docs across every replica
   (intact cliques with the real perturbation tokens); same for embeddings
   (``vec_id % 2000``) and, at sf10, events (``user_id % 15000`` — a user's
   whole series survives intact, which is what user_series_knn vectorizes).
   At ~4k docs / 4k vecs / 1.5k users every skipped oracle is feasible, so
   the driver-grade compare (tests/oracle.py) runs the full hash match on
   genuinely big-SF-shaped data. Non-sliced tables are symlinked so
   cross-table queries resolve.

2. **Partition-invariance at FULL SF** — each query runs twice against the
   whole corpus with ``spark.sql.shuffle.partitions`` 16 vs 64; the result
   multisets must be identical. The comparison is an ORDER-INDEPENDENT
   fingerprint computed IN Spark (count + bit_xor + wrapped sum of xxhash64
   over rows canonicalized column-sorted with floats on the driver
   compare's 9dp grid) — pair results run to millions of rows and must
   never be collect()ed (the first version of this script OOM'd a 1g
   driver JVM doing exactly that). This is the Spark-vs-Spark property
   check: a pair set that depends on partitioning diverges here even
   though no oracle exists at this size. At sf10 the two queries excluded
   from the sweep BY MEASUREMENT (dedup_containment, dedup_ngram_jaccard:
   quadratic in the 100-clone cliques; 48g heap OOM / 80 GB shuffle
   ENOSPC) are skipped in this phase too — their slice oracles still run.

Results are written incrementally to PAIR_SF1.json / PAIR_SF10.json.

Usage:
    python scripts/make_sf1.py                 # once, builds .scratch/sf1.0
    python scripts/make_sf10.py                # once more, for --sf 10
    python scripts/pair_slice_check.py [--sf {1,10}] [--skip-invariance]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))

# The 16 names skipped by oracle_sweep at sf1.0+: union of `quadratic`
# (11 doc-pair) and `quadratic_vecs` (6 embedding-pair; embedding_neardup
# is in both).
PAIR_QUERIES = sorted(
    {
        "dedup_containment",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash_pairs",
        "dedup_incremental",
        "dedup_clusters",
        "dedup_keep_best",
        "dedup_source_matrix",
        "embedding_neardup",
        "semdedup_clusters",
        "dedup_edit_distance_blocked",
        "hard_negatives_topk",
        "knn_graph",
        "knn_jaccard_links",
        "knn_triangle_stats",
        "pagerank_knn_graph",
    }
)

SCALES = {
    "1": {
        "sf_dir": REPO / ".scratch" / "sf1.0",
        "slice_dir": REPO / ".scratch" / "sf1.0_pairslice",
        "out": REPO / "PAIR_SF1.json",
        # 10 replicas x 400 base docs = 4000; 4 replicas x 1000 vecs = 4000
        "doc_keep": 400,
        "vec_keep": 1000,
        "user_keep": None,  # events not sliced at sf1.0
        "queries": PAIR_QUERIES,
        "invariance_skip": set(),
        "label": "sf1.0",
    },
    "10": {
        "sf_dir": REPO / ".scratch" / "sf10",
        "slice_dir": REPO / ".scratch" / "sf10_pairslice",
        "out": REPO / "PAIR_SF10.json",
        # 100 replicas x 40 base docs = 4000; 16 x 250 vecs = 4000;
        # 1500 users ~ 100k events
        "doc_keep": 40,
        "vec_keep": 250,
        "user_keep": 150,
        "queries": sorted(
            set(PAIR_QUERIES) | {"training_pipeline_e2e", "user_series_knn"}
        ),
        "invariance_skip": {"dedup_containment", "dedup_ngram_jaccard"},
        "label": "sf10",
    },
}

DOC_MOD, VEC_MOD, USER_MOD = 5000, 2000, 15000


def build_slice(cfg) -> None:
    import duckdb

    sf, sl = cfg["sf_dir"], cfg["slice_dir"]
    os.makedirs(sl, exist_ok=True)
    con = duckdb.connect()
    sliced = {"documents", "embeddings"}
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{sf}/documents.parquet') "
        f"WHERE doc_id % {DOC_MOD} < {cfg['doc_keep']}) "
        f"TO '{sl}/documents.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{sf}/embeddings.parquet') "
        f"WHERE vec_id % {VEC_MOD} < {cfg['vec_keep']}) "
        f"TO '{sl}/embeddings.parquet' (FORMAT PARQUET)"
    )
    if cfg["user_keep"] is not None:
        sliced.add("events")
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{sf}/events.parquet') "
            f"WHERE user_id % {USER_MOD} < {cfg['user_keep']}) "
            f"TO '{sl}/events.parquet' (FORMAT PARQUET)"
        )
    con.close()
    for t in "region nation customer supplier part orders lineitem events".split():
        if t in sliced:
            continue
        dst = sl / f"{t}.parquet"
        if not dst.exists():
            os.symlink(sf / f"{t}.parquet", dst)
    print(f"slice built at {sl} (docs x{cfg['doc_keep']}, vecs x{cfg['vec_keep']}, "
          f"users x{cfg['user_keep']})")


def sampled_oracle(spark, cfg, results) -> list[tuple[str, str]]:
    from kafkasparkstream_spark.util import query_scope

    import __spark_entry__ as E
    from oracle import assert_matches_oracle

    Q, O = E.queries(), E.oracle_sql()
    fails = []
    for name in cfg["queries"]:
        t0 = time.time()
        row = results.setdefault(name, {})
        try:
            with query_scope(spark, name):
                df = Q[name](spark, str(cfg["slice_dir"]))
                if name in O:
                    assert_matches_oracle(df, O[name], str(cfg["slice_dir"]), name=name)
                    row["sampled_oracle"] = "PASS"
                    print(f"PASS sampled-oracle {name} ({time.time() - t0:.1f}s)", flush=True)
                else:
                    df.count()
                    row["sampled_oracle"] = "PASS (rows-only)"
                    print(f"PASS rows-only {name} ({time.time() - t0:.1f}s)", flush=True)
        except Exception as e:  # noqa: BLE001 - record and continue
            fails.append((name, repr(e)[:300]))
            row["sampled_oracle"] = f"FAIL: {repr(e)[:200]}"
            print(f"FAIL sampled-oracle {name}: {repr(e)[:200]}", flush=True)
        row["sampled_wall_s"] = round(time.time() - t0, 1)
        _flush(cfg, results)
    return fails


def _fingerprint(df):
    """Order-independent multiset fingerprint, computed distributed: rows
    are canonicalized (columns sorted by name, floats rounded to the driver
    compare's 9dp grid), hashed with xxhash64, and reduced with
    (count, bit_xor, wrapped sum) — no fact-sized collect."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f.name)
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.round(c, 9)
        cols.append(c.cast("string"))
    h = df.select(F.xxhash64(*cols).alias("h"))
    row = h.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(h)").alias("x"),
        F.sum(F.col("h") % F.lit(2_147_483_647)).alias("s"),
    ).collect()[0]
    return (row["n"], row["x"], row["s"])


def invariance_full(spark, cfg, results) -> list[tuple[str, str]]:
    from kafkasparkstream_spark.util import query_scope

    import __spark_entry__ as E

    Q = E.queries()
    fails = []
    for name in cfg["queries"]:
        if name in cfg["invariance_skip"]:
            results.setdefault(name, {})["invariance"] = (
                "SKIP (excluded from full-SF runs by measurement)"
            )
            _flush(cfg, results)
            continue
        t0 = time.time()
        row = results.setdefault(name, {})
        try:
            fps = []
            for parts in ("16", "64"):
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                with query_scope(spark, name):
                    fps.append(_fingerprint(Q[name](spark, str(cfg["sf_dir"]))))
            if fps[0] != fps[1]:
                fails.append((name, f"partition-dependent result: {fps[0]} != {fps[1]}"))
                row["invariance"] = f"FAIL: {fps[0]} != {fps[1]}"
                print(f"FAIL invariance {name}: {fps}", flush=True)
            else:
                row["invariance"] = "PASS"
                row[f"rows_full_{cfg['label'].replace('.', '_')}"] = fps[0][0]
                print(f"PASS invariance {name} ({time.time() - t0:.1f}s, "
                      f"{fps[0][0]} rows)", flush=True)
        except Exception as e:  # noqa: BLE001
            fails.append((name, repr(e)[:300]))
            row["invariance"] = f"FAIL: {repr(e)[:200]}"
            print(f"FAIL invariance {name}: {repr(e)[:200]}", flush=True)
        row["invariance_wall_s"] = round(time.time() - t0, 1)
        _flush(cfg, results)
    return fails


def _flush(cfg, results) -> None:
    doc = {
        "description": (
            f"{cfg['label']} verification for queries whose full DuckDB "
            "oracles are infeasible at this SF (scripts/pair_slice_check.py). "
            "sampled_oracle: driver-grade hash match (tests/oracle.py) on a "
            "structure-preserving modulus slice "
            f"(doc_id%{DOC_MOD}<{cfg['doc_keep']}, vec_id%{VEC_MOD}<"
            f"{cfg['vec_keep']}"
            + (f", user_id%{USER_MOD}<{cfg['user_keep']}" if cfg["user_keep"] else "")
            + ") so every skipped oracle is feasible on genuinely "
            f"{cfg['label']}-shaped data (intact replica cliques / whole user "
            "series). invariance: the query run twice at FULL "
            f"{cfg['sf_dir'].name} with shuffle.partitions 16 vs 64 must "
            "produce identical order-independent multiset fingerprints "
            "(count + bit_xor + wrapped sum of xxhash64 over column-sorted "
            "rows, floats on the 9dp grid), computed IN Spark - no "
            "fact-sized collect."
        ),
        "date": time.strftime("%Y-%m-%d"),
        "queries": {k: results[k] for k in sorted(results)},
    }
    with open(cfg["out"], "w") as f:
        json.dump(doc, f, indent=1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", choices=("1", "10"), default="1")
    ap.add_argument("--skip-invariance", action="store_true")
    ap.add_argument("--skip-sampled", action="store_true")
    ap.add_argument("--cpus", default="8")
    ap.add_argument("--driver-mem",
                    default=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    args = ap.parse_args()
    cfg = SCALES[args.sf]
    if not cfg["sf_dir"].exists():
        print(f"run scripts/make_sf{args.sf}.py first", file=sys.stderr)
        return 2
    build_slice(cfg)
    # ONE session for both phases, created BEFORE any phase runs:
    # spark.driver.memory only takes effect at JVM launch, so setting it in
    # a later getOrCreate() silently no-ops if an earlier phase already
    # built the session — the invariance pass would then run full-SF pair
    # queries on a default 1g driver (which in local mode also hosts the
    # executors), the exact OOM class this harness exists to catch.
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", args.driver_mem)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    assert spark.sparkContext._conf.get("spark.driver.memory") == args.driver_mem, (
        "driver.memory not applied - a SparkSession already existed"
    )
    results: dict[str, dict] = {}
    # preserve prior rows so a phase-only rerun doesn't drop the other phase
    if cfg["out"].exists():
        try:
            results = json.load(open(cfg["out"]))["queries"]
        except (ValueError, KeyError):
            results = {}
    fails = []
    if not args.skip_sampled:
        fails += sampled_oracle(spark, cfg, results)
    if not args.skip_invariance:
        fails += invariance_full(spark, cfg, results)
    print(f"\n=== pair_slice_check {cfg['label']}: {len(fails)} failures")
    for name, err in fails:
        print("FAIL", name, err)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
