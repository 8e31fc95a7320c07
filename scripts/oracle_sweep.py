"""Full-registry oracle sweep at an arbitrary scale factor.

The driver's CORRECTNESS gate runs at sf0.01; this script runs the SAME
compare (tests/oracle.py) at any other SF so scale-dependent fragility
(round-boundary flips, threshold assumptions, sampling constants) surfaces
before a user hits it. Quadratic ORACLES (the DuckDB side enumerates
all candidate pairs that the Spark side prunes with LSH/banding/tiling)
are skipped above their feasibility scale — the Spark plans themselves are
still exercised by bench.py at those scales; it is only the oracle's
all-pairs SQL that stops being runnable.

Usage:
    python scripts/oracle_sweep.py /root/testdata/sf0.1
    python scripts/oracle_sweep.py .scratch/sf1.0
    python scripts/oracle_sweep.py .scratch/sf1.0 --only dedup_minhash_lsh ...
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tests"))

# Oracles whose DuckDB side is all-pairs (or explode-heavy) in a table that
# the replica corpus grows 10x: fine at sf0.1 (5k docs), infeasible at
# sf1.0 (50k docs -> 2.5e9 candidate pairs on one DuckDB thread-pool).
QUADRATIC_ORACLES_MIN_DOCS = 20_000
# Same idea for the embedding-pair family: n x n list_cosine rows in the
# oracle (the Spark side prunes with tiling/LSH/IVF). 64M dim-64 cosines
# took >5 min per query in DuckDB at 8k vectors — skip past 5k.
QUADRATIC_ORACLES_MIN_VECS = 5_000


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--only", nargs="*", default=None, help="subset of query names")
    ap.add_argument(
        "--skip", nargs="*", default=None, help="extra query names to skip"
    )
    ap.add_argument(
        "--cpus", type=int, default=8,
        help="local[N] width for the plain session (8 = the driver-like "
        "default; the sf10 sweep wants the full box)",
    )
    ap.add_argument(
        "--driver-mem", default=None,
        help="spark.driver.memory for the plain session (e.g. 48g for sf10)",
    )
    ap.add_argument(
        "--strict-floats",
        action="store_true",
        help="compare doubles bit-exactly (float.hex) instead of the 9dp "
        "grid — the ROUND-half-tie / sub-grid-noise audit mode; both "
        "engines are the driver's builds, so a pass here means the driver "
        "sees identical doubles too",
    )
    args = ap.parse_args()

    import duckdb

    con = duckdb.connect()
    n_docs = con.execute(
        f"SELECT COUNT(*) FROM '{args.sf_dir}/documents.parquet'"
    ).fetchone()[0]
    n_vecs = con.execute(
        f"SELECT COUNT(*) FROM '{args.sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    con.close()

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.ui.enabled", "false")
    )
    if args.driver_mem:
        builder = builder.config("spark.driver.memory", args.driver_mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    import oracle as oracle_mod
    from oracle import assert_matches_oracle

    if args.strict_floats:
        oracle_mod.STRICT_FLOATS = True

    from kafkasparkstream_spark.util import query_scope

    # All-pairs oracle SQL: every oracle that joins a shingle/embedding
    # explosion against itself without an LSH-style prune on the DuckDB
    # side. Identified from the oracle text (documents x documents or
    # embeddings x embeddings candidate enumeration).
    quadratic = {
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
    }
    # n x n embedding-pair oracle SQL (Spark side is tiled / bucketed).
    quadratic_vecs = {
        "embedding_neardup",
        "hard_negatives_topk",
        "knn_graph",
        "knn_jaccard_links",
        "knn_triangle_stats",
        "pagerank_knn_graph",
    }
    # Quadratic past sf1.0, feasible below it (both PASSED the sf1.0 sweep;
    # at sf10 their DuckDB working sets blow the box — measured r7:
    # training_pipeline_e2e embeds the all-pairs LSH enumeration over 500k
    # docs, user_series_knn is users x users cosine over 150k users; both
    # host-OOM'd uncapped and ENOSPC'd past ~80 GB of capped spill while
    # their Spark sides executed fine). Each gates on the table its
    # blow-up actually lives in. Since r8 the skipped rows are covered at
    # sf10 by PAIR_SF10.json (scripts/pair_slice_check.py --sf 10):
    # sampled-slice oracles + full-corpus partition-invariance.
    if n_docs >= 200_000:
        quadratic = quadratic | {"training_pipeline_e2e"}
    import os as _os

    ev_path = f"{args.sf_dir}/events.parquet"
    if _os.path.exists(ev_path):
        import duckdb as _duck

        n_users = _duck.sql(
            f"SELECT COUNT(DISTINCT user_id) FROM '{ev_path}'"
        ).fetchone()[0]
        if n_users >= 100_000:
            quadratic = quadratic | {"user_series_knn"}

    Q, O = E.queries(), E.oracle_sql()
    names = sorted(args.only) if args.only else sorted(Q)
    skip = set(args.skip or ())
    fails, skipped, passed = [], [], 0
    t_start = time.time()
    for name in names:
        if (
            name in skip
            or (n_docs >= QUADRATIC_ORACLES_MIN_DOCS and name in quadratic)
            or (n_vecs >= QUADRATIC_ORACLES_MIN_VECS and name in quadratic_vecs)
        ):
            skipped.append(name)
            continue
        t0 = time.time()
        try:
            with query_scope(spark, name):
                df = Q[name](spark, args.sf_dir)
                if name in O:
                    assert_matches_oracle(df, O[name], args.sf_dir, name=name)
                else:
                    df.count()  # rows-only check, same as the driver
            passed += 1
            print(f"PASS {name} ({time.time() - t0:.1f}s)", flush=True)
        except Exception as e:  # noqa: BLE001 - sweep must not die mid-run
            fails.append((name, repr(e)[:300]))
            print(f"FAIL {name}: {repr(e)[:200]}", flush=True)
    print(
        f"\n=== {args.sf_dir}: {passed} passed, {len(fails)} failed, "
        f"{len(skipped)} skipped (oracle-infeasible), {time.time() - t_start:.0f}s"
    )
    if skipped:
        print("skipped:", " ".join(sorted(skipped)))
    for name, err in fails:
        print("FAIL", name, err)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
