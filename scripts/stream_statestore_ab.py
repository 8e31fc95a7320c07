"""A/B the streaming state-store provider (HDFS-backed default vs RocksDB)
and the maintenance interval on the streaming replay family (VERDICT r9 #4).

The replay queries create a FRESH checkpoint per invocation, so the provider
set on the session at query start is the one the query pins — one process
can alternate configs run by run (interleaved, so box waves hit each config
equally). Measured at sf1.0 (pass SPARK_GRAFT_SF_DIR) where state is
non-trivial; sf0.1 numbers are recorded for the bench-point check.

Usage:
    python scripts/make_sf1.py   # once
    SPARK_GRAFT_SF_DIR=$PWD/.scratch/sf1.0 SPARK_GRAFT_CPUS=32 \
        python scripts/stream_statestore_ab.py
Writes STREAM_STATESTORE_AB.json (merged per sf_dir).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "streaming_running_totals",   # Python-stateful (applyInPandasWithState)
    "streaming_upsert_agg",       # JVM windowed agg state
    "streaming_left_outer_join",  # 4 stores/partition — worst provider overhead
]

CONFIGS = [
    ("hdfs_default", {}),
    ("rocksdb", {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
    }),
    ("hdfs_maint600", {
        "spark.sql.streaming.stateStore.maintenanceInterval": "600s",
    }),
]


def main() -> None:
    from kafkasparkstream_spark.session import get_spark

    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rounds = int(os.environ.get("AB_ROUNDS", "3"))

    spark = get_spark(app_name="stream-statestore-ab")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    from kafkasparkstream_spark.tables import TABLE_NAMES, load_table
    from kafkasparkstream_spark.util import query_scope

    for t in TABLE_NAMES:
        load_table(spark, t, sf_dir).count()

    base_conf = {k: spark.conf.get(k, None) for c in CONFIGS for k in c[1]}
    results: dict[str, dict[str, list[float]]] = {}
    for r in range(rounds):
        order = CONFIGS if r % 2 == 0 else CONFIGS[::-1]
        for cname, conf in order:
            for k, v in conf.items():
                spark.conf.set(k, v)
            try:
                for qname in QUERIES:
                    with query_scope(spark, f"{cname}:{qname}"):
                        t0 = time.perf_counter()
                        n = len(queries[qname](spark, sf_dir).collect())
                        dt = round(time.perf_counter() - t0, 3)
                    results.setdefault(qname, {}).setdefault(cname, []).append(dt)
                    print(f"round {r} {cname} {qname}: {dt:.2f}s ({n} rows)",
                          file=sys.stderr)
            finally:
                for k in conf:
                    old = base_conf.get(k)
                    if old is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, old)

    out_path = os.path.join(REPO, "STREAM_STATESTORE_AB.json")
    try:
        merged = json.load(open(out_path))
    except (OSError, ValueError):
        merged = {}
    merged[sf_dir] = {
        "rounds": rounds,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "results": {
            q: {c: {"min": min(v), "all": v} for c, v in cfgs.items()}
            for q, cfgs in results.items()
        },
    }
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
    for q, cfgs in results.items():
        line = "  ".join(f"{c}={min(v):.2f}" for c, v in cfgs.items())
        print(f"{q}: {line}")


if __name__ == "__main__":
    main()
