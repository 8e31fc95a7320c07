"""Isolated fresh-session min-of-N for bench outliers (VERDICT r6 item 1).

Each named query runs in its OWN subprocess with a fresh SparkSession and
N repeats — no bench-order heap/GC inheritance, no shared state-store
providers — so the reading is the query's intrinsic cost on this box.

Run: python scripts/outlier_isolate.py [N] [name ...]
Defaults: N=6, the three r6 outliers.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, @HERE@)
from kafkasparkstream_spark.session import get_spark
from kafkasparkstream_spark.util import query_scope
import __spark_entry__ as E

name, repeats, sf_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3]
spark = get_spark(app_name="outlier-" + name)
spark.sparkContext.setLogLevel("ERROR")
from kafkasparkstream_spark.tables import TABLE_NAMES, load_table
for t in TABLE_NAMES:
    load_table(spark, t, sf_dir).count()
spark.range(64, numPartitions=32).mapInPandas(lambda it: it, "id long").count()
q = E.queries()[name]
times = []
for _ in range(repeats):
    with query_scope(spark, name):
        t0 = time.perf_counter()
        n = len(q(spark, sf_dir).collect())
        times.append(round(time.perf_counter() - t0, 4))
print("RESULT " + json.dumps({"name": name, "rows": n, "times": times,
                              "min": min(times)}))
"""


def main() -> None:
    args = sys.argv[1:]
    digit_args = [a for a in args if a.isdigit()]
    repeats = int(digit_args[0]) if digit_args else 6
    names = [a for a in args if not a.isdigit()] or [
        "sample_k_per_lang",
        "salted_value_stats_by_type",
        "streaming_interval_join",
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = {}
    path = os.path.join(HERE, "OUTLIER_ISOLATE.json")
    for name in names:
        child = CHILD.replace("@HERE@", repr(HERE))
        try:
            r = subprocess.run(
                [sys.executable, "-c", child, name, str(repeats), sf_dir],
                capture_output=True, text=True, timeout=1200,
            )
        except subprocess.TimeoutExpired:
            out[name] = {"error": "timeout (1200s)"}
        else:
            line = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT ")]
            if not line:
                out[name] = {"error": r.stderr[-500:]}
            else:
                out[name] = json.loads(line[-1][7:])
        print(name, out[name])
        # Write incrementally so a crash/timeout never loses prior results.
        with open(path, "w") as f:
            json.dump({"sf_dir": sf_dir, "repeats": repeats, "results": out},
                      f, indent=1)


if __name__ == "__main__":
    main()
