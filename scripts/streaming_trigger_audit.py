"""Per-trigger overhead vs state-work split for the streaming replays
(VERDICT r6 item 5): a StreamingQueryListener captures every micro-batch's
durationMs while the registered queries run UNMODIFIED, then the wall time
decomposes into addBatch (the actual state/join work) vs trigger overhead
(offset tracking, planning, commit). Results -> STREAM_TRIGGER_AUDIT.json
and the BASELINE.md streaming rows.

Run: python scripts/streaming_trigger_audit.py [name ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

DEFAULT = [
    "streaming_running_totals",
    "streaming_interval_join",
    "streaming_left_outer_join",
    "streaming_dedup_replay",
    "streaming_windowed_agg",
]


def main() -> None:
    from pyspark.sql.streaming import StreamingQueryListener

    from kafkasparkstream_spark.session import get_spark
    import __spark_entry__ as E
    from perf import time_query, warm_up

    names = sys.argv[1:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    progresses: list[dict] = []

    class Collector(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            progresses.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    spark = get_spark(app_name="stream-trigger-audit")
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(Collector())
    warm_up(spark, sf_dir)

    out = {}
    for name in names:
        q = E.queries()[name]
        # warm run: plan compile + python worker pool, not billed
        time_query(spark, name, q, sf_dir, 1)
        time.sleep(2.0)  # drain the warm run's ASYNC listener events first,
        progresses.clear()  # or they bleed into the timed window
        (wall,), n = time_query(spark, name, q, sf_dir, 1)
        time.sleep(2.0)  # listener events are async
        batches = list(progresses)  # every trigger counts, incl. 0-input ones
        trig = sum(p["durationMs"].get("triggerExecution", 0) for p in batches)
        add = sum(p["durationMs"].get("addBatch", 0) for p in batches)
        rows_in = sum(int(p.get("numInputRows", 0)) for p in batches)
        cores = spark.sparkContext.defaultParallelism
        rec = {
            "rows_out": n,
            "wall_sec": round(wall, 2),
            "n_triggers": len(batches),
            "trigger_exec_sec": round(trig / 1000, 2),
            "addbatch_sec": round(add / 1000, 2),
            "trigger_overhead_sec": round((trig - add) / 1000, 2),
            "outside_stream_sec": round(wall - trig / 1000, 2),
            # Executor-sizing figures (r8 verdict #8): input volume and
            # throughput through the state path. rows_per_sec_per_core
            # divides by the session width — the honest per-core number
            # for the Python-boundary replays (running_totals keeps full
            # width; the JVM-state replays are machinery-bound, where
            # rows/s mostly measures the fixed per-trigger cost instead).
            "input_rows": rows_in,
            "rows_per_addbatch_sec": round(rows_in / (add / 1000), 0) if add else None,
            "cores": cores,
            "rows_per_sec_per_core": (
                round(rows_in / (add / 1000) / cores, 1) if add else None
            ),
        }
        out[name] = rec
        print(name, rec, flush=True)

    path = os.path.join(HERE, "STREAM_TRIGGER_AUDIT.json")
    # Merge per-SF so cross-scale blocks accumulate (VERDICT r7 item 6):
    # "results"/"sf_dir" reflect the latest run, "by_sf" keeps every SF.
    doc = {"by_sf": {}}
    try:
        with open(path) as f:
            prev = json.load(f)
        doc["by_sf"] = prev.get("by_sf", {})
        if "sf_dir" in prev and prev["sf_dir"] not in doc["by_sf"]:
            doc["by_sf"][prev["sf_dir"]] = prev.get("results", {})
    except (OSError, ValueError):
        pass
    doc["by_sf"][sf_dir] = out
    doc["sf_dir"], doc["results"] = sf_dir, out
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)


if __name__ == "__main__":
    main()
