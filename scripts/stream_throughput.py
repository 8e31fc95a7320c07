"""Measured streaming throughput vs the reference's designed ingest rate.

The reference (ashrafkvt/KafkaSparkStream) is DESIGNED around 10 msg/s
(`data-generator/generator.py:13`, `MESSAGES_PER_SECOND` default) into a
1-core/1 GB Spark worker — it publishes no measured throughput. This harness
measures what THIS engine sustains through the same topology (JSON wire →
micro-batch parse → watermark → 1-min tumbling window × type → update-mode
foreachBatch parquet sink) on local[32], in two regimes:

- ``bulk``: one availableNow batch over the whole corpus — the
  backlog-catch-up / replay ceiling.
- ``microbatch``: maxFilesPerTrigger=1 over N wire files — N real
  state-carrying micro-batches, the sustained continuous-operation figure
  (includes per-batch planning, state-store commit, and sink transaction
  overhead every batch).

Both runs assert the drained sink's latest state equals the batch shadow
aggregate before a number is recorded — a throughput figure for a wrong
answer is worthless.

Output: STREAM_THROUGHPUT.json at the repo root + one human line per mode.

Usage::

    python scripts/stream_throughput.py            # sf0.1, 16 micro-batches
    SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_STREAM_FILES=32 python scripts/stream_throughput.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def run_mode(spark, events, mode: str, n_files: int) -> dict:
    from kafkasparkstream_spark.queries import (
        EVENT_WIRE_SCHEMA,
        _events_to_wire,
        _stream_workdir,
        _wire_projection,
    )
    from kafkasparkstream_spark.sources.streams import file_json_stream
    from kafkasparkstream_spark.streaming.pipeline import (
        PipelineConfig,
        clamped_shuffle_partitions,
        parse_stage,
        windowed_aggregate_stage,
    )
    from kafkasparkstream_spark.streaming.sinks import (
        foreach_batch_parquet_sink,
        latest_state,
    )

    workdir = _stream_workdir(f"kss_tput_{mode}_")
    src, sink, ckpt = f"{workdir}/src", f"{workdir}/sink", f"{workdir}/ckpt"
    if mode == "bulk":
        _events_to_wire(events, src, n_files=n_files)
    else:
        # A continuous producer emits in event-time order; random file splits
        # would instead make every later file "late" past the watermark and
        # the replay would (correctly!) drop rows. Emulate the producer:
        # time-ordered buckets appended one file at a time, then mtimes set
        # EXPLICITLY ascending (os.utime) — FileStreamSource triggers in
        # mtime order, and relying on write-time alone breaks on
        # coarse-granularity (1 s) filesystems.
        from pyspark.sql import Window

        b = (F.ntile(n_files).over(Window.orderBy("ts", "event_id")) - 1).alias("_b")
        bucketed = events.select("*", b).localCheckpoint()
        seen: set[str] = set()
        ordered_files: list[str] = []
        for i in range(n_files):
            wire = _wire_projection(bucketed.filter(F.col("_b") == i))
            wire.coalesce(1).write.mode("append").text(src)
            new = [
                f for f in os.listdir(src)
                if f.endswith(".txt") and f not in seen
            ]
            assert len(new) == 1, f"expected one new wire file, got {new}"
            seen.update(new)
            ordered_files.append(os.path.join(src, new[0]))
        base = time.time()
        for i, f in enumerate(ordered_files):
            os.utime(f, (base + i, base + i))
    n_events = events.count()

    cfg = PipelineConfig(
        dims=("event_type",),
        ts_col="ts",
        value_col="value",
        battery_col=None,
        schema=EVENT_WIRE_SCHEMA,
    )
    per_trigger = None if mode == "bulk" else 1
    raw = file_json_stream(spark, src, max_files_per_trigger=per_trigger)
    agg = windowed_aggregate_stage(parse_stage(raw, cfg), cfg)

    # Timing starts at query start: wire-file generation is the producer's
    # cost, not the engine's.  availableNow drains the full backlog and
    # terminates; with maxFilesPerTrigger=1 it still honors the file cap per
    # micro-batch, giving n_files genuine state-carrying batches.
    with clamped_shuffle_partitions(spark):
        t0 = time.perf_counter()
        q = (
            agg.writeStream.foreachBatch(foreach_batch_parquet_sink(sink))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .queryName(f"tput_{mode}")
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        # NOT len(recentProgress): Spark caps that buffer at 100 entries,
        # under-counting any run with more triggers.
        last = q.lastProgress
        n_batches = (last["batchId"] + 1) if last else 0

    # Correctness gate: final sink state must equal the batch shadow.
    # The pipeline sink computes avg_value via grid_avg over exact integer
    # cents (pipeline.windowed_aggregate_stage), so the shadow must use the
    # SAME helpers — a float ROUND(AVG(value), 4) shadow can diverge on 4dp
    # half-up boundaries (the exact cross-scale bug class the grid kills)
    # and spuriously fail this gate.
    from kafkasparkstream_spark.operators.aggregates import grid_avg, value_units

    final = latest_state(
        spark.read.parquet(sink), ("window_start", "window_end", "event_type")
    ).select(
        "window_start",
        "window_end",
        "event_type",
        "avg_value",
        "min_value",
        "max_value",
        "reading_count",
    )
    shadow = (
        events.groupBy(
            F.window("ts", "1 minute").alias("w"), F.col("event_type")
        )
        .agg(
            F.sum(value_units("value")).alias("_sum_cents"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count(F.lit(1)).alias("reading_count"),
        )
        .withColumn(
            "avg_value", grid_avg(F.col("_sum_cents"), F.col("reading_count"))
        )
        .drop("_sum_cents")
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "avg_value",
            "min_value",
            "max_value",
            "reading_count",
        )
    )
    diff = final.exceptAll(shadow).count() + shadow.exceptAll(final).count()
    if diff != 0:
        raise AssertionError(f"{mode}: final state != batch shadow ({diff} rows differ)")

    return {
        "events": n_events,
        "wall_sec": round(wall, 3),
        "events_per_sec": round(n_events / wall),
        "micro_batches": n_batches,
        "files": n_files,
        "verified_vs_batch_shadow": True,
    }


def main() -> None:
    from kafkasparkstream_spark.session import get_spark
    from kafkasparkstream_spark.tables import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_files = int(os.environ.get("SPARK_GRAFT_STREAM_FILES", "16"))

    spark = get_spark(app_name="kss-stream-throughput")
    spark.sparkContext.setLogLevel("ERROR")
    events = load_table(spark, "events", sf_dir)
    events.count()  # warm

    out = {
        "sf_dir": sf_dir,
        "reference_designed_rate_msgs_per_sec": 10,
        "reference_rate_source": "data-generator/generator.py:13 (MESSAGES_PER_SECOND default)",
        "modes": {},
    }
    for mode in ("bulk", "microbatch"):
        r = run_mode(spark, events, mode, n_files)
        out["modes"][mode] = r
        print(
            f"# {mode}: {r['events']} events in {r['wall_sec']}s over "
            f"{r['micro_batches']} micro-batches -> {r['events_per_sec']} events/s",
            file=sys.stderr,
        )

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, "STREAM_THROUGHPUT.json")
    # Merge per-SF (r8): top-level keys reflect the latest run, "by_sf"
    # accumulates every SF's block.
    by_sf = {}
    try:
        with open(path) as f:
            prev = json.load(f)
        by_sf = prev.get("by_sf", {})
        if "sf_dir" in prev and prev["sf_dir"] not in by_sf:
            by_sf[prev["sf_dir"]] = {k: prev[k] for k in prev if k != "by_sf"}
    except (OSError, ValueError):
        pass
    by_sf[sf_dir] = dict(out)
    out["by_sf"] = by_sf
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out["modes"], sort_keys=True))


if __name__ == "__main__":
    main()
