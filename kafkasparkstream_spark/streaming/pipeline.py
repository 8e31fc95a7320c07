"""The continuous query: parse → watermark → tumbling window agg → two sinks.

Spark-first re-expression of the reference's streaming job
(spark-processor/processor.py:40-122). Same semantics:

- ST1  1-minute event-time watermark (processor.py:83)
- ST2  1-minute tumbling windows (processor.py:85)
- ST3  update-mode aggregate stream (processor.py:105) — see sinks.py for the
       duplicate-append caveat and the idempotent fix
- ST4  append-mode raw stream (processor.py:110-117)
- S4   per-query checkpoint locations (processor.py:106,116)
- S5   awaitAnyTermination (processor.py:122): callers wait on
       ``spark.streams.awaitAnyTermination()`` directly

Scale notes: the streaming aggregate's state is partitioned by the group key
(window × dims) across as many state stores as the cluster has cores, at most
:data:`STATE_STORE_CAP`, pinned by :func:`start_pipeline` into each fresh
checkpoint; the 1-minute watermark bounds state to ~2
windows × |dim combinations| entries regardless of throughput. Every trigger
loads and commits every store, so the count, not the row volume, sets a
small trigger's cost. Raw passthrough has no state at all. On a 1000-node
cluster the only cross-executor traffic is the partial-agg exchange.
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from kafkasparkstream_spark.schemas import SENSOR_READING_SCHEMA
from kafkasparkstream_spark.sources.json_parse import parse_json_events
from kafkasparkstream_spark.streaming.sinks import foreach_batch_parquet_sink


@dataclass
class PipelineConfig:
    watermark: str = "1 minute"
    window: str = "1 minute"
    dims: tuple[str, ...] = ("device_type", "location")
    ts_col: str = "timestamp"
    value_col: str = "value"
    battery_col: str | None = "battery_level"
    schema: StructType = field(default_factory=lambda: SENSOR_READING_SCHEMA)


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

#: Most state stores a JVM-state query gets. Its trigger cost is per-store
#: loads and commits, so more stores than this only add overhead: measured
#: at sf1.0 on local[32], 8 stores against 32 ran chained windows in 3.4 s
#: against 5.6 s and the upsert aggregate in 2.7 s against 4.3 s
#: (SCALING.md, "State-store width").
STATE_STORE_CAP = 8


@contextlib.contextmanager
def pinned_shuffle_partitions(spark: SparkSession, n: int) -> Iterator[None]:
    """Set the session's shuffle-partition count to ``n`` inside the block
    and restore it after. A streaming query started inside the block freezes
    ``n`` into its fresh checkpoint as its state-store count; a restart on an
    existing checkpoint keeps the frozen count whatever the session says, so
    production sizes it to cluster capacity BEFORE the first start."""
    old = spark.conf.get(SHUFFLE_PARTITIONS)
    spark.conf.set(SHUFFLE_PARTITIONS, str(n))
    try:
        yield
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS, old)


def clamped_shuffle_partitions(spark: SparkSession, rows: int | None = None):
    """:func:`pinned_shuffle_partitions` for a bounded registry replay that
    starts its own queries: the session's shuffle-partition count, capped
    at :data:`STATE_STORE_CAP`.

    ``rows``: pass the replay's row count ONLY for Python-stateful
    replays (``applyInPandasWithState`` / ``transformWithStateInPandas``):
    there the per-partition Arrow+Python loop is the bottleneck, and a
    large replay (``rows`` ≥ 200k) keeps the session's full shuffle width
    (streaming_running_totals at sf1.0: 23 s → 12 s on local[32]).
    JVM-state replays (windowed aggs, dedup, stream-stream joins) must
    NOT pass it: their cost is per-provider state commits × batches, and
    widening the store makes them SLOWER — measured at sf1.0, cap 8 vs
    session-32: left-outer join 5.4 s vs 12.5 s, interval join 4.4 vs
    10.6, chained windows 3.4 vs 5.6, upsert 2.7 vs 4.3 (stream-stream
    joins keep FOUR stores per partition, so provider overhead scales
    worst there)."""
    session = int(spark.conf.get(SHUFFLE_PARTITIONS))
    n = session if (rows is not None and rows >= 200_000) else min(session, STATE_STORE_CAP)
    return pinned_shuffle_partitions(spark, n)


def parse_stage(raw: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """S6→S9: payload cast → from_json → flatten → event-time cast."""
    return parse_json_events(raw, cfg.schema, payload_col="value", ts_col=cfg.ts_col)


def windowed_aggregate_stage(parsed: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """ST1+ST2+S10: watermark → tumbling window → the reference's aggregate
    set (avg/min/max value, avg battery, count — processor.py:89-95),
    window struct flattened to start/end columns.

    ``avg_value`` is derived from an exact integer-cents sum in the
    aggregation state (a stateless projection after the stateful agg), so
    the sink value is independent of micro-batch arrival order and bit-equal
    to the batch shadow / any other engine computing the same grid — raw
    float averages differ across accumulation orders at 4dp boundaries
    (sf1.0 sweep finding). Battery stays a plain avg: it is reference
    display surface, never cross-engine compared."""
    from kafkasparkstream_spark.operators.aggregates import grid_avg, value_units

    aggs = [
        F.sum(value_units(cfg.value_col)).alias("_sum_cents"),
        F.min(cfg.value_col).alias("min_value"),
        F.max(cfg.value_col).alias("max_value"),
    ]
    if cfg.battery_col:
        aggs.append(F.avg(cfg.battery_col).alias("avg_battery"))
    aggs.append(F.count(F.lit(1)).alias("reading_count"))
    return (
        parsed.withWatermark(cfg.ts_col, cfg.watermark)
        .groupBy(F.window(F.col(cfg.ts_col), cfg.window), *[F.col(d) for d in cfg.dims])
        .agg(*aggs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *cfg.dims,
            grid_avg(F.col("_sum_cents"), F.col("reading_count")).alias("avg_value"),
            "min_value",
            "max_value",
            *(["avg_battery"] if cfg.battery_col else []),
            "reading_count",
        )
    )


def start_pipeline(
    raw_stream: DataFrame,
    sink_root: str,
    checkpoint_root: str,
    cfg: PipelineConfig | None = None,
    available_now: bool = False,
) -> tuple[StreamingQuery, StreamingQuery]:
    """Wire both output streams (processor.py:100-117 analog):

    - aggregates → update mode → ``{sink_root}/sensor_aggregates``
    - raw events → append mode → ``{sink_root}/sensor_data``

    each via foreachBatch with its own checkpoint dir. ``available_now=True``
    processes all available input then stops (deterministic tests/backfills).

    Both queries start under the cluster's parallelism capped at
    :data:`STATE_STORE_CAP` as their shuffle-partition count, rather than
    the session's count, which is restored once they have started; a
    restart keeps the count its checkpoint froze.
    """
    cfg = cfg or PipelineConfig()
    parsed = parse_stage(raw_stream, cfg)
    parsed.createOrReplaceTempView("raw_sensor_data")  # processor.py:79 analog
    agg = windowed_aggregate_stage(parsed, cfg)

    def _start(df: DataFrame, table: str, mode: str) -> StreamingQuery:
        writer = (
            df.writeStream.foreachBatch(
                foreach_batch_parquet_sink(f"{sink_root}/{table}")
            )
            .outputMode(mode)
            .option("checkpointLocation", f"{checkpoint_root}/{table}")
            .queryName(table)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    spark = raw_stream.sparkSession
    n = min(spark.sparkContext.defaultParallelism, STATE_STORE_CAP)
    with pinned_shuffle_partitions(spark, n):
        agg_q = _start(agg, "sensor_aggregates", "update")
        raw_q = _start(parsed, "sensor_data", "append")
    return agg_q, raw_q


def dedup_stage(
    parsed: DataFrame,
    keys: tuple[str, ...] = ("device_id", "timestamp"),
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """Streaming deduplication: drop re-deliveries of the same logical event
    (at-least-once sources like Kafka re-emit on retry) before they reach
    state or sinks.

    ``dropDuplicates`` on a watermarked stream keeps one state entry per key
    until the watermark passes the event's time, so state is bounded by the
    key arrival rate × watermark horizon — the standard exactly-once-ish
    ingest guard the reference lacks (its JDBC append happily duplicates,
    SURVEY.md ST3).
    """
    cfg = cfg or PipelineConfig()
    return parsed.withWatermark(cfg.ts_col, cfg.watermark).dropDuplicates(list(keys))


def dedup_within_watermark_stage(
    parsed: DataFrame,
    keys: tuple[str, ...] = ("device_id",),
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """Streaming dedup on the KEY ALONE within the watermark horizon
    (``dropDuplicatesWithinWatermark``): two deliveries of the same logical
    event whose event-times differ — retried producers re-stamp timestamps
    (generator.py:47 stamps at send time), so the (key, timestamp) pair of
    a retry rarely matches the original — still collapse to one row, as
    long as they arrive within the watermark delay of each other. State per
    key expires once the watermark passes first-seen + delay, so the store
    is bounded exactly like :func:`dedup_stage` while catching the
    re-stamped-duplicate case plain ``dropDuplicates`` misses.
    """
    cfg = cfg or PipelineConfig()
    return parsed.withWatermark(cfg.ts_col, cfg.watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def enrich_stage(parsed: DataFrame, dim: DataFrame, on: str = "device_id") -> DataFrame:
    """Stream-static enrichment join: each micro-batch hash-joins against the
    (small, broadcast) static dimension — no streaming state involved. The
    static side is re-resolved per batch, so a Delta/parquet dim table can
    be updated between batches without restarting the query."""
    return parsed.join(F.broadcast(dim), on, "left")


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 minute",
    within_seconds: int = 600,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: pair each left row with right rows of the
    same key whose time falls in ``[left_ts, left_ts + within_seconds]``.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can size the join state and evict rows the other
    side can no longer match (state ≈ arrival rate × (watermark + interval)
    per side, regardless of stream length). Without the time bound the
    state would grow forever — Spark rejects that plan for good reason.

    ``how="left_outer"`` additionally emits a null-extended row for each
    left row that found no match — but only once the watermark has passed
    the end of that row's join window (the engine must be sure no matching
    right row can still arrive). A bounded replay therefore needs a final
    watermark push past the last real event (see the flush sentinel in
    queries.py) or the tail of unmatched rows stays in state forever.
    """
    l_wm = left.withWatermark(left_ts, watermark).alias("l")
    r_wm = right.withWatermark(right_ts, watermark).alias("r")
    return l_wm.join(
        r_wm,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within_seconds} SECONDS")
        ),
        how,
    )
