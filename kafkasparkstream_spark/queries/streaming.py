"""Structured Streaming replays over a byte-identical file-JSON
wire: windowed aggs, cross-batch refinements, stream-stream joins, dedup,
recovery."""

from __future__ import annotations

from kafkasparkstream_spark.operators import aggregates
from kafkasparkstream_spark.tables import load_table
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (  # noqa: E402
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)
import atexit  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
from kafkasparkstream_spark.queries._shared import (  # noqa: E402
    register,
)
from kafkasparkstream_spark.streaming.pipeline import (  # noqa: E402
    clamped_shuffle_partitions,
)
from kafkasparkstream_spark.streaming.sinks import (  # noqa: E402
    foreach_batch_parquet_sink,
    latest_state,
)

EVENT_WIRE_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("ts", StringType(), True),
    ]
)


_STREAM_WORKDIRS: list[str] = []


_STALE_WORKDIR_S = 1800.0  # a live streaming registry query holds its dir for seconds


def _reap_stream_workdirs() -> None:
    for d in _STREAM_WORKDIRS:
        shutil.rmtree(d, ignore_errors=True)
    _STREAM_WORKDIRS.clear()


atexit.register(_reap_stream_workdirs)


def _stream_workdir(prefix: str) -> str:
    """mkdtemp for a streaming query's wire copy / checkpoint / sink, with
    two leak guards the bare ``tempfile.mkdtemp`` lacked. Every dir this
    process creates is rmtree'd at exit — the returned result DataFrame
    reads the sink lazily, so the dir must outlive the caller's collect,
    and process exit is the only point that is guaranteed. And stale
    same-prefix dirs from earlier *crashed* processes (atexit never ran)
    are reaped on sight once older than 30 minutes. Without both guards,
    every bench/sweep/test invocation of a streaming registry query leaked
    its ~250 MB workdir forever: 81 GB had accumulated by round 6, enough
    to fail concurrent Spark shuffles with ENOSPC."""
    root = tempfile.gettempdir()
    now = time.time()
    try:
        entries = os.listdir(root)
    except OSError:
        entries = []
    for entry in entries:
        if not entry.startswith(prefix):
            continue
        path = os.path.join(root, entry)
        try:
            if now - os.path.getmtime(path) > _STALE_WORKDIR_S:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            pass
    d = tempfile.mkdtemp(prefix=prefix)
    _STREAM_WORKDIRS.append(d)
    return d


def _drain_sink(spark, q, sink: str, n_rows: int, timeout_s: float = 120.0) -> bool:
    """Wait until the bounded stream has committed ``n_rows`` rows into the
    parquet sink, then stop the query and verify the SETTLED sink.

    Progress is polled DRIVER-SIDE from the query's streaming progress
    events (cumulative ``numInputRows`` per batchId) — the previous
    implementation launched a ``read.parquet(sink).count()`` Spark job
    every 0.5 s, and those poll jobs competed with the micro-batches they
    were waiting on (guide §1.2: don't compute things you throw away).
    A progress event is emitted only after its batch commits, so rows
    counted here are already visible in the sink; the settled-sink count
    after ``stop()`` remains the single authoritative check. Fast-fails
    when the query terminates early — awaitTermination surfaces its
    error. Returns whether the sink drained; shared by the stream-source
    query and its pytest twin so the drain logic cannot drift."""
    import json as _json
    import time as _t

    deadline = _t.time() + timeout_s
    seen: dict[int, int] = {}  # batchId -> numInputRows (eviction-proof sum)
    while _t.time() < deadline:
        if not q.isActive:
            break
        for p in q.recentProgress:
            d = _json.loads(p.json) if hasattr(p, "json") else p
            seen[d["batchId"]] = int(d.get("numInputRows", 0) or 0)
        if sum(seen.values()) >= n_rows:
            break
        _t.sleep(0.1)
    q.stop()
    q.awaitTermination()
    try:
        return spark.read.parquet(sink).count() >= n_rows
    except Exception:
        return False


def _wire_with_flush_sentinel(
    events: DataFrame, path: str, anchor: DataFrame | None = None
) -> None:
    """Serialize events to the JSON wire format plus one far-future sentinel
    row (user_id = event_id = -1, ts = max + 2 h): the sentinel advances the
    watermark past every real window/session so a bounded append-mode replay
    flushes all state, while its own window never closes — it self-excludes
    from output (filter user_id >= 0 where the sink could contain it).

    ``anchor`` supplies the max-ts base when the serialized side is one
    stream of a MULTI-stream query: Spark's global watermark is the MIN
    across streams, so each side's sentinel must sit past the max event
    time of ALL sides or a short side's sentinel can strand the long
    side's tail state (pass the parent table both times)."""
    flush = (anchor if anchor is not None else events).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("flush").alias("event_type"),
        F.lit(0.0).alias("value"),
        (F.max("ts") + F.expr("INTERVAL 2 HOURS")).alias("ts"),
    )
    cols = ("event_id", "user_id", "event_type", "value", "ts")
    _events_to_wire(events.select(*cols).unionByName(flush.select(*cols)), path)


def _wire_projection(events: DataFrame) -> DataFrame:
    """The JSON wire format the Kafka producer would send (ISO-8601 µs
    timestamps, one JSON object per line) — the single definition of the
    parse contract shared by every replay/throughput writer."""
    return events.select(
        F.to_json(
            F.struct(
                "event_id",
                "user_id",
                "event_type",
                "value",
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
            )
        ).alias("value")
    )


def _events_to_wire(events: DataFrame, path: str, n_files: int | None = None) -> None:
    """G1 analog: serialize events to the JSON wire format."""
    wire = _wire_projection(events)
    if n_files is not None:
        wire = wire.repartition(n_files)
    wire.write.mode("overwrite").text(path)


def _replay(
    df: DataFrame, workdir: str, mode: str, rows: int | None = None
) -> DataFrame:
    """Run the streaming ``df`` as one bounded ``availableNow`` replay and
    return its sink read back.

    The query writes each micro-batch through
    :func:`foreach_batch_parquet_sink` to ``{workdir}/sink`` in output
    ``mode``, with a fresh checkpoint at ``{workdir}/ckpt``, and starts and
    runs inside :func:`clamped_shuffle_partitions` (see there for ``rows``).
    A failed batch write fails the query: under ST7's swallow-and-log it
    would leave a stale sink that surfaces only as an oracle mismatch."""
    spark = df.sparkSession
    sink = f"{workdir}/sink"
    with clamped_shuffle_partitions(spark, rows=rows):
        q = (
            df.writeStream.foreachBatch(
                foreach_batch_parquet_sink(sink, swallow_errors=False)
            )
            .outputMode(mode)
            .option("checkpointLocation", f"{workdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(sink)


@register(
    "streaming_windowed_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '1 minute', ts)                      AS window_start,
           time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS window_end,
           event_type,
           ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) * 100.0
                 / COUNT(*), 0) / 10000.0 AS avg_value,
           MIN(value)           AS min_value,
           MAX(value)           AS max_value,
           COUNT(*)             AS reading_count
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full continuous query, executed for real via Structured Streaming:
    events → JSON lines → file stream (Kafka-payload-shaped) → parse →
    watermark → 1-min tumbling agg → update-mode foreachBatch parquet sink →
    latest-state read. Single availableNow batch keeps watermark drops out so
    the final state equals the batch answer exactly."""
    from kafkasparkstream_spark.sources.streams import file_json_stream
    from kafkasparkstream_spark.streaming.pipeline import PipelineConfig, start_pipeline

    events = load_table(spark, "events", sf_dir)
    workdir = _stream_workdir("kss_stream_")
    src, sink, ckpt = f"{workdir}/src", f"{workdir}/sink", f"{workdir}/ckpt"
    _events_to_wire(events, src)

    cfg = PipelineConfig(
        dims=("event_type",),
        ts_col="ts",
        value_col="value",
        battery_col=None,
        schema=EVENT_WIRE_SCHEMA,
    )
    raw = file_json_stream(spark, src, max_files_per_trigger=None)
    agg_q, raw_q = start_pipeline(raw, sink, ckpt, cfg, available_now=True)
    agg_q.awaitTermination()
    raw_q.awaitTermination()

    final = latest_state(
        spark.read.parquet(f"{sink}/sensor_aggregates"),
        ("window_start", "window_end", "event_type"),
    )
    # avg_value is already on the portable 4dp grid (pipeline computes it
    # from the exact integer-cents sum inside the streaming agg) — no
    # read-side re-round, which would re-introduce the half-up boundary.
    return final.select(
        "window_start",
        "window_end",
        "event_type",
        "avg_value",
        "min_value",
        "max_value",
        "reading_count",
    )


@register(
    "streaming_upsert_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '1 minute', ts)                      AS window_start,
           time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS window_end,
           event_type,
           ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) * 100.0
                 / COUNT(*), 0) / 10000.0 AS avg_value,
           MIN(value)           AS min_value,
           MAX(value)           AS max_value,
           COUNT(*)             AS reading_count
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def streaming_upsert_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3's update-mode refinements resolved across micro-batches: the
    same 1-minute continuous query as ``streaming_windowed_agg``, replayed
    as TWO micro-batches in event-time order. The events before the
    midpoint of the event-time range go to one wire file, the rest are
    appended as a second, and the stream reads one file per trigger. A
    window that straddles the midpoint is emitted by both batches, and
    ``latest_state`` keeps its row from the higher batch id. Every row of
    the second file is later than the first batch's max event time, so
    none is behind its watermark and the resolved state equals the batch
    oracle. The reference appends update-mode batches blindly and serves
    the duplicates (processor.py:105,133)."""
    from kafkasparkstream_spark.sources.streams import file_json_stream
    from kafkasparkstream_spark.streaming.pipeline import (
        PipelineConfig,
        parse_stage,
        windowed_aggregate_stage,
    )

    events = load_table(spark, "events", sf_dir)
    workdir = _stream_workdir("kss_upsert_")
    src = f"{workdir}/src"
    ts_us = F.unix_micros("ts")
    lo, hi = events.agg(F.min(ts_us), F.max(ts_us)).first()
    mid = (lo + hi) // 2
    # One file per write: the file source feeds files oldest first, so the
    # early half is batch 0 and the later write batch 1.
    for part, mode in ((ts_us < mid, "overwrite"), (ts_us >= mid, "append")):
        _wire_projection(events.filter(part)).repartition(1).write.mode(mode).text(src)

    cfg = PipelineConfig(
        dims=("event_type",),
        ts_col="ts",
        value_col="value",
        battery_col=None,
        schema=EVENT_WIRE_SCHEMA,
    )
    raw = file_json_stream(spark, src, max_files_per_trigger=1)
    sink = _replay(windowed_aggregate_stage(parse_stage(raw, cfg), cfg), workdir, "update")
    return latest_state(sink, ("window_start", "window_end", "event_type")).select(
        "window_start",
        "window_end",
        "event_type",
        "avg_value",
        "min_value",
        "max_value",
        "reading_count",
    )


@register(
    "streaming_running_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_value
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState running
    accumulators), executed for real across TWO micro-batches: events →
    JSON wire format split into two source files → maxFilesPerTrigger=1 →
    parse → per-user (count, sum) state carried batch to batch →
    update-mode parquet sink → latest state per user. The final state must
    equal the one-pass batch aggregate — cross-batch state continuity is
    exactly what this checks (a state loss between batch 1 and 2 halves
    the counts)."""
    from kafkasparkstream_spark.sources.json_parse import parse_json_events
    from kafkasparkstream_spark.sources.streams import file_json_stream
    from kafkasparkstream_spark.streaming.stateful import running_user_totals

    events = load_table(spark, "events", sf_dir)
    workdir = _stream_workdir("kss_state_")
    src = f"{workdir}/src"
    _events_to_wire(events, src, n_files=2)

    raw = file_json_stream(spark, src, max_files_per_trigger=1)
    parsed = parse_json_events(raw, EVENT_WIRE_SCHEMA, ts_col="ts")
    totals = running_user_totals(parsed)

    # Unlike the JVM-state replays, this one passes rows= so a large replay
    # keeps the session's full shuffle width: applyInPandasWithState is
    # Arrow/Python-throughput-bound per partition (see
    # clamped_shuffle_partitions).
    sink = _replay(totals, workdir, "update", rows=events.count())
    final = latest_state(sink, ("user_id",))
    return final.select("user_id", "n_events", "sum_value").orderBy("user_id")


@register(
    "streaming_interval_join",
    oracle="""
    WITH c AS (SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
    e AS (SELECT event_id, user_id, ts AS e_ts FROM events WHERE event_type = 'error')
    SELECT e.event_id, CAST(COUNT(*) AS BIGINT) AS n_clicks_1h
    FROM e JOIN c
      ON e.user_id = c.user_id
     AND e.e_ts >= c.c_ts
     AND e.e_ts <= c.c_ts + INTERVAL 3600 SECONDS
    GROUP BY e.event_id
    ORDER BY e.event_id
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join executed for real: clicks and errors
    replay as two watermarked file streams, the inner join pairs each error
    with the same user's clicks from the preceding hour, and the append-mode
    sink's contents must hash-match the batch range-join oracle — proving
    the stateful two-sided join converges to the declarative answer.

    The reference has no joins at all (SURVEY.md §2.3); this is the engine
    exceeding it with the canonical hard Structured Streaming operator. The
    time-bound condition lets Spark size and evict both state stores
    (state ≈ arrival rate × (watermark + interval) per side), so the same
    plan runs unbounded at production scale.
    """
    from kafkasparkstream_spark.sources.json_parse import parse_json_events
    from kafkasparkstream_spark.sources.streams import file_json_stream
    from kafkasparkstream_spark.streaming.pipeline import stream_interval_join

    events = load_table(spark, "events", sf_dir)
    workdir = _stream_workdir("kss_ssjoin_")

    src_c, src_e = f"{workdir}/clicks", f"{workdir}/errors"
    _events_to_wire(events.filter(F.col("event_type") == "click"), src_c)
    _events_to_wire(events.filter(F.col("event_type") == "error"), src_e)

    def _stream(path: str) -> DataFrame:
        raw = file_json_stream(spark, path, max_files_per_trigger=None)
        return parse_json_events(raw, EVENT_WIRE_SCHEMA, payload_col="value", ts_col="ts")

    pairs = stream_interval_join(
        _stream(src_c),
        _stream(src_e),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        watermark="1 minute",
        within_seconds=3600,
    ).select(
        F.col("r.event_id").alias("event_id"),
        F.col("l.ts").alias("click_ts"),
    )

    return (
        _replay(pairs, workdir, "append")
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_clicks_1h"))
        .orderBy("event_id")
    )


@register(
    "streaming_session_window",
    oracle="""
    WITH s AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    n AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid FROM s)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTES AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_value
    FROM n GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows executed as a real streaming query: the
    state store merges each user's [ts, ts+30min) ranges as events arrive,
    and sessions emit in append mode once the watermark passes their end —
    the only mode Spark allows for streaming session aggregation. The emitted
    rows must hash-match the batch islands construction (the
    session_window_user oracle). Together with the tumbling-window and
    interval-join twins this closes the streaming operator triad — fixed
    windows, dynamic windows, two-sided joins — all state-store-backed.

    A sentinel user (user_id = -1) far in the future advances the watermark
    past every real session's end so the bounded replay flushes all state —
    the same role Kafka heartbeat/flush records play in production backfills;
    it is filtered out at read-back and never reaches the oracle compare.

    The aggregate (count / sum) is decomposable, so session merges combine
    partial states instead of re-reading events; state per user is bounded
    by the session gap × watermark horizon.
    """
    from kafkasparkstream_spark.sources.json_parse import parse_json_events
    from kafkasparkstream_spark.sources.streams import file_json_stream

    events = load_table(spark, "events", sf_dir)
    workdir = _stream_workdir("kss_sesswin_")
    src = f"{workdir}/src"
    _wire_with_flush_sentinel(events, src)

    raw = file_json_stream(spark, src, max_files_per_trigger=None)
    parsed = parse_json_events(raw, EVENT_WIRE_SCHEMA, payload_col="value", ts_col="ts")
    # No orderBy here — sorts are illegal mid-stream; ordering happens at the
    # batch read-back below.
    sessions = (
        parsed.withWatermark("ts", "1 minute")
        .groupBy(F.session_window(F.col("ts"), "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(aggregates.value_units("value")).alias("_sum_cents"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "_sum_cents",
        )
    )

    return (
        _replay(sessions, workdir, "append")
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            (F.col("_sum_cents").cast("double") / 100.0).alias("sum_value"),
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "streaming_chained_windows",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_value
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def streaming_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful aggregation in ONE streaming query (Spark's
    multiple-stateful-operator support): 1-minute windowed partials
    re-aggregated into 5-minute windows via window_time(), both stages
    state-store-backed, append mode. The emitted rollup must hash-match the
    flat 5-minute batch aggregate — proving the two-level incremental
    computation composes losslessly (count/sum partials are decomposable).

    This is the streaming form of the rollup-hierarchy pattern
    (window_partials/merge_window_partials): the fine grain absorbs the
    event stream, the coarse grain sees only |1-min windows| rows — at
    production rates the second stage's input is ~5 rows per emitted
    window regardless of event volume. A far-future sentinel advances the
    watermark so the bounded replay flushes; its own window never passes
    the watermark, so it self-excludes from append output.
    """
    from kafkasparkstream_spark.sources.json_parse import parse_json_events
    from kafkasparkstream_spark.sources.streams import file_json_stream

    events = load_table(spark, "events", sf_dir)
    workdir = _stream_workdir("kss_chain_")
    src = f"{workdir}/src"
    _wire_with_flush_sentinel(events, src)

    raw = file_json_stream(spark, src, max_files_per_trigger=None)
    parsed = parse_json_events(raw, EVENT_WIRE_SCHEMA, payload_col="value", ts_col="ts")
    # Both stateful levels carry exact integer cents — float partials would
    # make the coarse total depend on which 1-min window absorbed each row.
    fine = (
        parsed.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 minute").alias("w1"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(aggregates.value_units("value")).alias("s"),
        )
    )
    coarse = (
        fine.groupBy(F.window(F.window_time("w1"), "5 minutes").alias("w5"))
        .agg(F.sum("n").alias("n_events"), F.sum("s").alias("_sum_c"))
        .select(F.col("w5.start").alias("window_start"), "n_events", "_sum_c")
    )

    return (
        _replay(coarse, workdir, "append")
        .select(
            "window_start",
            F.col("n_events").cast("long").alias("n_events"),
            (F.col("_sum_c").cast("double") / 100.0).alias("sum_value"),
        )
        .orderBy("window_start")
    )


@register(
    "streaming_enrich_join",
    oracle="""
    WITH dim(event_type, category, weight) AS (
        VALUES ('click', 'engagement', 1.0), ('view', 'engagement', 0.5),
               ('purchase', 'revenue', 5.0), ('signup', 'growth', 3.0),
               ('error', 'ops', 0.0)
    )
    SELECT d.category,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value * d.weight), 4) AS weighted_value
    FROM events e JOIN dim d USING (event_type)
    GROUP BY d.category
    ORDER BY d.category
    """,
)
def streaming_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment executed for real: each micro-batch
    broadcast-joins against a small dimension table (enrich_stage — the
    static side re-resolves per batch, so dims update without a stream
    restart), then a per-category rollup of the enriched rows read back
    from the append sink must hash-match the batch join. No streaming
    state at all — the join is per-batch, which is why it scales to any
    stream rate."""
    from kafkasparkstream_spark.sources.json_parse import parse_json_events
    from kafkasparkstream_spark.sources.streams import file_json_stream
    from kafkasparkstream_spark.streaming.pipeline import enrich_stage

    events = load_table(spark, "events", sf_dir)
    workdir = _stream_workdir("kss_enrich_")
    src = f"{workdir}/src"
    _events_to_wire(events, src)

    dim = spark.createDataFrame(
        [
            ("click", "engagement", 1.0),
            ("view", "engagement", 0.5),
            ("purchase", "revenue", 5.0),
            ("signup", "growth", 3.0),
            ("error", "ops", 0.0),
        ],
        "event_type string, category string, weight double",
    )
    raw = file_json_stream(spark, src, max_files_per_trigger=None)
    parsed = parse_json_events(raw, EVENT_WIRE_SCHEMA, payload_col="value", ts_col="ts")
    # enrich_stage joins LEFT by design (unmatched events survive with null
    # dims); the rollup drops them to match the oracle's inner join — a
    # sixth event_type or malformed wire line must not hash-diverge.
    enriched = (
        enrich_stage(parsed, dim, on="event_type")
        .filter(F.col("category").isNotNull())
        .select("category", "value", "weight")
    )

    return (
        _replay(enriched, workdir, "append")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("weighted_value"),
        )
        .orderBy("category")
    )


@register(
    "streaming_dedup_replay",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication proven end-to-end: the wire replay contains
    EVERY event twice (an at-least-once source re-delivering the whole
    topic), dedup_stage drops the re-deliveries inside the stream, and the
    sink's per-type counts must equal the clean batch counts — the
    exactly-once-ish ingest guard the reference lacks (its JDBC append
    doubles on replay, SURVEY.md ST3), hash-verified rather than asserted
    on a toy fixture. Dedup keys on (event_id, ts): state is one entry per
    in-horizon event, evicted as the watermark passes."""
    from kafkasparkstream_spark.sources.json_parse import parse_json_events
    from kafkasparkstream_spark.sources.streams import file_json_stream
    from kafkasparkstream_spark.streaming.pipeline import PipelineConfig, dedup_stage

    events = load_table(spark, "events", sf_dir)
    workdir = _stream_workdir("kss_ddr_")
    src = f"{workdir}/src"
    doubled = events.unionByName(events)  # the re-delivered topic
    _events_to_wire(doubled, src)

    raw = file_json_stream(spark, src, max_files_per_trigger=None)
    parsed = parse_json_events(raw, EVENT_WIRE_SCHEMA, payload_col="value", ts_col="ts")
    cfg = PipelineConfig(ts_col="ts")
    deduped = dedup_stage(parsed, keys=("event_id", "ts"), cfg=cfg)

    return (
        _replay(deduped, workdir, "append")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )


@register(
    "streaming_left_outer_join",
    oracle="""
    WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
         er AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error')
    SELECT c.user_id,
           CAST(COUNT(er.event_id) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN er.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unmatched_clicks
    FROM c LEFT JOIN er
      ON er.user_id = c.user_id
     AND er.ts >= c.ts
     AND er.ts <= c.ts + INTERVAL 600 SECONDS
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
)
def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join executed for real: clicks and
    errors replay as two watermarked file streams; each click pairs with the
    same user's errors in the following 10 minutes, and clicks with no such
    error emit a null-extended row — but only after the watermark proves no
    matching error can still arrive. That deferred-null emission is the
    semantic this query pins (the inner twin, streaming_interval_join,
    never has to wait): a flush sentinel 2 h past the last real event
    pushes the final watermark so the bounded replay drains every unmatched
    click out of state, exactly as an unbounded deployment drains them
    continuously. Sink contents must hash-match the batch LEFT JOIN oracle.

    State sizing is identical to the inner case (arrival rate × (watermark
    + interval) per side); the outer side adds only the per-row "matched"
    bit. The sentinel key (-1) pairs with its twin and is filtered on read.
    """
    from kafkasparkstream_spark.sources.json_parse import parse_json_events
    from kafkasparkstream_spark.sources.streams import file_json_stream
    from kafkasparkstream_spark.streaming.pipeline import stream_interval_join

    events = load_table(spark, "events", sf_dir)
    workdir = _stream_workdir("kss_lojoin_")

    src_c, src_e = f"{workdir}/clicks", f"{workdir}/errors"
    # anchor both sentinels on the PARENT table's max ts: the global
    # watermark is the min across the two streams, so a per-side anchor
    # would strand tail state whenever one stream ends much earlier
    _wire_with_flush_sentinel(
        events.filter(F.col("event_type") == "click"), src_c, anchor=events
    )
    _wire_with_flush_sentinel(
        events.filter(F.col("event_type") == "error"), src_e, anchor=events
    )

    def _stream(path: str) -> DataFrame:
        raw = file_json_stream(spark, path, max_files_per_trigger=None)
        return parse_json_events(raw, EVENT_WIRE_SCHEMA, payload_col="value", ts_col="ts")

    pairs = stream_interval_join(
        _stream(src_c),
        _stream(src_e),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        watermark="1 minute",
        within_seconds=600,
        how="left_outer",
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("error_id"),
    )

    return (
        _replay(pairs, workdir, "append")
        .filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.count("error_id").alias("n_pairs"),
            F.sum(F.when(F.col("error_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unmatched_clicks"),
        )
        .orderBy("user_id")
    )


@register(
    "streaming_batch_parity_audit",
    oracle="""
    WITH w AS (
        SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
               event_type,
               COUNT(*) AS reading_count
        FROM events GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(0 AS BIGINT) AS n_mismatches
    FROM w
    """,
)
def streaming_batch_parity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine auditing itself: run the real micro-batch pipeline
    (parse → watermark → 1-min window agg → update-mode sink → latest
    state), compute the same aggregate as a batch query, and anti-join the
    two INSIDE the engine — the output row claims how many windows exist
    and that zero disagree, and the oracle independently recomputes the
    window count so a silent divergence (or an empty sink) fails the
    hash. This is the Lambda-architecture reconciliation job expressed as
    one query: at 100 TB you run exactly this to certify a streaming
    sink's backfill against the batch path, and both sides here are the
    engine's own operators (no driver-side comparison)."""
    from kafkasparkstream_spark.sources.streams import file_json_stream
    from kafkasparkstream_spark.streaming.pipeline import PipelineConfig, start_pipeline

    events = load_table(spark, "events", sf_dir)
    workdir = _stream_workdir("kss_parity_")
    src, sink, ckpt = f"{workdir}/src", f"{workdir}/sink", f"{workdir}/ckpt"
    _events_to_wire(events, src)
    cfg = PipelineConfig(
        dims=("event_type",),
        ts_col="ts",
        value_col="value",
        battery_col=None,
        schema=EVENT_WIRE_SCHEMA,
    )
    raw = file_json_stream(spark, src, max_files_per_trigger=None)
    agg_q, raw_q = start_pipeline(raw, sink, ckpt, cfg, available_now=True)
    agg_q.awaitTermination()
    raw_q.awaitTermination()

    streamed = latest_state(
        spark.read.parquet(f"{sink}/sensor_aggregates"),
        ("window_start", "window_end", "event_type"),
    ).select(
        "window_start",
        "event_type",
        F.col("avg_value").alias("s_avg"),
        F.col("reading_count").cast("long").alias("s_count"),
    )
    batch = (
        events.groupBy(
            F.window("ts", "1 minute").alias("w"), "event_type"
        )
        .agg(
            F.sum(aggregates.value_units("value")).alias("_sc"),
            F.count(F.lit(1)).alias("b_count"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            aggregates.grid_avg(F.col("_sc"), F.col("b_count")).alias("b_avg"),
            "b_count",
        )
    )
    # Keyed full-outer reconciliation. Both paths now derive the average
    # from the exact integer-cents sum (identical IEEE ops on identical
    # integers), so equality is exact; the 1e-9 tolerance is a belt for
    # future non-grid aggregates, not a requirement of this pair.
    j = batch.join(streamed, ["window_start", "event_type"], "full_outer")
    mismatch = (
        F.col("b_count").isNull()
        | F.col("s_count").isNull()
        | (F.col("b_count") != F.col("s_count"))
        | (F.abs(F.col("b_avg") - F.col("s_avg")) > 1e-9)
    )
    return batch.agg(
        F.count(F.lit(1)).alias("n_windows")
    ).join(
        F.broadcast(
            j.agg(
                F.sum(mismatch.cast("long")).alias("n_mismatches")
            ).select(F.coalesce("n_mismatches", F.lit(0)).alias("n_mismatches"))
        )
    )
