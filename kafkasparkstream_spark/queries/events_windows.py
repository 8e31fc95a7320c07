"""Temporal / windowed analytics over `events`: sessions,
as-of joins, resampling, rolling windows, funnels, attribution."""

from __future__ import annotations

from kafkasparkstream_spark.operators import aggregates
from kafkasparkstream_spark.operators import temporal  # noqa: E402
from kafkasparkstream_spark.operators import windows as win_ops  # noqa: E402
from kafkasparkstream_spark.operators import windows as windows_ops  # noqa: E402
from kafkasparkstream_spark.tables import load_table
from kafkasparkstream_spark.util import current_scope
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from kafkasparkstream_spark.queries._shared import (  # noqa: E402
    register,
)

@register(
    "latest_per_user",
    oracle="""
    SELECT * EXCLUDE (rnk) FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rnk
        FROM events
    ) WHERE rnk = 1
    ORDER BY user_id
    """,
)
def latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic row_number()=1: latest event per user."""
    return win_ops.latest_per_key(load_table(spark, "events", sf_dir))


@register(
    "top3_by_value_per_user",
    oracle="""
    SELECT * FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS INT) AS rnk
        FROM events
    ) WHERE rnk <= 3
    ORDER BY user_id, rnk
    """,
)
def top3_by_value_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-filter top-3 rows per key by measure."""
    return win_ops.topk_per_key(load_table(spark, "events", sf_dir), k=3)


@register(
    "running_stats_per_user",
    oracle="""
    SELECT user_id, event_id, ts,
           ROUND(SUM(value) OVER w_cum, 4)   AS running_sum,
           COUNT(*) OVER w_cum               AS running_count,
           ROUND(LAG(value, 1) OVER w, 4)    AS prev_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
           w_cum AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
)
def running_stats_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum/count + lag per user in event-time order."""
    return win_ops.running_stats_per_key(load_table(spark, "events", sf_dir))


@register(
    "sliding_window_avg",
    oracle="""
    WITH exploded AS (
        SELECT time_bucket(INTERVAL '1 minute', ts) - k.k * INTERVAL 1 MINUTE AS window_start,
               event_type, value
        FROM events, (SELECT unnest([0, 1]) AS k) k
    )
    SELECT window_start, window_start + INTERVAL 2 MINUTES AS window_end,
           event_type,
           ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) * 100.0
                 / COUNT(*), 0) / 10000.0 AS avg_value,
           COUNT(*) AS reading_count
    FROM exploded
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def sliding_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2-min duration, 1-min slide): every event lands in
    two windows; oracle derives the same windows by explicit explosion."""
    events = load_table(spark, "events", sf_dir)
    return win_ops.sliding_window_agg(events).orderBy("window_start", "event_type")


@register(
    "session_window_user",
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
def session_window_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window (gap-merged [ts, ts+gap) ranges) checked
    against a first-principles islands construction: merge iff ranges
    overlap, i.e. new session when the gap is >= 30 min."""
    events = load_table(spark, "events", sf_dir)
    return win_ops.session_window_agg(events)


@register(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week FROM events GROUP BY 1
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.w) / 7 AS INT) AS weeks_since,
           COUNT(DISTINCT a.user_id) AS active_users
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    distinct-active counts per weeks-since-cohort — two shuffles (first-seen
    agg + distinct activity), then a broadcastable cohort join."""
    events = load_table(spark, "events", sf_dir)
    firsts = events.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).cast("date").alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .withColumn(
            "weeks_since",
            (F.datediff(F.col("w").cast("date"), F.col("cohort_week")) / 7).cast("int"),
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "weeks_since")
    )


@register(
    "resample_hourly_ffill",
    oracle="""
    WITH pts AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket, AVG(value) AS v
        FROM events WHERE user_id < 20
        GROUP BY 1, 2
    ),
    span AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM pts GROUP BY 1),
    grid AS (SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket FROM span),
    j AS (SELECT g.user_id, g.bucket, p.v FROM grid g LEFT JOIN pts p USING (user_id, bucket))
    SELECT user_id, bucket,
           ROUND(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
                                                  ROWS UNBOUNDED PRECEDING), 4) AS value_ffill,
           v IS NULL AS is_gap
    FROM j
    ORDER BY user_id, bucket
    """,
)
def resample_hourly_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill: hourly grid per user (users 0-19),
    forward-filled from the last observed hourly average."""
    events = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 20)
    return aggregates.resample_ffill(events, unit="hour")


@register(
    "asof_purchase_click",
    oracle="""
    WITH r AS (
        SELECT user_id, ts, arg_max(value, event_id) AS value
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, ts
    ),
    l AS (
        SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT l.event_id, l.user_id, l.ts, l.value,
           r.ts AS prev_ts, r.value AS prev_value
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    ORDER BY l.event_id
    """,
)
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the user's most recent click at or
    before it. Right side deduped per (user, ts) by max event_id so the
    'most recent row' is unambiguous in every engine."""
    events = load_table(spark, "events", sf_dir)
    left = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("value"))
    )
    out = temporal.asof_join(
        left, right, key_col="user_id", ts_col="ts", value_cols=("value",)
    )
    return out.select(
        "event_id", "user_id", "ts", "value",
        F.col("prev_ts"), F.col("prev_value"),
    ).orderBy("event_id")


@register(
    "rate_spike_windows",
    oracle="""
    WITH w AS (
        SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start, COUNT(*) AS cnt
        FROM events GROUP BY 1
    )
    SELECT * FROM (
        SELECT window_start, cnt,
               ROUND(AVG(cnt) OVER (ORDER BY window_start
                                    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING), 4)
                   AS trailing_avg,
               ROUND(cnt / AVG(cnt) OVER (ORDER BY window_start
                                          ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING), 4)
                   AS spike_ratio
        FROM w
    )
    WHERE trailing_avg IS NOT NULL
    ORDER BY window_start
    """,
)
def rate_spike_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throughput anomaly detection: per-minute event counts compared to the
    trailing 5-window average (rows-frame over the aggregated windows — the
    monitoring query an ops team runs on the reference's aggregate table).
    The first window of the stream has no history and is excluded."""
    from pyspark.sql.window import Window as W

    events = load_table(spark, "events", sf_dir)
    counts = (
        events.groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "cnt")
    )
    trail = W.orderBy("window_start").rowsBetween(-5, -1)
    return (
        counts.select(
            "window_start",
            "cnt",
            F.round(F.avg("cnt").over(trail), 4).alias("trailing_avg"),
            F.round(F.col("cnt") / F.avg("cnt").over(trail), 4).alias("spike_ratio"),
        )
        .filter(F.col("trailing_avg").isNotNull())
        .orderBy("window_start")
    )


@register(
    "scd2_event_type_history",
    oracle="""
    WITH changed AS (
        SELECT user_id, event_type, ts, event_id
        FROM (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM events
        )
        WHERE prev IS NULL OR event_type <> prev
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
    FROM changed
    ORDER BY user_id, valid_from
    """,
)
def scd2_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 compaction: per-user event_type change intervals with
    valid_from/valid_to bounds and an is_current flag (the CDC→dimension
    transformation)."""
    events = load_table(spark, "events", sf_dir)
    return temporal.scd2_history(events)


@register(
    "time_weighted_avg_user",
    oracle="""
    WITH d AS (
        SELECT user_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS vq,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   - epoch_us(ts) AS dur_us
        FROM events
    ),
    a AS (
        SELECT user_id, SUM(vq * dur_us) AS sp, SUM(dur_us) AS sd,
               COUNT(*) AS n_intervals
        FROM d WHERE dur_us IS NOT NULL
        GROUP BY user_id
        HAVING SUM(dur_us) > 0
    )
    SELECT user_id,
           ROUND(CAST(sp AS DOUBLE) / CAST(sd AS DOUBLE) / 100.0 * 10000, 0)
               / 10000 + 0.0 AS twa_value,
           n_intervals,
           ROUND(CAST(sd AS DOUBLE) / 100.0, 0) / 10000 AS span_seconds
    FROM a ORDER BY user_id
    """,
)
def time_weighted_avg_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-weighted average per user: each reading is
    weighted by how long it remained current (lead-interval weighting)."""
    events = load_table(spark, "events", sf_dir)
    return temporal.time_weighted_avg(events)


@register(
    "session_stats",
    oracle="""
    WITH s AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_id
        FROM s
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) + per-session rollup."""
    events = load_table(spark, "events", sf_dir)
    out = temporal.session_stats(events, gap_seconds=1800)
    return out.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "session_start",
        "session_end",
        "n_events",
        "sum_value",
    )


@register(
    "clicks_before_error_60s",
    oracle="""
    WITH r AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    l AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'error')
    SELECT l.event_id, l.user_id, l.ts, l.value,
           CAST(COUNT(r.ts) AS BIGINT) AS n_in_range
    FROM l LEFT JOIN r
      ON l.user_id = r.user_id
     AND r.ts > l.ts - INTERVAL 60 SECONDS AND r.ts <= l.ts
    GROUP BY l.event_id, l.user_id, l.ts, l.value
    ORDER BY l.event_id
    """,
)
def clicks_before_error_60s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks within the 60 s before each error, per user —
    bucketized equi-join shape (no nested-loop range join)."""
    events = load_table(spark, "events", sf_dir)
    left = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", "value"
    )
    right = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    return temporal.range_join_count(
        left, right, key_col="user_id", ts_col="ts", window_seconds=60
    )


@register(
    "moving_avg_1h",
    oracle="""
    SELECT user_id, event_id, ts,
           ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER w * 100.0
                 / (COUNT(*) OVER w), 0) / 10000.0 AS trailing_avg,
           COUNT(*) OVER w             AS trailing_cnt
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def moving_avg_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour moving average per user: RANGE frame on int64
    microsecond epoch (exact frame boundary in both engines)."""
    events = load_table(spark, "events", sf_dir)
    return win_ops.moving_avg_time_range(events)


@register(
    "time_decay_value_by_type",
    oracle="""
    WITH m AS (SELECT MAX(epoch_us(ts)) AS mx FROM events)
    SELECT event_type,
           ROUND(SUM(value * (1.0 / (1.0 + (mx - epoch_us(ts)) / 3600000000.0)))
                 / SUM(1.0 / (1.0 + (mx - epoch_us(ts)) / 3600000000.0)), 4)
               AS decayed_avg,
           ROUND(SUM(1.0 / (1.0 + (mx - epoch_us(ts)) / 3600000000.0)), 4)
               AS total_weight,
           COUNT(*) AS n_events
    FROM events, m
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def time_decay_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted mean per event type, weight = 1/(1 + age_hours)
    anchored at max(ts). Rational decay over int64-µs ages keeps every step
    a correctly-rounded IEEE op, so both engines agree bit-for-bit before
    the output rounding."""
    return temporal.time_decay_weighted_avg(load_table(spark, "events", sf_dir))


@register(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0
        FROM events GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, s1.t0,
               MIN(CASE WHEN e.event_type = 'click' AND e.ts > s1.t0
                        THEN e.ts END) AS t1
        FROM events e JOIN s1 USING (user_id) GROUP BY 1, 2
    ),
    s3 AS (
        SELECT e.user_id, s2.t0, s2.t1,
               MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t1
                        THEN e.ts END) AS t2
        FROM events e JOIN s2 USING (user_id) GROUP BY 1, 2, 3
    ),
    c AS (
        SELECT SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS c0,
               SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS c2
        FROM s3
    ),
    u AS (
        SELECT 1 AS stage, 'signup' AS stage_name, c0 AS n_users, c0 AS base FROM c
        UNION ALL
        SELECT 2, 'click', c1, c0 FROM c
        UNION ALL
        SELECT 3, 'purchase', c2, c0 FROM c
    )
    SELECT CAST(stage AS INT) AS stage, stage_name,
           CAST(n_users AS BIGINT) AS n_users,
           ROUND(n_users * 1.0 / nullif(base, 0), 4) AS conversion
    FROM u ORDER BY stage
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup→click→purchase funnel — successive aggregate-windows
    over ONE user-keyed shuffle; conversion shares off the stage-1 base."""
    return temporal.ordered_funnel(load_table(spark, "events", sf_dir))


@register(
    "user_gap_stats",
    oracle="""
    WITH g AS (
        SELECT user_id,
               epoch(ts) - lag(epoch(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(AVG(gap), 4) AS mean_gap_s,
           ROUND(quantile_cont(gap, 0.5), 4) AS p50_gap_s,
           ROUND(quantile_cont(gap, 0.95), 4) AS p95_gap_s,
           ROUND(AVG(gap) / nullif(quantile_cont(gap, 0.5), 0.0), 4) AS burstiness
    FROM g WHERE gap IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)
def user_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event cadence (mean/p50/p95 gap, burstiness) — one
    keyed lag window + hash-agg."""
    return temporal.user_gap_stats(load_table(spark, "events", sf_dir))


@register(
    "rolling_7d_active_users",
    oracle="""
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    mx AS (SELECT MAX(day) AS max_day FROM active),
    c AS (
        SELECT user_id, unnest(generate_series(day, day + INTERVAL 6 DAY,
                                               INTERVAL 1 DAY)) AS report_day
        FROM active
    )
    SELECT CAST(report_day AS DATE) AS report_day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_7d
    FROM c, mx WHERE CAST(report_day AS DATE) <= max_day
    GROUP BY 1 ORDER BY 1
    """,
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day active users per day: distinct (user, day) collapse →
    bounded explode to report days → distinct count, no sliding-frame
    distinct anywhere."""
    return aggregates.rolling_active_users(load_table(spark, "events", sf_dir))


@register(
    "session_funnel_conversion",
    oracle="""
    WITH s AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_id
        FROM s
    ),
    s1 AS (
        SELECT user_id, session_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0
        FROM numbered GROUP BY 1, 2
    ),
    s2 AS (
        SELECT n.user_id, n.session_id, s1.t0,
               MIN(CASE WHEN n.event_type = 'click' AND n.ts > s1.t0
                        THEN n.ts END) AS t1
        FROM numbered n JOIN s1 USING (user_id, session_id) GROUP BY 1, 2, 3
    ),
    s3 AS (
        SELECT n.user_id, n.session_id, s2.t0, s2.t1,
               MIN(CASE WHEN n.event_type = 'purchase' AND n.ts > s2.t1
                        THEN n.ts END) AS t2
        FROM numbered n JOIN s2 USING (user_id, session_id) GROUP BY 1, 2, 3, 4
    ),
    c AS (
        SELECT SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS c0,
               SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS c2
        FROM s3
    ),
    u AS (
        SELECT 1 AS stage, 'signup' AS stage_name, c0 AS n_users, c0 AS base FROM c
        UNION ALL SELECT 2, 'click', c1, c0 FROM c
        UNION ALL SELECT 3, 'purchase', c2, c0 FROM c
    )
    SELECT CAST(stage AS INT) AS stage, stage_name,
           CAST(n_users AS BIGINT) AS n_users,
           ROUND(n_users * 1.0 / nullif(base, 0), 4) AS conversion
    FROM u ORDER BY stage
    """,
)
def session_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session ordered funnel: a conversion only counts when the
    whole signup→click→purchase sequence happens inside ONE gap-based
    session (a purchase days later is retention, not conversion). Composes
    sessionize (one user-keyed shuffle) with the ordered-funnel windows,
    re-keyed by (user, session) — one additional keyed exchange, n_users
    counts funnel-completing *sessions*."""
    events = load_table(spark, "events", sf_dir)
    sessions = temporal.sessionize(events).withColumn(
        "_sess_key",
        F.concat_ws("#", F.col("user_id").cast("string"), F.col("session_id").cast("string")),
    )
    return temporal.ordered_funnel(sessions, key_col="_sess_key")


@register(
    "session_type_pairs",
    oracle="""
    WITH s AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_id
        FROM s
    ),
    st AS (SELECT DISTINCT user_id, session_id, event_type FROM numbered),
    tot AS (SELECT COUNT(DISTINCT (user_id, session_id)) AS n_sessions FROM numbered),
    p AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_sessions_both
        FROM st a JOIN st b
          ON a.user_id = b.user_id AND a.session_id = b.session_id
         AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_sessions_both,
           ROUND(n_sessions_both * 1.0 / t.n_sessions, 4) AS support
    FROM p, tot t ORDER BY type_a, type_b
    """,
)
def session_type_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence within gap-based sessions (market-basket
    support over sessions): distinct (session, type) grain bounds the
    self-join fanout to |types| per session key; support normalizes by the
    1-row total-session count."""
    events = load_table(spark, "events", sf_dir)
    st = (
        temporal.sessionize(events)
        .select("user_id", "session_id", "event_type")
        .distinct()
    )
    tot = st.select("user_id", "session_id").distinct().agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    a, b = st.alias("a"), st.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_id") == F.col("b.session_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
        .agg(F.count(F.lit(1)).alias("n_sessions_both"))
    )
    return (
        pairs.join(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_sessions_both",
            F.round(F.col("n_sessions_both") / F.col("n_sessions"), 4).alias("support"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "rolling_7d_active_sketch",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS aday FROM events),
    d AS (SELECT DISTINCT aday AS report_day FROM a)
    SELECT report_day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_active_7d,
           TRUE AS sketch_within_5pct
    FROM d JOIN a ON a.aday BETWEEN report_day - 6 AND report_day
    GROUP BY report_day ORDER BY report_day
    """,
)
def rolling_7d_active_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based trailing-7-day active users, HASH-GATED (round-7 close
    of the no_oracle row): the per-day HLL blobs unioned over a day-range
    window execute exactly as before — |days| sketch rows of state instead
    of the users×days explode, the 100 TB shape — and the hashed output is
    the exact trailing-7d distinct per observed day (the verifier: a
    days×activity range join over the ALREADY-COLLAPSED distinct grain)
    PLUS the bounded verdict that every day's sketch estimate is within 5%
    (≈3σ at lg_k=12). The curve is additionally pinned to the exact twin
    in tests/test_semantics.py."""
    from kafkasparkstream_spark.operators.aggregates import (
        rolling_active_users_sketch,
    )

    events = load_table(spark, "events", sf_dir)
    sk = rolling_active_users_sketch(events)
    active = events.select(
        "user_id", F.to_date("ts").alias("aday")
    ).distinct()
    days = active.select(F.col("aday").alias("report_day")).distinct()
    # Exact twin as equi-joins only: explode each activity day FORWARD into
    # the ≤7 report days it reaches (the rolling_active_users shape), then
    # keep observed report days — a broadcastable equi join, not a
    # days×activity range join (which plans as a nested loop).
    contributes = active.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("aday"),
                F.date_add(F.col("aday"), 6),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("report_day"),
    )
    exact = (
        contributes.join(F.broadcast(days), "report_day")
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("exact_active_7d"))
    )
    return (
        exact.join(sk, "report_day")
        .select(
            "report_day",
            "exact_active_7d",
            (
                F.abs(F.col("approx_active_7d") - F.col("exact_active_7d"))
                <= F.lit(0.05) * F.col("exact_active_7d")
            ).alias("sketch_within_5pct"),
        )
        .orderBy("report_day")
    )


@register(
    "pit_trailing_features",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts AS c_ts, value AS c_val FROM events WHERE event_type = 'click'),
    m AS (
        SELECT p.event_id,
               SUM(CASE WHEN c.c_ts >= p.ts - INTERVAL 3600 SECONDS THEN 1 ELSE 0 END) AS n_3600s,
               ROUND(SUM(CASE WHEN c.c_ts >= p.ts - INTERVAL 3600 SECONDS THEN c.c_val ELSE 0 END), 4) AS sum_3600s,
               SUM(CASE WHEN c.c_ts >= p.ts - INTERVAL 86400 SECONDS THEN 1 ELSE 0 END) AS n_86400s,
               ROUND(SUM(CASE WHEN c.c_ts >= p.ts - INTERVAL 86400 SECONDS THEN c.c_val ELSE 0 END), 4) AS sum_86400s
        FROM p JOIN c ON p.user_id = c.user_id
         AND c.c_ts < p.ts AND c.c_ts >= p.ts - INTERVAL 86400 SECONDS
        GROUP BY p.event_id
    )
    SELECT p.event_id, p.user_id, p.ts,
           CAST(COALESCE(m.n_3600s, 0) AS BIGINT) AS n_3600s,
           COALESCE(m.sum_3600s, 0.0) AS sum_3600s,
           CAST(COALESCE(m.n_86400s, 0) AS BIGINT) AS n_86400s,
           COALESCE(m.sum_86400s, 0.0) AS sum_86400s
    FROM p LEFT JOIN m USING (event_id)
    ORDER BY p.event_id
    """,
)
def pit_trailing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature backfill: per purchase, the user's
    strictly-prior click count/value-sum over 1 h and 24 h trailing windows,
    both horizons from ONE binned hash join (operators/temporal.py:
    point_in_time_features) — the no-leakage join every feature store needs."""
    events = load_table(spark, "events", sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return temporal.point_in_time_features(purchases, clicks)


@register(
    "time_to_conversion",
    oracle="""
    WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    nxt AS (
        SELECT c.event_id, MIN(p.ts) AS next_purchase
        FROM c LEFT JOIN p ON p.user_id = c.user_id AND p.ts > c.ts
        GROUP BY c.event_id
    ),
    banded AS (
        SELECT CASE
                 WHEN n.next_purchase IS NULL THEN 'none'
                 WHEN epoch(n.next_purchase) - epoch(c.ts) <= 3600 THEN 'within_1h'
                 WHEN epoch(n.next_purchase) - epoch(c.ts) <= 86400 THEN 'within_24h'
                 ELSE 'later'
               END AS band
        FROM c JOIN nxt n USING (event_id)
    )
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_clicks
    FROM banded GROUP BY band ORDER BY band
    """,
)
def time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each click's STRICTLY-NEXT purchase by the same user,
    banded into conversion-latency buckets. The Spark side is the
    union-and-carry construction of operators/temporal.py:asof_join run in
    REVERSED time order — ``last(ignorenulls)`` over an
    unboundedPreceding..currentRow frame, which Spark evaluates
    incrementally in one pass (a currentRow..following frame re-scans to
    the partition end for every row: O(n²) per hot user). At equal
    instants the click sorts first in the reversed scan, so same-instant
    purchases are excluded — strict forward semantics by sort order alone.
    The oracle uses a min-join — two different constructions that must
    agree, which is the point."""
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("_side"), F.col("ts").alias("_p_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("_side"), F.lit(None).cast("timestamp").alias("_p_ts")
    )
    # Reversed scan (ts desc): the preceding frame holds later-ts rows, and
    # last(ignorenulls) is the nearest — i.e. the earliest later purchase.
    # At equal ts the click (_side 0) precedes the purchase (_side 1), so
    # the purchase stays outside the click's frame: strictly-after only.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.asc("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = purchases.unionByName(clicks).withColumn(
        "next_purchase", F.last("_p_ts", ignorenulls=True).over(w)
    )
    # double-precision epoch difference — cast('long') would FLOOR each side
    # and band a 3600.8 s latency as 3600 (sub-second fractions are real in
    # the fixtures); the oracle's epoch() keeps fractions too.
    secs = F.col("next_purchase").cast("double") - F.col("ts").cast("double")
    band = (
        F.when(F.col("next_purchase").isNull(), "none")
        .when(secs <= 3600, "within_1h")
        .when(secs <= 86400, "within_24h")
        .otherwise("later")
    )
    return (
        carried.filter(F.col("_side") == 0)  # keep the click rows
        .select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
        .orderBy("band")
    )


@register(
    "peak_concurrency",
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
                                     ROWS UNBOUNDED PRECEDING) AS sid FROM s),
    sess AS (
        SELECT user_id, MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTES AS session_end
        FROM n GROUP BY user_id, sid
    ),
    deltas AS (
        SELECT session_start AS t, 1 AS delta FROM sess
        UNION ALL
        SELECT session_end AS t, -1 AS delta FROM sess
    ),
    curve AS (
        SELECT SUM(delta) OVER (ORDER BY t, delta
                                ROWS UNBOUNDED PRECEDING) AS conc
        FROM deltas
    )
    SELECT CAST((SELECT COUNT(*) FROM sess) AS BIGINT) AS n_sessions,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency
    FROM curve
    """,
)
def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous sessions — the sweep-line classic, built scalable:
    +1/−1 boundary events range-partition by time, each partition computes
    its LOCAL running sum, per-partition totals (one tiny row each) become
    broadcast exclusive-prefix offsets, and the global curve is local_cum +
    offset — the textbook two-phase distributed prefix sum, no single
    global-sort reducer. Ends sort before starts at equal instants
    ([start, end) half-open sessions don't overlap at the boundary).

    The (t, delta, pid) table is materialized ONCE (checkpoint) before both
    consumers: RangePartitioner boundaries come from nondeterministic
    sampling, so letting the local-cumsum and totals branches each re-plan
    the exchange would only agree while exchange reuse happens to dedupe
    them — pin it instead of relying on an optimizer artifact."""
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    sess = windows_ops.session_window_agg(events).select("session_start", "session_end")
    deltas = sess.select(
        F.col("session_start").alias("t"), F.lit(1).alias("delta")
    ).unionByName(sess.select(F.col("session_end").alias("t"), F.lit(-1).alias("delta")))

    parts = (
        deltas.repartitionByRange(8, "t", "delta")
        .withColumn("pid", F.spark_partition_id())
        .transform(current_scope().checkpoint)
    )
    w_local = (
        Window.partitionBy("pid")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parts.withColumn("local_cum", F.sum("delta").over(w_local))
    totals = parts.groupBy("pid").agg(F.sum("delta").alias("tot"))
    w_off = (
        Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.withColumn(
        "offset", F.sum("tot").over(w_off) - F.col("tot")
    ).select("pid", "offset")
    curve = local.join(F.broadcast(offsets), "pid").withColumn(
        "conc", F.col("local_cum") + F.col("offset")
    )
    # n_sessions = number of +1 boundary rows — free in the same aggregate,
    # instead of a second full sessionization job for a count literal.
    return curve.agg(
        F.sum((F.col("delta") == 1).cast("long")).alias("n_sessions"),
        F.max("conc").cast("long").alias("peak_concurrency"),
    )


@register(
    "top3_per_user_agg_twin",
    oracle="""
    SELECT * FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS INT) AS rnk
        FROM events
    ) WHERE rnk <= 3
    ORDER BY user_id, rnk
    """,
)
def top3_per_user_agg_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per key WITHOUT a rank window: one hash aggregate collects each
    key's rows, sorts the tiny per-key array, slices k, re-explodes. Same
    oracle as top3_by_value_per_user — two physical strategies, one truth.
    The agg form wins on high-cardinality keys with small groups (map-side
    partial collect, no sort of the whole partition); the window form wins
    when single keys are huge (no per-key array buffering). Both are in the
    registry so the trade-off is measured, not guessed."""
    events = load_table(spark, "events", sf_dir)
    cols = events.columns
    inner = F.struct(
        (-F.col("value")).alias("nv"),
        F.col("event_id").alias("eid"),
        F.struct(*cols).alias("row"),
    )
    return (
        events.groupBy("user_id")
        .agg(F.slice(F.sort_array(F.collect_list(inner)), 1, 3).alias("top"))
        .select(F.posexplode("top").alias("pos", "item"))
        .select("item.row.*", (F.col("pos") + 1).cast("int").alias("rnk"))
        .orderBy("user_id", "rnk")
    )


@register(
    "ewma_value_per_user",
    oracle="""
    WITH e AS (
        SELECT user_id,
               (value
                + COALESCE(LAG(value, 1) OVER w * 0.5, 0)
                + COALESCE(LAG(value, 2) OVER w * 0.25, 0)
                + COALESCE(LAG(value, 3) OVER w * 0.125, 0)
                + COALESCE(LAG(value, 4) OVER w * 0.0625, 0)
                + COALESCE(LAG(value, 5) OVER w * 0.03125, 0)
                + COALESCE(LAG(value, 6) OVER w * 0.015625, 0)
                + COALESCE(LAG(value, 7) OVER w * 0.0078125, 0))
               /
               (1.0
                + CASE WHEN LAG(value, 1) OVER w IS NULL THEN 0 ELSE 0.5 END
                + CASE WHEN LAG(value, 2) OVER w IS NULL THEN 0 ELSE 0.25 END
                + CASE WHEN LAG(value, 3) OVER w IS NULL THEN 0 ELSE 0.125 END
                + CASE WHEN LAG(value, 4) OVER w IS NULL THEN 0 ELSE 0.0625 END
                + CASE WHEN LAG(value, 5) OVER w IS NULL THEN 0 ELSE 0.03125 END
                + CASE WHEN LAG(value, 6) OVER w IS NULL THEN 0 ELSE 0.015625 END
                + CASE WHEN LAG(value, 7) OVER w IS NULL THEN 0 ELSE 0.0078125 END)
               AS ewma
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(ewma), 4) AS avg_ewma,
           ROUND(MAX(ewma), 4) AS max_ewma
    FROM e GROUP BY user_id ORDER BY user_id
    """,
)
def ewma_value_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-lag exponentially-weighted moving average of ``value`` per
    user (alpha=0.5, 8 taps), summarized per key. True EWMA is a recursion —
    hostile to set-oriented engines — but with a geometric decay the tail
    beyond 8 taps contributes < 0.4% of the weight, so a fixed-depth lag
    expansion is both exact-enough and embarrassingly parallel: one shuffle
    on user_id, eight ``lag`` reads inside a single WindowExec pass, no
    Python. The per-row prefix is renormalized by the weights actually
    present so early rows aren't biased toward zero. alpha=1/2 makes every
    tap weight a power of two — each product is exact float scaling, so the
    Spark and DuckDB values agree bit-for-bit before rounding.

    100 TB shape: partitions by user_id (high-cardinality key), sequential
    scan per key inside WindowExec — no global sort, no driver state. The
    8-tap depth is a constant, independent of history length, unlike the
    recursive formulation which would serialize each key's full timeline.
    """
    events = load_table(spark, "events", sf_dir)
    return (
        temporal.bounded_ewma(events, key="user_id", value="value")
        .select("user_id", "ewma")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("ewma"), 4).alias("avg_ewma"),
            F.round(F.max("ewma"), 4).alias("max_ewma"),
        )
        .orderBy("user_id")
    )


@register(
    "resample_hourly_interp",
    oracle="""
    WITH pts AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket,
               ROUND(AVG(value) * 10000, 0) AS vi
        FROM events WHERE user_id < 20
        GROUP BY 1, 2
    ),
    span AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM pts GROUP BY 1),
    grid AS (SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket FROM span),
    j AS (SELECT g.user_id, g.bucket, p.vi FROM grid g LEFT JOIN pts p USING (user_id, bucket)),
    k AS (
        SELECT user_id, bucket, vi,
               last_value(vi IGNORE NULLS) OVER wb AS pv,
               epoch(last_value(CASE WHEN vi IS NOT NULL THEN bucket END IGNORE NULLS) OVER wb) AS pb,
               first_value(vi IGNORE NULLS) OVER wf AS nv,
               epoch(first_value(CASE WHEN vi IS NOT NULL THEN bucket END IGNORE NULLS) OVER wf) AS nb
        FROM j
        WINDOW wb AS (PARTITION BY user_id ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY bucket
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bucket,
           (CASE WHEN vi IS NOT NULL THEN vi
                 ELSE ROUND((pv * (nb - epoch(bucket)) + nv * (epoch(bucket) - pb))
                            / (nb - pb), 0) END) / 10000.0
               AS value_interp,
           vi IS NULL AS is_gap
    FROM k
    ORDER BY user_id, bucket
    """,
)
def resample_hourly_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill, interpolation flavor: the hourly grid per
    user (users 0-19) with interior gaps filled by the line between the
    surrounding observed hourly averages — resample_hourly_ffill's twin for
    metrics that drift between samples rather than hold. One bucket
    aggregate, distributed sequence() grid, and two ignore-nulls window
    passes per key; anchors always exist because each key's grid spans its
    own observed range. Values ride an integer ten-thousandths grid with
    scale-0 rounds only (see resample_interp's portability note)."""
    events = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 20)
    return aggregates.resample_interp(events, unit="hour")


@register(
    "max_drawdown_per_user",
    oracle="""
    WITH c AS (
        SELECT user_id, ts, event_id,
               SUM(ROUND(value * 100, 0)) OVER w AS cum
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ),
    d AS (
        SELECT user_id, cum,
               MAX(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS peak
        FROM c
    )
    SELECT user_id,
           MAX(cum) / 100.0 AS peak_cum_value,
           MAX(peak - cum) / 100.0 AS max_drawdown
    FROM d GROUP BY user_id ORDER BY user_id
    """,
)
def max_drawdown_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's cumulative value series: the largest
    peak-to-trough drop, i.e. max over time of (running-peak − running-sum).
    The classic "needs a scan" financial metric, expressed entirely with
    keyed windows: one partition-by-user WindowExec pass computes the
    cumulative sum AND its running max (same sort order, shared window
    frame), then a hash aggregate takes the maxima — no recursion, no
    Python, parallel across users. Sums ride the integer-cents grid so
    cumulative order noise can't shift results between engines.

    (Here drawdown measures a streak of negative values; on a price-like
    series the same plan applies unchanged.)"""
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum(F.rint(F.col("value") * 100)).over(w)
    d = events.select("user_id", "ts", "event_id", cum.alias("cum")).withColumn(
        "peak", F.max("cum").over(w)
    )
    return (
        d.groupBy("user_id")
        .agg(
            (F.max("cum") / 100.0).alias("peak_cum_value"),
            (F.max(F.col("peak") - F.col("cum")) / 100.0).alias("max_drawdown"),
        )
        .orderBy("user_id")
    )


@register(
    "debounce_events",
    oracle="""
    WITH l AS (
        SELECT event_type, user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN prev_ts IS NULL
                          OR epoch(ts) - epoch(prev_ts) > 5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN prev_ts IS NOT NULL
                          AND epoch(ts) - epoch(prev_ts) <= 5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced
    FROM l GROUP BY event_type ORDER BY event_type
    """,
)
def debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce: within each (user, type) stream, an event
    arriving ≤5 s after the previous one is a bounce (double-click, retry,
    sensor chatter) and is dropped; the report counts kept vs debounced
    per type. Distinct from dedup (these are REAL distinct events arriving
    too fast) and from sessionization (the gap rule keeps the first of a
    burst rather than grouping it). One keyed WindowExec lag pass — the
    same shape runs streaming via the watermark-scoped dropDuplicates
    stage with a rounded-time key."""
    events = load_table(spark, "events", sf_dir)
    l = temporal.debounce(events).select("event_type", "keep")
    return (
        l.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("n_debounced"),
        )
        .orderBy("event_type")
    )


@register(
    "daily_activity_span",
    oracle="""
    WITH s AS (
        SELECT CAST(ts AS DATE) AS day, user_id,
               epoch(MAX(ts)) - epoch(MIN(ts)) AS span_s,
               COUNT(*) AS n_ev
        FROM events GROUP BY 1, 2
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_active_users,
           ROUND(AVG(span_s) / 60.0, 4) AS avg_active_minutes,
           ROUND(AVG(n_ev), 4) AS avg_events_per_user
    FROM s GROUP BY day ORDER BY day
    """,
)
def daily_activity_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily engagement profile: per active user-day, the first-to-last
    event span and event count, rolled up per day — the session-free
    activity feature (how long users stay engaged each day, how many touch
    the product). Two hash aggregates: the (day, user) grain is the only
    fact-sized shuffle (min/max/count all map-side combined); the day
    rollup is |days|-sized. Span arithmetic is exact integer seconds."""
    events = load_table(spark, "events", sf_dir)
    s = (
        events.groupBy(F.to_date("ts").alias("day"), "user_id")
        .agg(
            (F.max("ts").cast("double") - F.min("ts").cast("double")).alias("span_s"),
            F.count(F.lit(1)).alias("n_ev"),
        )
    )
    return (
        s.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active_users"),
            F.round(F.avg("span_s") / 60.0, 4).alias("avg_active_minutes"),
            F.round(F.avg("n_ev"), 4).alias("avg_events_per_user"),
        )
        .orderBy("day")
    )


@register(
    "first_touch_attribution",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id AS purchase_id, ts
        FROM events WHERE event_type = 'purchase'
    ),
    cand AS (
        SELECT p.purchase_id, e.event_type, e.ts, e.event_id,
               row_number() OVER (PARTITION BY p.purchase_id
                                  ORDER BY e.ts, e.event_id) AS rn
        FROM p JOIN events e
          ON e.user_id = p.user_id
         AND e.ts >= p.ts - INTERVAL 1 HOUR
         AND e.ts < p.ts
         AND e.event_type IN ('click', 'view')
    )
    SELECT event_type AS first_touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM cand WHERE rn = 1
    GROUP BY 1 ORDER BY 1
    """,
)
def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase is credited to the EARLIEST
    click/view in the preceding hour — the complement of the as-of join
    (asof_purchase_click credits the latest). The user-keyed equi-join
    with a time-band condition bounds fan-out to one user-hour of
    touchpoints per purchase; the per-purchase argmin is a keyed
    row_number window over that bounded candidate set. At 100 TB the same
    plan holds because both sides co-partition on user_id and the band
    keeps state linear in arrival rate."""
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    e = events.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", "event_type", "ts", "event_id"
    )
    cand = p.join(e, "user_id").filter(
        (F.col("ts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("ts") < F.col("pts"))
    )
    w = Window.partitionBy("purchase_id").orderBy("ts", "event_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("event_type").alias("first_touch_type"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("first_touch_type")
    )
