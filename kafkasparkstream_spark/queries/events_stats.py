"""Statistical / audit analytics over `events`: multi-dim
aggregates, sketches with exact verifiers, drift and data-quality
reports, deterministic sampling."""

from __future__ import annotations

from kafkasparkstream_spark import schemas
from kafkasparkstream_spark.operators import aggregates
from kafkasparkstream_spark.operators import sampling  # noqa: E402
from kafkasparkstream_spark.operators import temporal  # noqa: E402
from kafkasparkstream_spark.operators import windows as win_ops  # noqa: E402
from kafkasparkstream_spark.operators import windows as windows_ops  # noqa: E402
from kafkasparkstream_spark.tables import load_table
from kafkasparkstream_spark.util import current_scope
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from kafkasparkstream_spark.queries._shared import (  # noqa: E402
    _BUCKET_SQL,
    register,
)

@register(
    "rollup_event_counts",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt,
           ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) * 100.0
                 / COUNT(*), 0) / 10000.0 AS avg_value
    FROM events
    GROUP BY ROLLUP (event_type)
    ORDER BY event_type NULLS FIRST
    """,
)
def rollup_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP: per-type rows + grand total."""
    return win_ops.rollup_counts(load_table(spark, "events", sf_dir))


@register(
    "cube_type_user_bucket",
    oracle="""
    SELECT event_type, user_id % 4 AS user_bucket, COUNT(*) AS cnt,
           ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) * 100.0
                 / COUNT(*), 0) / 10000.0 AS avg_value
    FROM events
    GROUP BY CUBE (event_type, user_id % 4)
    ORDER BY event_type NULLS FIRST, user_bucket NULLS FIRST
    """,
)
def cube_type_user_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE over (event_type, user bucket)."""
    df = load_table(spark, "events", sf_dir).withColumn(
        "user_bucket", F.col("user_id") % 4
    )
    return win_ops.cube_counts(df, ("event_type", "user_bucket"))


@register(
    "grouping_sets_counts",
    oracle="""
    SELECT event_type, user_id % 10 AS user_bucket, COUNT(*) AS cnt,
           GROUPING(event_type) AS g_type, GROUPING(user_id % 10) AS g_bucket
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
    ORDER BY g_type, g_bucket, event_type, user_bucket
    """,
)
def grouping_sets_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the spark.sql entry point — the
    engine's raw-SQL surface (Catalyst parses the same ANSI text the oracle
    runs; the Expand operator evaluates all sets in one pass, map-side
    partial-aggregated, exactly like rollup/cube)."""
    load_table(spark, "events", sf_dir).createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT event_type, user_id % 10 AS user_bucket, COUNT(*) AS cnt,
               GROUPING(event_type) AS g_type, GROUPING(user_id % 10) AS g_bucket
        FROM events
        GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
        ORDER BY g_type, g_bucket, event_type, user_bucket
        """
    )


@register(
    "users_purchase_and_error",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    ORDER BY user_id
    """,
)
def users_purchase_and_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: users with both purchase and error events."""
    return win_ops.event_type_user_overlap(
        load_table(spark, "events", sf_dir), "purchase", "error"
    )


@register(
    "users_signup_not_purchase",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'signup'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    ORDER BY user_id
    """,
)
def users_signup_not_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set EXCEPT: signup users with zero purchase events."""
    return win_ops.event_type_user_except(
        load_table(spark, "events", sf_dir), "signup", "purchase"
    )


@register(
    "tagged_union_click_view",
    oracle="""
    SELECT event_id, user_id, 'a' AS branch FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT event_id, user_id, 'b' AS branch FROM events WHERE event_type = 'view'
    ORDER BY event_id, branch
    """,
)
def tagged_union_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL with provenance tag."""
    return win_ops.tagged_union(load_table(spark, "events", sf_dir), "click", "view")


@register(
    "distinct_user_count",
    oracle="SELECT COUNT(DISTINCT user_id) AS distinct_users FROM events",
)
def distinct_user_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT)."""
    return win_ops.distinct_user_count(load_table(spark, "events", sf_dir))


@register(
    "zscore_per_user",
    oracle="""
    WITH q AS (
        SELECT event_id, user_id, value, ROUND(value * 100, 0) AS vq
        FROM events
    ),
    w AS (
        SELECT event_id, user_id, value, vq,
               SUM(vq) OVER win AS s, COUNT(*) OVER win AS n,
               SUM(vq * vq) OVER win AS ss,
               MIN(vq) OVER win AS vmin, MAX(vq) OVER win AS vmax
        FROM q WINDOW win AS (PARTITION BY user_id)
    )
    SELECT event_id, user_id, value,
           CASE WHEN n > 1 AND vmin < vmax
                     AND (ss - s * s / n) / (n - 1) > 0
                THEN ROUND((vq - s / n)
                           / SQRT((ss - s * s / n) / (n - 1))
                           * 10000, 0) / 10000 + 0.0
           END AS zscore
    FROM w ORDER BY event_id
    """,
)
def zscore_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score in the window-function form (codegen, one shuffle —
    the right shape for many small keys; see zscore_per_type_grouped_map
    for the Python grouped-map twin on few large keys)."""
    events = load_table(spark, "events", sf_dir)
    return win_ops.zscore_per_key_window(events)


@register(
    "zscore_per_type_grouped_map",
    oracle="""
    WITH q AS (
        SELECT event_id, event_type, value, ROUND(value * 100, 0) AS vq
        FROM events
    ),
    w AS (
        SELECT event_id, event_type, value, vq,
               SUM(vq) OVER win AS s, COUNT(*) OVER win AS n,
               SUM(vq * vq) OVER win AS ss,
               MIN(vq) OVER win AS vmin, MAX(vq) OVER win AS vmax
        FROM q WINDOW win AS (PARTITION BY event_type)
    )
    SELECT event_id, event_type, value,
           CASE WHEN n > 1 AND vmin < vmax
                     AND (ss - s * s / n) / (n - 1) > 0
                THEN ROUND((vq - s / n)
                           / SQRT((ss - s * s / n) / (n - 1))
                           * 10000, 0) / 10000 + 0.0
           END AS zscore
    FROM w ORDER BY event_id
    """,
)
def zscore_per_type_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (vectorized numpy kernel per group, few
    large groups — the regime where grouped-map shines) cross-checked
    against pure window-function SQL."""
    events = load_table(spark, "events", sf_dir)
    return win_ops.zscore_per_key(events, key_col="event_type")


@register(
    "pivot_user_event_counts",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS n_click,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS n_view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS n_error
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def pivot_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into per-user count columns (explicit value list →
    single hash aggregate, no distinct-collection pre-job)."""
    events = load_table(spark, "events", sf_dir)
    return win_ops.pivot_counts(events)


@register(
    "unpivot_window_stats",
    oracle="""
    WITH w AS (
        SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
               ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) * 100.0
                     / COUNT(*), 0) / 10000.0 AS avg_value,
               MIN(value)           AS min_value,
               MAX(value)           AS max_value
        FROM events GROUP BY 1
    )
    SELECT window_start, metric, metric_value
    FROM w UNPIVOT (metric_value FOR metric IN (avg_value, min_value, max_value))
    ORDER BY window_start, metric
    """,
)
def unpivot_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the per-window multi-aggregate reshaped to long
    (window, metric, value) rows — pivot's inverse, the layout metric
    stores and plotting layers want. Spark's `unpivot` is a zero-shuffle
    Expand projection over the already-aggregated rows."""
    events = load_table(spark, "events", sf_dir)
    wide = (
        events.groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(
            F.sum(aggregates.value_units("value")).alias("_sc"),
            F.count(F.lit(1)).alias("_n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            aggregates.grid_avg(F.col("_sc"), F.col("_n")).alias("avg_value"),
            "min_value",
            "max_value",
        )
    )
    return wide.unpivot(
        ["window_start"],
        ["avg_value", "min_value", "max_value"],
        "metric",
        "metric_value",
    ).orderBy("window_start", "metric")


@register(
    "profile_events",
    oracle="""
    SELECT 'event_type' AS "column", COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           COUNT(DISTINCT event_type) AS n_distinct FROM events
    UNION ALL
    SELECT 'props', COUNT(*),
           CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT props) FROM events
    UNION ALL
    SELECT 'user_id', COUNT(*),
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT user_id) FROM events
    UNION ALL
    SELECT 'value', COUNT(*),
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT value) FROM events
    ORDER BY "column"
    """,
)
def profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile (rows / nulls / exact distinct) — the
    first query anyone runs on an unfamiliar 100 TB table."""
    events = load_table(spark, "events", sf_dir)
    return aggregates.profile_table(events, ("event_type", "props", "user_id", "value"))


@register(
    "approx_distinct_user_count",
    oracle="""
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct_users,
           TRUE AS within_3rsd
    FROM events
    """,
)
def approx_distinct_user_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approx distinct, HASH-GATED (round-7 close of the
    no_oracle row): the sketch estimate is engine-specific, so the hashed
    output is the exact distinct count PLUS the bounded verdict that the
    HLL++ estimate lies within 3·rsd (6% at rsd=0.02) of it — the sketch
    still executes, and a broken sketch flips the boolean and fails the
    gate. The exact side is one countDistinct the oracle recomputes; at
    100 TB the sketch IS the product and the exact twin is the verifier
    you run on a sample."""
    events = load_table(spark, "events", sf_dir)
    approx = win_ops.approx_distinct_user_count(events)  # 1-row sketch
    exact = events.agg(F.countDistinct("user_id").alias("exact_distinct_users"))
    return approx.crossJoin(exact).select(  # sanctioned 1-row x 1-row combine
        "exact_distinct_users",
        (
            F.abs(F.col("approx_distinct_users") - F.col("exact_distinct_users"))
            <= F.lit(0.06) * F.col("exact_distinct_users")
        ).alias("within_3rsd"),
    )


@register(
    "approx_value_percentiles",
    oracle="""
    WITH v AS (SELECT event_type,
                      CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
               FROM events),
    h AS (SELECT event_type, cents, COUNT(*) AS c FROM v GROUP BY 1, 2),
    n AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY 1),
    cum AS (SELECT event_type, cents,
                   SUM(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum
            FROM h)
    SELECT event_type,
           MIN(CASE WHEN cum >= CEIL(0.5 * n) THEN cents END) AS p50_cents,
           MIN(CASE WHEN cum >= CEIL(0.95 * n) THEN cents END) AS p95_cents,
           TRUE AS p50_in_band, TRUE AS p95_in_band
    FROM cum JOIN n USING (event_type)
    GROUP BY event_type ORDER BY event_type
    """,
)
def approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch approximate percentiles per group, HASH-GATED (round-7
    close of the no_oracle row): sketch internals are engine-specific, so
    the hashed output is the exact p50/p95 order statistics (ceil(q·n)
    rank on the integer-cents grid, computed as a value-histogram
    cumulative — the 100 TB-exact-percentile shape: the heavy aggregate is
    per (type, cents), the window runs over the ≤100k-row histogram) PLUS
    bounded verdicts that the percentile_approx estimates land inside the
    ±5%-rank band [p45, p55] / [p90, p99] — far wider than the sketch's
    1e-4 rank error, so the booleans certify the sketch without exposing
    its engine-specific values to the hash."""
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    v = events.select("event_type", aggregates.value_units("value").alias("cents"))
    h = v.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("c"))
    n = h.groupBy("event_type").agg(F.sum("c").alias("n"))
    w = Window.partitionBy("event_type").orderBy("cents")
    cum = h.withColumn("cum", F.sum("c").over(w)).join(F.broadcast(n), "event_type")

    def _ostat(q: float) -> Column:
        return F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("cents"))
        )

    exact = cum.groupBy("event_type").agg(
        _ostat(0.45).alias("p45_cents"),
        _ostat(0.5).alias("p50_cents"),
        _ostat(0.55).alias("p55_cents"),
        _ostat(0.90).alias("p90_cents"),
        _ostat(0.95).alias("p95_cents"),
        _ostat(0.99).alias("p99_cents"),
    )
    approx = events.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50_approx"),
        F.percentile_approx("value", 0.95, 10000).alias("p95_approx"),
    )
    return (
        exact.join(approx, "event_type")
        .select(
            "event_type",
            "p50_cents",
            "p95_cents",
            aggregates.value_units("p50_approx")
            .between(F.col("p45_cents"), F.col("p55_cents"))
            .alias("p50_in_band"),
            aggregates.value_units("p95_approx")
            .between(F.col("p90_cents"), F.col("p99_cents"))
            .alias("p95_in_band"),
        )
        .orderBy("event_type")
    )


@register(
    "json_roundtrip_agg",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def json_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7+F1 (generator.py:22 / processor.py:74): to_json → from_json
    round-trip, then aggregate — the serialized wire format must be
    lossless, so the rollup equals the direct aggregate exactly."""
    from kafkasparkstream_spark.sources.json_parse import parse_json_events
    from pyspark.sql.types import StructType as _St

    events = load_table(spark, "events", sf_dir)
    wire_schema = _St(
        [f for f in schemas.EVENT_SCHEMA.fields if f.name in ("event_type", "value")]
    )
    wire = events.select(
        F.to_json(F.struct("event_type", "value")).alias("value")
    )
    parsed = parse_json_events(wire, wire_schema, ts_col=None)
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(aggregates.value_units("value")).cast("double") / 100.0).alias(
                "sum_value"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "salted_value_stats_by_type",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_value,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def salted_value_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase (salted) aggregate — must equal the plain
    one-phase GROUP BY exactly (count/sum/min/max are decomposable)."""
    events = load_table(spark, "events", sf_dir)
    return aggregates.salted_group_agg(events, key_col="event_type")


@register(
    "value_distribution_stats",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4)  AS p50,
           ROUND(quantile_cont(value, 0.95), 4) AS p95,
           ROUND(stddev_samp(value), 4)         AS stddev_value,
           ROUND(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_value_aux
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def value_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + moments per group (Catalyst
    `percentile` ≡ DuckDB `quantile_cont`)."""
    events = load_table(spark, "events", sf_dir)
    return aggregates.distribution_stats(events)


@register(
    "value_histogram",
    oracle="""
    SELECT CAST(FLOOR(value / 10.0) AS INT) AS bucket,
           COUNT(*)             AS cnt,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value,
           ROUND(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) * 100.0
                 / COUNT(*), 0) / 10000.0 AS avg_value
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width_bucket shape): bucketize + count."""
    events = load_table(spark, "events", sf_dir)
    return aggregates.value_histogram(events)


@register(
    "ntile_decile_stats",
    oracle="""
    WITH t AS (
        SELECT value, NTILE(10) OVER (ORDER BY value, event_id) AS decile
        FROM events
    )
    SELECT decile, COUNT(*) AS cnt,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_value
    FROM t GROUP BY decile ORDER BY decile
    """,
)
def ntile_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(10) equal-frequency buckets rolled up to per-decile stats."""
    events = load_table(spark, "events", sf_dir)
    return win_ops.ntile_decile_stats(events)


@register(
    "dataset_split_stats",
    oracle=f"""
    WITH labeled AS (
        SELECT *, CASE WHEN {_BUCKET_SQL.format(salt='split0', id='event_id')} < 80 THEN 'train'
                       WHEN {_BUCKET_SQL.format(salt='split0', id='event_id')} < 90 THEN 'val'
                       ELSE 'test' END AS split
        FROM events
    )
    SELECT split, COUNT(*) AS cnt,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_value
    FROM labeled GROUP BY split ORDER BY split
    """,
)
def dataset_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split by id hash — stable under reprocessing,
    repartitioning, and appends; here rolled up to per-split stats."""
    events = load_table(spark, "events", sf_dir)
    labeled = sampling.dataset_split(events, "event_id")
    return (
        labeled.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(aggregates.value_units("value")).cast("double") / 100.0).alias(
                "sum_value"
            ),
        )
        .orderBy("split")
    )


@register(
    "stratified_sample_counts",
    oracle=f"""
    SELECT event_type, COUNT(*) AS cnt
    FROM events
    WHERE {_BUCKET_SQL.format(salt='s0', id='event_id')} <
          CASE event_type WHEN 'purchase' THEN 100 WHEN 'click' THEN 10
                          WHEN 'view' THEN 10 ELSE 0 END
    GROUP BY event_type ORDER BY event_type
    """,
)
def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling: keep all purchases, 10% of clicks/views,
    drop the rest — one pushable filter expression, zero shuffle."""
    events = load_table(spark, "events", sf_dir)
    sampled = sampling.stratified_hash_sample(
        events, "event_id", "event_type", {"purchase": 100, "click": 10, "view": 10}
    )
    return sampled.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).orderBy("event_type")


@register(
    "event_transition_matrix",
    oracle="""
    WITH s AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    p AS (
        SELECT from_type, to_type, COUNT(*) AS n_transitions
        FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           ROUND(n_transitions * 1.0
                 / SUM(n_transitions) OVER (PARTITION BY from_type), 4)
               AS transition_prob
    FROM p ORDER BY from_type, to_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical first-order Markov transition matrix of per-user event
    sequences (deterministic ts+id ordering; one keyed window shuffle)."""
    return temporal.event_transitions(load_table(spark, "events", sf_dir))


@register(
    "mad_outliers_per_type",
    oracle="""
    WITH med AS (
        SELECT event_type, ROUND(median(value), 6) AS med
        FROM events GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type, abs(e.value - m.med) AS absdev, m.med
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, ROUND(median(absdev), 6) AS mad
        FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(d.med) AS med,
           MIN(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.absdev > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           ROUND(SUM(CASE WHEN d.absdev > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS outlier_ratio
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1 ORDER BY 1
    """,
)
def mad_outliers_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier screen per event_type (6-dp snapped
    thresholds so both engines classify identically)."""
    return windows_ops.mad_outlier_stats(
        load_table(spark, "events", sf_dir), key_col="event_type"
    )


@register(
    "key_skew_report",
    oracle="""
    WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           ROUND(MAX(cnt) * 1.0 / SUM(cnt), 6) AS max_share,
           ROUND(SUM(CAST(cnt AS DOUBLE) * cnt) / (SUM(cnt) * 1.0 * SUM(cnt)), 6)
               AS hhi,
           ROUND(stddev_pop(cnt) / AVG(cnt), 4) AS cv,
           ROUND(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
           ROUND(quantile_cont(cnt, 0.99), 4) AS p99_cnt
    FROM c
    """,
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew diagnosis over events.user_id — cardinality, top
    share, HHI, CV, p50/p99 — two hash-aggs, no sort."""
    return windows_ops.key_skew_report(load_table(spark, "events", sf_dir))


@register(
    "incremental_distinct_sketch",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS merged_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def incremental_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental COUNT(DISTINCT) maintenance via mergeable Datasketches
    HLL, HASH-GATED (round-7 close of the no_oracle row): two batch
    partials are unioned exactly as before (the incremental-view
    machinery under test — merge-losslessness is additionally pinned by
    tests/test_semantics.py::test_hll_sketch_merge_equals_direct), and the
    hashed output is the exact per-type distinct + row counts PLUS the
    bounded verdict that the MERGED estimate lands within 5% (≈3σ at
    lg_k=12) of exact. A lossy merge or broken sketch flips the boolean
    and fails the gate."""
    from kafkasparkstream_spark.operators.aggregates import (
        distinct_sketch_partials,
        merge_distinct_sketches,
    )

    events = load_table(spark, "events", sf_dir)
    b1 = events.filter(F.col("event_id") % 2 == 0)
    b2 = events.filter(F.col("event_id") % 2 == 1)
    merged = merge_distinct_sketches(
        distinct_sketch_partials(b1), distinct_sketch_partials(b2)
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return (
        exact.join(merged.withColumnRenamed("n_rows", "_sk_rows"), "event_type")
        .select(
            "event_type",
            "exact_distinct",
            "n_rows",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= F.lit(0.05) * F.col("exact_distinct")
            ).alias("merged_within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "data_quality_audit",
    oracle="""
    WITH a AS (
        SELECT COUNT(*) AS total,
               SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS v_event_id_not_null,
               COUNT(event_id) - COUNT(DISTINCT event_id)        AS v_event_id_unique,
               SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)       AS v_ts_not_null,
               SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)  AS v_user_id_not_null,
               SUM(CASE WHEN NOT event_type IN
                   ('click','view','purchase','signup','error') THEN 1 ELSE 0 END)
                                                                 AS v_event_type_in_domain,
               SUM(CASE WHEN NOT (value BETWEEN 0.0 AND 1000.0) THEN 1 ELSE 0 END)
                                                                 AS v_value_in_range,
               SUM(CASE WHEN props IS NOT NULL AND json_valid(props) = false
                   THEN 1 ELSE 0 END)                            AS v_props_json_parseable
        FROM events
    ),
    u AS (
        SELECT 'event_id_not_null' AS check_name, v_event_id_not_null AS n_violations, total FROM a
        UNION ALL SELECT 'event_id_unique', v_event_id_unique, total FROM a
        UNION ALL SELECT 'ts_not_null', v_ts_not_null, total FROM a
        UNION ALL SELECT 'user_id_not_null', v_user_id_not_null, total FROM a
        UNION ALL SELECT 'event_type_in_domain', v_event_type_in_domain, total FROM a
        UNION ALL SELECT 'value_in_range', v_value_in_range, total FROM a
        UNION ALL SELECT 'props_json_parseable', v_props_json_parseable, total FROM a
    )
    SELECT check_name,
           CAST(total AS BIGINT) AS n_rows,
           CAST(n_violations AS BIGINT) AS n_violations,
           ROUND(n_violations * 1.0 / nullif(total, 0), 6) AS violation_ratio,
           n_violations = 0 AS passed
    FROM u ORDER BY check_name
    """,
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit of the events table in one scan: null/unique/domain/
    range/JSON-parseability checks as conditional aggregates, unpivoted to
    one row per check."""
    from kafkasparkstream_spark.operators import quality as q

    events = load_table(spark, "events", sf_dir)
    checks = [
        q.check_not_null("event_id"),
        q.check_not_null("ts"),
        q.check_not_null("user_id"),
        q.check_in_domain("event_type", ("click", "view", "purchase", "signup", "error")),
        q.check_range("value", 0.0, 1000.0),
        q.check_json_parseable("props", "a INT"),
    ]
    return q.audit(events, checks, unique_cols=("event_id",))


@register(
    "snapshot_diff_summary",
    oracle="""
    WITH old AS (
        SELECT event_id, event_type, value FROM events WHERE event_id % 11 <> 0
    ),
    new AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 13 = 0 THEN value + 1.0 ELSE value END AS value
        FROM events
    ),
    d AS (
        SELECT coalesce(o.event_id, n.event_id) AS event_id,
               CASE
                 WHEN o.event_id IS NULL THEN 'added'
                 WHEN n.event_id IS NULL THEN 'removed'
                 WHEN o.event_type IS DISTINCT FROM n.event_type
                      OR o.value IS DISTINCT FROM n.value THEN 'changed'
                 ELSE 'unchanged'
               END AS change_type
        FROM old o FULL OUTER JOIN new n USING (event_id)
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM d GROUP BY 1 ORDER BY 1
    """,
)
def snapshot_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff: yesterday's table (every 11th row missing) vs
    today's (every 13th row's value bumped) — added/removed/changed/
    unchanged counts off ONE keyed full-outer join."""
    from kafkasparkstream_spark.tables import snapshot_diff_summary as sds

    events = load_table(spark, "events", sf_dir)
    old = events.filter(F.col("event_id") % 11 != 0)
    new = events.withColumn(
        "value",
        F.when(F.col("event_id") % 13 == 0, F.col("value") + 1.0).otherwise(
            F.col("value")
        ),
    )
    return sds(old, new, ("event_id",), ("event_type", "value"))


@register(
    "psi_value_drift",
    oracle="""
    WITH old AS (SELECT value FROM events WHERE event_id % 2 = 0),
    new AS (SELECT CASE WHEN event_id % 5 = 0 THEN value * 1.2 ELSE value END AS value
            FROM events WHERE event_id % 2 = 1),
    ob AS (SELECT CAST(floor((least(greatest(value, 0.0), 1000.0 - 1e-9)) / 50.0) AS INT)
                      AS bucket, COUNT(*) AS n_old FROM old GROUP BY 1),
    nb AS (SELECT CAST(floor((least(greatest(value, 0.0), 1000.0 - 1e-9)) / 50.0) AS INT)
                      AS bucket, COUNT(*) AS n_new FROM new GROUP BY 1),
    j AS (SELECT coalesce(ob.bucket, nb.bucket) AS bucket,
                 coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
          FROM ob FULL OUTER JOIN nb ON ob.bucket = nb.bucket),
    t AS (SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new FROM j),
    s AS (SELECT bucket, n_old, n_new,
                 (n_old + 0.5) / (t_old + 0.5) AS p_old,
                 (n_new + 0.5) / (t_new + 0.5) AS p_new
          FROM j, t)
    SELECT bucket, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
           ROUND((p_new - p_old) * ln(p_new / p_old), 6) AS psi_term
    FROM s ORDER BY bucket
    """,
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift (PSI) report between two deterministic event
    slices (odd ids, 20%% of them value-inflated, vs even ids) — fixed-width
    buckets, smoothed log-ratio terms; Σ psi_term is the alarm value."""
    events = load_table(spark, "events", sf_dir)
    old = events.filter(F.col("event_id") % 2 == 0)
    new = events.filter(F.col("event_id") % 2 == 1).withColumn(
        "value",
        F.when(F.col("event_id") % 5 == 0, F.col("value") * 1.2).otherwise(
            F.col("value")
        ),
    )
    return aggregates.psi_drift(old, new)


def _zorder_oracle_sql(bits: int = 16) -> str:
    """Generate the DuckDB twin of tables.zvalue_col for (user_id, floor(value)):
    the same shift/and interleave, term by term."""
    terms = []
    for b in range(bits):
        terms.append(f"(((ux >> {b}) & 1) << {2 * b})")
        terms.append(f"(((vx >> {b}) & 1) << {2 * b + 1})")
    z = " + ".join(terms)
    return f"""
    WITH s AS (
        SELECT (user_id & 65535) AS ux,
               (CAST(FLOOR(value) AS BIGINT) & 65535) AS vx
        FROM events
    ),
    z AS (SELECT {z} AS zval FROM s)
    SELECT CAST(zval >> 24 AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(zval) AS BIGINT) AS z_min,
           CAST(MAX(zval) AS BIGINT) AS z_max
    FROM z GROUP BY z_bucket ORDER BY z_bucket
    """


@register("zorder_curve_stats", oracle=_zorder_oracle_sql())
def zorder_curve_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) curve audit: interleave (user_id, ⌊value⌋) into the
    64-bit curve key with pure shift/and column expressions
    (tables.zvalue_col — the layout key zorder_write sorts by), then roll up
    occupancy per top-8-bit curve bucket. Verifies the bit-interleave is
    exactly the closed form the oracle computes; the layout win it buys
    (per-file min/max tightness → row-group skipping) is pinned in
    tests/test_plans.py."""
    from kafkasparkstream_spark.tables import zvalue_col

    events = load_table(spark, "events", sf_dir)
    ux = F.col("user_id").bitwiseAND(F.lit(65535))
    vx = F.floor("value").cast("long").bitwiseAND(F.lit(65535))
    return (
        events.select(zvalue_col([ux, vx], bits=16).alias("zval"))
        .groupBy(F.shiftright("zval", 24).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("zval").alias("z_min"),
            F.max("zval").alias("z_max"),
        )
        .orderBy("z_bucket")
    )


@register(
    "deletion_cascade_report",
    oracle="""
    WITH t AS (SELECT DISTINCT user_id FROM events WHERE user_id % 29 = 0)
    SELECT e.event_type,
           CAST(SUM(CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
           CAST(SUM(CASE WHEN t.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(COUNT(DISTINCT CASE WHEN t.user_id IS NOT NULL THEN e.user_id END) AS BIGINT) AS n_keys_purged
    FROM events e LEFT JOIN t ON e.user_id = t.user_id
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def deletion_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten blast radius: per event_type, rows a tombstone
    set (here the deterministic user_id % 29 == 0 cohort) would purge vs
    keep — one broadcast-flagged scan (operators/governance.py)."""
    from kafkasparkstream_spark.operators import governance

    events = load_table(spark, "events", sf_dir)
    tombstones = events.select("user_id").distinct().filter(F.col("user_id") % 29 == 0)
    out = governance.purge_report(events, tombstones)
    return out.select(
        "event_type",
        F.col("n_purged").cast("long").alias("n_purged"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("n_keys_purged").cast("long").alias("n_keys_purged"),
    )


@register(
    "weighted_reservoir_sample",
    oracle="""
    WITH keyed AS (
        SELECT event_id, event_type, value,
               ROUND(LN((CAST(('0x' || substr(md5('wrs0' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
                        / 4294967297.0)
                     / (value + 1.0), 9) AS wkey
        FROM events
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY wkey DESC, event_id) AS rnk
        FROM keyed
    )
    SELECT event_id, event_type, value, wkey
    FROM ranked WHERE rnk <= 20
    ORDER BY event_type, event_id
    """,
)
def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement: 20 events
    per type, weight = value + 1, via one window rank over the md5-seeded
    exponential-race key (operators/sampling.py:weighted_reservoir_sample)."""
    events = load_table(spark, "events", sf_dir)
    out = sampling.weighted_reservoir_sample(
        events, "event_id", F.col("value") + F.lit(1.0), "event_type", k=20
    )
    return out.select("event_id", "event_type", "value", F.col("_wkey").alias("wkey")).orderBy(
        "event_type", "event_id"
    )


@register(
    "seasonal_residual_anomalies",
    oracle="""
    WITH base AS (
        SELECT event_type, EXTRACT(hour FROM ts) AS hod,
               AVG(value) AS base_avg
        FROM events GROUP BY 1, 2
    ),
    resid AS (
        SELECT e.event_id, e.event_type, e.ts, e.value,
               ROUND(e.value - b.base_avg, 4) AS residual
        FROM events e
        JOIN base b ON b.event_type = e.event_type
                   AND b.hod = EXTRACT(hour FROM e.ts)
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY ABS(residual) DESC, event_id) AS rnk
        FROM resid
    )
    SELECT event_id, event_type, ts, value, residual
    FROM ranked WHERE rnk <= 20
    ORDER BY event_id
    """,
)
def seasonal_residual_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly screen: the hour-of-day baseline per
    event_type (a 24×|types| aggregate — broadcast), residual = value −
    baseline, top-20 by |residual| as TakeOrdered. Two passes over the fact
    table but only one shuffle (the tiny baseline agg); the residual join
    is broadcast so the second scan never exchanges."""
    events = load_table(spark, "events", sf_dir)
    base = (
        events.groupBy(
            F.col("event_type").alias("_bt"), F.hour("ts").alias("_bh")
        ).agg(F.avg("value").alias("base_avg"))
    )
    resid = (
        events.join(
            F.broadcast(base),
            (F.col("event_type") == F.col("_bt")) & (F.hour("ts") == F.col("_bh")),
        )
        .select(
            "event_id",
            "event_type",
            "ts",
            "value",
            F.round(F.col("value") - F.col("base_avg"), 4).alias("residual"),
        )
    )
    return (
        resid.orderBy(F.abs("residual").desc(), F.asc("event_id"))
        .limit(20)
        .orderBy("event_id")
    )


@register(
    "countmin_user_frequencies",
    oracle="""
    WITH rows_ AS (SELECT unnest(range(0, 4)) AS r),
    h AS (
        SELECT e.user_id, r.r AS hrow,
               CAST(('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR) || '_' || CAST(e.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS bucket
        FROM events e CROSS JOIN rows_ r
    ),
    counters AS (SELECT hrow, bucket, COUNT(*) AS c FROM h GROUP BY 1, 2),
    truth AS (SELECT user_id, COUNT(*) AS true_cnt FROM events GROUP BY 1),
    probes AS (
        SELECT t.user_id, t.true_cnt, r.r AS hrow,
               CAST(('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR) || '_' || CAST(t.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS bucket
        FROM truth t CROSS JOIN rows_ r
    )
    SELECT p.user_id, CAST(p.true_cnt AS BIGINT) AS true_cnt,
           CAST(MIN(c.c) AS BIGINT) AS cms_est
    FROM probes p JOIN counters c ON c.hrow = p.hrow AND c.bucket = p.bucket
    GROUP BY p.user_id, p.true_cnt
    ORDER BY p.user_id
    """,
)
def countmin_user_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch per-user frequency estimates (depth 4 × width 64,
    md5 hash rows — engine-portable, so the oracle reproduces every counter;
    see operators/aggregates.py:countmin_estimates). cms_est >= true_cnt
    always; the few-KB counter table is the whole sketch state at any
    cardinality."""
    events = load_table(spark, "events", sf_dir)
    out = aggregates.countmin_estimates(events, "user_id")
    return out.select(
        "user_id",
        F.col("true_cnt").cast("long").alias("true_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
    ).orderBy("user_id")


@register(
    "props_variant_stats",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k,
           CAST(COUNT(props->>'$.k') AS BIGINT) AS n_with_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON via the VARIANT type (Spark 4): parse_json once
    into an open-schema variant column, extract typed paths with
    variant_get — no StructType declared up front, unlike the from_json
    twin (props_json_sum). This is the schema-on-read regime for payloads
    whose shape drifts: the binary variant encoding is columnar-friendly
    and path extraction stays JVM-side (no Python in the hot path)."""
    events = load_table(spark, "events", sf_dir)
    v = events.select("event_type", F.parse_json("props").alias("_v"))
    k = F.try_variant_get(F.col("_v"), "$.k", "bigint")
    return (
        v.select("event_type", k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.sum("_k").alias("sum_k"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
            F.count("_k").alias("n_with_k"),
        )
        .orderBy("event_type")
    )


@register(
    "ks_drift_by_type",
    oracle="""
    WITH labeled AS (
        SELECT event_type, value,
               CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS grp
        FROM events
    ),
    tot AS (
        SELECT event_type,
               SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n0,
               SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1
        FROM labeled GROUP BY 1
    ),
    cum AS (
        SELECT event_type, value,
               SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) OVER w AS c0,
               SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) OVER w AS c1
        FROM labeled
        WINDOW w AS (PARTITION BY event_type ORDER BY value
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT c.event_type,
           CAST(t.n0 AS BIGINT) AS n_even, CAST(t.n1 AS BIGINT) AS n_odd,
           ROUND(MAX(ABS(c.c0 * 1.0 / t.n0 - c.c1 * 1.0 / t.n1)), 4) AS ks_stat
    FROM cum c JOIN tot t USING (event_type)
    GROUP BY c.event_type, t.n0, t.n1
    ORDER BY c.event_type
    """,
)
def ks_drift_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift per event_type (even vs odd event ids as the
    deterministic split): max ECDF gap, computed on one key-partitioned
    exchange (operators/windows.py:ks_two_sample_drift)."""
    events = load_table(spark, "events", sf_dir)
    out = windows_ops.ks_two_sample_drift(events)
    return out.select(
        "event_type",
        F.col("n_even").cast("long").alias("n_even"),
        F.col("n_odd").cast("long").alias("n_odd"),
        "ks_stat",
    )


@register(
    "benford_first_digit",
    oracle="""
    WITH d AS (
        SELECT event_type,
               TRY_CAST(substr(regexp_replace(CAST(ABS(value) AS VARCHAR), '[0.]*', '', 'g'), 1, 1) AS INT) AS fd
        FROM events WHERE value IS NOT NULL AND value <> 0
    ),
    c AS (
        SELECT event_type, fd, COUNT(*) AS n
        FROM d WHERE fd IS NOT NULL AND fd > 0
        GROUP BY 1, 2
    )
    SELECT event_type, fd AS first_digit, CAST(n AS BIGINT) AS n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY event_type), 4) AS freq,
           ROUND(LOG10(1 + 1.0 / fd), 4) AS benford_freq,
           ROUND(ABS(n * 1.0 / SUM(n) OVER (PARTITION BY event_type)
                     - LOG10(1 + 1.0 / fd)), 4) AS abs_gap
    FROM c
    ORDER BY event_type, first_digit
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution per event_type vs the Benford
    law expectation — the forensic screen for fabricated/unit-mangled
    numerics (operators/quality.py:benford_first_digit; one scan, one
    hash aggregate)."""
    from kafkasparkstream_spark.operators import quality

    events = load_table(spark, "events", sf_dir)
    return quality.benford_first_digit(events).select(
        "event_type",
        "first_digit",
        F.col("n").cast("long").alias("n"),
        "freq",
        "benford_freq",
        "abs_gap",
    )


@register(
    "hourly_latency_bands",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(value, 0.5), 4)  AS p50,
           ROUND(quantile_cont(value, 0.95), 4) AS p95,
           ROUND(quantile_cont(value, 0.99), 4) AS p99
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def hourly_latency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO-style monitoring bands: exact interpolated P50/P95/P99 of value
    per hour bucket — the latency-percentile time series every ops dashboard
    plots. One hash aggregate keyed by the hour bucket; exact `percentile`
    buffers each bucket's values on its reducer (hours × values fit
    comfortably), with `approx_percentile` as the same-shape swap beyond
    that (see approx_value_percentiles for the sketch twin)."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
        .select(F.col("w.start").alias("hour_start"), "n", "p50", "p95", "p99")
        .orderBy("hour_start")
    )


@register(
    "id_continuity_report",
    oracle="""
    WITH ids AS (SELECT DISTINCT event_id FROM events),
    isl AS (
        SELECT event_id,
               event_id - row_number() OVER (ORDER BY event_id) AS grp
        FROM ids
    ),
    islands AS (
        SELECT MIN(event_id) AS island_start, MAX(event_id) AS island_end,
               COUNT(*) AS island_len
        FROM isl GROUP BY grp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(island_len) AS BIGINT) AS n_ids,
           CAST(MIN(island_start) AS BIGINT) AS min_id,
           CAST(MAX(island_end) AS BIGINT) AS max_id,
           CAST(MAX(island_end) - MIN(island_start) + 1 - SUM(island_len) AS BIGINT)
               AS n_missing
    FROM islands
    """,
)
def id_continuity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-continuity audit: contiguous-id islands via the classic
    id − row_number() trick, rolled up to island/gap counts — the ingest
    health check for "did we drop a batch" (a gap in an append-only id
    column is a missing delivery). One global-ordered window over the
    DISTINCT id set; at 100 TB, range-partition the ids first and count
    island breaks at partition boundaries instead."""
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    ids = events.select("event_id").distinct()
    isl = ids.withColumn(
        "grp", F.col("event_id") - F.row_number().over(Window.orderBy("event_id"))
    )
    islands = isl.groupBy("grp").agg(
        F.min("event_id").alias("island_start"),
        F.max("event_id").alias("island_end"),
        F.count(F.lit(1)).alias("island_len"),
    )
    return islands.agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("island_len").alias("n_ids"),
        F.min("island_start").alias("min_id"),
        F.max("island_end").alias("max_id"),
        (
            F.max("island_end") - F.min("island_start") + F.lit(1) - F.sum("island_len")
        ).alias("n_missing"),
    )


@register(
    "daily_dup_rate",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day, md5(props) AS dig
        FROM events
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT dig) AS BIGINT) AS n_distinct,
           ROUND(1.0 - COUNT(DISTINCT dig) * 1.0 / COUNT(*), 4) AS dup_rate
    FROM d GROUP BY day ORDER BY day
    """,
)
def daily_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication trend over ingest time: per-day exact-duplicate rate of
    the payload digest — the curation dashboard curve that catches a
    duplicating upstream producer the day it breaks. COUNT vs
    COUNT(DISTINCT md5) in one day-keyed aggregate; at scale the distinct
    side is the only state and it partitions by day."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.select(F.to_date("ts").alias("day"), F.md5(F.col("props").cast("binary")).alias("dig"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("dig").alias("n_distinct"),
            F.round(1.0 - F.countDistinct("dig") / F.count(F.lit(1)), 4).alias("dup_rate"),
        )
        .orderBy("day")
    )


@register(
    "value_trend_by_type",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(regr_slope(value, epoch(ts)) * 86400, 6) AS slope_per_day,
           ROUND(regr_r2(value, epoch(ts)), 6) AS r2
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend: value regressed on event time, reported as
    slope-per-day + fit quality — the drift/trend detector for metric
    monitoring. regr_slope/regr_r2 are decomposable aggregates (sums of
    products), so this is one map-side-combined hash agg."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.expr("regr_slope(value, CAST(ts AS DOUBLE))") * 86400, 6
            ).alias("slope_per_day"),
            F.round(F.expr("regr_r2(value, CAST(ts AS DOUBLE))"), 6).alias("r2"),
        )
        .orderBy("event_type")
    )


@register(
    "value_decile_uniformity",
    oracle="""
    WITH r AS (
        SELECT event_type,
               cume_dist() OVER (PARTITION BY event_type ORDER BY value, event_id) AS cd
        FROM events
    )
    SELECT event_type,
           CAST(LEAST(FLOOR(cd * 10), 9) AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM r
    GROUP BY 1, 2
    ORDER BY event_type, decile
    """,
)
def value_decile_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalization check via cume_dist: mapping each value to its
    within-group cumulative rank must land ~uniform decile occupancy (the
    flatness IS the property quantile normalization promises). Ties broken
    by event_id so both engines rank identically; one window shuffle per
    group key."""
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        events.withColumn("cd", F.cume_dist().over(w))
        .select(
            "event_type",
            F.least(F.floor(F.col("cd") * 10), F.lit(9)).cast("int").alias("decile"),
        )
        .groupBy("event_type", "decile")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "decile")
    )


@register(
    "daily_type_share",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day, event_type FROM events
    )
    SELECT day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY day), 4) AS share
    FROM d GROUP BY day, event_type
    ORDER BY day, event_type
    """,
)
def daily_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition drift over ingest time: each day's event-type mix as
    within-day shares — the upstream-change detector (a producer that stops
    sending a type shifts the shares before any count alarm fires). One
    (day, type) hash aggregate; the share denominator rides a day-keyed
    window over the aggregate's own (tiny) output."""
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    agg = (
        events.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("day")
    return (
        agg.withColumn("share", F.round(F.col("n") / F.sum("n").over(w), 4))
        .orderBy("day", "event_type")
    )


@register(
    "jackknife_mean_se",
    oracle="""
    WITH pf AS (
        SELECT event_type, event_id % 16 AS fold,
               SUM(value) AS sf, COUNT(*) AS nf
        FROM events GROUP BY 1, 2
    ),
    t AS (
        SELECT event_type, SUM(sf) AS s, SUM(nf) AS n, COUNT(*) AS nfolds
        FROM pf GROUP BY 1
    ),
    j AS (
        SELECT pf.event_type, t.s, t.n, t.nfolds,
               CASE WHEN t.n > pf.nf
                    THEN (t.s - pf.sf) / (t.n - pf.nf) END AS loo
        FROM pf JOIN t USING (event_type)
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           ROUND(MAX(s) / MAX(n), 4) AS mean_value,
           ROUND(SQRT((MAX(nfolds) - 1) * var_pop(loo)), 6) AS jackknife_se
    FROM j GROUP BY event_type ORDER BY event_type
    """,
)
def jackknife_mean_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-fold jackknife standard error of the per-type mean: the
    distributed answer to "what error bar goes on this aggregate?" without
    resampling the data. 16 deterministic folds (event_id mod 16) give 16
    leave-one-fold-out means; their population variance scaled by (F-1)
    estimates the variance of the full mean (Efron & Stein 1981 — public
    statistics, not engine-specific).

    100 TB shape: ONE fact-sized shuffle — the (type, fold) partial
    aggregate, map-side combined to |types|x16 rows. Everything after
    (totals, leave-one-out means, variance across folds) runs on that tiny
    aggregate; the rejoin broadcasts a |types|-row table. Contrast with
    bootstrap-by-replication, which multiplies the fact scan by B.
    """
    events = load_table(spark, "events", sf_dir)
    pf = (
        events.select(
            "event_type", (F.col("event_id") % 16).alias("fold"), "value"
        )
        .groupBy("event_type", "fold")
        .agg(F.sum("value").alias("sf"), F.count(F.lit(1)).alias("nf"))
        # |types|x16 rows feeding two consumers (totals + rejoin): pin it
        # so the fact scan runs once
        .transform(current_scope().checkpoint)
    )
    tot = pf.groupBy("event_type").agg(
        F.sum("sf").alias("s"), F.sum("nf").alias("n"), F.count(F.lit(1)).alias("nfolds")
    )
    # Guarded: a type whose rows all land in one fold has n == nf for that
    # fold; both engines must yield NULL there, not an engine-specific
    # divide-by-zero artifact (Spark NULL vs DuckDB inf).
    j = pf.join(F.broadcast(tot), "event_type").withColumn(
        "loo",
        F.when(
            F.col("n") > F.col("nf"),
            (F.col("s") - F.col("sf")) / (F.col("n") - F.col("nf")),
        ),
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.round(F.max("s") / F.max("n"), 4).alias("mean_value"),
            F.round(
                F.sqrt((F.max("nfolds") - F.lit(1)) * F.var_pop("loo")), 6
            ).alias("jackknife_se"),
        )
        .orderBy("event_type")
    )


@register(
    "join_size_estimate",
    oracle="""
    WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1)
    SELECT CAST(SUM(CASE WHEN user_id % 64 = 0 THEN n * n ELSE 0 END) * 64
                AS BIGINT) AS est_pairs,
           CAST(SUM(n * n) AS BIGINT) AS exact_pairs,
           ROUND(ABS(SUM(CASE WHEN user_id % 64 = 0 THEN n * n ELSE 0 END) * 64.0
                     - SUM(n * n)) / SUM(n * n), 6) AS rel_err
    FROM c
    """,
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join cardinality estimator: predicts the output size of a
    self-equi-join (events ⋈ events on user_id = Σ per-key count²) from a
    1/64 key-universe sample, next to the exact figure and the relative
    error. At 100 TB you run the estimator BEFORE the join — it prices the
    shuffle and flags quadratic blowup on skewed keys while touching only
    the sampled keys' partial counts (the full-key groupBy here exists only
    to report the exact baseline; production runs the sampled branch alone
    with a pushed-down key predicate). Key-universe sampling (all rows of a
    sampled key, not row sampling) is what makes Σ n² unbiased under
    scaling — row sampling would bias pair counts down by the square of the
    rate. Deterministic mod keeps the oracle in lockstep; production swaps
    in a salted hash for arbitrary key types. One map-side-combined hash
    aggregate; 1-row output, no join anywhere."""
    events = load_table(spark, "events", sf_dir)
    c = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    n2 = F.col("n") * F.col("n")
    sampled = F.sum(F.when(F.col("user_id") % 64 == 0, n2).otherwise(F.lit(0)))
    exact = F.sum(n2)
    return c.agg(
        (sampled * 64).cast("long").alias("est_pairs"),
        exact.cast("long").alias("exact_pairs"),
        F.round(F.abs(sampled * 64.0 - exact) / exact, 6).alias("rel_err"),
    )


@register(
    "rollup_cascade_daily",
    oracle="""
    SELECT date_trunc('day', ts) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(ROUND(value * 100, 0)) / 100.0 AS sum_value,
           ROUND(SUM(ROUND(value * 100, 0)) * 100 / COUNT(*), 0) / 10000.0
               AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def rollup_cascade_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup cascade (the hypertable continuous-
    aggregate pattern): minute partials re-aggregate to hours, hours to
    days, and the day tier must equal a direct day aggregate off the raw
    stream — which is exactly what the oracle computes. The cascade only
    works because every kept statistic is decomposable (sum/count/min/max
    merge associatively; avg is DERIVED from sum/count at read time, never
    stored — storing avg would make tiers unmergeable).

    Sums ride an integer cents grid: the 2dp values become exact integers
    (ROUND(value*100, 0) of the identical stored double on any engine), so
    re-aggregation order cannot shift a single bit between the cascade and
    the direct aggregate — float sums would differ at 1e-10 and flip 4dp
    rounding at boundaries. avg derives from the exact sums with one
    scale-0 round (see resample_interp's portability note).

    100 TB shape: the only fact-sized shuffle builds the minute tier; each
    further tier aggregates the previous (much smaller) tier. In
    production each tier is a materialized sink maintained incrementally
    (incremental_rollup_merge is the merge step); a day query then scans
    |days|x|types| rows instead of the raw stream."""
    events = load_table(spark, "events", sf_dir)
    cents = F.rint(F.col("value") * 100)
    minute = (
        events.groupBy(
            F.date_trunc("minute", "ts").alias("m"), "event_type"
        ).agg(
            F.sum(cents).alias("sv"),
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    )
    hour = (
        minute.groupBy(F.date_trunc("hour", "m").alias("h"), "event_type")
        .agg(
            F.sum("sv").alias("sv"),
            F.sum("n").alias("n"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    return (
        hour.groupBy(F.to_date("h").alias("day"), "event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            (F.sum("sv") / 100.0).alias("sum_value"),
            (F.round(F.sum("sv") * 100 / F.sum("n"), 0) / 10000.0).alias("avg_value"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
        .orderBy("day", "event_type")
    )


@register(
    "trimmed_mean_by_type",
    oracle="""
    WITH u AS (
        SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS vq FROM events
    ),
    h AS (SELECT event_type, vq, COUNT(*) AS c FROM u GROUP BY 1, 2),
    hh AS (
        SELECT event_type, vq, c,
               SUM(c) OVER (PARTITION BY event_type ORDER BY vq
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER (PARTITION BY event_type) AS n
        FROM h
    ),
    cuts AS (
        SELECT event_type,
               MIN(CASE WHEN cum >= (n * 5 + 99) // 100 THEN vq END)  AS lo_q,
               MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN vq END) AS hi_q
        FROM hh GROUP BY event_type
    )
    SELECT u.event_type,
           CAST(SUM(CASE WHEN vq BETWEEN lo_q AND hi_q THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           ROUND(SUM(vq) * 100.0 / COUNT(*), 0) / 10000.0 AS raw_mean,
           ROUND(SUM(CASE WHEN vq BETWEEN lo_q AND hi_q THEN vq END) * 100.0
                 / SUM(CASE WHEN vq BETWEEN lo_q AND hi_q THEN 1 ELSE 0 END), 0)
               / 10000.0 AS trimmed_mean
    FROM u JOIN cuts USING (event_type)
    GROUP BY u.event_type ORDER BY u.event_type
    """,
)
def trimmed_mean_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean per event type next to the raw mean — the robust
    location estimate that survives the fat tails MAD flags
    (mad_outliers_per_type is the detection view; this is the corrected
    statistic).

    Cut points are DISCRETE order statistics on the exact cents grid (the
    smallest value whose cumulative count reaches ⌈p·n⌉ — type-1 quantile),
    not interpolated percentiles: interpolation arithmetic disagrees across
    engines in the last ulp, and with heavy ties at the boundary (the sf1.0
    replica corpus) an ulp decides whether 50 tied rows are in or out.
    Integer ranks cannot disagree.

    Scale shape: the cut computation runs on a per-(type, cents) HISTOGRAM
    — ≤ |types|·|distinct cents| rows, map-side combined — with a window
    scan over that tiny table, never a fact-sized sort; the fact table is
    then re-aggregated once against the broadcast cuts."""
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    vq = aggregates.value_units("value")
    h = (
        events.select("event_type", vq.alias("vq"))
        .groupBy("event_type", "vq")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wt = Window.partitionBy("event_type")
    hh = h.withColumn(
        "cum", F.sum("c").over(wt.orderBy("vq").rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("n", F.sum("c").over(wt))
    k_lo = F.expr("(n * 5 + 99) DIV 100")
    k_hi = F.expr("(n * 95 + 99) DIV 100")
    cuts = hh.groupBy("event_type").agg(
        F.min(F.when(F.col("cum") >= k_lo, F.col("vq"))).alias("lo_q"),
        F.min(F.when(F.col("cum") >= k_hi, F.col("vq"))).alias("hi_q"),
    )
    kept = F.col("vq").between(F.col("lo_q"), F.col("hi_q"))
    return (
        events.select("event_type", vq.alias("vq"))
        .join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(kept.cast("long")).alias("n_kept"),
            aggregates.grid_avg(F.sum("vq"), F.count(F.lit(1))).alias("raw_mean"),
            aggregates.grid_avg(
                F.sum(F.when(kept, F.col("vq"))), F.sum(kept.cast("long"))
            ).alias("trimmed_mean"),
        )
        .orderBy("event_type")
    )


@register(
    "value_autocorr_lag1",
    oracle="""
    WITH l AS (
        SELECT event_type, value,
               LAG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id)
                   AS lv
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(lv) AS BIGINT) AS n_pairs,
           ROUND(corr(value, lv), 6) AS autocorr_lag1
    FROM l GROUP BY event_type ORDER BY event_type
    """,
)
def value_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the value series per event type — the
    is-this-noise-or-a-process test (≈0 for i.i.d. readings; persistent
    positive values mean smoothing/windowed models will help, and that
    block bootstrap, not row bootstrap, is the right error bar). One keyed
    WindowExec pass for the lag, then corr — a decomposable aggregate —
    map-side combined to |types| rows. Both engines skip the per-key first
    row (null lag) by SQL corr semantics."""
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    l = events.select(
        "event_type", "value", F.lag("value").over(w).alias("lv")
    )
    return (
        l.groupBy("event_type")
        .agg(
            F.count("lv").alias("n_pairs"),
            F.round(F.corr("value", "lv"), 6).alias("autocorr_lag1"),
        )
        .orderBy("event_type")
    )


@register(
    "weekday_effect_by_type",
    oracle="""
    WITH g AS (
        SELECT event_type, dayofweek(ts) AS dow,
               COUNT(*) AS n, SUM(value) AS s, SUM(value * value) AS ss
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(SUM(n) AS BIGINT) AS n,
           ROUND((SUM(s * s / n) - SUM(s) * SUM(s) / SUM(n))
                 / (SUM(ss) - SUM(s) * SUM(s) / SUM(n)), 6) AS eta_sq
    FROM g GROUP BY event_type ORDER BY event_type
    """,
)
def weekday_effect_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality strength per event type as ANOVA eta²:
    between-weekday sum of squares over total sum of squares — ~0 when the
    weekday means are indistinguishable, →1 when the weekday alone predicts
    the value. Computed entirely from decomposable sums: ONE
    (type, weekday) partial aggregate (map-side combined, ≤7 rows per
    type), then pure arithmetic on that tiny table — the textbook
    two-level aggregation that replaces a per-group variance pass at
    100 TB."""
    events = load_table(spark, "events", sf_dir)
    g = (
        events.select(
            "event_type", F.dayofweek("ts").alias("dow"), "value"
        )
        .groupBy("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.sum(F.col("value") * F.col("value")).alias("ss"),
        )
    )
    ssb = F.sum(F.col("s") * F.col("s") / F.col("n")) - F.sum("s") * F.sum("s") / F.sum("n")
    sst = F.sum("ss") - F.sum("s") * F.sum("s") / F.sum("n")
    return (
        g.groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.round(ssb / sst, 6).alias("eta_sq"),
        )
        .orderBy("event_type")
    )


@register(
    "cusum_changepoint_by_type",
    oracle="""
    WITH base AS (
        SELECT event_type, ts, event_id,
               ROUND(value * 100, 0) AS vc
        FROM events
    ),
    tot AS (
        SELECT event_type, SUM(vc) AS s, COUNT(*) AS n
        FROM base GROUP BY event_type
    ),
    c AS (
        SELECT b.event_type, b.ts,
               SUM(b.vc) OVER w
                 - (ROW_NUMBER() OVER w) * (t.s / t.n) AS dev
        FROM base b JOIN tot t USING (event_type)
        WINDOW w AS (PARTITION BY b.event_type ORDER BY b.ts, b.event_id
                     ROWS UNBOUNDED PRECEDING)
    ),
    r AS (
        SELECT event_type, ts, ABS(dev) AS cusum,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ABS(dev) DESC, ts) AS rn
        FROM c
    )
    SELECT event_type,
           ROUND(cusum / 100.0, 4) AS max_cusum,
           ts AS changepoint_ts
    FROM r WHERE rn = 1 ORDER BY event_type
    """,
)
def cusum_changepoint_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type: the running sum of
    deviations from the series mean peaks (in absolute value) exactly
    where the level shifts — the classic Page/CUSUM statistic, with the
    argmax timestamp as the estimated change point. Values ride the
    integer-cents grid; the only non-integer term, row_number × mean, is
    the same IEEE product on both engines, so the argmax cannot flip.

    Shape: one tiny per-type totals aggregate broadcast back, then a
    single keyed WindowExec pass computes the cumulative deviation AND its
    per-type argmax rank (two window specs, same partition+sort — one
    shuffle, one sort). Per-type sequential work parallel across types;
    the documented mitigation for a mega-type is the two-phase prefix-sum
    split used by peak_concurrency."""
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    base = events.select(
        "event_type", "ts", "event_id", F.rint(F.col("value") * 100).alias("vc")
    )
    tot = base.groupBy("event_type").agg(
        F.sum("vc").alias("s"), F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = (
        base.join(F.broadcast(tot), "event_type")
        .withColumn(
            "dev",
            F.sum("vc").over(w)
            - F.row_number().over(Window.partitionBy("event_type").orderBy("ts", "event_id"))
            * (F.col("s") / F.col("n")),
        )
    )
    r = c.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.abs("dev").desc(), "ts")
        ),
    )
    return (
        r.filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.round(F.abs("dev") / 100.0, 4).alias("max_cusum"),
            F.col("ts").alias("changepoint_ts"),
        )
        .orderBy("event_type")
    )


@register(
    "daily_new_vs_returning",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    f AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id)
    SELECT ud.day,
           CAST(SUM(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
           CAST(SUM(CASE WHEN ud.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT)
               AS n_returning
    FROM ud JOIN f USING (user_id)
    GROUP BY ud.day ORDER BY ud.day
    """,
)
def daily_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth chart: daily active users split into first-ever-seen
    (new) vs returning — the first split any activation dashboard draws.
    Distinct (day, user) grain is the one fact-sized shuffle; first-seen
    days re-aggregate from that same grain (user-keyed, map-side
    combined) and join back co-partitioned on user_id. No window over the
    full history, so the plan is two hash aggs + one equi-join at any
    scale."""
    events = load_table(spark, "events", sf_dir)
    ud = events.select(F.to_date("ts").alias("day"), "user_id").distinct()
    f = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        ud.join(f, "user_id")
        .groupBy("day")
        .agg(
            F.sum((F.col("day") == F.col("first_day")).cast("long")).alias("n_new"),
            F.sum((F.col("day") > F.col("first_day")).cast("long")).alias(
                "n_returning"
            ),
        )
        .orderBy("day")
    )


@register(
    "dow_hour_heatmap",
    oracle="""
    SELECT dayofweek(ts) AS dow, hour(ts) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS share
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The traffic heatmap: event counts per (weekday, hour) cell with
    corpus share — the capacity-planning view (when to schedule
    compaction, when spikes land). One hash aggregate to ≤168 cells; the
    share denominator is a window over that fixed-size output. Weekday
    numbering differs across engines (Spark Sun=1, DuckDB Sun=0) so the
    Spark side emits dayofweek-1 to match the oracle's labels."""
    events = load_table(spark, "events", sf_dir)
    g = (
        events.select(
            (F.dayofweek("ts") - 1).alias("dow"), F.hour("ts").alias("hr")
        )
        .groupBy("dow", "hr")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql.window import Window

    return (
        g.select(
            "dow",
            "hr",
            "n",
            F.round(F.col("n") / F.sum("n").over(Window.partitionBy()), 6).alias(
                "share"
            ),
        )
        .orderBy("dow", "hr")
    )
