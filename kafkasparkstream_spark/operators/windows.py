"""Analytic (OVER) window functions, set operations, multi-dim aggregates.

The reference has none of these (SURVEY.md §2.5/§2.7 — its "latest N" is
ORDER BY + LIMIT), but they're part of the engine surface Spark provides;
exposing them as named operators completes the serving-query vocabulary.

Scale notes: a window partitioned by a high-cardinality key (user_id) shuffles
once on that key — same exchange a groupBy would need; rank-filter top-k per
key keeps k rows per key. ROLLUP/CUBE expand to grouping sets *before* the
exchange (Spark's Expand operator), so cost is (#grouping sets × input), all
map-side partial-aggregated.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafkasparkstream_spark.util import current_scope


def latest_per_key(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """row_number() = 1 per key ordered by time desc — the analytic-function
    form of "latest reading per device"."""
    w = Window.partitionBy(key).orderBy(F.desc(ts_col), F.desc(tiebreak))
    return (
        df.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .drop("rnk")
        .orderBy(key)
    )


def topk_per_key(
    df: DataFrame,
    key: str = "user_id",
    order_col: str = "value",
    k: int = 3,
    tiebreak: str = "event_id",
) -> DataFrame:
    """Top-k rows per key by a measure (rank-filter pattern)."""
    w = Window.partitionBy(key).orderBy(F.desc(order_col), F.asc(tiebreak))
    return (
        df.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .withColumn("rnk", F.col("rnk").cast("int"))
        .orderBy(key, "rnk")
    )


def running_stats_per_key(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Cumulative sum/count + lag per key in event-time order."""
    w = Window.partitionBy(key).orderBy(F.asc(ts_col), F.asc(tiebreak))
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.select(
        key,
        tiebreak,
        ts_col,
        F.round(F.sum(value_col).over(cum), 4).alias("running_sum"),
        F.count(F.lit(1)).over(cum).alias("running_count"),
        F.round(F.lag(value_col, 1).over(w), 4).alias("prev_value"),
    ).orderBy(key, tiebreak)


def rollup_counts(
    df: DataFrame, dims: tuple[str, ...] = ("event_type",), value_col: str = "value"
) -> DataFrame:
    """GROUP BY ROLLUP(dims): per-dim rows plus grand total (null dims)."""
    from kafkasparkstream_spark.operators.aggregates import grid_avg, value_units

    return (
        df.rollup(*dims)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(value_units(value_col)).alias("_sc"),
        )
        .select(*dims, "cnt", grid_avg(F.col("_sc"), F.col("cnt")).alias("avg_value"))
        .orderBy(*[F.asc_nulls_first(d) for d in dims])
    )


def cube_counts(df: DataFrame, dims: tuple[str, ...], value_col: str = "value") -> DataFrame:
    """GROUP BY CUBE(dims): all 2^|dims| grouping sets."""
    from kafkasparkstream_spark.operators.aggregates import grid_avg, value_units

    return (
        df.cube(*dims)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(value_units(value_col)).alias("_sc"),
        )
        .select(*dims, "cnt", grid_avg(F.col("_sc"), F.col("cnt")).alias("avg_value"))
        .orderBy(*[F.asc_nulls_first(d) for d in dims])
    )


def event_type_user_overlap(df: DataFrame, type_a: str, type_b: str) -> DataFrame:
    """Set operations: users with both event types (INTERSECT)."""
    ua = df.filter(F.col("event_type") == type_a).select("user_id")
    ub = df.filter(F.col("event_type") == type_b).select("user_id")
    return ua.intersect(ub).orderBy("user_id")


def event_type_user_except(df: DataFrame, type_a: str, type_b: str) -> DataFrame:
    """Users with type_a events but NO type_b events (set EXCEPT).

    ``subtract`` is Spark's set-semantics EXCEPT (left-anti on distinct
    rows): a user with even one type_b event is excluded regardless of how
    many type_a events they have. (The earlier exceptAll+distinct form was a
    multiset subtraction — a user with more type_a than type_b events
    survived it, contradicting this docstring.)"""
    ua = df.filter(F.col("event_type") == type_a).select("user_id")
    ub = df.filter(F.col("event_type") == type_b).select("user_id")
    return ua.subtract(ub).orderBy("user_id")


def tagged_union(df: DataFrame, type_a: str, type_b: str) -> DataFrame:
    """UNION ALL of two filtered branches with a provenance tag."""
    ua = df.filter(F.col("event_type") == type_a).select(
        "event_id", "user_id", F.lit("a").alias("branch")
    )
    ub = df.filter(F.col("event_type") == type_b).select(
        "event_id", "user_id", F.lit("b").alias("branch")
    )
    return ua.unionAll(ub).orderBy("event_id", "branch")


def distinct_user_count(df: DataFrame) -> DataFrame:
    """Exact COUNT(DISTINCT) — the oracle-checkable twin of the approximate
    version below."""
    return df.agg(F.countDistinct("user_id").alias("distinct_users"))


def approx_distinct_user_count(df: DataFrame, rsd: float = 0.02) -> DataFrame:
    """HyperLogLog++ approximate distinct count — the 100 TB path (no exact
    distinct shuffle; sketches merge associatively). Engine-specific sketch →
    no SQL oracle; driver does the rows-only check."""
    return df.agg(F.approx_count_distinct("user_id", rsd=rsd).alias("approx_distinct_users"))


def sliding_window_agg(
    df: DataFrame,
    ts_col: str = "ts",
    duration: str = "2 minutes",
    slide: str = "1 minute",
    dims: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Overlapping (sliding) time windows: each event lands in
    duration/slide windows. Same partial-aggregation shape as the tumbling
    variant — the explode to multiple windows happens before the map-side
    combine, so the exchange still carries one row per (partition, window,
    dims)."""
    from kafkasparkstream_spark.operators.aggregates import grid_avg, value_units

    return (
        df.groupBy(F.window(F.col(ts_col), duration, slide), *dims)
        .agg(
            F.sum(value_units(value_col)).alias("_sum_cents"),
            F.count(F.lit(1)).alias("reading_count"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *dims,
            grid_avg(F.col("_sum_cents"), F.col("reading_count")).alias("avg_value"),
            "reading_count",
        )
    )


def session_window_agg(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    value_col: str = "value",
) -> DataFrame:
    """Spark's native session windows (dynamic-length, gap-merged): each
    event claims [ts, ts+gap); overlapping ranges merge into one session
    whose window is [first_ts, last_ts+gap). Usable identically in batch
    and streaming (where it is state-store-backed with watermark-driven
    close)."""
    from kafkasparkstream_spark.operators.aggregates import value_units

    return (
        df.groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_units(value_col)).alias("_sc"),
        )
        .select(
            F.col(key_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            (F.col("_sc").cast("double") / 100.0).alias("sum_value"),
        )
        .orderBy(key_col, "session_start")
    )


def zscore_per_key_window(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key z-score via window functions — the preferred shape for
    SQL-expressible per-key math: stays in whole-stage codegen, one shuffle
    on the key, no Python hop. ~6× faster than the grouped-map form when
    keys are numerous and small (measured at sf0.1 / 1500 keys).

    Portability grid: values are quantized to an integer cents grid and
    mean/variance are derived from exact integer sums (SUM of
    integer-valued doubles is order-independent below 2^53), so every
    engine computes the same IEEE doubles and the final scale-0 round
    agrees bit-for-bit at every scale factor — fractional-scale ROUND over
    engine-accumulated floats flipped rows at 10× data. Degenerate keys
    (single row, constant values) yield NULL z-scores.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col)
    vq = F.rint(F.col(value_col) * 100)
    s = F.sum(vq).over(w)
    n = F.count(F.lit(1)).over(w)
    ss = F.sum(vq * vq).over(w)
    spread = F.min(vq).over(w) < F.max(vq).over(w)
    var = (ss - s * s / n) / (n - 1)
    z = (vq - s / n) / F.sqrt(var)
    # + 0.0 canonicalizes IEEE -0.0 (DuckDB's round keeps the sign bit,
    # Spark's BigDecimal round drops it; -0.0 + 0.0 == +0.0 everywhere)
    zr = F.when(
        (n > 1) & spread & (var > 0), F.round(z * 10000, 0) / 10000 + 0.0
    )
    return df.select(
        id_col, key_col, value_col, zr.alias("zscore")
    ).orderBy(id_col)


def zscore_per_key(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-key z-score normalization via applyInPandas (grouped-map Pandas
    UDF): each key's rows arrive as one pandas DataFrame, are normalized
    with vectorized numpy, and return with the same cardinality.

    The oracle computes the identical normalization with window functions —
    a Python grouped-map kernel cross-checked against pure SQL. Use this
    shape when the per-group logic outgrows SQL (model scoring, complex
    resampling) and groups are FEW AND LARGE — each group costs a Python
    call plus a pandas frame, so thousands of tiny groups pay ~5 ms each in
    overhead; prefer :func:`zscore_per_key_window` there. Groups shuffle
    whole — skewed keys gate the stage, so pre-split pathological keys
    upstream.
    """
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    del LongType  # key/id types come from the input schema
    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, False),
            StructField(key_col, df.schema[key_col].dataType, False),
            StructField(value_col, DoubleType(), True),
            StructField("zscore", DoubleType(), True),
        ]
    )

    import numpy as np

    def _round_half_away(a: "np.ndarray") -> "np.ndarray":
        """Scale-0 round, half away from zero — bit-matches Spark's
        BigDecimal HALF_UP and DuckDB's std::round on the same doubles.
        np.rint is half-to-even only at exact .5 ties (which are exactly
        representable, so the tie test below is exact); everywhere else
        rint == nearest == both engines."""
        t = np.trunc(a)
        tie = np.abs(a - t) == 0.5
        return np.where(tie, t + np.sign(a), np.rint(a))

    def zscore_per_key_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # Same cents-grid/exact-integer-sum formula as the window-function
        # twin and the SQL oracle: identical IEEE ops over identical
        # integers on every engine — numpy's pairwise-summed float mean/std
        # diverges from SQL accumulation in the last ulp and flips rounded
        # rows at larger scale factors.
        v = pdf[value_col].to_numpy(dtype="float64")
        vq = _round_half_away(v * 100.0)
        n = float(len(vq))
        s = float(vq.sum())
        ss = float((vq * vq).sum())
        if len(vq) > 1 and vq.min() < vq.max():
            var = (ss - s * s / n) / (n - 1.0)
        else:
            var = 0.0
        if var > 0:
            z = (vq - s / n) / np.sqrt(var)
            # + 0.0 canonicalizes IEEE -0.0, matching both SQL engines
            zr = pd.array(
                _round_half_away(z * 10000.0) / 10000.0 + 0.0, dtype="Float64"
            )
        else:
            # degenerate group (constant values or a single row): z-score is
            # undefined — real NULLs, matching the window-function twin and
            # the SQL oracle (not 0.0, not NaN).
            zr = pd.array([None] * len(pdf), dtype="Float64")
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                key_col: pdf[key_col],
                value_col: pdf[value_col],
                "zscore": zr,
            }
        )

    return (
        df.select(id_col, key_col, value_col)
        .groupBy(key_col)
        .applyInPandas(zscore_per_key_kernel, out_schema)
        .orderBy(id_col)
    )


def pivot_counts(
    df: DataFrame,
    key_col: str = "user_id",
    pivot_col: str = "event_type",
    values: tuple[str, ...] = ("click", "view", "purchase", "signup", "error"),
) -> DataFrame:
    """Pivot: one row per key, one count column per pivot value. Passing the
    value list explicitly skips Spark's extra distinct-collection job and
    keeps the plan a single hash aggregate."""
    out = (
        df.groupBy(key_col)
        .pivot(pivot_col, list(values))
        .agg(F.count(F.lit(1)))
        .orderBy(key_col)
    )
    return out.select(
        key_col, *[F.coalesce(F.col(v), F.lit(0)).alias(f"n_{v}") for v in values]
    )


def global_exact_ntile(
    src: DataFrame,
    order_cols: list[str],
    n: int = 10,
    distributed_threshold: int = 250_000,
    out_col: str = "decile",
) -> DataFrame:
    """``src`` + an ``out_col`` column carrying exact global NTILE(``n``)
    semantics over ``order_cols`` (all ascending; include a unique tiebreak
    as the last column for determinism).

    Size-adaptive plan (same exact semantics either way — a pre-count picks
    the path, like a broadcast threshold):

    - ≤ ``distributed_threshold`` rows: the plain single-partition
      ``F.ntile`` window — lowest constant cost when the sort fits one task.
    - above it: fully distributed. A naive global ntile serializes the
      whole table through one window task (measured 21× degradation at one
      data decade); exact semantics don't need that. Global rank =
      range-partitioned sort (Spark's distributed sort) + a per-partition
      ``row_number`` (parallel — keyed by partition id) + that partition's
      cumulative offset, a ≤P-row table collected once and broadcast back.
      NTILE's bucket rule is then pure arithmetic on the rank: with
      q = N div n, m = N mod n, the first m buckets take q+1 rows. The
      localCheckpoint pins the range partitioning so the offset job and the
      main job see identical partition boundaries (repartitionByRange
      samples its bounds — two executions could differ).
    """
    order = [F.asc(c) for c in order_cols]
    total = src.count()
    if total <= distributed_threshold:
        return src.withColumn(out_col, F.ntile(n).over(Window.orderBy(*order)))

    spark = src.sparkSession
    p = max(2, spark.sparkContext.defaultParallelism)
    part = (
        src.repartitionByRange(p, *order)
        .withColumn("_pid", F.spark_partition_id())
        .transform(current_scope().checkpoint)
    )
    counts = sorted(
        (r["_pid"], r["c"])
        for r in part.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    offsets, acc = [], 0
    for pid, c in counts:
        offsets.append((pid, acc))
        acc += c
    off_df = spark.createDataFrame(offsets, ["_pid", "_off"])
    wl = Window.partitionBy("_pid").orderBy(*order)
    q, m = divmod(acc, n)
    rank = F.col("_off") + F.row_number().over(wl)
    if q == 0:  # fewer rows than tiles: one row per bucket
        tile = rank.cast("int")
    else:
        big = q + 1
        r0 = rank - 1
        tile = F.when(
            rank <= m * big, (r0 - F.pmod(r0, F.lit(big))) / big + 1
        ).otherwise(
            m + ((r0 - m * big) - F.pmod(r0 - m * big, F.lit(q))) / q + 1
        ).cast("int")
    return (
        part.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, tile)
        .drop("_pid", "_off")
    )


def ntile_decile_stats(
    df: DataFrame,
    value_col: str = "value",
    tiebreak: str = "event_id",
    n: int = 10,
    distributed_threshold: int = 250_000,
) -> DataFrame:
    """NTILE(n) over a global value order, rolled up per tile — the tiling
    is :func:`global_exact_ntile` (size-adaptive exact plan)."""
    # Exact decimal sum → division in double: summation-order-independent,
    # so the 4dp grid can't straddle a float rounding boundary.
    exact_sum = F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double")
    tiled = global_exact_ntile(
        df.select(value_col, tiebreak), [value_col, tiebreak], n,
        distributed_threshold,
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min(value_col), 4).alias("min_value"),
            F.round(F.max(value_col), 4).alias("max_value"),
            F.round(exact_sum / F.count(F.lit(1)), 4).alias("avg_value"),
        )
        .orderBy("decile")
    )


def moving_avg_time_range(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str = "event_id",
    window_seconds: int = 3600,
) -> DataFrame:
    """Trailing time-range moving average: RANGE BETWEEN `window_seconds`
    PRECEDING AND CURRENT ROW per key, ordered by event time.

    The frame is defined on *microsecond epoch* (`unix_micros`) — an exact
    int64 in both Spark and the DuckDB oracle, so the frame boundary has no
    float edge cases. One shuffle on the key; the range frame is evaluated
    with a sliding two-pointer pass inside each partition (Spark's
    WindowExec), never re-scanning the window per row.
    """
    from kafkasparkstream_spark.operators.aggregates import grid_avg, value_units

    us = F.unix_micros(F.col(ts_col))
    w = (
        Window.partitionBy(key)
        .orderBy(us.alias("ts_us"))
        .rangeBetween(-window_seconds * 1_000_000, 0)
    )
    # Integer-cents frame sums: sliding-frame float aggregation differs
    # between engines (re-scan vs segment tree changes add order); integer
    # sums are exact under any evaluation structure.
    return df.select(
        key,
        tiebreak,
        ts_col,
        grid_avg(
            F.sum(value_units(value_col)).over(w), F.count(F.lit(1)).over(w)
        ).alias("trailing_avg"),
        F.count(F.lit(1)).over(w).alias("trailing_cnt"),
    ).orderBy(tiebreak)


def approx_decile_labels(
    df: DataFrame, value_col: str = "value", n: int = 10, accuracy: int = 10000
) -> DataFrame:
    """The 100 TB swap for :func:`ntile_decile_stats`: label rows with their
    approximate decile WITHOUT a total order.

    ``approx_percentile`` computes the n-1 boundary values in one pass of
    mergeable sketches (no sort, no single-partition stage); rows are then
    labeled by comparing against the broadcast 1-row boundary array — a
    codegen'd projection. Labels can differ from exact NTILE only for rows
    whose value ties/straddles a boundary within sketch error, which is the
    accepted trade for removing the global sort.
    """
    probs = F.array(*[F.lit(i / n) for i in range(1, n)])
    bounds = df.agg(
        F.percentile_approx(value_col, probs, accuracy).alias("_bounds")
    )
    labeled = df.join(F.broadcast(bounds)).withColumn(
        "decile",
        (
            F.aggregate(
                "_bounds",
                F.lit(1),
                lambda acc, b: acc + F.when(F.col(value_col) > b, 1).otherwise(0),
            )
        ).cast("int"),
    )
    return labeled.drop("_bounds")


def mad_outlier_stats(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    k: float = 3.0,
) -> DataFrame:
    """Robust per-key outlier report: median / MAD (median absolute
    deviation) and the count of rows beyond ``k`` robust sigmas
    (``|v - med| > k * 1.4826 * mad``) — the standard outlier screen that,
    unlike z-scores, a few extreme values cannot themselves distort.

    Shape: three scan passes, each reduced by a keyed hash-agg to |keys|
    rows — (1) per-key median, (2) per-key MAD over deviations with the
    tiny median table broadcast in, (3) threshold count with both tiny
    tables broadcast. No fact-to-fact join, no window over the corpus; the
    only heavy operator is exact ``median``, which buffers one group's
    values per reducer — the documented 100 TB swap is ``approx_percentile``
    with the identical plan shape (see PLANS.md, `percentile` trade-off).
    Median and MAD are snapped to a 6-dp grid before thresholding so every
    engine classifies the same rows.
    """
    med = df.groupBy(key_col).agg(F.round(F.median(value_col), 6).alias("med"))
    dev = df.join(F.broadcast(med), key_col).withColumn(
        "absdev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = dev.groupBy(key_col).agg(F.round(F.median("absdev"), 6).alias("mad"))
    thresh = F.lit(k) * F.lit(1.4826) * F.col("mad")
    return (
        dev.join(F.broadcast(mad), key_col)
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(F.when(F.col("absdev") > thresh, 1).otherwise(0)).alias(
                "n_outliers"
            ),
            F.round(
                F.sum(F.when(F.col("absdev") > thresh, 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("outlier_ratio"),
        )
        .orderBy(key_col)
    )


def key_skew_report(
    df: DataFrame, key_col: str = "user_id"
) -> DataFrame:
    """Shuffle-planning skew diagnosis for a prospective join/agg key: key
    cardinality, heaviest-key share, Herfindahl concentration (Σ share²),
    coefficient of variation, and p50/p99 per-key row counts — the numbers
    that decide between a plain hash shuffle, AQE skew-join, and salting
    BEFORE a 100 TB job wedges on one reducer.

    Shape: one keyed hash-agg to |keys| rows (map-side partials), then one
    global agg to a single row — no window, no sort, no join. The only
    float work (HHI, CV) sums |keys| doubles whose partial-order drift is
    ~1e-15 relative, far inside the 6-dp snap.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    total = F.sum("cnt")
    sq = F.sum(F.col("cnt").cast("double") * F.col("cnt").cast("double"))
    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        total.alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.max("cnt") / total, 6).alias("max_share"),
        F.round(sq / (total * total), 6).alias("hhi"),
        F.round(F.stddev_pop("cnt") / F.avg("cnt"), 4).alias("cv"),
        F.round(F.percentile("cnt", F.lit(0.5)), 4).alias("p50_cnt"),
        F.round(F.percentile("cnt", F.lit(0.99)), 4).alias("p99_cnt"),
    )


def ks_two_sample_drift(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    split_col: Column | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic per key: split each
    key's rows into two samples (``split_col`` boolean/0-1), and report
    D = max |ECDF₀ − ECDF₁| — the distribution-shift test that catches
    shape changes PSI's fixed bins smooth over (tails, bimodality).

    One shuffle total: the cumulative counts (RANGE frame, so ties in the
    value agree with any engine), the per-sample totals (full-partition
    frame), and the final per-key max all ride the same
    ``hashpartitioning(key)`` exchange. The per-key sort is the real cost —
    at 100 TB bucket the values first (quantile sketch) if keys are huge;
    exact per-key sorts are fine up to hundreds of millions of rows per key.
    """
    from pyspark.sql.window import Window

    if split_col is None:
        split_col = (F.col("event_id") % 2 == 1).cast("int")
    # NULL values are not observations: they'd inflate every cumulative count
    # (Spark sorts nulls first; DuckDB last — engines would also disagree).
    d = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(key_col), F.col(value_col).alias("_v"), split_col.alias("_s"))
    )
    cum = (
        Window.partitionBy(key_col)
        .orderBy("_v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = Window.partitionBy(key_col)
    c0 = F.sum((F.col("_s") == 0).cast("long")).over(cum)
    c1 = F.sum((F.col("_s") == 1).cast("long")).over(cum)
    n0 = F.sum((F.col("_s") == 0).cast("long")).over(full)
    n1 = F.sum((F.col("_s") == 1).cast("long")).over(full)
    scored = d.select(
        F.col(key_col),
        n0.alias("_n0"),
        n1.alias("_n1"),
        F.abs(c0 / n0 - c1 / n1).alias("_d"),
    )
    return (
        scored.groupBy(key_col, "_n0", "_n1")
        .agg(F.round(F.max("_d"), 4).alias("ks_stat"))
        .select(
            key_col,
            F.col("_n0").alias("n_even"),
            F.col("_n1").alias("n_odd"),
            "ks_stat",
        )
        .orderBy(key_col)
    )
