"""Serving-layer queries — pure-Spark parity for the reference's REST surface.

Each function reimplements one endpoint's SQL body (SURVEY.md §2.11,
api-service/app.py:114-288) as a parameterized DataFrame function over the
engine's own tables; Catalyst is the parser/planner, so the dynamic-predicate
assembly the reference does with string concatenation (app.py:154-168) becomes
conditional ``.filter`` chaining — same semantics, injection-proof, and the
filters push down into the parquet scan.

Scale notes: ``latest_readings`` is ORDER BY ts DESC LIMIT k — Spark plans
``TakeOrderedAndProject`` (per-partition top-k, then a k-row merge on the
driver), so it never performs a full sort/shuffle of the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_dim_filters(
    df: DataFrame,
    **eq_filters: str | int | None,
) -> DataFrame:
    """Dynamic equality predicates (A1): the reference appends
    ``AND col = %s`` per set parameter (app.py:154-168); we chain filters —
    Catalyst folds them into one scan-level predicate."""
    for column, val in eq_filters.items():
        if val is not None:
            df = df.filter(F.col(column) == F.lit(val))
    return df


def latest_readings(
    df: DataFrame,
    ts_col: str = "ts",
    limit: int = 100,
    tiebreak_col: str | None = "event_id",
    **eq_filters: str | int | None,
) -> DataFrame:
    """`GET /api/data/latest` (A9 + A1, app.py:135-187): optional equality
    filters, then top-``limit`` by event time descending.

    A deterministic tiebreaker column keeps the result stable when timestamps
    collide (the reference's plain ``ORDER BY timestamp DESC LIMIT 100``,
    app.py:170, is nondeterministic under ties)."""
    df = apply_dim_filters(df, **eq_filters)
    order = [F.desc(ts_col)]
    if tiebreak_col is not None:
        order.append(F.desc(tiebreak_col))
    return df.orderBy(*order).limit(limit)


def sorted_for_collect(df: DataFrame, *order) -> DataFrame:
    """Order a small result that the driver collects whole.

    ``orderBy`` plans a range exchange whose bounds come from a separate
    sampling job, only to feed one consumer. One partition sorted in place
    collects in the same order with neither. The stage above the last
    exchange then runs as one task, so keep this to serving-sized results."""
    return df.coalesce(1).sortWithinPartitions(*order)


def time_range_filter(df: DataFrame, ts_col: str, hours: int) -> DataFrame:
    """A2 (app.py:202-206): keep rows with ``ts >= anchor - INTERVAL h HOURS``.

    The reference anchors at ``NOW()``; for deterministic replay we anchor at
    the table's own max event time. The anchor is a top-1 scalar subquery of
    the same plan: one job, never collected to Python, and NULL on an empty
    table, where the filter keeps nothing."""
    anchor = df.select(ts_col).orderBy(F.desc(ts_col)).limit(1).scalar()
    return df.filter(F.col(ts_col) >= anchor - F.expr(f"INTERVAL {int(hours)} HOURS"))


def recent_aggregates(
    events: DataFrame,
    ts_col: str = "ts",
    hours: int = 24,
    dims: tuple[str, ...] = ("event_type",),
    window_duration: str = "1 minute",
    **eq_filters: str | int | None,
) -> DataFrame:
    """`GET /api/aggregates` (A2 + A1 + A10, app.py:189-227): time-range filter
    + optional dim filters over the windowed rollup, sorted by window_start
    descending (deterministic: dims appended as tiebreakers)."""
    from kafkasparkstream_spark.operators.aggregates import windowed_agg

    recent = time_range_filter(events, ts_col, hours)
    recent = apply_dim_filters(recent, **eq_filters)
    agg = windowed_agg(recent, ts_col=ts_col, window_duration=window_duration, dims=dims)
    return agg.orderBy(F.desc("window_start"), *[F.asc(d) for d in dims])


def distinct_dims(df: DataFrame, *cols: str) -> DataFrame:
    """`GET /api/sensors` (A4 + A11, app.py:122-126): SELECT DISTINCT dims,
    sorted ascending on every dim. Spark plans this as a hash aggregate with
    map-side partial dedup — shuffle volume is the distinct-key count."""
    return df.select(*cols).distinct().orderBy(*[F.asc(c) for c in cols])


def stats(df: DataFrame, ts_col: str, dims: tuple[str, ...]) -> dict[str, DataFrame]:
    """`GET /api/stats` (A5-A8, app.py:238-288): four sub-queries, one dict."""
    from kafkasparkstream_spark.operators.aggregates import (
        group_count,
        time_range,
        total_count,
    )

    out: dict[str, DataFrame] = {
        "total_count": total_count(df),
        "time_range": time_range(df, ts_col),
    }
    for d in dims:
        out[f"by_{d}"] = group_count(df, d)
    return out


class ReadThroughCache:
    """The Redis-analog serving cache (app.py:143-148,180-185): key →
    collected result with a TTL, filling only on non-empty results when at
    least one filter is set — the reference's exact policy ("don't pin the
    unfiltered firehose, don't cache misses").

    Driver-side and deliberately tiny: the engine's *data* never flows
    through here, only final serving-layer result lists (the reference
    caps them at LIMIT 100). Swap the dict for Redis by replacing
    ``_store`` get/set — the policy logic is the part worth keeping.
    ``clock`` is injectable for deterministic tests.
    """

    def __init__(self, ttl_seconds: float = 300.0, clock=None):
        import time as _time

        self.ttl = ttl_seconds
        self._clock = clock or _time.monotonic
        self._store: dict[str, tuple[float, list]] = {}
        self.hits = 0
        self.misses = 0

    @staticmethod
    def key(endpoint: str, **params) -> str:
        parts = [endpoint] + [f"{k}={params[k]}" for k in sorted(params) if params[k] is not None]
        return ":".join(parts)  # latest:{device_type}:{location} analog (app.py:144)

    def get(self, key: str):
        entry = self._store.get(key)
        if entry is None or self._clock() >= entry[0]:
            self._store.pop(key, None)
            self.misses += 1
            return None
        self.hits += 1
        return entry[1]

    def fetch(self, key: str, df_fn, any_filter_set: bool) -> list:
        """Read-through: cache hit → stored rows; miss → run the DataFrame
        query, fill only when non-empty AND filtered (app.py:178-185)."""
        cached = self.get(key)
        if cached is not None:
            return cached
        rows = df_fn().collect()
        if rows and any_filter_set:
            self._store[key] = (self._clock() + self.ttl, rows)
        return rows
