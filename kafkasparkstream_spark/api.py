"""HTTP serving shim — drop-in analog of the reference's REST surface.

The reference serves five endpoints from Postgres tables its streaming job
maintains (api-service/app.py:114-288). This module exposes the SAME paths
and response shapes over the engine's own sink tables (the parquet tables
:func:`~kafkasparkstream_spark.streaming.pipeline.start_pipeline` writes),
with the query bodies delegated to ``operators/serving.py`` — the REST layer
is deliberately thin: routing, parameter parsing, the read-through cache
policy, and JSON encoding. Flask stands in for FastAPI (same WSGI test
surface, no extra dependency in this container).

Endpoint parity map (reference line refs from api-service/app.py):

- ``GET /api/sensors``       — distinct (device_id, device_type, location)
  ordered by device_type, location (app.py:114-133).
- ``GET /api/data/latest``   — latest 100 readings, optional device_type /
  location equality filters, read-through cache with the reference's exact
  fill policy: only non-empty AND filtered results are cached, TTL 300 s
  (app.py:135-187).
- ``GET /api/aggregates``    — windowed aggregate rows within the last
  ``hours`` (1-24), optional dim filters, window_start descending
  (app.py:189-227). Update-mode duplicate appends are resolved with
  ``latest_state`` before serving — the reference serves its duplicates
  (SURVEY.md ST3); we serve the refined row.
- ``GET /health``            — static healthy + timestamp (app.py:230-235).
- ``GET /api/stats``         — total count, per-device-type and per-location
  distributions, time range (app.py:238-288).

Determinism note: the reference anchors its ``aggregates`` time range at
``NOW()``; replayed test data is historical, so this shim anchors at the
sink's max window_start (same convention as ``serving.time_range_filter``).

Scale notes: a request costs the Spark jobs its answer needs and no more
(warm counts with adaptive execution on, pinned by ``tests/test_api.py``):

- every endpoint reads a sink with the schema learned on that sink's first
  successful read. A schema-less ``spark.read.parquet`` runs a footer
  inference job on every call; a sink's schema is fixed by the query that
  writes it, so learning it once is safe.
- ``/api/data/latest`` (cache miss): 1 job. TakeOrderedAndProject keeps a
  per-partition top 100 and merges them on the driver, with no full sort.
- ``/api/stats``: 2 jobs, the partial-aggregate map stage and its result.
  GROUPING SETS computes the count, both distributions and the time range
  in one scan.
- ``/api/sensors``: 2 jobs, the distinct's map stage and a one-partition
  sort (``serving.sorted_for_collect``). ``orderBy`` would add a sampling
  job and a range exchange to feed the one consumer, the driver.
- ``/api/aggregates``: 3 jobs. The anchor is a top-1 scalar subquery in the
  same plan (``serving.time_range_filter``), so it never comes back to
  Python (1 job). The time and dimension filters go on the raw sink before
  ``latest_state``, which is safe because both are on key columns (they
  drop whole keys). Then the window's shuffle map stage and the
  one-partition sort (2 jobs).

Only final results are collected to the serving process: at most 100 rows
for ``latest``, one row per window key and device dimension otherwise.
"""

from __future__ import annotations

import datetime as _dt
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kafkasparkstream_spark.operators.serving import (
    ReadThroughCache,
    apply_dim_filters,
    latest_readings,
    sorted_for_collect,
    time_range_filter,
)
from kafkasparkstream_spark.streaming.sinks import latest_state

AGG_KEYS = ("window_start", "window_end", "device_type", "location")


def _json_default(o):
    if isinstance(o, (_dt.datetime, _dt.date)):
        return o.isoformat()
    return str(o)


def create_app(
    spark: SparkSession,
    data_root: str,
    ts_col: str = "timestamp",
    cache: ReadThroughCache | None = None,
):
    """Build the Flask app over ``{data_root}/sensor_data`` and
    ``{data_root}/sensor_aggregates`` (the pipeline's sink tables)."""
    from flask import Flask, request

    app = Flask("kafkasparkstream-api")
    cache = cache if cache is not None else ReadThroughCache(ttl_seconds=300.0)

    schemas: dict[str, StructType] = {}

    def _read_sink(table: str) -> DataFrame:
        # Learned only from a read that succeeded: a request made before the
        # sink exists fails, and the next one infers the schema again.
        path = f"{data_root}/{table}"
        if table in schemas:
            return spark.read.schema(schemas[table]).parquet(path)
        df = spark.read.parquet(path)
        schemas[table] = df.schema
        return df

    def _sensor_data() -> DataFrame:
        return _read_sink("sensor_data").drop("_batch_id")

    def _respond(payload, status: int = 200):
        return app.response_class(
            json.dumps(payload, default=_json_default),
            status=status,
            mimetype="application/json",
        )

    def _rows(df: DataFrame) -> list[dict]:
        return [r.asDict(recursive=True) for r in df.collect()]

    @app.get("/api/sensors")
    def sensors():  # app.py:114-133
        df = _sensor_data().select("device_id", "device_type", "location").distinct()
        return _respond(_rows(sorted_for_collect(df, "device_type", "location", "device_id")))

    @app.get("/api/data/latest")
    def latest():  # app.py:135-187
        device_type = request.args.get("device_type")
        location = request.args.get("location")
        key = ReadThroughCache.key("latest", device_type=device_type, location=location)

        def run():
            return latest_readings(
                _sensor_data(),
                ts_col=ts_col,
                limit=100,
                tiebreak_col=None,
                device_type=device_type,
                location=location,
            )

        rows = cache.fetch(key, run, any_filter_set=bool(device_type or location))
        return _respond([r.asDict(recursive=True) for r in rows])

    @app.get("/api/aggregates")
    def aggregates():  # app.py:189-227
        try:
            hours = int(request.args.get("hours", "1"))
        except ValueError:
            return _respond({"detail": "hours must be an integer"}, 422)
        if not 1 <= hours <= 24:  # FastAPI Query(ge=1, le=24) analog
            return _respond({"detail": "hours must be in [1, 24]"}, 422)
        # The anchor is sink-wide: it is taken before any dimension filter.
        recent = time_range_filter(_read_sink("sensor_aggregates"), "window_start", hours)
        recent = apply_dim_filters(
            recent,
            device_type=request.args.get("device_type"),
            location=request.args.get("location"),
        )
        # update-mode refinements: serve only the latest row per window key
        df = latest_state(recent, AGG_KEYS)
        return _respond(
            _rows(sorted_for_collect(df, F.desc("window_start"), "device_type", "location"))
        )

    @app.get("/health")
    def health():  # app.py:230-235
        return _respond(
            {"status": "healthy", "timestamp": _dt.datetime.now().isoformat()}
        )

    @app.get("/api/stats")
    def stats():  # app.py:238-288
        # One job / one table scan: GROUPING SETS computes the global row
        # (count + time range) and both distributions in a single
        # partial-aggregated pass; grouping_id() tells the slices apart
        # (NULL group values are not distinguishable from NULL data).
        df = _sensor_data()
        slices = (
            df.groupingSets(
                [[], ["device_type"], ["location"]], "device_type", "location"
            )
            .agg(
                F.count(F.lit(1)).alias("count"),
                F.min(ts_col).alias("earliest"),
                F.max(ts_col).alias("latest"),
                F.grouping_id().alias("gid"),
            )
            .collect()
        )
        n_groups = 2  # grouping columns -> gid bits: device_type=2, location=1
        total, earliest, latest = 0, None, None
        by_type: dict = {}
        by_loc: dict = {}
        for r in slices:
            if r["gid"] == (1 << n_groups) - 1:  # global slice
                total, earliest, latest = r["count"], r["earliest"], r["latest"]
            elif r["gid"] == 1:  # grouped by device_type (location aggregated)
                by_type[r["device_type"]] = r["count"]
            elif r["gid"] == 2:  # grouped by location
                by_loc[r["location"]] = r["count"]
        order = lambda d: dict(  # noqa: E731 — reference orders by count desc
            sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))
        )
        return _respond(
            {
                "total_readings": total,
                "device_type_distribution": order(by_type),
                "location_distribution": order(by_loc),
                "time_range": {
                    "earliest": earliest.isoformat() if earliest else None,
                    "latest": latest.isoformat() if latest else None,
                },
            }
        )

    return app
