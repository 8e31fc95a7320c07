"""HTTP shim tests: the five reference endpoints served over real pipeline
sink tables, asserted against the reference's response shapes
(api-service/app.py:43-68 Pydantic models and endpoint bodies)."""

from __future__ import annotations

import json

import pytest

from kafkasparkstream_spark.api import create_app
from kafkasparkstream_spark.streaming.sinks import foreach_batch_parquet_sink


@pytest.fixture(scope="module")
def app_client(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("api-root")
    readings = spark.createDataFrame(
        [
            ("sensor_1", "temperature", "room1", 20.0, 90.0, "2024-01-01T10:00:05"),
            ("sensor_2", "temperature", "room1", 22.0, 80.0, "2024-01-01T10:00:30"),
            ("sensor_3", "humidity", "kitchen", 55.0, 70.0, "2024-01-01T10:01:10"),
            ("sensor_1", "temperature", "room1", 24.0, 89.0, "2024-01-01T10:02:50"),
        ],
        "device_id string, device_type string, location string, value double,"
        " battery_level double, timestamp string",
    )
    # build via the real sink callback so the read path (batch partitions,
    # latest_state) is exercised end-to-end
    from pyspark.sql import functions as F

    readings = readings.withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    foreach_batch_parquet_sink(str(root / "sensor_data"))(readings, 0)

    aggs0 = spark.createDataFrame(
        [
            ("2024-01-01T10:00:00", "2024-01-01T10:01:00", "temperature", "room1", 21.0, 20.0, 22.0, 85.0, 2),
            ("2024-01-01T10:01:00", "2024-01-01T10:02:00", "humidity", "kitchen", 55.0, 55.0, 55.0, 70.0, 1),
        ],
        "window_start string, window_end string, device_type string, location string,"
        " avg_value double, min_value double, max_value double, avg_battery double,"
        " reading_count long",
    )
    aggs0 = aggs0.withColumn("window_start", F.col("window_start").cast("timestamp")).withColumn(
        "window_end", F.col("window_end").cast("timestamp")
    )
    sink = foreach_batch_parquet_sink(str(root / "sensor_aggregates"))
    sink(aggs0, 0)
    # update-mode refinement of the first window in a later batch: the served
    # row must be the refined one (latest_state), not the stale duplicate
    refined = aggs0.filter(F.col("device_type") == "temperature").withColumn(
        "avg_value", F.lit(22.0)
    ).withColumn("reading_count", F.lit(3).cast("long"))
    sink(refined, 1)

    app = create_app(spark, str(root))
    app.config.update(TESTING=True)
    return app.test_client()


def _get(client, path):
    resp = client.get(path)
    return resp.status_code, json.loads(resp.data)


def test_health(app_client):
    code, body = _get(app_client, "/health")
    assert code == 200
    assert body["status"] == "healthy" and "timestamp" in body


def test_sensors_shape(app_client):
    code, body = _get(app_client, "/api/sensors")
    assert code == 200
    assert {frozenset(r) for r in body} == {frozenset({"device_id", "device_type", "location"})}
    ids = [r["device_id"] for r in body]
    assert sorted(ids) == ["sensor_1", "sensor_2", "sensor_3"]
    # reference orders by device_type, location (app.py:125)
    assert body[0]["device_type"] == "humidity"


def test_latest_filtered_and_cached(app_client):
    code, body = _get(app_client, "/api/data/latest?device_type=temperature")
    assert code == 200
    assert len(body) == 3
    assert all(r["device_type"] == "temperature" for r in body)
    # newest first (app.py:170)
    assert body[0]["value"] == 24.0
    # repeated filtered call is served from cache (reference caches only
    # filtered, non-empty results — app.py:178-185)
    code2, body2 = _get(app_client, "/api/data/latest?device_type=temperature")
    assert code2 == 200 and body2 == body


def test_aggregates_serves_refined_row(app_client):
    code, body = _get(app_client, "/api/aggregates?hours=24")
    assert code == 200
    temp = [r for r in body if r["device_type"] == "temperature"]
    assert len(temp) == 1, "duplicate update-mode appends must collapse"
    assert temp[0]["avg_value"] == 22.0 and temp[0]["reading_count"] == 3
    # window_start descending
    starts = [r["window_start"] for r in body]
    assert starts == sorted(starts, reverse=True)


def test_aggregates_hours_validation(app_client):
    code, _ = _get(app_client, "/api/aggregates?hours=25")
    assert code == 422
    code, _ = _get(app_client, "/api/aggregates?hours=abc")
    assert code == 422


def test_stats_shape(app_client):
    code, body = _get(app_client, "/api/stats")
    assert code == 200
    assert body["total_readings"] == 4
    assert body["device_type_distribution"] == {"temperature": 3, "humidity": 1}
    assert body["location_distribution"] == {"room1": 3, "kitchen": 1}
    # reference serves distributions ordered by count desc (app.py:238-288);
    # the single-pass GROUPING SETS rewrite must preserve that
    assert list(body["device_type_distribution"]) == ["temperature", "humidity"]
    assert list(body["location_distribution"]) == ["room1", "kitchen"]
    assert body["time_range"]["earliest"].startswith("2024-01-01T10:00:05")
    assert body["time_range"]["latest"].startswith("2024-01-01T10:02:50")


# ------------------------------------------------ aggregates time window ----

_AGG_SCHEMA = (
    "window_start string, window_end string, device_type string, location string,"
    " avg_value double, min_value double, max_value double, avg_battery double,"
    " reading_count long"
)


def _agg_rows(spark, rows):
    """Aggregate-sink rows from (window_start, type, location, avg, count)."""
    import datetime as dt

    from pyspark.sql import functions as F

    full = []
    for start, device_type, location, avg, count in rows:
        end = (dt.datetime.fromisoformat(start) + dt.timedelta(minutes=1)).isoformat()
        full.append((start, end, device_type, location, avg, avg, avg, 50.0, count))
    df = spark.createDataFrame(full, _AGG_SCHEMA)
    return df.withColumn("window_start", F.col("window_start").cast("timestamp")).withColumn(
        "window_end", F.col("window_end").cast("timestamp")
    )


@pytest.fixture(scope="module")
def window_client(spark, tmp_path_factory):
    """Two aggregate-sink batches spanning 3 hours; the anchor (the newest
    window_start anywhere in the sink) is 12:00:00."""
    root = tmp_path_factory.mktemp("api-window")
    sink = foreach_batch_parquet_sink(str(root / "sensor_aggregates"))
    sink(
        _agg_rows(
            spark,
            [
                ("2024-01-01T09:00:00", "pressure", "garage", 1.0, 1),  # only pressure row
                ("2024-01-01T10:59:00", "temperature", "room1", 2.0, 1),  # anchor - 61 min
                ("2024-01-01T11:00:00", "humidity", "kitchen", 3.0, 1),  # refined below
                ("2024-01-01T11:30:00", "temperature", "room1", 4.0, 2),
            ],
        ),
        0,
    )
    sink(
        _agg_rows(
            spark,
            [
                ("2024-01-01T11:00:00", "humidity", "kitchen", 3.5, 4),  # late refinement
                ("2024-01-01T12:00:00", "temperature", "room1", 5.0, 3),
            ],
        ),
        1,
    )
    app = create_app(spark, str(root))
    app.config.update(TESTING=True)
    return app.test_client()


def _windows(body):
    return [(r["window_start"][11:16], r["device_type"], r["reading_count"]) for r in body]


def test_aggregates_window_is_inclusive_at_anchor_minus_hours(window_client):
    code, body = _get(window_client, "/api/aggregates?hours=1")
    assert code == 200
    # 11:00 sits exactly at anchor - 1 h and is served; 10:59 is one minute out
    assert _windows(body) == [
        ("12:00", "temperature", 3),
        ("11:30", "temperature", 2),
        ("11:00", "humidity", 4),
    ]
    _, body2 = _get(window_client, "/api/aggregates?hours=2")
    assert [w[0] for w in _windows(body2)] == ["12:00", "11:30", "11:00", "10:59"]
    _, body3 = _get(window_client, "/api/aggregates?hours=3")
    assert [w[0] for w in _windows(body3)] == ["12:00", "11:30", "11:00", "10:59", "09:00"]


def test_aggregates_anchor_is_global_not_per_filter(window_client):
    # pressure's newest window (09:00) is older than anchor - 1 h: a
    # per-filter anchor would serve it, the sink-wide anchor does not
    code, body = _get(window_client, "/api/aggregates?hours=1&device_type=pressure")
    assert code == 200 and body == []
    _, body = _get(window_client, "/api/aggregates?hours=3&device_type=pressure")
    assert _windows(body) == [("09:00", "pressure", 1)]
    _, body = _get(window_client, "/api/aggregates?hours=1&device_type=temperature&location=room1")
    assert _windows(body) == [("12:00", "temperature", 3), ("11:30", "temperature", 2)]


def test_aggregates_serves_window_refined_in_later_batch(window_client):
    _, body = _get(window_client, "/api/aggregates?hours=24&location=kitchen")
    assert len(body) == 1
    assert body[0]["avg_value"] == 3.5 and body[0]["reading_count"] == 4


def test_aggregates_empty_sink_returns_empty_list(spark, tmp_path):
    # a sink that exists with its schema but holds no rows
    _agg_rows(spark, []).write.parquet(str(tmp_path / "sensor_aggregates" / "_batch_id=0"))
    client = create_app(spark, str(tmp_path)).test_client()
    for _ in range(2):  # schema-inferring first read, then the learned schema
        code, body = _get(client, "/api/aggregates?hours=24")
        assert code == 200 and body == []


def test_request_before_sink_lands_fails_then_recovers(spark, tmp_path):
    client = create_app(spark, str(tmp_path)).test_client()
    # no sink yet: the read fails (a server error), and nothing is learned
    assert client.get("/api/aggregates?hours=1").status_code == 500
    assert client.get("/api/sensors").status_code == 500
    foreach_batch_parquet_sink(str(tmp_path / "sensor_aggregates"))(
        _agg_rows(spark, [("2024-01-01T12:00:00", "temperature", "room1", 5.0, 3)]), 0
    )
    code, body = _get(client, "/api/aggregates?hours=1")
    assert code == 200 and _windows(body) == [("12:00", "temperature", 3)]
    code, body = _get(client, "/api/aggregates?hours=1")  # learned schema
    assert code == 200 and _windows(body) == [("12:00", "temperature", 3)]


# ------------------------------------------------------ jobs per request ----

#: Spark jobs a warm request may run (see the api module's scale notes).
MAX_JOBS = {
    "/api/aggregates?hours=24": 3,
    "/api/aggregates?hours=1&device_type=temperature": 3,
    "/api/sensors": 2,
    "/api/stats": 2,
    "/api/data/latest": 1,  # unfiltered: never cached, always a miss
    "/health": 0,
}


def test_warm_request_spark_jobs(spark, app_client):
    """Each request gets its own job group, counted through the status
    tracker as perfbench's ApiTracer does; a range sort before a collect or
    a schema-less sink read would each add a job."""
    sc = spark.sparkContext
    for url in MAX_JOBS:
        app_client.get(url)  # warm: the sinks' schemas are learned here
    groups = {}
    try:
        for i, url in enumerate(MAX_JOBS):
            groups[url] = f"test-api-request-{i}"
            sc.setJobGroup(groups[url], url)
            assert app_client.get(url).status_code == 200
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = {url: len(sc.statusTracker().getJobIdsForGroup(g)) for url, g in groups.items()}
    assert all(jobs[url] <= MAX_JOBS[url] for url in MAX_JOBS), jobs
    assert jobs["/api/aggregates?hours=24"] >= 1, jobs  # the counter sees jobs
