"""The two workloads, driven through the program's public entry points.

Every run measures the same figures, each meaning the same thing for the
workload's own unit of work -- an event ingested (sensor_stream) or a
request served (dashboard):

- ``cpu_ms_per_op``: CPU time of the driver process and everything it
  started (the JVM) per unit in the timed phase, leaving out the JVM's JIT
  compiler threads, whose share of a short timed phase depends on how far
  warm-up got;
- ``ops_per_s``: units completed per second of the timed phase, the
  wall-clock figure that shows time spent waiting rather than computing;
- ``op_p50_ms``: median time of an aggregate micro-batch, which sets how
  stale the aggregate sink can be (sensor_stream), or of one dashboard page
  load of six requests (dashboard).  It is a median of a handful of
  samples, so it goes to the run record and the traced run, not to the
  gated metrics.

Work a long-lived process pays once (JVM start, input generation, sink
build, JIT warm-up) happens before the caller's ``mark("setup")``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import checks
import gen
import layers

#: sensor_stream: one file is one micro-batch (the source's default of one
#: file per trigger).  A round lands FILES_PER_ROUND new files and drains
#: them with an availableNow run of start_pipeline, which ends on its own:
#: stopping a query mid-trigger fails it.  Rounds continue on the same
#: checkpoint, so state and sinks carry over as in a scheduled backfill.
STREAM_EVENTS_PER_FILE = 2000
STREAM_GAP_MS = 100
STREAM_FILES_PER_ROUND = 3
#: The warm-up round drains one small file: it runs every code path once,
#: the first trigger in a fresh JVM being the slow one, without adding much
#: data to check.
STREAM_WARMUP_FILES, STREAM_WARMUP_EVENTS_PER_FILE = 1, 500

#: dashboard: the sinks are built by the same pipeline from
#: DASH_SINK_BATCHES files, so each sink holds that many micro-batches.
DASH_SINK_BATCHES = 1
DASH_EVENTS_PER_FILE = 10_000
DASH_GAP_MS = 1200
DASH_PAGE_LOADS_PER_ROUND = 6
DASH_WARMUP_PAGE_LOADS = 1


@dataclass
class Result:
    cpu_ms_per_op: float = 0.0
    wall: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    mismatched: int = 0
    detail: dict = field(default_factory=dict)  # kept in the per-run record


class Pipeline:
    """Feeds seeded event files to start_pipeline in self-terminating rounds."""

    def __init__(self, spark, work: str, seed: int, events_per_file: int,
                 mean_gap_ms: int):
        self.spark = spark
        self.src = os.path.join(work, "src")
        self.staging = os.path.join(work, "staging")
        self.sink = os.path.join(work, "sink")
        self.ckpt = os.path.join(work, "ckpt")
        self.stream = gen.EventStream(seed, events_per_file, mean_gap_ms)
        self.n_files = 0
        os.makedirs(self.src, exist_ok=True)

    def drain(self, n_files: int, events_per_file: int | None = None
              ) -> tuple[float, list[layers.QueryRun]]:
        """Land ``n_files`` new files and run both queries until they have
        consumed them; returns the wall seconds and the two query runs."""
        from kafkasparkstream_spark.sources.streams import file_json_stream
        from kafkasparkstream_spark.streaming.pipeline import start_pipeline

        paths = self.stream.write_files(self.staging, n_files, self.n_files, events_per_file)
        for path in paths:
            dst = os.path.join(self.src, os.path.basename(path))
            os.replace(path, dst)
            # The file source takes files in modification-time order.
            stamp = 1_700_000_000 + self.n_files
            os.utime(dst, (stamp, stamp))
            self.n_files += 1
        t0 = time.perf_counter()
        queries = start_pipeline(
            file_json_stream(self.spark, self.src), self.sink, self.ckpt,
            available_now=True,
        )
        for q in queries:
            q.awaitTermination()
        wall = time.perf_counter() - t0
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(f"query {q.name} failed: {q.exception()}")
        return wall, [layers.QueryRun(q.name, str(q.runId), q.recentProgress)
                      for q in queries]

    def check_sinks(self) -> int:
        """Wrong events in the two sinks, by the Python recomputation."""
        events = self.stream.events
        raw = [row for _, row in checks.read_sink(os.path.join(self.sink, layers.RAW))]
        agg = checks.latest_rows(checks.read_sink(os.path.join(self.sink, layers.AGG)))
        return min(len(events),
                   checks.check_raw_sink(raw, events) + checks.check_agg_sink(agg, events))


def sensor_stream(spark, work: str, seed: int, seconds: float, trace: bool,
                  mark) -> Result:
    pipe = Pipeline(spark, work, seed, STREAM_EVENTS_PER_FILE, STREAM_GAP_MS)
    pipe.drain(STREAM_WARMUP_FILES, STREAM_WARMUP_EVENTS_PER_FILE)
    mark("setup")

    cpu0 = layers.cpu_seconds()
    walls, runs = [], []
    while sum(walls) < seconds:
        wall, round_runs = pipe.drain(STREAM_FILES_PER_ROUND)
        walls.append(wall)
        runs += round_runs
    mark("timed")

    res = Result()
    timed_events = len(walls) * STREAM_FILES_PER_ROUND * STREAM_EVENTS_PER_FILE
    agg_ms = [p["durationMs"]["triggerExecution"]
              for r in runs if r.name == layers.AGG for p in layers.data_triggers(r.progress)]
    res.detail = {"round_s": walls, "agg_trigger_ms": agg_ms}
    cpu_ms, jit_ms = layers.cpu_ms_since(cpu0)
    res.detail["jit_cpu_ms"] = [jit_ms]
    res.cpu_ms_per_op = cpu_ms / timed_events
    res.wall = {
        "ops_per_s": (timed_events / sum(walls), "1/s"),
        "op_p50_ms": (layers.median(agg_ms), "ms"),
    }
    if trace:
        res.layers = layers.report(spark, pipe.sink, runs, jit_ms / timed_events)
    res.attempted = len(pipe.stream.events)
    res.mismatched = res.failed = pipe.check_sinks()
    return res


def dashboard(spark, work: str, seed: int, seconds: float, trace: bool,
              mark) -> Result:
    from kafkasparkstream_spark.api import create_app
    from kafkasparkstream_spark.operators.serving import ReadThroughCache

    pipe = Pipeline(spark, work, seed, DASH_EVENTS_PER_FILE, DASH_GAP_MS)
    _, build_runs = pipe.drain(DASH_SINK_BATCHES)
    expected = checks.Expected(pipe.stream.events)

    # A round spans one cache TTL: the injected clock jumps past the TTL at
    # each round start, so every round begins with a cold cache and the
    # hit share is the same in every round.
    clock = [0.0]
    cache = ReadThroughCache(ttl_seconds=300.0, clock=lambda: clock[0])
    client = create_app(spark, pipe.sink, cache=cache).test_client()
    api = layers.ApiTracer(spark) if trace else None

    def run_round(round_no: int, page_loads: int, log: list, pages: list) -> None:
        clock[0] += 301.0
        for page in gen.request_round(seed, round_no, page_loads):
            page_t0 = time.perf_counter()
            for url in page:
                if api:
                    api.before(url)
                t0 = time.perf_counter()
                resp = client.get(url)
                ms = (time.perf_counter() - t0) * 1e3
                log.append((url, ms, resp.status_code, resp.get_data()))
                if api:
                    api.after(url, ms)
            pages.append((time.perf_counter() - page_t0) * 1e3)

    warm_log: list = []
    run_round(-1, DASH_WARMUP_PAGE_LOADS, warm_log, [])
    if api:
        api.requests.clear()
    mark("setup")

    log: list = []
    pages: list[float] = []
    hits0, misses0 = cache.hits, cache.misses
    cpu0 = layers.cpu_seconds()
    t0 = time.perf_counter()
    round_no = 0
    while time.perf_counter() - t0 < seconds:
        run_round(round_no, DASH_PAGE_LOADS_PER_ROUND, log, pages)
        round_no += 1
    wall = time.perf_counter() - t0
    mark("timed")

    res = Result()
    res.detail = {"page_ms": pages}
    cpu_ms, jit_ms = layers.cpu_ms_since(cpu0)
    res.detail["jit_cpu_ms"] = [jit_ms]
    res.cpu_ms_per_op = cpu_ms / len(log)
    res.wall = {
        "ops_per_s": (len(log) / wall, "1/s"),
        "op_p50_ms": (layers.median(pages), "ms"),
    }
    if trace:
        hits, misses = cache.hits - hits0, cache.misses - misses0
        res.layers = layers.report(spark, pipe.sink, build_runs, jit_ms / len(log),
                                   api=api, hit_ratio=hits / (hits + misses))
    everything = warm_log + log
    res.attempted = len(everything)
    res.mismatched = sum(1 for url, _, status, body in everything
                         if status == 200 and not expected.check(url, status, body))
    res.failed = sum(1 for _, _, status, _ in everything if status != 200) + res.mismatched
    return res


WORKLOADS = {"sensor_stream": sensor_stream, "dashboard": dashboard}
