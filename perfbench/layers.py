"""Per-layer metrics for the traced run, read from outside the program:
streaming progress events, Spark's status tracker and its status stores
(``AppStatusStore``, ``SQLAppStatusStore``; both are populated with the UI
off), sink directory listings, the cache's counters and ``/proc``.

Every traced run reports the same keys.  A layer the workload does not
exercise reads 0 (sensor_stream makes no API request); the dashboard's
streaming layers are those of its sink build.  Inside a timed interval the
tracer only tags each request's Spark jobs with a job group
(``ApiTracer.before``); that tag and the CPU reads are the tracing overhead
the traced run reports through its ``traced.*`` copies of the end-to-end
metrics.
"""

from __future__ import annotations

import os
import statistics
from typing import NamedTuple

AGG, RAW = "sensor_aggregates", "sensor_data"  # start_pipeline's query names
ENDPOINTS = ("sensors", "latest", "aggregates", "stats")


class QueryRun(NamedTuple):
    name: str
    run_id: str  # the job group of every Spark job the run started
    progress: list[dict]


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def data_triggers(progress: list[dict]) -> list[dict]:
    """The triggers that read input (not the no-data batches)."""
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def _ticks(stat_path: str) -> tuple[int, int, int]:
    """(parent pid, utime + stime, cutime + cstime) from a /proc stat file.
    The last is the time of exited and reaped children; a thread's stat file
    repeats its process's value there."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])


def cpu_seconds() -> tuple[float, float]:
    """CPU time of this process and all its descendants (the driver JVM and
    any Python workers), those that exited included, and the part of it
    spent by the JVM's JIT compiler threads, from ``/proc``.  The compiler
    threads are kept alive for the whole run (see run.py), so their time is
    never folded into that of an exited thread."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid, own, reaped = _ticks(f"/proc/{name}/stat")
            except OSError:
                continue
            ticks[int(name)] = own + reaped
            children.setdefault(ppid, []).append(int(name))
    total = jit = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
        try:
            threads = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in threads:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if " CompilerThre" in f.read():
                        jit += _ticks(f"/proc/{pid}/task/{tid}/stat")[1]
            except OSError:
                continue
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz


def cpu_ms_since(start: tuple[float, float]) -> tuple[float, float]:
    """(CPU ms outside the JIT compiler threads, JIT compiler CPU ms) since
    ``start``, a ``cpu_seconds()`` reading."""
    total, jit = cpu_seconds()
    jit_ms = (jit - start[1]) * 1e3
    return (total - start[0]) * 1e3 - jit_ms, jit_ms


def sink_files(path: str) -> tuple[int, int, int]:
    """(micro-batch partitions, parquet files, bytes) of a sink table."""
    batches = files = size = 0
    for part in os.listdir(path):
        if not part.startswith("_batch_id="):
            continue
        batches += 1
        for name in os.listdir(os.path.join(path, part)):
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(path, part, name))
    return batches, files, size


class Jobs:
    """Spark jobs of a job group: count, tasks and summed duration."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def of_group(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def tasks(self, job_id: int) -> int:
        info = self.tracker.getJobInfo(job_id)
        stages = [self.tracker.getStageInfo(s) for s in (info.stageIds if info else ())]
        return sum(s.numTasks for s in stages if s)

    def duration_ms(self, job_id: int) -> float:
        data = self.sc._jsc.sc().statusStore().job(job_id)
        start, end = data.submissionTime(), data.completionTime()
        if start.isEmpty() or end.isEmpty():
            return 0.0
        return float(end.get().getTime() - start.get().getTime())


class Scans:
    """Files read by the scans of each SQL execution, from Spark's SQL status
    store: the scan node's driver-side "number of files read" metric."""

    METRIC = "number of files read"

    def __init__(self, spark):
        store = spark._jsparkSession.sharedState().statusStore()
        self.executions: list[tuple[set[int], int]] = []  # (job ids, files read)
        execs = store.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            keys = ex.jobs().keys().mkString(",")
            plan = ex.metrics()
            # An adaptive plan lists the same scan metric once per re-plan.
            acc = {m.accumulatorId() for m in (plan.apply(j) for j in range(plan.size()))
                   if m.name() == self.METRIC}
            values = {}
            for entry in store.executionMetrics(ex.executionId()).mkString("\x01").split("\x01"):
                key, _, value = entry.partition(" -> ")
                if key:
                    values[int(key)] = value
            files = sum(int(values[a].replace(",", "")) for a in acc if a in values)
            self.executions.append(({int(k) for k in keys.split(",") if k}, files))

    def files_read(self, job_ids: list[int]) -> int:
        """Files read by the SQL executions that ran any of ``job_ids``."""
        ids = set(job_ids)
        return sum(files for jobs, files in self.executions if jobs & ids)


class ApiTracer:
    """Tags each request's Spark jobs so they can be counted afterwards."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.requests: list[tuple[str, str, float]] = []  # (url, job group, ms)
        self._group = ""

    def before(self, url: str) -> None:
        self._group = f"perfbench-request-{len(self.requests)}"
        self.sc.setJobGroup(self._group, url)

    def after(self, url: str, ms: float) -> None:
        self.requests.append((url, self._group, ms))


def report(spark, sink: str, runs: list[QueryRun], jit_ms_per_op: float,
           api: ApiTracer | None = None, hit_ratio: float = 0.0
           ) -> dict[str, tuple[float, str]]:
    """Every per-layer metric (besides session.start_ms, which the caller
    measures), from the streaming runs and requests of one run."""
    import gen

    # Every event of a finished job or SQL execution reaches the stores.
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = Jobs(spark)
    progress = {AGG: [], RAW: []}
    n_jobs = n_tasks = 0
    for run in runs:
        progress[run.name] += run.progress
        for job in jobs.of_group(run.run_id):
            n_jobs += 1
            n_tasks += jobs.tasks(job)
    triggers = progress[AGG] + progress[RAW]
    data_agg, data_raw = data_triggers(progress[AGG]), data_triggers(progress[RAW])
    data = data_agg + data_raw
    state = [p["stateOperators"][0] for p in data_agg if p.get("stateOperators")]

    def dur(ps: list[dict], *keys: str) -> float:
        return median([sum(p["durationMs"].get(k, 0) for k in keys) for p in ps])

    def state_median(key: str) -> float:
        return median([s.get(key, 0) for s in state])

    out = {
        "sources.get_batch_ms": (dur(data, "latestOffset", "getBatch"), "ms"),
        "streaming.batch_ms.agg": (dur(data_agg, "triggerExecution"), "ms"),
        "streaming.batch_ms.raw": (dur(data_raw, "triggerExecution"), "ms"),
        "streaming.query_planning_ms": (dur(data, "queryPlanning"), "ms"),
        "streaming.add_batch_ms.agg": (dur(data_agg, "addBatch"), "ms"),
        "streaming.add_batch_ms.raw": (dur(data_raw, "addBatch"), "ms"),
        "streaming.wal_commit_ms": (dur(data, "walCommit", "commitOffsets"), "ms"),
        "streaming.state_commit_ms": (state_median("commitTimeMs"), "ms"),
        "streaming.state_stores": (state_median("numStateStoreInstances"), "count"),
        "streaming.state_rows": (state_median("numRowsTotal"), "count"),
        "streaming.state_memory_bytes": (state_median("memoryUsedBytes"), "B"),
        "streaming.rows_dropped_by_watermark": (
            float(sum(s.get("numRowsDroppedByWatermark", 0) for s in state)), "count"),
        "streaming.jobs_per_batch": (n_jobs / max(len(triggers), 1), "count"),
        "streaming.tasks_per_batch": (n_tasks / max(len(triggers), 1), "count"),
        "process.jit_cpu_ms_per_op": (jit_ms_per_op, "ms"),
    }
    total_bytes = 0
    for short, table in (("agg", AGG), ("raw", RAW)):
        batches, files, size = sink_files(os.path.join(sink, table))
        out[f"sinks.files_per_batch.{short}"] = (files / max(batches, 1), "count")
        total_bytes += size
    out["sinks.bytes"] = (float(total_bytes), "B")

    per = {ep: {"ms": [], "jobs": [], "job_ms": [], "driver_ms": [], "files": []}
           for ep in ENDPOINTS}
    scans = Scans(spark) if api else None
    for url, group, ms in api.requests if api else ():
        m = per.get(gen.endpoint(url))
        if m is None:
            continue
        ids = jobs.of_group(group)
        job_ms = sum(jobs.duration_ms(j) for j in ids)
        m["ms"].append(ms)
        m["jobs"].append(len(ids))
        m["job_ms"].append(job_ms)
        m["driver_ms"].append(ms - job_ms)
        m["files"].append(scans.files_read(ids))
    for ep, m in per.items():
        out[f"api.{ep}.latency_ms"] = (median(m["ms"]), "ms")
        out[f"api.{ep}.spark_jobs"] = (median(m["jobs"]), "count")
        out[f"api.{ep}.job_ms"] = (median(m["job_ms"]), "ms")
        out[f"api.{ep}.driver_ms"] = (median(m["driver_ms"]), "ms")
        out[f"api.{ep}.files_read"] = (median(m["files"]), "count")
    out["api.latest.cache_hit_ratio"] = (hit_ratio, "ratio")
    return out
