"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``), but
every setting here is chosen to also hold on a large multi-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) — at
  100 TB the static shuffle-partition count is always wrong for some stage;
  AQE re-plans per stage from actual map-output sizes.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE coalesces.
- UTC session timezone so event-time semantics are reproducible regardless of
  host tz (the reference's producer used naive wall clock,
  data-generator/generator.py:47 — we pin UTC instead).
- Arrow enabled for the Pandas-UDF slow paths (vectorized Python transfer).
- With a ``local[...]`` master, Hadoop's ``file:`` classes are the ones in
  ``jvm/nio-localfs.jar`` (:data:`LOCALFS_JAR`, put on the driver class
  path). Without Hadoop's native library the stock ones fork a ``chmod``
  for every file and directory created and two ``readlink``s for every
  checkpoint rename; these set the same nine permission bits and read link
  status through ``java.nio`` instead. Checkpoints (the ``FileContext``
  API) go through the raw local file system, without the checksummed
  wrapper that writes a ``.crc`` companion for every checkpoint file;
  Spark checksums its own checkpoint files
  (``spark.sql.streaming.checkpoint.fileChecksum.enabled``, left on). The
  ``FileSystem`` API stays a ``LocalFileSystem``: Spark's RocksDB state
  store casts ``FileSystem.getLocal`` to it. Other masters keep the stock
  classes, since their executors do not have the jar; cluster storage
  (HDFS, object stores) is untouched either way.
- The driver JVM starts with :data:`DRIVER_INITIAL_HEAP` committed, so a
  young session does not run G1's concurrent marking cycles just to grow a
  heap that starts at 1/64 of host RAM.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: Initial heap of the driver JVM, capped at ``spark.driver.memory``. With
#: the JVM's default (1/64 of host RAM, about 240 MB on 16 GB) G1 grows the
#: heap through concurrent marking cycles in the first minute of a session:
#: on a 4-core host a continuous query's micro-batches then spent 4-5.6 s of
#: GC thread CPU in some 10 s windows and under 1 s in others. 2 GB removed
#: the cycles (none in 28 runs); 1 GB still had them in 3 of 6.
DRIVER_INITIAL_HEAP = "2g"

#: Hadoop's local file system without a child process per file operation;
#: ``scripts/build_localfs_jar.sh`` rebuilds it from the source beside it.
LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "nio-localfs.jar")
LOCALFS_CONF = {
    "spark.hadoop.fs.file.impl": "kafkasparkstream_spark.jvm.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "kafkasparkstream_spark.jvm.NioRawLocalFs",
}


def _mib(size: str) -> int:
    """A JVM/Spark memory string (``512m``, ``8g``) in MiB; a bare number
    is MiB, as in ``spark.driver.memory``."""
    s = size.strip().lower().removesuffix("b")
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    if s and s[-1] in scale:
        return int(float(s[:-1]) * scale[s[-1]])
    return int(s)


def _disable_thp_if_requested() -> None:
    """Opt this process (and every child: JVM → worker daemon → workers)
    out of transparent hugepages via ``prctl(PR_SET_THP_DISABLE)``.

    Why: on this host THP runs in ``madvise`` mode with ``defrag =
    madvise``, so a first touch of freshly mapped memory can enter
    synchronous compaction — measured here at ~2.5 s per ~25 MB of numpy
    temporaries (~400 µs/page) vs ~45 ms with THP disabled, a ~50×
    penalty that made every Arrow-kernel worker's cold allocations the
    dominant cost of the whole ANN/kNN query family. prctl is inherited
    across fork AND execve, so setting it before the JVM spawns covers
    the python workers without any per-worker hook.

    Env-gated (SPARK_GRAFT_DISABLE_THP, default on): on hosts with
    healthy hugepage behavior THP is usually a mild win for GEMM-heavy
    kernels, so production deployments that manage THP at the OS level
    (the normal practice) can flip it off.
    """
    if os.environ.get("SPARK_GRAFT_DISABLE_THP", "1") != "1":
        return
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.prctl(41, 1, 0, 0, 0)  # PR_SET_THP_DISABLE = 41
    except Exception:
        pass  # non-glibc / non-Linux: nothing to do


def get_spark(
    app_name: str = "kafkasparkstream-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``); on a
    real cluster callers pass the cluster master / rely on spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    # Worker daemon with numpy/pandas/pyarrow preloaded before fork: every
    # Arrow-kernel worker starts warm instead of paying the import cost
    # per worker process (see pydaemon.py; guide §4.5). The package must be
    # importable by the daemon subprocess — exporting the repo root on
    # PYTHONPATH covers the local/bench path where the driver found us via
    # cwd; on a cluster the package ships like any other dependency.
    _repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _repo_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_repo_root}{os.pathsep}{_pp}" if _pp else _repo_root
        )
    # glibc malloc tuning for the worker tree (inherited: driver → JVM →
    # daemon → workers). Large numpy temporaries otherwise cycle through
    # mmap/munmap + trim, paying a first-touch page fault per 4 KiB on
    # every kernel invocation — measured at ~400 µs/page on this sandbox
    # (3.5 s vs 17 ms for one elementwise pass over an 8 MB matrix;
    # OPTIMIZATION_r09.md). Keeping freed pages on the heap (TRIM -1) and
    # large blocks off mmap makes every kernel call after the first reuse
    # warm pages. Both are no-ops where faults are cheap, and the memory
    # held is bounded by each worker's real peak working set.
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "134217728")
    _disable_thp_if_requested()
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_conf(master, shuffle_partitions, driver_mem, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_conf(
    master: str,
    shuffle_partitions: int,
    driver_mem: str,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The Spark settings :func:`get_spark` builds its session with.

    ``extra_conf`` wins over every setting here, except that a
    ``spark.driver.extraClassPath`` of its own is appended to
    :data:`LOCALFS_JAR` rather than replacing it.
    """
    initial_heap_mib = min(_mib(DRIVER_INITIAL_HEAP), _mib(driver_mem))
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.python.daemon.module": "kafkasparkstream_spark.pydaemon",
        # Python workers are always co-resident with their executor; a unix
        # domain socket skips the TCP/loopback stack for every Arrow batch
        # (measured here: trivial 32-task mapInPandas round-trip 1.0 s →
        # 0.5 s; biggest on sandboxes with virtualized netstacks).
        "spark.python.unix.domain.socket.enabled": "true",
        # Driver-side hygiene for local mode; harmless on a cluster.
        "spark.ui.enabled": "false",
        "spark.driver.memory": driver_mem,
        # Applied before any extraJavaOptions a caller passes.
        "spark.driver.defaultJavaOptions": f"-Xms{initial_heap_mib}m",
    }
    if re.fullmatch(r"local(\[[^\]]*\])?", master):
        conf.update(LOCALFS_CONF)
        conf["spark.driver.extraClassPath"] = LOCALFS_JAR
    for k, v in (extra_conf or {}).items():
        if k == "spark.driver.extraClassPath" and k in conf:
            v = f"{conf[k]}{os.pathsep}{v}"
        conf[k] = v
    return conf


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark: SparkSession, enable: bool = True) -> None:
    """Switch streaming state stores to RocksDB (off-heap, spill-to-disk).

    The default HDFS-backed store keeps every key in executor JVM heap —
    fine for the reference's ≤30 groups/window, fatal for high-cardinality
    state (per-user dedup/session stores over millions of keys): state
    competes with execution memory and GC pauses scale with store size.
    RocksDB keeps working state in native memory + local SSD with
    incremental checkpointing to the checkpoint location, bounding heap
    regardless of key cardinality — the provider production Spark
    deployments run stateful pipelines on.

    Applies to NEW queries started on this session (each query pins its
    provider at first start via the checkpoint).
    """
    if enable:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    else:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
