"""Plan-shaping helpers shared by operators, and the query scope that owns
every cache and checkpoint block a query takes."""

from __future__ import annotations

import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame


def fanout(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure ``df`` has enough partitions to use the cluster for a
    compute-heavy downstream stage.

    Small inputs (a single parquet file, a filtered dimension) arrive as one
    split, which serializes any expensive per-row projection or
    nested-loop-join stage onto one core. Repartitioning round-robin to the
    cluster's default parallelism fixes that for the price of one small
    shuffle.

    At scale this is a no-op: inputs with >= default-parallelism partitions
    pass through untouched, so a 100 TB scan (thousands of splits) never pays
    an extra shuffle. Only use upstream of genuinely expensive per-row work —
    cheap projections don't earn their shuffle back.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


class QueryScope:
    """The caches and checkpoint blocks one query holds; see :func:`query_scope`."""

    def __init__(self, group: str | None = None):
        self.group = group
        # id(df) -> (df, release); holding df keeps its id from being reused
        self._held: dict[int, tuple[DataFrame, Callable[[], object]]] = {}

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        # blocking=True (here and for checkpoints): the default async
        # unpersist lets multi-hundred-MB shingle caches linger into the
        # NEXT query's working set — measured in the sf1.0 full bench as 2-4x
        # inflation of whatever runs right after the jaccard/containment
        # family (simhash 3.0 s clean -> 11.5 s contaminated). Synchronous
        # release makes per-query timings independent of registry order.
        self._held[id(df)] = (df, lambda: df.unpersist(blocking=True))
        return df

    def checkpoint(
        self, df: DataFrame, eager: bool = True, reliable: bool = False
    ) -> DataFrame:
        """``localCheckpoint`` held by this scope (``Dataset.unpersist`` is a
        no-op for checkpoint blocks, so the scope unpersists the RDD behind
        the returned plan).

        ``eager=False`` defers materialization to the first action on the
        returned frame, so an iterative loop can fold its convergence check
        into the materializing job; the blocks are still held.

        ``reliable=True`` is an eager ``checkpoint()`` into
        ``sparkContext.setCheckpointDir`` (which must be set): it survives
        executor loss at the cost of a write and read of the table. It pins
        no executor blocks, so the scope holds nothing for it; its files are
        left to Spark's reference-tracking cleaner or checkpoint-dir TTL.
        """
        if reliable:
            if df.sparkSession.sparkContext._jsc.sc().checkpointDir().isEmpty():
                raise ValueError(
                    "reliable checkpoint mode requires "
                    "spark.sparkContext.setCheckpointDir(...) to be set"
                )
            return df.checkpoint(eager=True)
        out = df.localCheckpoint(eager=eager)
        # The plan of a fresh checkpoint is a LogicalRDD over exactly the RDD
        # the checkpoint persisted (a before/after diff of the persistent-RDD
        # map would also catch caches the eager job happened to fill).
        rdd = out._jdf.queryExecution().analyzed().rdd()
        self._held[id(out)] = (out, lambda: rdd.unpersist(True))
        return out

    def free(self, df: DataFrame) -> None:
        """Free ``df``'s blocks now if this scope holds them: for rolling
        iteration whose superseded tables no later job reads. A frame built
        on freed checkpoint blocks is unusable afterwards."""
        held = self._held.pop(id(df), None)
        if held is not None:
            held[1]()

    def _free_all(self) -> None:
        while self._held:
            self._held.popitem()[1][1]()


_ACTIVE: ContextVar[QueryScope | None] = ContextVar("query_scope", default=None)
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def current_scope() -> QueryScope:
    """The innermost active :func:`query_scope`, or — outside any scope — a
    fresh one that nobody closes, so its persist and checkpoint are the
    plain Spark calls and their blocks are left to Spark's context cleaner
    (the driver contract: a registry query returns a lazy DataFrame that the
    caller collects later). Operators call this instead of taking a scope
    argument, and hold on to it when they free blocks early."""
    return _ACTIVE.get() or QueryScope()


@contextmanager
def query_scope(spark, name: str) -> Iterator[QueryScope]:
    """Run one query: ``with query_scope(spark, name) as scope: ...``.

    Every persist and checkpoint an operator takes inside the block goes
    through :func:`current_scope`, and so belongs to the innermost scope. A
    query's blocks live until its scope exits — collect inside the block —
    and on exit, normal or by exception, the scope frees exactly those blocks
    with a blocking unpersist. Nothing tracks blocks taken outside a scope.

    The block's Spark jobs run under the job group ``scope.group`` (the name
    plus a unique suffix) with ``name`` as their description; the caller's
    group and description are restored on exit, so its ``cancelJobGroup``
    and UI grouping still work.
    """
    sc = spark.sparkContext
    prior = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}
    scope = QueryScope(f"{name}-{uuid.uuid4().hex[:8]}")
    sc.setJobGroup(scope.group, name, interruptOnCancel=False)
    token = _ACTIVE.set(scope)
    try:
        yield scope
    finally:
        _ACTIVE.reset(token)
        try:
            scope._free_all()
        finally:
            for k, v in prior.items():
                sc.setLocalProperty(k, v)


class LocalCheckpointer:
    """Rolling checkpoint for iterative algorithms: every ``step``
    checkpoints the new round's table (truncating lineage so round k's plan
    stays shallow) and frees round k-2's blocks. Round k-1 stays readable,
    so a convergence check may still join new vs old after stepping, and
    executor storage stays at two tables whatever the iteration count. The
    rounds still live belong to the current scope, which frees them when it
    exits.
    """

    def __init__(self, reliable: bool = False):
        self._scope = current_scope()
        self._past: list[DataFrame] = []
        self._reliable = reliable

    def step(self, df: DataFrame, eager: bool = True) -> DataFrame:
        # eager=False: the caller's next action materializes the round —
        # safe with the free ladder because round k's truncated lineage
        # reads only round k-1's blocks, which stay alive.
        out = self._scope.checkpoint(df, eager=eager, reliable=self._reliable)
        self._past.append(out)
        if len(self._past) > 2:
            self._scope.free(self._past.pop(0))  # superseded, unread
        return out
