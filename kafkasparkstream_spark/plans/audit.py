"""Physical-plan inspection — the engine's scale guardrails as a library.

`tests/test_plans.py` uses these to pin plan properties (pushdown,
broadcast choice, no cartesian products); they are equally useful
interactively: run ``plan_report(df)`` on any query before pointing it at
a 100 TB table and read off the scan/join/shuffle story.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (modes: simple, extended, codegen,
    cost, formatted)."""
    jvm_mode = df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jvm_mode)


@dataclass
class PlanReport:
    """Scale-relevant facts extracted from a physical plan."""

    broadcast_joins: int = 0
    sortmerge_joins: int = 0
    shuffled_hash_joins: int = 0
    cartesian_products: int = 0
    nested_loop_joins: int = 0
    exchanges: int = 0
    pushed_filters: list[str] = field(default_factory=list)
    partition_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)

    @property
    def degenerate(self) -> bool:
        """True when the plan contains a join shape that will not survive
        scale (cartesian, or nested-loop without a deliberate tiny side)."""
        return self.cartesian_products > 0 or self.nested_loop_joins > 0


def plan_report(df: DataFrame) -> PlanReport:
    """Summarize the scale-relevant plan properties of a DataFrame."""
    simple = explain_str(df, "simple")
    formatted = explain_str(df, "formatted")
    r = PlanReport(
        broadcast_joins=simple.count("BroadcastHashJoin"),
        sortmerge_joins=simple.count("SortMergeJoin"),
        shuffled_hash_joins=simple.count("ShuffledHashJoin"),
        cartesian_products=simple.count("CartesianProduct"),
        nested_loop_joins=simple.count("BroadcastNestedLoopJoin"),
        exchanges=simple.count("Exchange"),
    )
    for line in formatted.splitlines():
        stripped = line.strip()
        if stripped.startswith("PushedFilters") and "[]" not in stripped:
            r.pushed_filters.append(stripped)
        elif stripped.startswith("PartitionFilters") and "[]" not in stripped:
            r.partition_filters.append(stripped)
        elif stripped.startswith("ReadSchema"):
            r.read_schemas.append(stripped)
    return r


def stage_task_widths(spark, run) -> dict[int, int]:
    """Execute ``run()`` in its own :func:`query_scope` and return
    ``{stage_id: task_count}`` for every stage it ran — the RUNTIME
    parallelism audit that plan text cannot give.

    Motivation: the edit-distance regression (SCALING.md) planned
    innocuously but executed its ~1 ms/pair kernel on the 2 pre-shuffle
    partitions — `df.rdd.getNumPartitions()` reported 32 while the SQL
    stage ran 2 tasks. Only the status tracker tells the truth about where
    the wall-clock went: a long stage whose width is far below
    ``defaultParallelism`` is a serialization bug no matter what the plan
    or the RDD view says. Wrap the WHOLE operator call in ``run`` (not
    just the final action) so eagerly-materialized stages
    (localCheckpoint barriers) are captured too.
    """
    import warnings

    from kafkasparkstream_spark.util import query_scope

    sc = spark.sparkContext
    with query_scope(spark, "stage width audit") as scope:
        run()
    tracker = sc.statusTracker()
    widths: dict[int, int] = {}
    evicted = 0
    for jid in tracker.getJobIdsForGroup(scope.group):
        info = tracker.getJobInfo(jid)
        if info is None:
            evicted += 1
            continue
        for sid in info.stageIds:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is None:
                evicted += 1
            else:
                widths[sid] = sinfo.numTasks
    if evicted:
        # A dropped stage could BE the narrow one — make truncation loud so
        # a "nothing serialized" conclusion is never built on missing data.
        warnings.warn(
            f"stage_task_widths: {evicted} job/stage record(s) already "
            "evicted from the status tracker (spark.ui.retained*); widths "
            "are incomplete",
            RuntimeWarning,
            stacklevel=2,
        )
    return widths
