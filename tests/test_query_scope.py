"""``query_scope`` owns every cache and checkpoint block a query takes.

A query's blocks live until its scope exits; on exit, normal or by
exception, the scope frees exactly those blocks and restores the caller's
job group. Outside any scope the helpers are the plain Spark calls, so the
driver contract (a registry query returns a lazy DataFrame collected later)
is unchanged.
"""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from kafkasparkstream_spark.util import current_scope, query_scope
from tests.conftest import SF_CORRECT

PKG = pathlib.Path(__file__).resolve().parent.parent / "kafkasparkstream_spark"


def _persisted(spark) -> set[int]:
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())


def _take_all_three(spark):
    """A persist, an eager checkpoint and a lazy checkpoint, all materialized."""
    scope = current_scope()
    base = spark.range(500).withColumn("v", F.col("id") * 2)
    cached = scope.persist(base.filter("id % 2 = 0"))
    eager = scope.checkpoint(base.filter("id % 3 = 0"))
    lazy = scope.checkpoint(base.filter("id % 5 = 0"), eager=False)
    assert (cached.count(), eager.count(), lazy.count()) == (250, 167, 100)


def test_scope_frees_persist_and_both_checkpoints_on_exit(spark):
    before = _persisted(spark)
    with query_scope(spark, "three_blocks"):
        _take_all_three(spark)
        assert len(_persisted(spark) - before) == 3
    assert _persisted(spark) - before == set()


def test_scope_frees_blocks_when_the_block_raises(spark):
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="query failed"):
        with query_scope(spark, "raises"):
            _take_all_three(spark)
            raise RuntimeError("query failed")
    assert _persisted(spark) - before == set()


def test_scope_restores_callers_job_group_and_description(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller description")
    try:
        with query_scope(spark, "inner") as scope:
            assert sc.getLocalProperty("spark.jobGroup.id") == scope.group
            assert sc.getLocalProperty("spark.job.description") == "inner"
            spark.range(10).count()
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        jobs = sc.statusTracker().getJobIdsForGroup(scope.group)
        assert jobs, "the scope's jobs ran outside its job group"
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)


def test_nested_scope_frees_only_its_own_blocks(spark):
    before = _persisted(spark)
    with query_scope(spark, "outer") as outer:
        kept = outer.checkpoint(spark.range(100))
        outer_blocks = _persisted(spark) - before
        with query_scope(spark, "inner"):
            current_scope().checkpoint(spark.range(200))
            assert len(_persisted(spark) - before) == 2
        assert _persisted(spark) - before == outer_blocks
        assert kept.count() == 100  # the outer block is still readable
    assert _persisted(spark) - before == set()


def test_free_releases_a_held_block_before_exit(spark):
    before = _persisted(spark)
    with query_scope(spark, "early_free") as scope:
        superseded = scope.checkpoint(spark.range(100))
        kept = scope.persist(spark.range(50))
        assert kept.count() == 50
        scope.free(superseded)
        assert len(_persisted(spark) - before) == 1
    assert _persisted(spark) - before == set()


def test_tracked_query_outside_a_scope_returns_the_same_rows(spark):
    """The driver calls a registry query and collects it with no scope: the
    helpers then do a plain checkpoint, and the rows match a scoped run."""
    q = entrymod.queries()["ann_recall_report"]
    unscoped = sorted(map(tuple, q(spark, SF_CORRECT).collect()))
    with query_scope(spark, "ann_recall_report"):
        scoped = sorted(map(tuple, q(spark, SF_CORRECT).collect()))
    assert unscoped == scoped
    assert unscoped


def test_every_persist_and_checkpoint_goes_through_the_scope():
    """Keeps the single path single: a raw ``.persist(`` or checkpoint call
    under the package bypasses the scope and leaks its blocks past the
    query. ``streaming/sinks.py`` frees its per-batch persist in the same
    call's ``finally``."""
    raw = re.compile(r"(?<!scope)(?<!scope\(\))\.(persist|localCheckpoint|checkpoint)\(")
    allowed = {PKG / "util.py", PKG / "streaming" / "sinks.py"}
    hits = [
        f"{path.relative_to(PKG.parent)}:{i}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path not in allowed
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if raw.search(line)
    ]
    assert not hits, "raw persist/checkpoint calls bypass query_scope:\n" + "\n".join(hits)


def test_every_registry_replay_runs_through_one_helper():
    """One way to land a bounded streaming replay: the ``availableNow``
    trigger appears once in the streaming registry module, inside
    ``_replay``, which owns the sink, checkpoint, clamp and wait."""
    path = PKG / "queries" / "streaming.py"
    lines = path.read_text().splitlines()
    hits = [i for i, line in enumerate(lines) if "trigger(availableNow=True)" in line]
    assert len(hits) == 1, f"{len(hits)} availableNow triggers in {path.name}: {hits}"
    defs = [i for i, line in enumerate(lines[: hits[0]]) if line.startswith("def ")]
    assert defs and lines[defs[-1]].startswith("def _replay(")
