"""Custom stateful streaming operator via applyInPandasWithState.

The reference has no stateful ops beyond the windowed aggregate (SURVEY.md
§2.9: "mapGroupsWithState etc.: none"); this is the engine's extension
point for semantics the built-in operators can't express — running
per-key accumulators, custom eviction, cross-batch counters.

``running_user_totals`` keeps (event_count, value_sum) per user in the
state store and emits the updated totals for every user seen in each
micro-batch — the canonical update-mode accumulator. State is Arrow-encoded
pandas on the Python side; the state store itself (checkpointing, recovery,
partitioning by key) is Spark's.

Scale notes: state is partitioned by the group key across as many state
stores as the query's shuffle-partition count when its checkpoint was
created; :func:`~kafkasparkstream_spark.streaming.pipeline.pinned_shuffle_partitions`
sets that count, as ``start_pipeline`` does for the windowed aggregate. Per-key
state here is two scalars, so the per-key cost is tiny.
For unbounded key domains, pass ``idle_timeout_ms`` to evict idle keys
(ProcessingTimeTimeout) so the store is bounded by the active key set — but
ONLY on continuously-triggered deployments: measured on this Spark build, a
``Trigger.AvailableNow`` query whose plan carries ProcessingTimeTimeout
never terminates (it spins empty micro-batches re-arming timeouts — 86
batches in 60 s for one key), so eviction cannot be the default without
breaking every batch-style/backfill run.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("sum_value", DoubleType(), False),
    ]
)

# NOTE — on-disk state contract: ``s`` became LongType (exact integer cents)
# in the round-3 grid migration; it was DoubleType before. Streaming state
# schema is part of the checkpoint format, so a checkpoint written by the old
# applyInPandasWithState schema will fail (or silently misread state) on
# restart after this upgrade. There is no in-place migration: point upgraded
# pipelines at a NEW checkpointLocation (and, for exactly-once sinks, replay
# from the source or seed initial state from the sink's latest_state read).
_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType(), False),
        StructField("s", LongType(), False),
    ]
)


def _fold_totals(prior: tuple | None, pdfs) -> tuple:
    """Shared accumulate-and-emit body for BOTH stateful APIs: fold the
    micro-batch frames into (n, s) on top of prior state and build the
    one-row emission. One definition so the GroupState and
    transformWithState twins cannot drift semantically (the tws parity
    test cannot run where protobuf is absent).

    ``s`` is the exact integer-CENTS sum (np.rint is safe: a 2dp double
    ×100 sits within an ulp of its integer, never on a .5), so the running
    total is independent of micro-batch boundaries and row order — a float
    accumulator would drift from the batch shadow by summation order."""
    import numpy as np

    n, s = prior if prior is not None else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        s += int(np.rint(pdf["value"].fillna(0.0).to_numpy() * 100).astype("int64").sum())
    return n, s


def _totals_row(key: tuple, n: int, s: int) -> pd.DataFrame:
    return pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [s / 100.0]}
    )


def running_user_totals(
    parsed: DataFrame,
    key_col: str = "user_id",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Cross-batch running (count, sum) per key; emits current totals for
    every key present in the micro-batch (update semantics).

    **Eviction** (``idle_timeout_ms=<ms>``): a key idle for that much
    processing time has its state dropped on the next trigger, bounding the
    store by the *active* key set even when the key domain is unbounded
    (user ids, session ids, crawl URLs). A key returning after eviction
    restarts its totals from zero — the right trade for monitoring-style
    consumers. Always set it on continuously-triggered production pipelines
    with unbounded keys; it stays opt-in (default ``None`` = keep-forever
    NoTimeout accumulator) because ProcessingTimeTimeout makes
    ``Trigger.AvailableNow`` queries spin forever instead of terminating
    (see module docstring) — a default that hangs every backfill is worse
    than a default that needs a flag in production."""
    evict = idle_timeout_ms is not None

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if evict and state.hasTimedOut:
            state.remove()  # idle key: drop state, emit nothing
            return
        n, s = _fold_totals(state.get if state.exists else None, pdfs)
        state.update((n, s))
        if evict:
            state.setTimeoutDuration(idle_timeout_ms)
        yield _totals_row(key, n, s)

    return parsed.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout if evict else GroupStateTimeout.NoTimeout
        ),
    )


def running_user_totals_tws(
    parsed: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """The same cross-batch (count, sum) accumulator on Spark 4's
    ``transformWithStateInPandas`` — the successor API to
    applyInPandasWithState, with composable named state variables
    (ValueState here; ListState/MapState/timers/TTL are the growth path a
    GroupState tuple can't offer). Requires the RocksDB state store
    provider (``session.use_rocksdb_state``); semantics are pinned
    identical to :func:`running_user_totals` by test.

    Scale shape is unchanged: state partitioned by key across the
    state-store count fixed at checkpoint creation, two scalars per key,
    Arrow-batched Python execution."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            prior = self._totals.get() if self._totals.exists() else None
            n, s = _fold_totals(prior, rows)
            self._totals.update((n, s))
            yield _totals_row(key, n, s)

        def close(self) -> None:
            pass

    return parsed.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=RUNNING_TOTALS_SCHEMA,
        outputMode="update",
        timeMode="none",
    )
