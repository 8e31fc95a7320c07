"""foreachBatch sinks (S2/S3/ST7/ST8, SURVEY.md §2.1/§2.9).

The reference routes every micro-batch through one callback that JDBC-appends
to Postgres, skipping empty batches and swallowing write errors
(processor.py:124-140). We keep that contract but write to the engine's own
managed parquet tables, and fix the documented update-mode flaw:

**ST3 caveat** — the reference appends update-mode batches blindly, so a
window's row is re-written every time it refines and consumers see duplicate
(window, dims) keys (processor.py:105+133). Our sink stamps each row with the
micro-batch id; :func:`latest_state` resolves duplicates by taking the
highest batch id per key — an idempotent read. On a production lakehouse the
same callback body becomes a Delta/Iceberg MERGE keyed on (window, dims).

Scale notes: each micro-batch write is a plain distributed parquet append
(one file per partition, no driver collect). ``skip_empty`` avoids the
empty-batch file churn. Every sink runs its batch through :func:`_batch_sink`,
which persists the batch around the empty probe and the write: unpersisted,
each action would re-execute the micro-batch plan — the stateful aggregate
and its state-store loads and commits included. Errors isolate per batch
(logged, stream continues) exactly like the reference — surface metrics
instead of dying.
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

BatchSink = Callable[[DataFrame, int], None]


def _batch_sink(
    write: BatchSink, target: str, skip_empty: bool, swallow_errors: bool
) -> BatchSink:
    """The shared foreachBatch scaffolding (processor.py:124-140): persist
    the batch, skip it if empty (ST8), ``write`` it, isolate a failure
    (ST7: logged, or raised with ``swallow_errors=False``), unpersist.

    The persist makes the micro-batch plan run once per batch however many
    actions the write takes; the empty probe then only fills the first
    cached partition, which the write reuses."""

    def _run(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            if skip_empty and batch_df.isEmpty():  # ST8 (processor.py:127)
                log.info("batch %s empty, skipping %s", batch_id, target)
                return
            write(batch_df, batch_id)
        except Exception:  # noqa: BLE001 — ST7 (processor.py:139-140)
            if not swallow_errors:
                raise
            log.exception("batch %s write to %s failed (isolated)", batch_id, target)
        finally:
            batch_df.unpersist()

    return _run


def foreach_batch_parquet_sink(
    path: str,
    skip_empty: bool = True,
    swallow_errors: bool = True,
) -> BatchSink:
    """Micro-batch callback writing to a parquet table partitioned by the
    batch id (processor.py:124-140 analog).

    **Write idempotence (exceeds the reference's at-least-once contract):**
    each batch overwrites its own ``_batch_id=N`` partition directory, so a
    RETRIED micro-batch (checkpoint replay after a crash between sink write
    and offset commit) replaces its own partition instead of
    double-appending — the reference duplicates in that window
    (processor.py:133). Reads of ``path`` see ``_batch_id`` as a partition
    column; update-mode streams additionally resolve refinements with
    :func:`latest_state`."""
    import os

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        # The batch id goes in the directory name, not in a literal column
        # with partitionBy: the literal would differ per batch, so Spark's
        # codegen cache would miss and compile two more classes for every
        # batch, each warmed by the JIT from scratch.
        batch_df.write.mode("overwrite").parquet(os.path.join(path, f"_batch_id={batch_id}"))

    return _batch_sink(_write, path, skip_empty, swallow_errors)


def latest_state(df: DataFrame, key_cols: tuple[str, ...]) -> DataFrame:
    """Resolve update-mode duplicate appends: keep the row with the highest
    ``_batch_id`` per key. In update mode a key appears at most once per
    micro-batch, so that row is unique and no tie-break is needed. One
    window-rank pass, shuffled on the key."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(F.desc("_batch_id"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_batch_id")
    )


def foreach_batch_jdbc_sink(
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    skip_empty: bool = True,
    swallow_errors: bool = True,
) -> BatchSink:
    """Micro-batch callback appending to a JDBC table — the reference's
    actual sink (S3, processor.py:124-140: ``batch_df.write.jdbc(url, table,
    mode="append", properties)`` behind an empty-batch skip and a
    swallow-and-continue error guard).

    Parquet (:func:`foreach_batch_parquet_sink`) is this engine's primary
    sink; the JDBC path exists for reference-parity serving stores. The
    write is executor-distributed (one connection per partition) — for
    stores that dislike wide fan-in, ``coalesce`` the batch first. Requires
    the JDBC driver jar on the classpath (the reference pins
    ``org.postgresql:postgresql:42.5.1``, processor.py:35).
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.jdbc(url, table, mode="append", properties=properties or {})

    return _batch_sink(_write, f"jdbc {table}", skip_empty, swallow_errors)
