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
    ``_batch_id`` per key (ties broken arbitrarily-but-deterministically by
    the max over remaining columns is unnecessary — a key appears at most
    once per micro-batch). One window-rank pass, shuffled on the key."""
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


def foreach_batch_upsert_sink(
    path: str,
    key_cols: tuple[str, ...],
    num_buckets: int = 16,
    skip_empty: bool = True,
    swallow_errors: bool = True,
) -> BatchSink:
    """Upsert-capable micro-batch sink: a key's refinement REPLACES its
    stored row, so the table itself is duplicate-free — ST3's production
    fix (SURVEY.md §2.9-ST3) as a storage property instead of the
    ``latest_state`` read-path convention.

    This is the parquet manifest-swap pattern (a minimal Delta/Iceberg
    MERGE equivalent, executable without lakehouse jars):

    - **Layout**: ``{path}/data/v{batch_id}/_kb={bucket}/part-*.parquet``
      where ``_kb = pmod(xxhash64(*key_cols), num_buckets)``;
      ``{path}/_manifest.json`` maps each bucket to its CURRENT version
      directory and carries the table schema.
    - **Per batch**: read only the AFFECTED buckets via the manifest
      (partition-pruned merge scope), anti-join stored rows against the
      batch's keys, union the batch rows, write the merged buckets to the
      new version dir in ONE distributed job, then atomically swap the
      manifest (tmp + ``os.replace``). Readers (:func:`read_upsert_table`)
      always see a complete consistent version set.
    - **Crash/retry**: a version dir that the manifest references is NEVER
      written again — a checkpoint replay of an already-swapped batch picks
      a fresh attempt-suffixed dir (``v{batch_id}a1``, ...), regenerates
      the same merged content from the current manifest, and swaps. So a
      crash at ANY point leaves the referenced dirs intact and the old
      manifest valid, and a replay converges to the identical row set —
      idempotent, proven by test.

    Scale: merge cost is proportional to the affected buckets, not the
    table (size ``num_buckets`` so a bucket ≈ a healthy task's worth of
    rows at target scale). The driver only touches the ≤``num_buckets``
    bucket ids and a tiny JSON manifest. On a real lakehouse the same
    callback body becomes ``MERGE INTO`` keyed on ``key_cols`` — this sink
    exists so retry-idempotence is testable END-TO-END here; the manifest
    swap is atomic on POSIX/HDFS renames (object stores need the
    lakehouse log protocol instead, which is exactly what Delta provides).
    """
    import json
    import os

    keys = list(key_cols)

    def _bucket(df: DataFrame):
        return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets))

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        # Three actions (affected-bucket collect, anti-join probe, final
        # write) share the batch that _batch_sink persisted.
        spark = batch_df.sparkSession
        man_path = os.path.join(path, "_manifest.json")
        try:
            with open(man_path) as f:
                manifest = json.load(f)
        except (OSError, ValueError):
            manifest = {"buckets": {}, "schema": None}

        if manifest["schema"] is not None:
            # Schema-on-write enforcement (the lakehouse contract): a
            # batch whose columns drift from the table would otherwise
            # land silently in fresh buckets and poison the manifest.
            from pyspark.sql.types import StructType

            stored = StructType.fromJson(json.loads(manifest["schema"]))
            sig = lambda st: [(f.name, f.dataType.simpleString()) for f in st]  # noqa: E731
            if sig(batch_df.schema) != sig(stored):
                raise ValueError(
                    f"upsert schema mismatch at {path}: batch "
                    f"{sig(batch_df.schema)} != table {sig(stored)}"
                )
        new = batch_df.withColumn("_kb", _bucket(batch_df))
        affected = sorted(
            r["_kb"] for r in new.select("_kb").distinct().collect()
        )
        # Never rewrite a dir the manifest references (crash safety +
        # no read-from-overwritten-path): replays of an already-swapped
        # batch take the next attempt suffix.
        referenced = set(manifest["buckets"].values())
        ver, attempt = f"v{batch_id}", 0
        while ver in referenced:
            attempt += 1
            ver = f"v{batch_id}a{attempt}"
        old_dirs = {
            b: os.path.join(path, "data", manifest["buckets"][str(b)], f"_kb={b}")
            for b in affected
            if str(b) in manifest["buckets"]
        }
        merged = new
        if old_dirs:
            old = spark.read.schema(batch_df.schema).parquet(*old_dirs.values())
            keep = old.join(new.select(*keys).distinct(), keys, "left_anti")
            merged = keep.withColumn("_kb", _bucket(keep)).unionByName(new)
        (
            merged.repartition("_kb")
            .write.mode("overwrite")
            .partitionBy("_kb")
            .parquet(os.path.join(path, "data", ver))
        )
        for b in affected:
            manifest["buckets"][str(b)] = ver
        manifest["schema"] = batch_df.schema.json()
        tmp = man_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, man_path)  # atomic: readers see old or new, never mixed

    return _batch_sink(_write, f"upsert {path}", skip_empty, swallow_errors)


def read_upsert_table(spark, path: str, schema: "StructType | str | None" = None) -> DataFrame:
    """Read the current snapshot of a :func:`foreach_batch_upsert_sink`
    table: the manifest names exactly one version dir per bucket, so the
    union of those dirs IS the table — duplicate-free by construction, no
    ``latest_state`` pass needed.

    A table whose stream never committed a batch (empty source +
    ``skip_empty``, or the query never ran) has no manifest yet: with a
    ``schema`` supplied this returns an empty DataFrame of that schema;
    without one it raises a descriptive error naming the sink path and
    the no-batches-written cause rather than a bare FileNotFoundError."""
    import json
    import os

    from pyspark.sql.types import StructType

    manifest_path = os.path.join(path, "_manifest.json")
    try:
        with open(manifest_path) as f:
            manifest = json.load(f)
    except FileNotFoundError:
        if schema is not None:
            return spark.createDataFrame([], schema)
        raise FileNotFoundError(
            f"upsert table at {path!r} has no manifest ({manifest_path!r}): "
            "no micro-batch has committed yet (empty source with skip_empty, "
            "or the stream never ran). Pass schema= to read it as empty."
        ) from None
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    dirs = [
        os.path.join(path, "data", ver, f"_kb={b}")
        for b, ver in sorted(manifest["buckets"].items())
    ]
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*dirs)


def vacuum_upsert_table(path: str) -> list[str]:
    """Delete version directories no longer referenced by the manifest and
    return their names.

    MUST be serialized with the writer — run it from the foreachBatch
    callback itself (e.g. every N batches, after the manifest swap) or
    while no streaming query is writing this table. It is NOT safe as an
    unsynchronized background job: an in-flight batch writes its new
    version dir BEFORE the manifest swap references it, so a concurrent
    vacuum in that window would see the dir as unreferenced, delete it,
    and the subsequent swap would publish a manifest pointing at a
    deleted directory (this is what Delta's retention window + lakehouse
    log exist to prevent; this minimal sink keeps only the current
    snapshot and has no such window). Under the serialized model every
    unreferenced dir really is garbage — a crashed attempt or a
    superseded version — and deleting it never races the swap."""
    import json
    import os
    import shutil

    data = os.path.join(path, "data")
    try:
        with open(os.path.join(path, "_manifest.json")) as f:
            referenced = set(json.load(f)["buckets"].values())
    except (OSError, ValueError):
        return []
    removed = []
    for ver in sorted(os.listdir(data)) if os.path.isdir(data) else []:
        if ver not in referenced:
            shutil.rmtree(os.path.join(data, ver), ignore_errors=True)
            removed.append(ver)
    return removed
