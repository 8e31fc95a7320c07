"""Every registered query hash-matches its DuckDB oracle (driver's t2 gate,
run locally at sf0.01 — same scale the driver uses)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_CORRECT
from tests.oracle import (
    assert_matches_oracle,
    driver_canon_simulate,
    duckdb_describe,
    duckdb_run,
    oracle_type_ok,
)
from kafkasparkstream_spark.util import query_scope

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_oracle_types_driver_portable():
    """Registry-wide oracle type-audit (r04+r05 post-mortems): every oracle
    column must DESCRIBE in DuckDB to a SCALAR type that survives both
    pandas/arrow conversion and the driver's pandas canonicalization —
    {BIGINT, INTEGER, SMALLINT, TINYINT, DOUBLE, FLOAT, VARCHAR, DATE,
    TIMESTAMP, BOOLEAN}. DuckDB widens SUM(int) to HUGEINT (-> float64 via
    .df(), decimal128 via arrow), which the driver's type-sensitive hash
    rejects even when every value equals Spark's BIGINT — the r04
    shard_balance_stats / pack_sequences_512 failures. Lists (the r04
    whitelist allowed them) crash the driver's sort/factorize canon — the
    r05 inverted_index_postings failure. Neither class can be registered
    again."""
    bad = []
    for name, sql in sorted(ORACLES.items()):
        for col, typ in duckdb_describe(sql, SF_CORRECT):
            if not oracle_type_ok(typ):
                bad.append((name, col, typ))
    assert not bad, f"non-portable oracle result types: {bad}"


def test_oracle_type_audit_catches_planted_hugeint():
    """Self-test: the audit must reject the exact r04 failure shape —
    a bare SUM over an integer column (HUGEINT) and a DECIMAL cast."""
    planted = "SELECT SUM(n_chars) AS total_chars FROM documents"
    types = duckdb_describe(planted, SF_CORRECT)
    assert any(not oracle_type_ok(t) for _, t in types), types
    planted_dec = "SELECT CAST(1.5 AS DECIMAL(18,2)) AS x FROM documents LIMIT 1"
    types = duckdb_describe(planted_dec, SF_CORRECT)
    assert any(not oracle_type_ok(t) for _, t in types), types


def test_oracle_type_audit_rejects_planted_list():
    """Self-test for the r05 failure shape: a BIGINT[] result column passed
    the r04 'list-of-those' whitelist but crashes the driver's pandas
    canonicalizer. The tightened audit must reject it."""
    planted = "SELECT (list(doc_id ORDER BY doc_id))[1:3] AS head FROM documents"
    types = duckdb_describe(planted, SF_CORRECT)
    assert any(not oracle_type_ok(t) for _, t in types), types


def test_canon_simulation_catches_planted_list_column():
    """Self-test for the canon simulation itself: a frame with a list-typed
    cell must raise TypeError exactly as the driver's canonicalizer did in
    r05 (pandas ObjectHashTable._unique: unhashable type 'list'), and a
    scalar frame of every whitelisted type must pass."""
    import datetime as dt

    import pytest as _pytest

    ok_rows = [
        (1, 1.5, "a", dt.date(2024, 1, 1), dt.datetime(2024, 1, 1, 2), True),
        (2, float("nan"), None, None, None, False),
    ]
    assert driver_canon_simulate(list("abcdef"), ok_rows)

    bad_rows = [("t1", [1, 2, 3]), ("t2", [4])]
    with _pytest.raises(TypeError):
        driver_canon_simulate(["term", "postings_head"], bad_rows)
    # Single-column list frame must ALSO raise (the factorize leg; pandas'
    # one-column sort takes a comparison path that lists can survive).
    with _pytest.raises(TypeError):
        driver_canon_simulate(["postings_head"], [([1, 2],), ([3],)])


def test_all_oracles_survive_driver_canon():
    """Driver-canon simulation sweep (r05 generalization of the r04 type
    audit): every registered oracle's RESULT FRAME — not just its DESCRIBE
    types — must survive the driver's canonicalization procedure at
    sf0.001. The Spark side is canon-simulated per query inside
    assert_matches_oracle; this covers the DuckDB wire format cheaply."""
    sf_small = "/root/testdata/sf0.001"
    bad = []
    for name, sql in sorted(ORACLES.items()):
        cols, rows = duckdb_run(sql, sf_small)
        try:
            driver_canon_simulate(cols, rows)
        except TypeError as e:
            bad.append((name, str(e)))
    assert not bad, f"oracles whose result frame crashes driver canon: {bad}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None


def _persisted_rdds(spark) -> set[int]:
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    """Each query runs in its own query_scope, collect included, and must
    leave no RDD persisted once the scope exits: every cache and checkpoint
    it takes goes through the scope's helpers."""
    before = _persisted_rdds(spark)
    with query_scope(spark, name):
        df = QUERIES[name](spark, SF_CORRECT)
        if name in ORACLES:
            assert_matches_oracle(df, ORACLES[name], SF_CORRECT, name=name)
        else:
            # Non-SQL-expressible op: driver does a rows-only check.
            assert df.count() >= 0
    leaked = _persisted_rdds(spark) - before
    assert not leaked, f"{name} left {len(leaked)} persisted RDD(s) after its scope"



def test_read_through_cache_policy(spark):
    """Serving cache parity with the reference (app.py:143-185): TTL expiry,
    fill-only-when-filtered, fill-only-when-nonempty, key scheme."""
    from kafkasparkstream_spark.operators.serving import (
        ReadThroughCache,
        latest_readings,
    )
    from kafkasparkstream_spark.tables import load_table

    events = load_table(spark, "events", "/root/testdata/sf0.001")

    t = [0.0]
    cache = ReadThroughCache(ttl_seconds=300.0, clock=lambda: t[0])
    calls = [0]

    def q():
        calls[0] += 1
        return latest_readings(events, limit=5, event_type="click")

    key = ReadThroughCache.key("latest", event_type="click", location=None)
    assert key == "latest:event_type=click"

    r1 = cache.fetch(key, q, any_filter_set=True)
    r2 = cache.fetch(key, q, any_filter_set=True)
    assert calls[0] == 1 and r1 == r2 and cache.hits == 1  # second read = hit

    t[0] = 301.0  # past TTL -> re-run
    cache.fetch(key, q, any_filter_set=True)
    assert calls[0] == 2

    # Unfiltered results are never pinned (app.py:180: `if device_type or location`).
    k2 = ReadThroughCache.key("latest")
    cache.fetch(k2, q, any_filter_set=False)
    cache.fetch(k2, q, any_filter_set=False)
    assert calls[0] == 4

    # Empty results are not cached.
    def empty():
        calls[0] += 1
        return latest_readings(events, limit=5, event_type="no_such_type")

    k3 = ReadThroughCache.key("latest", event_type="no_such_type")
    assert cache.fetch(k3, empty, any_filter_set=True) == []
    cache.fetch(k3, empty, any_filter_set=True)
    assert calls[0] == 6
