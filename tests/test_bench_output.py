"""Contract tests for bench.py's stdout line.

The driver captures only the last 2000 bytes of bench stdout; round 1 lost the
official bench record because the JSON line was 2.8 KB. These tests pin that
the emitted line always fits the window for the *current* registry and that
the short-key mapping is deterministic and collision-free — without starting
Spark.
"""

from __future__ import annotations

import json

import bench
import __spark_entry__ as entrymod


def _fake_timings():
    return {name: 1.2345 for name in entrymod.queries()}


def test_bench_line_fits_driver_window():
    timings = _fake_timings()
    line, mapping = bench._fit_line(timings, sum(timings.values()), 0.1)
    assert len(line) <= bench.STDOUT_BUDGET, (
        f"bench stdout line is {len(line)} bytes; driver only captures the "
        f"last 2000 — the registry outgrew the line's byte budget"
    )
    parsed = json.loads(line)
    assert parsed["metric"] == "total_query_sec"
    assert parsed["unit"] == "sec"
    assert len(parsed["queries"]) == len(timings), "a timing was dropped"


def test_short_keys_unique_and_reversible():
    timings = _fake_timings()
    line, mapping = bench._fit_line(timings, sum(timings.values()), 0.1)
    parsed = json.loads(line)
    # every short key maps back to exactly one registered query name
    assert set(mapping.keys()) == set(parsed["queries"].keys())
    assert sorted(mapping.values()) == sorted(timings.keys())


def test_empty_frozen_map_mints_unique_keys_that_fit(monkeypatch):
    """Without a committed BENCH_KEYS.json every name draws a pool key, and
    the line still fits the window with every timing present."""
    monkeypatch.setattr(bench, "_load_frozen_keys", lambda: {})
    timings = _fake_timings()
    line, mapping = bench._fit_line(timings, sum(timings.values()), 0.1)
    parsed = json.loads(line)
    assert len(line) <= bench.STDOUT_BUDGET
    assert len(parsed["queries"]) == len(timings)
    assert sorted(mapping.values()) == sorted(timings)
    assert set(mapping) == set(parsed["queries"])


def test_frozen_keys_reused_verbatim():
    """r10 (VERDICT r9 #3): the committed BENCH_KEYS.json assignment is
    frozen — every registered query that appears in it keeps its key, so
    the driver's round-over-round literal key join always matches."""
    frozen = bench._load_frozen_keys()  # full -> short
    if not frozen:  # fresh checkout without the committed map
        return
    timings = _fake_timings()
    line, mapping = bench._fit_line(timings, sum(timings.values()), 0.1)
    short_of = {v: k for k, v in mapping.items()}  # full -> short
    for full, short in frozen.items():
        if full in timings:
            assert short_of[full] == short, (full, short_of[full], short)


def test_frozen_keys_new_queries_mint_unused_keys():
    """A new query never steals a frozen key (including retired ones)."""
    frozen = bench._load_frozen_keys()
    if not frozen:
        return
    timings = _fake_timings()
    timings["zz_brand_new_query_name"] = 1.0
    line, mapping = bench._fit_line(timings, sum(timings.values()), 0.1)
    short_of = {v: k for k, v in mapping.items()}
    new_key = short_of["zz_brand_new_query_name"]
    assert new_key not in frozen.values()
    assert len(set(short_of.values())) == len(short_of)


def test_mixed_precision_upgrades_slowest_cells():
    """When uniform precision cannot fit, the heaviest cells still get 2dp
    (VERDICT r9 #7: whole-second stdout made the scaling probe unreadable)."""
    import __spark_entry__ as entrymod

    names = sorted(entrymod.queries())
    timings = {n: 0.4321 for n in names}
    heavy = names[0]
    timings[heavy] = 9.8765
    line, mapping = bench._fit_line(timings, sum(timings.values()), 0.1)
    parsed = json.loads(line)
    short_of = {v: k for k, v in mapping.items()}
    assert parsed["queries"][short_of[heavy]] == 9.88
