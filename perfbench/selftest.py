"""Self-test of the output checkers: each accepts the right answer and
rejects a deliberately corrupted one.  Needs no Spark.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import copy
import datetime as dt
import json
import sys
import tempfile

import checks
import gen


def agg_row(key: tuple, g: dict) -> dict:
    n = g["n"]
    return {
        "window_start": key[0], "window_end": key[0] + dt.timedelta(minutes=1),
        "device_type": key[1], "location": key[2],
        "avg_value": round(g["sum"] * 100 / n) / 10_000,
        "min_value": g["min"] / 100, "max_value": g["max"] / 100,
        "avg_battery": g["bsum"] / n / 100, "reading_count": n,
    }


def iso_rows(rows: list[dict]) -> list[dict]:
    return [{k: v.isoformat() if isinstance(v, dt.datetime) else v for k, v in r.items()}
            for r in rows]


def main() -> int:
    stream = gen.EventStream(seed=7, events_per_file=400, mean_gap_ms=400)
    with tempfile.TemporaryDirectory() as d:
        stream.write_files(d, 3, 0)
    events = stream.events
    exp = checks.Expected(events)
    failures = []

    def expect(name: str, ok: bool, want: bool) -> None:
        print(f"{'ok  ' if ok == want else 'FAIL'} {name}: "
              f"{'accepted' if ok else 'rejected'}")
        if ok != want:
            failures.append(name)

    # ---- endpoints: (url, right body, corruptions)
    filt = "device_type=humidity&location=kitchen"
    stats = exp.stats()
    stats_body = {
        "total_readings": stats["total_readings"],
        "device_type_distribution": dict(stats["device_type_distribution"]),
        "location_distribution": dict(stats["location_distribution"]),
        "time_range": stats["time_range"],
    }
    agg_body = iso_rows([agg_row(k, exp.groups[k]) for k in exp.aggregate_keys(6)])

    def tweak(body, fn):
        body = copy.deepcopy(body)
        fn(body)
        return body

    cases = {
        "/health": ({"status": "healthy"}, [
            ("unhealthy", {"status": "unhealthy"})]),
        "/api/sensors": (exp.sensors(), [
            ("one sensor dropped", exp.sensors()[1:]),
            ("order reversed", exp.sensors()[::-1])]),
        "/api/data/latest": (exp.latest(), [
            ("value changed", tweak(exp.latest(), lambda b: b[5].update(value=b[5]["value"] + 0.01))),
            ("101st row served", exp.latest()[1:] + [exp.latest()[0]]),
            ("microseconds dropped", tweak(exp.latest(), lambda b: b[0].update(
                timestamp=b[0]["timestamp"][:19])))]),
        f"/api/data/latest?{filt}": (exp.latest("humidity", "kitchen"), [
            ("filter ignored", exp.latest()),
            ("two rows swapped", tweak(exp.latest("humidity", "kitchen"),
                                       lambda b: b.insert(0, b.pop(1))))]),
        "/api/stats": (stats_body, [
            ("total off by one", tweak(stats_body, lambda b: b.update(
                total_readings=b["total_readings"] + 1))),
            ("distribution reordered", tweak(stats_body, lambda b: b.update(
                location_distribution=dict(reversed(b["location_distribution"].items())))))]),
        "/api/aggregates?hours=6": (agg_body, [
            ("avg off by 1e-4", tweak(agg_body, lambda b: b[3].update(
                avg_value=b[3]["avg_value"] + 1e-4))),
            ("count off by one", tweak(agg_body, lambda b: b[0].update(
                reading_count=b[0]["reading_count"] + 1))),
            ("stale window kept", agg_body + agg_body[-1:]),
            ("windows in ascending order", agg_body[::-1])]),
    }
    for url, (right, wrongs) in cases.items():
        expect(f"{url} right body", exp.check(url, 200, json.dumps(right).encode()), True)
        for label, body in wrongs:
            expect(f"{url} {label}", exp.check(url, 200, json.dumps(body).encode()), False)
    expect("/api/sensors status 500", exp.check("/api/sensors", 500, b"[]"), False)

    # ---- sinks
    raw = [{"device_id": e.device_id, "device_type": e.device_type, "location": e.location,
            "value": e.value, "battery_level": e.battery_level, "timestamp": e.ts}
           for e in events]
    expect("raw sink exact", checks.check_raw_sink(raw, events) == 0, True)
    expect("raw sink missing a row", checks.check_raw_sink(raw[1:], events) == 0, False)
    expect("raw sink duplicate row", checks.check_raw_sink(raw + raw[:1], events) == 0, False)
    expect("raw sink value changed", checks.check_raw_sink(
        tweak(raw, lambda b: b[9].update(value=b[9]["value"] + 0.01)), events) == 0, False)

    batched = [(1, agg_row(k, g)) for k, g in exp.groups.items()]
    first = next(iter(exp.groups))
    stale = dict(agg_row(first, exp.groups[first]), reading_count=1)
    latest = checks.latest_rows(batched + [(0, stale)])
    expect("agg sink exact, refinement resolved", checks.check_agg_sink(latest, events) == 0, True)
    expect("agg sink serves stale refinement", checks.check_agg_sink(
        checks.latest_rows(batched + [(2, stale)]), events) == 0, False)
    expect("agg sink avg off by 1e-4", checks.check_agg_sink(
        {k: dict(r, avg_value=r["avg_value"] + 1e-4) for k, r in latest.items()},
        events) == 0, False)
    expect("agg sink group missing", checks.check_agg_sink(
        dict(list(latest.items())[1:]), events) == 0, False)

    print(f"\n{len(failures)} checker failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
