"""Expected outputs recomputed in plain Python from the generated events,
and the checkers that compare the program's outputs with them.

Nothing here imports the program: the sinks are read back with pyarrow
straight from their parquet files, and every endpoint body is rebuilt from
the event list.  Each checker returns the number of operations it finds
wrong.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter
from urllib.parse import parse_qs, urlsplit

from gen import Event

AVG_TOL = 0.5e-4 + 1e-9  # half a unit of the 4th decimal
FLOAT_TOL = 1e-7  # a plain double average of 2 dp values


def minute(ts: dt.datetime) -> dt.datetime:
    return ts.replace(second=0, microsecond=0)


def group_aggregates(events: list[Event]) -> dict[tuple, dict]:
    """Per-(window start, type, location): count, min, max, exact sums."""
    groups: dict[tuple, dict] = {}
    for e in events:
        key = (minute(e.ts), e.device_type, e.location)
        g = groups.get(key)
        if g is None:
            groups[key] = {"n": 1, "min": e.cents, "max": e.cents,
                           "sum": e.cents, "bsum": e.battery_cents}
        else:
            g["n"] += 1
            g["min"] = min(g["min"], e.cents)
            g["max"] = max(g["max"], e.cents)
            g["sum"] += e.cents
            g["bsum"] += e.battery_cents
    return groups


def agg_row_ok(row: dict, g: dict) -> bool:
    """One served/stored aggregate row against its recomputed group."""
    n = g["n"]
    return (
        row["reading_count"] == n
        and row["min_value"] == g["min"] / 100
        and row["max_value"] == g["max"] / 100
        and abs(row["avg_value"] - g["sum"] / n / 100) <= AVG_TOL
        and abs(row["avg_battery"] - g["bsum"] / n / 100) <= FLOAT_TOL
    )


# --------------------------------------------------------------- sinks ----

def read_sink(path: str) -> list[tuple[int, dict]]:
    """Every row of a batch-partitioned parquet sink as (batch id, row)."""
    import pyarrow.parquet as pq

    out = []
    for part in sorted(os.listdir(path)):
        if not part.startswith("_batch_id="):
            continue
        batch = int(part.split("=", 1)[1])
        for name in sorted(os.listdir(os.path.join(path, part))):
            if name.endswith(".parquet"):
                table = pq.read_table(os.path.join(path, part, name),
                                      coerce_int96_timestamp_unit="us")
                out += [(batch, row) for row in table.to_pylist()]
    return out


def check_raw_sink(rows: list[dict], events: list[Event]) -> int:
    """Events missing from the raw sink, plus rows it holds that no event
    produced (the sink must hold exactly the generated multiset)."""
    def key(r):
        return (r["device_id"], r["device_type"], r["location"],
                r["value"], r["battery_level"], r["timestamp"])

    want = Counter((e.device_id, e.device_type, e.location, e.value,
                    e.battery_level, e.ts) for e in events)
    got = Counter(key(r) for r in rows)
    return sum(((want - got) + (got - want)).values())


def latest_rows(batched: list[tuple[int, dict]]) -> dict[tuple, dict]:
    """Update-mode refinements resolved: the last batch's row per key."""
    best: dict[tuple, tuple[int, dict]] = {}
    for batch, row in batched:
        key = (row["window_start"], row["device_type"], row["location"])
        if key not in best or batch > best[key][0]:
            best[key] = (batch, row)
    return {k: r for k, (_, r) in best.items()}


def check_agg_sink(latest: dict[tuple, dict], events: list[Event]) -> int:
    """Events whose (minute, type, location) group is stored wrong or not at
    all, plus stored rows for groups no event fell into."""
    groups = group_aggregates(events)
    bad = 0
    for key, g in groups.items():
        row = latest.get(key)
        if row is None or row["window_end"] != key[0] + dt.timedelta(minutes=1) \
                or not agg_row_ok(row, g):
            bad += g["n"]
    bad += sum(1 for key in latest if key not in groups)
    return bad


# ----------------------------------------------------------- endpoints ----

class Expected:
    """Every endpoint body, rebuilt from the events the sinks were built from."""

    def __init__(self, events: list[Event]):
        self.events = events
        self.by_time = sorted(events, key=lambda e: e.ts, reverse=True)
        self.groups = group_aggregates(events)
        self.anchor = max(k[0] for k in self.groups)

    def sensors(self) -> list[dict]:
        dims = {(e.device_id, e.device_type, e.location) for e in self.events}
        return [{"device_id": d, "device_type": t, "location": loc}
                for d, t, loc in sorted(dims, key=lambda x: (x[1], x[2], x[0]))]

    def latest(self, device_type=None, location=None) -> list[dict]:
        rows = [e for e in self.by_time
                if (device_type is None or e.device_type == device_type)
                and (location is None or e.location == location)][:100]
        return [{"device_id": e.device_id, "device_type": e.device_type,
                 "location": e.location, "value": e.value,
                 "battery_level": e.battery_level, "timestamp": e.ts.isoformat()}
                for e in rows]

    def aggregate_keys(self, hours: int, device_type=None, location=None) -> list[tuple]:
        lo = self.anchor - dt.timedelta(hours=hours)
        keys = [k for k in self.groups if k[0] >= lo
                and (device_type is None or k[1] == device_type)
                and (location is None or k[2] == location)]
        keys.sort(key=lambda k: (k[1], k[2]))
        keys.sort(key=lambda k: k[0], reverse=True)
        return keys

    def stats(self) -> dict:
        def ordered(c: Counter) -> list:
            return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))

        ts = [e.ts for e in self.events]
        return {
            "total_readings": len(self.events),
            "device_type_distribution": ordered(Counter(e.device_type for e in self.events)),
            "location_distribution": ordered(Counter(e.location for e in self.events)),
            "time_range": {"earliest": min(ts).isoformat(), "latest": max(ts).isoformat()},
        }

    def check(self, url: str, status: int, body: bytes) -> bool:
        """Whether one response is the right answer to ``url``."""
        if status != 200:
            return False
        got = json.loads(body)
        parts = urlsplit(url)
        q = {k: v[0] for k, v in parse_qs(parts.query).items()}
        dims = {"device_type": q.get("device_type"), "location": q.get("location")}
        if parts.path == "/health":
            return got.get("status") == "healthy"
        if parts.path == "/api/sensors":
            return got == self.sensors()
        if parts.path == "/api/data/latest":
            return got == self.latest(**dims)
        if parts.path == "/api/stats":
            want = self.stats()
            return (
                got["total_readings"] == want["total_readings"]
                and list(got["device_type_distribution"].items())
                == want["device_type_distribution"]
                and list(got["location_distribution"].items())
                == want["location_distribution"]
                and got["time_range"] == want["time_range"]
            )
        if parts.path == "/api/aggregates":
            keys = self.aggregate_keys(int(q["hours"]), **dims)
            if len(got) != len(keys):
                return False
            for row, key in zip(got, keys):
                if (row["window_start"], row["device_type"], row["location"]) != \
                        (key[0].isoformat(), key[1], key[2]) \
                        or row["window_end"] != (key[0] + dt.timedelta(minutes=1)).isoformat() \
                        or not agg_row_ok(row, self.groups[key]):
                    return False
            return True
        return False
