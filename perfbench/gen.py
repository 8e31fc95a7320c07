"""Seeded inputs: the sensor event stream and the dashboard request sequence.

Domains follow the reference producer: devices ``sensor_1..sensor_100``,
five device types, six locations, value and battery in [0, 100) at two
decimals.  Event time is strictly increasing -- gaps drawn uniformly from
half to one and a half times a mean gap, 100 ms being the reference
producer's designed 10 events/s -- so every timestamp is distinct, which
``/api/data/latest`` needs as it orders by timestamp alone, and every
event is ahead of the 1-minute watermark.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from typing import NamedTuple

DEVICE_TYPES = ("temperature", "humidity", "pressure", "motion", "light")
LOCATIONS = ("room1", "room2", "kitchen", "living_room", "bathroom", "outdoor")
N_DEVICES = 100
EPOCH = dt.datetime(2024, 1, 1)


class Event(NamedTuple):
    device_id: str
    device_type: str
    location: str
    cents: int  # value * 100, exact
    battery_cents: int
    ts: dt.datetime  # naive UTC, microsecond resolution

    @property
    def value(self) -> float:
        return self.cents / 100

    @property
    def battery_level(self) -> float:
        return self.battery_cents / 100

    def to_json(self) -> str:
        return (
            f'{{"device_id": "{self.device_id}", "device_type": "{self.device_type}", '
            f'"location": "{self.location}", "value": {self.value!r}, '
            f'"battery_level": {self.battery_level!r}, '
            f'"timestamp": "{self.ts.isoformat(timespec="microseconds")}"}}'
        )


class EventStream:
    """An endless seeded event sequence, handed out in fixed-size files."""

    def __init__(self, seed: int, events_per_file: int, mean_gap_ms: int):
        self._rng = random.Random(f"events-{seed}")
        self._us = 0
        self._gap_us = (mean_gap_ms * 500, mean_gap_ms * 1500)
        self.events_per_file = events_per_file
        self.events: list[Event] = []  # everything handed out so far

    def _next(self) -> Event:
        r = self._rng
        self._us += r.randint(*self._gap_us)
        return Event(
            f"sensor_{r.randint(1, N_DEVICES)}",
            r.choice(DEVICE_TYPES),
            r.choice(LOCATIONS),
            r.randrange(10_000),
            r.randrange(10_000),
            EPOCH + dt.timedelta(microseconds=self._us),
        )

    def write_files(self, directory: str, n_files: int, first_index: int,
                    events_per_file: int | None = None) -> list[str]:
        """Write ``n_files`` JSON-lines files named by their global index."""
        os.makedirs(directory, exist_ok=True)
        paths = []
        for i in range(first_index, first_index + n_files):
            batch = [self._next() for _ in range(events_per_file or self.events_per_file)]
            self.events.extend(batch)
            path = os.path.join(directory, f"events-{i:05d}.json")
            with open(path, "w") as f:
                f.write("\n".join(e.to_json() for e in batch) + "\n")
            paths.append(path)
        return paths


def request_round(seed: int, round_no: int, page_loads: int) -> list[list[str]]:
    """The URLs of one round of ``page_loads`` dashboard page loads.

    A page load asks each of the five reference endpoints once, and the
    latest readings twice: unfiltered (never cached) and filtered by the
    round's seeded (type, location) pair.  Every round has the same
    make-up, so the cache-hit share is a constant of the workload: the
    first filtered view of a round misses and the rest hit, so the latest
    endpoint's hit share is ``(page_loads - 1) / (2 * page_loads)`` (5/12
    at six loads) and every page load but a round's first is in the hit
    mode.
    """
    r = random.Random(f"requests-{seed}-{round_no}")
    pair = (r.choice(DEVICE_TYPES), r.choice(LOCATIONS))
    pages = []
    for _ in range(page_loads):
        hours = r.choice((1, 6, 24))
        agg_filter = r.choice(("", f"&device_type={pair[0]}",
                               f"&device_type={pair[0]}&location={pair[1]}"))
        pages.append([
            "/health",
            "/api/stats",
            "/api/sensors",
            "/api/data/latest",
            f"/api/data/latest?device_type={pair[0]}&location={pair[1]}",
            f"/api/aggregates?hours={hours}{agg_filter}",
        ])
    return pages


def endpoint(url: str) -> str:
    """The endpoint name a URL is reported under."""
    path = url.split("?", 1)[0]
    return {"/health": "health", "/api/stats": "stats", "/api/sensors": "sensors",
            "/api/data/latest": "latest", "/api/aggregates": "aggregates"}[path]
