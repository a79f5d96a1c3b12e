"""Seeded TSBS-IoT data: a truck fleet written as line-protocol requests.

Two measurements, as in TSBS-IoT: ``readings`` (position and motion) and
``diagnostics`` (load, fuel, status). Both carry the tags ``name``,
``fleet``, ``driver`` and ``model``. Every timestamp is a fixed literal
derived from ``BASE_NS`` and the tick number, never the wall clock.

Each request body is built from the seed alone, so the same seed gives
byte-identical bodies. Next to each body the generator keeps the records it
encodes (measurement, series name, time, the fields present) in write
order; the answer checker replays those records into DuckDB.

Two kinds of irregular lines ride along:

* late: a point held back and sent in a later request, so its time is
  below the newest time already written;
* re-send: an already-written point sent again with new values for a
  subset of its fields. The omitted fields are NULL in that row, and
  last-write-wins must keep their earlier values.

A few trucks also go offline for some ticks (their points are never sent),
which gives the gap-fill query real gaps.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

BASE_NS = 1_451_606_400 * 1_000_000_000  # 2016-01-01T00:00:00Z, TSBS start
TICK_NS = 10 * 1_000_000_000  # one sample per truck every 10 s

FLEETS = ("East", "West", "North", "South")
MODELS = ("F-150", "G-2000", "H-2")
DRIVERS = ("Albert", "Derek", "Andy", "Seth", "Trish", "Rodney", "Mike", "Rick")

# field name -> (low, high, decimals); decimals=None marks an integer field
READINGS = {
    "latitude": (-90.0, 90.0, 4),
    "longitude": (-180.0, 180.0, 4),
    "elevation": (0.0, 5000.0, 1),
    "velocity": (0.0, 100.0, 1),
    "heading": (0.0, 360.0, 1),
    "grade": (0.0, 100.0, 1),
    "fuel_consumption": (0.0, 50.0, 2),
}
DIAGNOSTICS = {
    "load": (0.0, 5000.0, 1),
    "fuel_state": (0.0, 1.0, 3),
    "status": (0, 5, None),
}
MEASUREMENTS = {"readings": READINGS, "diagnostics": DIAGNOSTICS}
TAGS = ("name", "fleet", "driver", "model")

LATE_P = 0.03  # chance a point is held back 5-30 ticks
RESEND_P = 0.03  # chance, per point, that a re-send of an older point follows
OFFLINE_P = 0.25  # per-tick chance an offline-prone truck (every tenth) is silent


@dataclass(frozen=True)
class Record:
    """One line as written: ``fields`` holds only the fields present."""

    measurement: str
    name: str
    time_ns: int
    fields: dict


@dataclass
class Request:
    body: str
    records: list[Record] = field(default_factory=list)


def tick_ns(tick: int) -> int:
    return BASE_NS + tick * TICK_NS


def ns_literal(ns: int) -> str:
    """SQL timestamp literal ('YYYY-MM-DD HH:MM:SS') of a whole-second ns time."""
    t = datetime(1970, 1, 1) + timedelta(seconds=ns // 1_000_000_000)
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _value(rng: random.Random, spec) -> float | int:
    lo, hi, dec = spec
    if dec is None:
        return rng.randint(lo, hi)
    return round(rng.uniform(lo, hi), dec)


def _fmt(v) -> str:
    return f"{v}i" if isinstance(v, int) else repr(v)


class Fleet:
    """The truck fleet of one seed and the request stream it writes."""

    def __init__(self, seed: int, n_trucks: int):
        self.rng = random.Random(seed)
        self.n_trucks = n_trucks
        self.trucks = []
        for i in range(n_trucks):
            model = MODELS[self.rng.randrange(len(MODELS))]
            self.trucks.append({
                "name": f"truck_{i}",
                "fleet": FLEETS[self.rng.randrange(len(FLEETS))],
                "driver": DRIVERS[self.rng.randrange(len(DRIVERS))],
                "model": model,
            })
        self._tags = {
            t["name"]: ",".join(f"{k}={t[k]}" for k in TAGS) for t in self.trucks
        }
        self.next_tick = 0
        self.newest_ns = 0  # newest time written so far
        self._queue: list[Record] = []  # generated, not yet in a request
        self._held: list[tuple[int, Record]] = []  # (due tick, late point)
        self._sent: list[Record] = []  # complete points already written

    def tags_of(self, name: str) -> dict:
        return self.trucks[int(name.split("_")[1])]

    def line(self, r: Record) -> str:
        fields = ",".join(f"{k}={_fmt(v)}" for k, v in r.fields.items())
        return f"{r.measurement},{self._tags[r.name]} {fields} {r.time_ns}"

    def _advance(self) -> None:
        """Queue the next tick's points, the late points now due, and any
        re-sends of points written by earlier requests."""
        tick = self.next_tick
        self.next_tick += 1
        due = [r for t, r in self._held if t <= tick]
        self._held = [(t, r) for t, r in self._held if t > tick]
        self._queue.extend(due)
        for i, truck in enumerate(self.trucks):
            if i % 10 == 0 and self.rng.random() < OFFLINE_P:
                continue  # offline this tick
            for m, spec in MEASUREMENTS.items():
                r = Record(m, truck["name"], tick_ns(tick),
                           {k: _value(self.rng, s) for k, s in spec.items()})
                if self.rng.random() < LATE_P:
                    self._held.append((tick + self.rng.randint(5, 30), r))
                else:
                    self._queue.append(r)
                if self._sent and self.rng.random() < RESEND_P:
                    self._queue.append(self._resend())

    def _resend(self) -> Record:
        old = self._sent[self.rng.randrange(len(self._sent))]
        spec = MEASUREMENTS[old.measurement]
        keep = [k for k in spec if self.rng.random() < 0.5] or [next(iter(spec))]
        return Record(old.measurement, old.name, old.time_ns,
                      {k: _value(self.rng, spec[k]) for k in keep})

    def _emit(self, records: list[Record]) -> Request:
        self._sent.extend(
            r for r in records
            if len(r.fields) == len(MEASUREMENTS[r.measurement])
        )
        self.newest_ns = max([self.newest_ns, *(r.time_ns for r in records)])
        return Request("\n".join(self.line(r) for r in records), records)

    def request_lines(self, n_lines: int) -> Request:
        """The next ``n_lines`` lines of the stream as one request body
        (bulk load: a fixed line count per request)."""
        while len(self._queue) < n_lines:
            self._advance()
        records, self._queue = self._queue[:n_lines], self._queue[n_lines:]
        return self._emit(records)

    def request_ticks(self, n_ticks: int) -> Request:
        """Everything queued plus the next ``n_ticks`` ticks (realtime
        write: one sample per truck per tick)."""
        for _ in range(n_ticks):
            self._advance()
        records, self._queue = self._queue, []
        return self._emit(records)
