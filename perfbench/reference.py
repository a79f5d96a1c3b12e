"""Answer checker: a DuckDB reference over the generator's records.

``Reference`` replays the records of every acknowledged request into raw
DuckDB tables (one per measurement), each row stamped with its global write
order. The views ``readings`` and ``diagnostics`` apply last-write-wins the
way ``Catalog.read`` does: per (series, time), each field takes the value of
the latest write in which that field is not NULL, so a later NULL does not
erase an earlier value. Re-sent and late points are part of the replay.

``compare`` checks an engine answer (an Arrow table) against the reference
rows: same row count, same values in the same column order, rows compared as
multisets, floats to a relative 1e-9.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone

import duckdb
import pyarrow as pa

from gen import MEASUREMENTS, TAGS, Record

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


class Mismatch(AssertionError):
    """An engine answer that differs from the reference."""


def _arrow_type(spec) -> pa.DataType:
    return pa.int64() if spec[2] is None else pa.float64()


class Reference:
    def __init__(self, fleet):
        self.fleet = fleet
        self.con = duckdb.connect()
        self.seq = 0
        for m, spec in MEASUREMENTS.items():
            tags = ", ".join(f"{t} VARCHAR" for t in TAGS)
            cols = ", ".join(
                f"{f} {'BIGINT' if s[2] is None else 'DOUBLE'}" for f, s in spec.items()
            )
            self.con.execute(
                f"CREATE TABLE raw_{m} (seq BIGINT, {tags}, time TIMESTAMP, {cols})"
            )
            lww = ", ".join(
                f"arg_max({f}, CASE WHEN {f} IS NOT NULL THEN seq END) AS {f}"
                for f in spec
            )
            self.con.execute(
                f"CREATE VIEW {m} AS SELECT time, {', '.join(TAGS)}, {lww} "
                f"FROM raw_{m} GROUP BY time, {', '.join(TAGS)}"
            )

    def apply(self, records: list[Record]) -> None:
        """Replay one acknowledged request, in write order."""
        for m, spec in MEASUREMENTS.items():
            rows = [r for r in records if r.measurement == m]
            if not rows:
                continue
            cols = {"seq": pa.array(range(self.seq, self.seq + len(rows)), pa.int64())}
            self.seq += len(rows)
            for t in TAGS:
                cols[t] = pa.array([self.fleet.tags_of(r.name)[t] for r in rows])
            cols["time"] = pa.array([r.time_ns // 1000 for r in rows], pa.timestamp("us"))
            for f, s in spec.items():
                cols[f] = pa.array([r.fields.get(f) for r in rows], _arrow_type(s))
            batch = pa.table(cols)  # noqa: F841 — read by DuckDB by name
            self.con.execute(f"INSERT INTO raw_{m} SELECT * FROM batch")

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def _norm(v):
    """Comparable form of one value: timestamps as epoch µs, structs
    (time_window's start/end) flattened to a tuple."""
    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        d = v - _EPOCH
        return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, dict):
        return tuple(_norm(x) for x in v.values())
    return v


def _flat(row) -> tuple:
    out = []
    for v in row:
        v = _norm(v)
        out.extend(v if isinstance(v, tuple) else (v,))
    return tuple(out)


def _sort_key(row: tuple):
    return tuple((0, "") if v is None else (1, round(v, 6) if isinstance(v, float) else v)
                 for v in row)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def compare(table: pa.Table, expected: list[tuple]) -> None:
    """Raise ``Mismatch`` unless ``table`` holds exactly ``expected``."""
    got = sorted((_flat(r.values()) for r in table.to_pylist()), key=_sort_key)
    want = sorted((_flat(r) for r in expected), key=_sort_key)
    if len(got) != len(want):
        raise Mismatch(f"{len(got)} rows, expected {len(want)}")
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            raise Mismatch(f"row {g!r}, expected {w!r}")
