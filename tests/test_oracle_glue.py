"""Registry rows whose Spark side is the Engine's SQL expression plus glue
for the oracle's edge rules, run against their DuckDB oracle on a small
hand-made ``events`` table. The table holds what the generated fixtures
lack: NULL values and NULL states, states seen only at a series' last
point, a series whose values are all NULL, one whose states are all NULL,
NULL user_ids, a single-point series, a mode tie, NULL states around the
``state_at`` timestamp (2024-01-15 00:00:00), and two 'error' periods
whose exact total is 1008.9025 s while their sum in double seconds, the
oracle's arithmetic, is 1008.9024999999999."""

from __future__ import annotations

from datetime import datetime, timedelta

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from .oracle import compare

_X = datetime(2024, 1, 15)


def _rows():
    rows = []

    def add(user, minutes, state, value, us=0):
        t = _X + timedelta(minutes=minutes, microseconds=us)
        rows.append((len(rows), t, user, state, value))

    # NULL values between reads; 'c' and 'error' occur only at the end
    for i, (s, v) in enumerate([("a", 1.0), ("b", None), ("a", 3.0), ("c", None)]):
        add(1, -90 + i * 7, s, v)
    add(2, -60, "run", 5.0)  # last state ≤ X is NULL: as-of skips it
    add(2, -30, None, 6.0)
    add(2, 60, "error", 2.0)
    add(3, -45, "idle", 1.0)  # only a NULL state after X
    add(3, 15, None, 4.0)
    add(4, -20, "x", None)  # all values NULL
    add(4, 20, "error", None)
    add(5, -10, None, 1.5)  # all states NULL
    add(5, 10, None, 0.5)
    add(6, 5, "solo", 7.0)  # single point
    for i, s in enumerate(["y", "x", "y", "x", "error"]):  # x/y mode tie
        add(7, -100 + i * 50, s, float(10 - i))
    d1, d2 = 729_634_456, 279_268_044  # µs
    for state, us in [("error", 0), ("ok", d1), ("error", d1 + 10**6),
                      ("ok", d1 + 10**6 + d2)]:
        add(8, -2000, state, 1.0, us)
    add(None, -5, "a", 1.0)
    add(None, 5, "b", 2.0)
    return rows


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_events")
    cols = list(zip(*_rows()))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array([None] * len(cols[0]), pa.string()),
        }
    )
    pq.write_table(table, str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "name", ["gauge_agg_metrics", "state_agg_durations", "series_selector_aggs"]
)
def test_row_glue_matches_oracle_on_edge_cases(spark, edge_dir, name):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{edge_dir}/events.parquet'")
    duck = con.execute(entry.oracle_sql()[name]).df()
    assert len(duck) > 0
    assert compare(entry.queries()[name](spark, edge_dir), duck, name) == []
