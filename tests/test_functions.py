"""Unit tests for the time-series function library: argument validation
parity with the reference, the gauge/state/increase SQL builders on
hand-computed fixtures, repair algorithms."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from cnosdb_spark.functions import (
    bottom,
    duration_in,
    gauge_agg,
    increase,
    state_agg,
    state_at,
    time_window,
    topk,
)
from cnosdb_spark.functions.repair import timestamp_repair, value_fill, value_repair


def _ts(*seconds):
    return [datetime(2024, 1, 1) + timedelta(seconds=s) for s in seconds]


def _agg(df, expr):
    """One aggregate SQL expression over the whole of ``df``."""
    return df.agg(F.expr(expr).alias("x")).collect()[0]["x"]


# ---- validation parity (reference transform_time_window.rs:143-151, 346;
# ---- topk k ∈ [1,255] transform_topk_func_to_topk_node.rs) ----

def test_time_window_duration_bounds():
    with pytest.raises(ValueError):
        time_window("ts", "'0 s'")
    with pytest.raises(ValueError):
        time_window("ts", "'366 d'")
    assert time_window("ts", "'365 d'") == "window(ts, '365 d')"


def test_time_window_overlap_limit():
    with pytest.raises(ValueError, match="overlapping"):
        time_window("ts", "'101 s'", "'1 s'")
    with pytest.raises(ValueError, match="overlapping"):
        time_window("ts", "'201 s'", "'2 s'")
    assert time_window("ts", "'100 s'", "'1 s'") == "window(ts, '100 s', '1 s')"


def test_topk_k_bounds(spark):
    df = spark.range(5).withColumnRenamed("id", "v")
    with pytest.raises(ValueError):
        topk(df, "v", 0)
    with pytest.raises(ValueError):
        topk(df, "v", 256)
    assert topk(df, "v", 2, "v").count() == 2
    assert [r["v"] for r in bottom(df, "v", 2, "v").collect()] == [0, 1]


# ---- gauge_agg on a hand-computed fixture ----

def test_gauge_second_penultimate(spark):
    t = _ts(0, 10, 20, 30)
    rows = list(zip(["s"] * 4, t, [1.0, 5.0, 3.0, 9.0]))
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    g = _agg(df, gauge_agg("ts", "v"))
    assert g["first"]["val"] == 1.0
    assert g["second"]["val"] == 5.0
    assert g["penultimate"]["val"] == 3.0
    assert g["last"]["val"] == 9.0
    assert g["num_elements"] == 4


def test_gauge_single_point(spark):
    df = spark.createDataFrame([("s", datetime(2024, 1, 1), 2.0)], ["k", "ts", "v"])
    g = _agg(df, gauge_agg("ts", "v"))
    assert g["first"]["val"] == 2.0 and g["last"]["val"] == 2.0
    assert g["second"] is None and g["penultimate"] is None


# ---- state aggregations ----

def test_state_durations_and_compact(spark):
    # starting(10s) -> running(20s) -> running(5s) -> error(0: last)
    t = _ts(0, 10, 30, 35)
    states = ["starting", "running", "running", "error"]
    df = spark.createDataFrame(list(zip(["k"] * 4, t, states)), ["k", "ts", "state"])
    expect = {"starting": 10.0, "running": 25.0, "error": 0.0}
    for compact in (False, True):
        got = {
            s: _agg(df, duration_in("ts", "state", f"'{s}'", compact=compact))
            for s in expect
        }
        assert got == {s: timedelta(seconds=v) for s, v in expect.items()}
        listed = {
            d["state"]: d["duration"]
            for d in _agg(df, state_agg("ts", "state", compact))["state_duration"]
        }
        assert listed["starting"] == timedelta(seconds=10)
        assert listed["running"] == timedelta(seconds=25)


def test_state_at(spark):
    t = _ts(0, 10, 30)
    df = spark.createDataFrame(
        list(zip(["k"] * 3, t, ["a", "b", "c"])), ["k", "ts", "state"]
    )
    assert _agg(df, state_at("ts", "state", "TIMESTAMP '2024-01-01 00:00:15'")) == "b"


# ---- increase with counter reset ----

def test_increase_reset(spark):
    t = _ts(0, 1, 2, 3)
    vals = [10.0, 15.0, 3.0, 7.0]  # +5, reset→+3, +4 = 12
    df = spark.createDataFrame(list(zip(["k"] * 4, t, vals)), ["k", "ts", "v"])
    assert _agg(df, increase("ts", "v")) == 12.0


def test_mode_tie_break(spark):
    df = spark.createDataFrame(
        [("k", "b"), ("k", "b"), ("k", "a"), ("k", "a"), ("k", "c")], ["k", "v"]
    )
    assert _agg(df, "mode(v, true)") == "a"  # tie a/b → min


# ---- ts_gen_func repairs ----

def test_timestamp_repair_snaps(spark):
    t = _ts(0, 10, 21, 30)  # 21 should snap to 20
    df = spark.createDataFrame(list(zip(["k"] * 4, t, [1.0, 2.0, 3.0, 4.0])), ["k", "ts", "v"])
    out = sorted(
        r["ts"].second
        for r in timestamp_repair(df, "ts", "v", ["k"], "interval=10000").collect()
    )
    assert out == [0, 10, 20, 30]


def test_value_fill_methods(spark):
    t = _ts(0, 10, 20)
    df = spark.createDataFrame(
        [("k", t[0], 1.0), ("k", t[1], None), ("k", t[2], 3.0)], ["k", "ts", "v"]
    )
    lin = sorted(r["v"] for r in value_fill(df, "ts", "v", ["k"], "method=linear").collect())
    assert lin == [1.0, 2.0, 3.0]
    prev = sorted(r["v"] for r in value_fill(df, "ts", "v", ["k"], "method=previous").collect())
    assert prev == [1.0, 1.0, 3.0]


def test_value_repair_clamps_spike(spark):
    t = _ts(*range(10))
    vals = [float(i) for i in range(9)] + [1000.0]  # spike at the end
    df = spark.createDataFrame(list(zip(["k"] * 10, t, vals)), ["k", "ts", "v"])
    out = {r["ts"]: r["v"] for r in value_repair(df, "ts", "v", ["k"]).collect()}
    assert out[t[9]] < 100.0  # spike clamped toward the speed bound


# ------------------------------------------------------- data quality (r10)
def test_data_quality_sql_matches_pandas_reference(spark):
    """The round-10 relational data_quality must reproduce the grouped-map
    applyInPandas reference (_series_quality) bit-for-bit on the driver
    corpus AND on constructed edge groups: a single-point series, a series
    with NaN and NULL values (both count as `special`), an all-duplicate-
    timestamp series (no positive interval), and a series with interval
    outliers exercising the rint half-even missing estimate."""
    import datetime as _dt

    from cnosdb_spark.functions.quality import data_quality
    from .twins import data_quality_pandas
    from cnosdb_spark.session import read_table
    from .conftest import SF_DIR

    def rows_of(df):
        return {
            tuple(r[c] for c in df.columns[:-4]): [
                round(r[m], 9)
                for m in ("completeness", "consistency", "timeliness", "validity")
            ]
            for r in df.collect()
        }

    e = read_table(spark, SF_DIR, "events")
    got = rows_of(data_quality(e, "ts", "value", ["user_id"]))
    want = rows_of(data_quality_pandas(e, "ts", "value", ["user_id"]))
    assert got == want and len(got) > 0

    t0 = _dt.datetime(2024, 1, 1)
    s = lambda sec: t0 + _dt.timedelta(seconds=sec)
    edge = spark.createDataFrame(
        # g=single: one point; g=nan: NaN + NULL specials; g=dup: all same ts;
        # g=gap: regular cadence with one huge gap (missing estimate) and
        # one sub-half-median gap (late), plus a value outlier
        [("single", s(0), 1.0)]
        + [("nan", s(i), v) for i, v in enumerate([1.0, float("nan"), None, 4.0])]
        + [("dup", s(5), float(v)) for v in range(4)]
        + [("gap", s(i), 10.0) for i in range(6)]
        + [("gap", s(6.1), 10.0), ("gap", s(60), 10.0), ("gap", s(61), 500.0)],
        ["g", "ts", "v"],
    )
    got_e = rows_of(data_quality(edge, "ts", "v", ["g"]))
    want_e = rows_of(data_quality_pandas(edge, "ts", "v", ["g"]))
    assert got_e == want_e and set(got_e) == {("single",), ("nan",), ("dup",), ("gap",)}


def test_data_quality_null_key_group_drops(spark):
    """Pin the documented NULL-group-key divergence (round-11 advice): the
    relational data_quality's inner join-backs DROP a group whose key is
    NULL, while the grouped-map pandas reference emits a row for it. This
    is a deliberate edge (engine tags are non-null by construction) — if
    a future change makes the relational form keep NULL keys, this test
    must flip with it."""
    import datetime as _dt

    from cnosdb_spark.functions.quality import data_quality
    from .twins import data_quality_pandas

    t0 = _dt.datetime(2024, 1, 1)
    s = lambda sec: t0 + _dt.timedelta(seconds=sec)
    d = spark.createDataFrame(
        [("a", s(0), 1.0), ("a", s(1), 2.0), (None, s(0), 1.0), (None, s(1), 2.0)],
        ["g", "ts", "v"],
    )
    rel = {r["g"] for r in data_quality(d, "ts", "v", ["g"]).collect()}
    ref = {r["g"] for r in data_quality_pandas(d, "ts", "v", ["g"]).collect()}
    assert rel == {"a"}
    assert ref == {"a", None}


def test_data_quality_sql_has_no_python_node(spark):
    from cnosdb_spark.functions.quality import data_quality
    from cnosdb_spark.session import read_table
    from .conftest import SF_DIR

    e = read_table(spark, SF_DIR, "events")
    p = data_quality(e, "ts", "value", ["user_id"])._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "FlatMapGroupsInPandas" not in p and "EvalPython" not in p
