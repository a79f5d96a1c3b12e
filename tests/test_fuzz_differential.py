"""Hypothesis-driven differential fuzzing of Engine.sql against DuckDB.

The reference validates its engine with sqlancer-generated expression
queries (cases/sqlancer/*.slt — pinned snapshots). This suite is the live
analogue for OUR engine: generate random *well-typed* scalar expressions
restricted to the semantics Spark, DataFusion, and DuckDB agree on
(arithmetic without division, three-valued logic, CASE, string ops with
positive offsets), run them through the full Engine.sql path (dialect
rewriter + LWW merge-on-read view + Spark), and compare row-for-row with
DuckDB on identical data.

Deliberately EXCLUDED generator shapes (documented engine divergences or
cross-engine disagreements, see tests/test_slt_parity.py header):
division/modulo (div-by-zero semantics), round() (half-up vs half-even),
cross-type string/number comparisons, casts, greatest/least (NULL
handling), negative substr offsets, overflow-prone literals.
"""

from __future__ import annotations

import math
from datetime import date, datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cnosdb_spark.engine import Engine

from .conftest import fuzz_budget


ROWS = [
    # (time, t0, f0 BIGINT, f1 DOUBLE, f2 BOOLEAN, f3 STRING)
    ("2024-01-01 00:00:00", "'a'", "1", "0.5", "true", "'alpha'"),
    ("2024-01-01 00:00:01", "'a'", "-3", "2.25", "false", "'Beta'"),
    ("2024-01-01 00:00:02", "'b'", "7", "-1.75", "true", "''"),
    ("2024-01-01 00:00:03", "'b'", "0", "0.0", "false", "'gamma delta'"),
    ("2024-01-01 00:00:04", "'c'", "42", "3.5", "true", "'x'"),
    ("2024-01-01 00:00:05", "'c'", "NULL", "1.5", "NULL", "'y'"),
    ("2024-01-01 00:00:06", "'d'", "5", "NULL", "false", "NULL"),
    ("2024-01-01 00:00:07", "'d'", "-10", "-0.25", "NULL", "'zz top'"),
    ("2024-01-01 00:00:08", "'e'", "100", "10.0", "true", "'alpha'"),
    # NB: a row with every field NULL is rejected at INSERT (reference
    # "Fields can't be empty" parity) — keep one field non-NULL
    ("2024-01-01 00:00:09", "'e'", "NULL", "NULL", "NULL", "'only'"),
]


@pytest.fixture(scope="module")
def feng(spark, tmp_path_factory):
    eng = Engine(spark, str(tmp_path_factory.mktemp("fuzz_wh")))
    eng.sql("CREATE TABLE fz(f0 BIGINT, f1 DOUBLE, f2 BOOLEAN, f3 STRING, TAGS(t0))")
    values = ", ".join(
        f"('{t}', {t0}, {f0}, {f1}, {f2}, {f3})" for t, t0, f0, f1, f2, f3 in ROWS
    )
    eng.sql(f"INSERT INTO fz(time, t0, f0, f1, f2, f3) VALUES {values}")
    return eng


@pytest.fixture(scope="module")
def fduck():
    import duckdb

    con = duckdb.connect()
    values = ", ".join(
        f"(TIMESTAMP '{t}', {t0}, {f0}, {f1}, {f2}, {f3})"
        for t, t0, f0, f1, f2, f3 in ROWS
    )
    con.execute(
        "CREATE TABLE fz AS SELECT * FROM (VALUES "
        + values
        + ") v(time, t0, f0, f1, f2, f3)"
    )
    yield con
    con.close()


# ---------------------------------------------------------------- generator

NUM_LEAVES = ["f0", "f1", "0", "1", "-2", "3.5", "0.25", "10"]
STR_LEAVES = ["t0", "f3", "'alpha'", "'b'", "''", "'Zz'"]
BOOL_LEAVES = ["f2", "true", "false"]

num_expr = st.deferred(
    lambda: st.one_of(
        st.sampled_from(NUM_LEAVES),
        st.tuples(num_expr, st.sampled_from(["+", "-", "*"]), num_expr).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"
        ),
        num_expr.map(lambda e: f"abs({e})"),
        num_expr.map(lambda e: f"(- {e})"),
        st.tuples(num_expr, num_expr).map(lambda t: f"coalesce({t[0]}, {t[1]})"),
        str_expr.map(lambda e: f"length({e})"),
        st.tuples(bool_expr, num_expr, num_expr).map(
            lambda t: f"(CASE WHEN {t[0]} THEN {t[1]} ELSE {t[2]} END)"
        ),
    )
)

str_expr = st.deferred(
    lambda: st.one_of(
        st.sampled_from(STR_LEAVES),
        str_expr.map(lambda e: f"lower({e})"),
        str_expr.map(lambda e: f"upper({e})"),
        st.tuples(str_expr, str_expr).map(lambda t: f"({t[0]} || {t[1]})"),
        st.tuples(str_expr, st.integers(1, 4), st.integers(0, 5)).map(
            lambda t: f"substr({t[0]}, {t[1]}, {t[2]})"
        ),
        st.tuples(bool_expr, str_expr, str_expr).map(
            lambda t: f"(CASE WHEN {t[0]} THEN {t[1]} ELSE {t[2]} END)"
        ),
    )
)

bool_expr = st.deferred(
    lambda: st.one_of(
        st.sampled_from(BOOL_LEAVES),
        st.tuples(num_expr, st.sampled_from(["<", "<=", ">", ">=", "=", "<>"]), num_expr).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"
        ),
        st.tuples(str_expr, st.sampled_from(["<", "=", ">"]), str_expr).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"
        ),
        st.tuples(bool_expr, st.sampled_from(["AND", "OR"]), bool_expr).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"
        ),
        bool_expr.map(lambda e: f"(NOT {e})"),
        num_expr.map(lambda e: f"({e} IS NULL)"),
        str_expr.map(lambda e: f"({e} IS NOT NULL)"),
        str_expr.map(lambda e: f"({e} LIKE '%a%')"),
    )
)


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    # DuckDB date_trunc('year'|'month'|'day') yields DATE where Spark and
    # DataFusion both yield TIMESTAMP — same instant, normalize the type
    if isinstance(v, date) and not isinstance(v, datetime):
        return datetime(v.year, v.month, v.day)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, int):
        return float(v)  # int/double unify: Spark + - * may widen
    return v


def _run_both(feng, fduck, exprs: list[str]):
    cols = ", ".join(f"{e} AS v{i}" for i, e in enumerate(exprs))
    sql = f"SELECT time, {cols} FROM fz"
    got = sorted(
        [tuple(_canon(x) for x in r) for r in feng.sql(sql).collect()],
        key=repr,
    )
    want = sorted(
        [tuple(_canon(x) for x in r) for r in fduck.execute(sql).fetchall()],
        key=repr,
    )
    assert got == want, f"divergence for: {exprs}\n got={got}\nwant={want}"


@settings(
    **fuzz_budget(25),
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
        HealthCheck.filter_too_much,
        HealthCheck.data_too_large,
    ],
)
@given(e1=num_expr, e2=bool_expr)
def test_fuzz_numeric_and_bool(feng, fduck, e1, e2):
    _run_both(feng, fduck, [e1, e2])


@settings(
    **fuzz_budget(25),
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
        HealthCheck.filter_too_much,
        HealthCheck.data_too_large,
    ],
)
@given(e1=str_expr, e2=num_expr)
def test_fuzz_string_and_numeric(feng, fduck, e1, e2):
    _run_both(feng, fduck, [e1, e2])


@settings(
    **fuzz_budget(15),
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
        HealthCheck.filter_too_much,
        HealthCheck.data_too_large,
    ],
)
@given(cond=bool_expr)
def test_fuzz_where_clause(feng, fduck, cond):
    """WHERE-clause placement exercises the rewriter's predicate paths and
    Spark filter pushdown against DuckDB's evaluation of the same tree."""
    sql = f"SELECT time, t0 FROM fz WHERE {cond}"
    got = sorted((r["time"], r["t0"]) for r in feng.sql(sql).collect())
    want = sorted(fduck.execute(sql).fetchall())
    assert got == want, f"divergence for WHERE {cond}\n got={got}\nwant={want}"


_AGG_SETTINGS = settings(
    **fuzz_budget(15),
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
        HealthCheck.filter_too_much,
        HealthCheck.data_too_large,
    ],
)


@_AGG_SETTINGS
@given(e=num_expr)
def test_fuzz_grouped_aggregates(feng, fduck, e):
    """GROUP BY pipeline: the same generated numeric expression under
    sum/count/min/max/avg per tag group must agree with DuckDB (floats
    canonicalized to 9 decimals — double sums of these magnitudes agree
    far past that)."""
    sql = (
        f"SELECT t0, sum({e}) AS s, count({e}) AS c, "
        f"min({e}) AS mn, max({e}) AS mx, avg({e}) AS av "
        f"FROM fz GROUP BY t0"
    )
    got = sorted(
        [tuple(_canon(x) for x in r) for r in feng.sql(sql).collect()], key=repr
    )
    want = sorted(
        [tuple(_canon(x) for x in r) for r in fduck.execute(sql).fetchall()],
        key=repr,
    )
    assert got == want, f"divergence for agg over: {e}\n got={got}\nwant={want}"


@_AGG_SETTINGS
@given(e=num_expr)
def test_fuzz_window_lag_running(feng, fduck, e):
    """Window path: lag and a running sum of a generated expression over
    (PARTITION BY t0 ORDER BY time) must agree with DuckDB."""
    sql = (
        f"SELECT time, t0, lag({e}) OVER (PARTITION BY t0 ORDER BY time) AS lg, "
        f"sum({e}) OVER (PARTITION BY t0 ORDER BY time "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs "
        f"FROM fz"
    )
    got = sorted(
        [tuple(_canon(x) for x in r) for r in feng.sql(sql).collect()], key=repr
    )
    want = sorted(
        [tuple(_canon(x) for x in r) for r in fduck.execute(sql).fetchall()],
        key=repr,
    )
    assert got == want, f"divergence for window over: {e}\n got={got}\nwant={want}"


# time-function shapes: date_trunc/date_part spellings Spark, DataFusion,
# and DuckDB all accept with identical semantics on µs timestamps
TIME_FIELDS = ["year", "month", "day", "hour", "minute", "second"]
TRUNC_UNITS = ["year", "month", "day", "hour", "minute", "second"]

time_num_expr = st.one_of(
    st.sampled_from(TIME_FIELDS).map(lambda f: f"date_part('{f}', time)"),
    st.sampled_from(TIME_FIELDS).map(lambda f: f"extract({f} FROM time)"),
)


@_AGG_SETTINGS
@given(e=time_num_expr, unit=st.sampled_from(TRUNC_UNITS))
def test_fuzz_time_functions(feng, fduck, e, unit):
    sql = f"SELECT time, {e} AS p, date_trunc('{unit}', time) AS tr FROM fz"
    got = sorted(
        [tuple(_canon(x) for x in r) for r in feng.sql(sql).collect()], key=repr
    )
    want = sorted(
        [tuple(_canon(x) for x in r) for r in fduck.execute(sql).fetchall()],
        key=repr,
    )
    assert got == want, f"divergence for: {sql}\n got={got}\nwant={want}"


@_AGG_SETTINGS
@given(
    e=num_expr,
    lo=st.sampled_from(["-2", "0", "f0", "0.25"]),
    hi=st.sampled_from(["1", "10", "f1", "3.5"]),
    inlist=st.lists(st.sampled_from(["0", "1", "7", "-10", "42", "3.5"]),
                    min_size=1, max_size=4),
)
def test_fuzz_between_and_in(feng, fduck, e, lo, hi, inlist):
    """Same-typed BETWEEN and IN predicates (the shapes the sqlancer floors
    exclude are CROSS-typed; same-typed semantics are common ground)."""
    items = ", ".join(inlist)
    sql = (
        f"SELECT time, ({e} BETWEEN {lo} AND {hi}) AS b, "
        f"({e} IN ({items})) AS i FROM fz"
    )
    got = sorted(
        [tuple(_canon(x) for x in r) for r in feng.sql(sql).collect()], key=repr
    )
    want = sorted(
        [tuple(_canon(x) for x in r) for r in fduck.execute(sql).fetchall()],
        key=repr,
    )
    assert got == want, f"divergence for: {sql}\n got={got}\nwant={want}"


@_AGG_SETTINGS
@given(e=num_expr, cond=bool_expr)
def test_fuzz_self_join(feng, fduck, e, cond):
    """Join path: equi self-join on the tag with a generated projection and
    filter; exercises join planning + the LWW view on both sides."""
    sql = (
        f"SELECT a.time, a.t0, ({e.replace('t0','a.t0').replace('f0','a.f0').replace('f1','b.f1').replace('f2','a.f2').replace('f3','a.f3')}) AS v "
        f"FROM fz a JOIN fz b ON a.t0 = b.t0 AND a.time = b.time "
        f"WHERE {cond.replace('t0','b.t0').replace('f0','b.f0').replace('f1','a.f1').replace('f2','b.f2').replace('f3','b.f3')}"
    )
    got = sorted(
        [tuple(_canon(x) for x in r) for r in feng.sql(sql).collect()], key=repr
    )
    want = sorted(
        [tuple(_canon(x) for x in r) for r in fduck.execute(sql).fetchall()],
        key=repr,
    )
    assert got == want, f"divergence for: {sql}\n got={got}\nwant={want}"


@_AGG_SETTINGS
@given(dur=st.integers(1, 7), agg_e=num_expr)
def test_fuzz_time_window_durations(feng, fduck, dur, agg_e):
    """Randomized time_window durations: the signature tumbling-window
    rewrite must bucket identically to epoch-aligned integer arithmetic in
    DuckDB for any window length."""
    sql_spark = (
        f"SELECT time_window(time, interval '{dur} seconds') AS w, "
        f"sum({agg_e}) AS s FROM fz GROUP BY w"
    )
    sql_duck = (
        f"SELECT to_timestamp((epoch_us(time) // {dur * 1_000_000}) "
        f"* {dur * 1_000_000} // 1000000) AS ws, sum({agg_e}) AS s "
        f"FROM fz GROUP BY ws"
    )
    got = sorted(
        [
            (_canon(r["w"]["start"].replace(tzinfo=None) if hasattr(r["w"]["start"], "replace") else r["w"]["start"]), _canon(r["s"]))
            for r in feng.sql(sql_spark).collect()
        ],
        key=repr,
    )
    want = sorted(
        [
            (_canon(ws.replace(tzinfo=None)), _canon(s))
            for ws, s in fduck.execute(sql_duck).fetchall()
        ],
        key=repr,
    )
    assert got == want, f"divergence for dur={dur}s agg={agg_e}\n got={got}\nwant={want}"


@_AGG_SETTINGS
@given(
    e=num_expr,
    c1=bool_expr,
    c2=bool_expr,
    op=st.sampled_from(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"]),
)
def test_fuzz_set_operations(feng, fduck, e, c1, c2, op):
    sql = (
        f"SELECT t0, ({e}) AS v FROM fz WHERE {c1} "
        f"{op} "
        f"SELECT t0, ({e}) AS v FROM fz WHERE {c2}"
    )
    got = sorted(
        [tuple(_canon(x) for x in r) for r in feng.sql(sql).collect()], key=repr
    )
    want = sorted(
        [tuple(_canon(x) for x in r) for r in fduck.execute(sql).fetchall()],
        key=repr,
    )
    assert got == want, f"divergence for: {sql}\n got={got}\nwant={want}"
