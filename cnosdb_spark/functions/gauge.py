"""gauge_agg and its accessors as Spark SQL aggregate expressions.

Reference: query_server/query/src/extension/expr/aggregate_function/
gauge/gauge_agg.rs:22-67 (GaugeData = first, second, penultimate, last
TSPoints + num_elements) and the scalar accessors in
extension/expr/scalar_function/gauge/*.rs (delta, rate, time_delta,
first_time, first_val, last_time, last_val, idelta_left, idelta_right).

Each builder takes SQL text for the time and value columns and returns
the SQL text of one aggregate expression. ``sql/rewriter.rewrite_gauge``
splices them in for ``accessor(gauge_agg(t, v))`` and a bare
``gauge_agg(t, v)``; DataFrame code uses them through ``F.expr``. Every
form is built from built-in aggregates (min/max, min_by/max_by,
collect_list plus array functions), so the family plans as one
partial→final hash aggregate, with no UDAF and no Python. The
collect_list members (idelta, the bare struct) hold one entry per point
of one series group, the working set the reference's accumulator keeps.
"""

from __future__ import annotations


# gauge_agg's signature is (timestamp, float64) only (gauge_agg.rs
# registration) — `v + 0.0d` rejects boolean/timestamp values at analysis
# time (a plain cast would coerce them), and `cast(t as timestamp)` rejects
# non-time first arguments, mirroring DataFusion's planner errors.
def _g_num(v: str) -> str:
    return f"({v} + 0.0d)"


def _g_first_t(t: str, v: str) -> str:
    return f"min(cast({t} as timestamp)) FILTER (WHERE {_g_num(v)} IS NOT NULL)"


def _g_last_t(t: str, v: str) -> str:
    return f"max(cast({t} as timestamp)) FILTER (WHERE {_g_num(v)} IS NOT NULL)"


def _g_first_v(t: str, v: str) -> str:
    return f"min_by({_g_num(v)}, {t}) FILTER (WHERE {v} IS NOT NULL)"


def _g_last_v(t: str, v: str) -> str:
    return f"max_by({_g_num(v)}, {t}) FILTER (WHERE {v} IS NOT NULL)"


def _g_td_us(t: str, v: str) -> str:
    return (
        f"(unix_micros({_g_last_t(t, v)}) - unix_micros({_g_first_t(t, v)}))"
    )


def _g_arr(t: str, v: str) -> str:
    return (
        f"array_sort(collect_list(CASE WHEN {v} IS NOT NULL THEN "
        f"named_struct('ts', cast({t} as timestamp), 'val', {_g_num(v)}) END))"
    )


def gauge_accessor(fn: str, t: str, v: str) -> str:
    """``fn(gauge_agg(t, v))`` for one of the nine accessors."""
    delta = f"({_g_last_v(t, v)} - {_g_first_v(t, v)})"
    if fn == "delta":
        return delta
    if fn == "rate":
        # the reference's rate is delta per NANOSECOND
        # (scalar_function/gauge/rate.rs; rate.slt: -111 / 0.010 s
        # = -1.11e-5) — null on a single-point gauge
        return f"({delta} / nullif(cast({_g_td_us(t, v)} as double) * 1000.0, 0.0D))"
    if fn == "time_delta":
        return f"make_dt_interval(0, 0, 0, {_g_td_us(t, v)} / 1e6)"
    if fn == "first_time":
        return _g_first_t(t, v)
    if fn == "first_val":
        return _g_first_v(t, v)
    if fn == "last_time":
        return _g_last_t(t, v)
    if fn == "last_val":
        return _g_last_v(t, v)
    arr = _g_arr(t, v)
    if fn == "idelta_left":
        return f"(try_element_at({arr}, 2).val - try_element_at({arr}, 1).val)"
    if fn == "idelta_right":
        return f"(try_element_at({arr}, -1).val - try_element_at({arr}, -2).val)"
    raise ValueError(f"unknown gauge accessor {fn!r}")


def gauge_agg(t: str, v: str) -> str:
    """Bare ``gauge_agg(t, v)``: the GaugeData struct, NULL values skipped
    (first/second/penultimate/last {ts, val} points + num_elements)."""
    arr = _g_arr(t, v)
    return (
        f"named_struct('first', try_element_at({arr}, 1), "
        f"'second', try_element_at({arr}, 2), "
        f"'penultimate', try_element_at({arr}, -2), "
        f"'last', try_element_at({arr}, -1), "
        f"'num_elements', cast(size({arr}) as bigint))"
    )
