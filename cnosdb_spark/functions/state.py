"""state_agg / compact_state_agg with duration_in / state_at as Spark SQL
aggregate expressions.

Reference: query_server/query/src/extension/expr/aggregate_function/
state_agg/{mod,state_agg_accumulator,state_agg_data}.rs (time spent in
each discrete state) and scalar_function/{duration_in.rs, state_at.rs}.

Each builder takes SQL text for the time and state columns and returns
the SQL text of one aggregate expression; ``sql/rewriter.rewrite_state``
splices them in after its own argument checks, and DataFrame code uses
them through ``F.expr``. The series' points are collected, sorted by time
and cut into periods [tᵢ, tᵢ₊₁) that are closed on the left. The final
observed state is a zero-length period: it has no duration, so it is
absent from ``state_agg``'s durations, and ``state_at`` at or after the
last point is NULL (state_at.slt).
"""

from __future__ import annotations

_I64_MIN = "-9223372036854775807L"
_I64_MAX = "9223372036854775807L"


def _let(var: str, value: str, body: str) -> str:
    """``body`` with ``var`` bound to ``value``, which is evaluated once.
    Spark evaluates an expression again at every use inside a lambda (no
    common-subexpression elimination in higher-order functions), so an
    array the lambdas index per element is bound first."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def _s_arr(t: str, s: str, compact: bool) -> str:
    """Sorted (t, s) point array; compact keeps only run starts
    (state_agg_data.rs compact variant merges consecutive equal states)."""
    arr = (
        f"array_sort(collect_list(named_struct("
        f"'t', cast({t} as timestamp), 's', {s})))"
    )
    if not compact:
        return arr
    return _let(
        "_a", arr,
        "filter(transform(sequence(1, size(_a)), _i -> "
        "CASE WHEN _i = 1 OR NOT (try_element_at(_a, _i).s <=> "
        "try_element_at(_a, _i - 1).s) THEN try_element_at(_a, _i) "
        "END), _x -> _x IS NOT NULL)",
    )


def _s_duration_fold(arr: str, state: str, start_us: str, end_us: str) -> str:
    """Σ over closed periods [pᵢ.t, pᵢ₊₁.t) with state = ``state``, clipped
    to [start_us, end_us] — the last (open) state contributes nothing,
    matching duration_in.rs."""
    return _let(
        "_pt", arr,
        f"CASE WHEN size(_pt) >= 2 THEN aggregate("
        f"sequence(1, size(_pt) - 1), 0L, (_acc, _i) -> _acc + "
        f"(CASE WHEN try_element_at(_pt, _i).s <=> {state} THEN "
        f"greatest(0L, least(unix_micros(try_element_at(_pt, _i + 1).t), {end_us}) - "
        f"greatest(unix_micros(try_element_at(_pt, _i).t), {start_us})) "
        f"ELSE 0L END)) ELSE 0L END",
    )


def state_at(t: str, s: str, ts: str) -> str:
    """``state_at(state_agg(t, s), ts)``: the state of the period that
    contains ``ts``; NULL before the first point and at/after the last."""
    ts = f"cast({ts} as timestamp)"
    return (
        f"(CASE WHEN max(cast({t} as timestamp)) > {ts} THEN "
        f"max_by({s}, {t}) FILTER (WHERE cast({t} as timestamp) <= {ts}) END)"
    )


def duration_in(
    t: str,
    s: str,
    state: str,
    start: str | None = None,
    interval: str | None = None,
    compact: bool = False,
) -> str:
    """``duration_in([compact_]state_agg(t, s), state[, start[, interval]])``
    as an interval: time spent in ``state``, clipped to [start,
    start + interval] when given."""
    start_us, end_us = _I64_MIN, _I64_MAX
    if start is not None:
        start_us = f"unix_micros(cast({start} as timestamp))"
    if interval is not None:
        end_us = f"unix_micros(cast({start} as timestamp) + {interval})"
    fold = _s_duration_fold(_s_arr(t, s, compact), state, start_us, end_us)
    return f"make_dt_interval(0, 0, 0, ({fold}) / 1e6)"


def state_agg(t: str, s: str, compact: bool = False) -> str:
    """Bare ``[compact_]state_agg(t, s)``: struct of ``state_duration``
    (one {state, duration} per state with a closed period) and
    ``state_periods`` ({state, start_time, end_time} per closed period)."""
    periods = _let(
        "_pt", _s_arr(t, s, compact),
        "CASE WHEN size(_pt) >= 2 THEN filter(transform("
        "sequence(1, size(_pt)), _i -> named_struct("
        "'state', try_element_at(_pt, _i).s, "
        "'start_time', try_element_at(_pt, _i).t, "
        "'end_time', try_element_at(_pt, _i + 1).t)), "
        "_p -> _p.end_time IS NOT NULL) END",
    )
    durations = (
        "transform(array_distinct(transform(_ps, _p -> _p.state)), "
        "_st -> named_struct('state', _st, 'duration', "
        "make_dt_interval(0, 0, 0, aggregate(_ps, 0L, "
        "(_acc, _p) -> _acc + (CASE WHEN _p.state <=> _st THEN "
        "unix_micros(_p.end_time) - unix_micros(_p.start_time) "
        "ELSE 0L END)) / 1e6)))"
    )
    return _let(
        "_ps", periods,
        f"named_struct('state_duration', {durations}, 'state_periods', _ps)",
    )
