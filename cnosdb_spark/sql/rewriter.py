"""CnosDB-dialect → Spark SQL rewrites for the DQL surface.

The reference extends DataFusion SQL with a handful of function forms
(parser: /root/reference query_server/query/src/sql/parser.rs; analyzer
rewrites under query_server/query/src/extension/analyse/). Spark SQL
already covers almost everything; this module textually rewrites the
remaining forms:

  time_window(t, interval 'X' [, interval 'Y' [, TIMESTAMP 'Z']])
      → window(t, 'X' [, 'Y' [, offset]]) or an explicit explode
      (transform_time_window.rs)
  first(t, v) / last(t, v) → min_by(v, t) / max_by(v, t)  ({first,last}.rs)
  increase(t, v ORDER BY t), gauge_agg and its accessors, state_agg /
      compact_state_agg / duration_in / state_at → built-in aggregates
  topk(col, k) / bottom(col, k) in the projection
      → col ... ORDER BY col DESC/ASC LIMIT k
      (transform_topk_func_to_topk_node.rs: single selector, k ∈ [1,255])
  exact_count(x) → count(x)                     (transform_exact_count...)

The time-series function expressions are built in ``cnosdb_spark.functions``
(timeseries.py, gauge.py, state.py); this module parses each call, raises
the reference's signature errors and splices the built expression in.

Every call rewrite and every call check, here and in the engine's
schema-aware passes, goes through one scanner instead of a full SQL
parser: ``iter_calls`` yields each call of a ``name(`` pattern that
starts outside quoted text ('…' literals, "…" and `…` identifiers) with
its arguments split at top-level commas, so a function name inside a
string literal is never touched (the reference rewrites plan nodes, where
a literal is a value). ``rewrite_calls`` splices a callback's replacement
over each call, innermost call first, and resumes after it.
"""

from __future__ import annotations

import re

from ..functions import gauge, state, timeseries
from ..functions.timeseries import MAX_K

_TOPK_RE = re.compile(r"\b(topk|bottom)\s*\(", re.I)
_TW_RE = re.compile(r"\btime_window\s*\(", re.I)
_FIRST_LAST_RE = re.compile(r"\b(first|last)\s*\(", re.I)
_EXACT_COUNT_RE = re.compile(r"\bexact_count\s*\(", re.I)
_INTERVAL_RE = re.compile(r"^\s*interval\s+'([^']+)'\s*$", re.I)


_QUOTE_RE = re.compile(r"['\"`]")


def _find_call_end(sql: str, open_paren: int) -> int:
    """Index just past the matching ')' for the '(' at ``open_paren``."""
    depth = 0
    in_str: str | None = None
    for i in range(open_paren, len(sql)):
        ch = sql[i]
        if in_str:
            if ch == in_str:
                in_str = None
        elif ch in "'\"`":
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    raise ValueError(f"unbalanced parentheses in SQL near offset {open_paren}")


def _split_args(text: str, sep: str = ",") -> list[str]:
    """``text`` cut at each ``sep`` outside parentheses and quoted text,
    every piece stripped; a blank last piece is dropped."""
    args: list[str] = []
    depth = 0
    in_str: str | None = None
    cur: list[str] = []
    for ch in text:
        if in_str:
            if ch == in_str:
                in_str = None
        elif ch in "'\"`":
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            args.append("".join(cur).strip())
            cur = []
            continue
        cur.append(ch)
    if "".join(cur).strip():
        args.append("".join(cur).strip())
    return args


class CallArgs(list):
    """A call's arguments, cut at top-level commas and stripped; ``text``
    is the raw text between the call's parentheses."""

    def __init__(self, text: str):
        super().__init__(_split_args(text))
        self.text = text


def iter_calls(sql: str, pattern: re.Pattern, pos: int = 0):
    """Yield ``(match, args, end)`` for each call of ``pattern`` at or
    after ``pos`` that starts outside quoted text ('…' literals, "…" and
    `…` identifiers), in text order, nested calls included. ``pattern``
    matches up to the call's opening parenthesis; ``end`` is the index
    just past its closing one."""
    m = pattern.search(sql, pos)
    while m:
        q = _QUOTE_RE.search(sql, pos, m.start())
        if q:
            close = sql.find(q.group(), q.end())
            if close < 0:
                return
            pos = close + 1
            if m.start() < pos:
                m = pattern.search(sql, pos)
            continue
        end = _find_call_end(sql, m.end() - 1)
        yield m, CallArgs(sql[m.end() : end - 1]), end
        pos = m.end()
        m = pattern.search(sql, pos)


def rewrite_calls(sql: str, pattern: re.Pattern, fn) -> str:
    """Rewrite each call ``iter_calls`` finds, innermost first: the
    arguments are rewritten, then ``fn(match, args)`` returns the call's
    replacement text, or None to keep the call. Scanning resumes after
    the call."""
    pos = 0
    while call := next(iter_calls(sql, pattern, pos), None):
        m, args, end = call
        inner = rewrite_calls(args.text, pattern, fn)
        repl = fn(m, args if inner == args.text else CallArgs(inner))
        if repl is None:
            repl = m.group(0) + inner + ")"
        sql = sql[: m.start()] + repl + sql[end:]
        pos = m.start() + len(repl)
    return sql


def _sole_call(text: str, pattern: re.Pattern) -> tuple[re.Match, CallArgs] | None:
    """The match and arguments when ``text`` is one call of ``pattern``
    and nothing else."""
    m, args, end = next(iter_calls(text, pattern), (None, None, 0))
    if m and not text[: m.start()].strip() and not text[end:].strip():
        return m, args
    return None


def _call_re(*names: str) -> re.Pattern:
    """Pattern for a call of any of ``names``; group 1 is the name."""
    return re.compile(rf"\b({'|'.join(names)})\s*\(", re.I)


def _rename(sql: str, pattern: re.Pattern, name: str) -> str:
    """Each call of ``pattern`` renamed to ``name``, arguments kept."""
    return rewrite_calls(sql, pattern, lambda m, args: f"{name}({args.text})")


_CAST_INTERVAL_RE = re.compile(
    r"cast\s*\(\s*'([^']+)'\s+as\s+interval\s*\)", re.I
)


def _select_scope_at(sql: str, pos: int) -> int:
    """Scope id of the SELECT block containing ``pos``: each SELECT keyword
    opens a scope, parentheses save/restore the enclosing one (so text
    after a subquery's closing paren belongs to the outer SELECT again)."""
    cur, counter = 0, 0
    stack: list[int] = []
    in_str: str | None = None
    i = 0
    while i < pos:
        ch = sql[i]
        if in_str:
            if ch == in_str:
                in_str = None
        elif ch in ("'", '"'):
            in_str = ch
        elif ch == "(":
            stack.append(cur)
        elif ch == ")":
            cur = stack.pop() if stack else 0
        elif (
            sql[i : i + 6].upper() == "SELECT"
            and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_"))
            and not (
                i + 6 < len(sql) and (sql[i + 6].isalnum() or sql[i + 6] == "_")
            )
        ):
            counter += 1
            cur = counter
            i += 6
            continue
        i += 1
    return cur


def rewrite_time_window(sql: str) -> str:
    """time_window(t, interval '10 milliseconds'[, interval '5 ms'[,
    TIMESTAMP 'start']]) → ``functions.timeseries.time_window``'s
    expression: Spark's window(), or an explicit explode where the slide
    does not divide the window."""
    # the reference plans exactly one window per SELECT — the SAME call
    # repeated (SELECT + GROUP BY) is one window, and a subquery may carry
    # its own (tsbench/avg_daily_driving_duration.slt:103 nests a 10-minute
    # window inside a 1-day one). transform_time_window.rs rejects only a
    # second TimeWindow expr within one aggregation scope.
    scopes: dict[int, set[tuple[str, ...]]] = {}
    for m, args, _ in iter_calls(sql, _TW_RE):
        scopes.setdefault(_select_scope_at(sql, m.start()), set()).add(
            tuple(" ".join(a.split()).lower() for a in args)
        )
    if any(len(calls) > 1 for calls in scopes.values()):
        raise ValueError("only one time_window per query is supported")

    def window(m: re.Match, args: CallArgs) -> str:
        if not 2 <= len(args) <= 4:
            raise ValueError("time_window expects 2-4 arguments")
        # interval 'X' / CAST('X' AS INTERVAL) → the duration literal 'X'
        lits = []
        for a in args[1:3]:
            im = _INTERVAL_RE.match(a)
            cm = _CAST_INTERVAL_RE.fullmatch(a)
            lits.append(f"'{im.group(1)}'" if im else (f"'{cm.group(1)}'" if cm else a))
        start = args[3] if len(args) == 4 else None
        return timeseries.time_window(args[0], *lits, start=start)

    return rewrite_calls(sql, _TW_RE, window)


_EXPLODE_RE = re.compile(r"\bexplode\(", re.I)


def rewrite_exploded_groupby(sql: str) -> str:
    """A generator is not allowed in an aggregate select list, so
    ``SELECT explode(ARR) AS w, <aggs> FROM t GROUP BY w`` (produced by
    the sliding-window expansion) is restructured to
    ``SELECT w, <aggs> FROM (SELECT explode(ARR) AS w, * FROM t)
    GROUP BY w`` — the same Expand-below-Aggregate plan the reference
    builds (transform_time_window.rs build_sliding_window_plan)."""
    m, _, end = next(iter_calls(sql, _EXPLODE_RE), (None, None, 0))
    if not m:
        return sql
    am = re.match(r"\s+as\s+(\w+)", sql[end:], re.I)
    if not am:
        return sql
    alias = am.group(1)
    rest = sql[end + am.end():]
    if not re.search(rf"\bgroup\s+by\s+{alias}\b", rest, re.I):
        return sql
    sel = sql.lower().rfind("select", 0, m.start())
    if sel < 0:
        return sql
    fm = re.search(r"\bfrom\s+([\w.]+)", rest, re.I)
    if not fm:
        return sql
    explode_expr = sql[m.start():end]
    items_before = sql[sel + 6 : m.start()].strip()
    items_after = rest[: fm.start()].strip()
    table = fm.group(1)
    inner = f"(select {explode_expr} as {alias}, * from {table})"
    new_sql = (
        sql[:sel]
        + f"select {items_before} {alias} {items_after} from {inner}"
        + rest[fm.end():]
    )
    return new_sql


_APPROX_DISTINCT_RE = re.compile(r"\bapprox_distinct\s*\(", re.I)


def rewrite_approx_distinct(sql: str) -> str:
    """approx_distinct(x) → approx_count_distinct(x) (DataFusion name →
    Spark name; both HLL-based)."""
    return _rename(sql, _APPROX_DISTINCT_RE, "approx_count_distinct")


def rewrite_first_last(sql: str) -> str:
    """first(t, v) / last(t, v) → ``functions.timeseries.first``/``last``.
    Only rewrites two-argument calls — Spark's own one-argument
    first()/last() window aggregates pass through untouched."""

    def first_last(m: re.Match, args: CallArgs) -> str:
        fn = m.group(1).lower()
        # reference signature is strictly (time, value)
        # (aggregate_function/{first,last}.rs; first.slt:11,29,52 expect
        # planning errors for first(time) / first(f0, f1) / first(null))
        if len(args) != 2 or not re.search(r"\btime\b", args[0], re.I):
            raise ValueError(
                f"Error during planning: No function matches the given name "
                f"and argument types '{fn}({', '.join(args)})'"
            )
        build = timeseries.first if fn == "first" else timeseries.last
        return build(args[0], args[1])

    return rewrite_calls(sql, _FIRST_LAST_RE, first_last)


_INCREASE_RE = re.compile(r"\bincrease\s*\(", re.I)


def rewrite_increase(sql: str) -> str:
    """``increase(time, v ORDER BY time)`` → ``functions.timeseries.increase``."""

    def increase(m: re.Match, args: CallArgs) -> str:
        om = re.match(
            r"(.+?),(.+?)\s+ORDER\s+BY\s+(.+?)\s*(?:ASC)?\s*$",
            args.text, re.I | re.S,
        )
        # the first argument must be the (timestamp-typed) time column:
        # increase.slt:93-108 expects planning errors for tag/field args
        if not om or not re.search(r"\btime\b", om.group(1), re.I):
            raise ValueError(
                "Error during planning: No function matches the given name "
                "and argument types for increase — expected "
                "(time, value ORDER BY time), aggregate_function/increase.rs"
            )
        return timeseries.increase(om.group(1).strip(), om.group(2).strip())

    return rewrite_calls(sql, _INCREASE_RE, increase)


_LAG_LEAD_RE = re.compile(r"\b(lag|lead)\s*\(", re.I)
_OVER_RE = re.compile(r"\bOVER\s*\(", re.I)
# the literal offsets lag/lead coerce to 1: NULL, float, boolean, string
_COERCIBLE_OFFSET = re.compile(
    r"NULL|TRUE|FALSE|-?(?:\d+\.\d*|\.\d+)(?:[eE][+-]?\d+)?|'[^']*'", re.I
)


def rewrite_lag_lead(sql: str) -> str:
    """DataFusion-27 parity for lag/lead (window_func/lag.slt):
    any non-integer offset (NULL, 1.5, true, 'str') coerces to the default
    offset 1 (lag.slt:219-302 expects rows, Spark raises); a 4th argument
    stays put so Spark still rejects it (lag.slt:235 expects an error);
    a bare ``OVER ()`` gets a constant ordering (DataFusion allows
    unordered lag, lag.slt:125)."""

    def offset_one(m: re.Match, args: CallArgs) -> str | None:
        # coerce ONLY the literal forms the corpus exercises (NULL, float,
        # boolean, string literals) — identifiers and expressions pass
        # through so Spark evaluates or rejects them (a column-ref offset
        # must not silently become 1)
        if (
            len(args) in (2, 3)
            and not re.fullmatch(r"-?\d+", args[1])
            and _COERCIBLE_OFFSET.fullmatch(args[1])
        ):
            return f"{m.group(1)}({', '.join([args[0], '1', *args[2:]])})"
        return None

    def constant_order(m: re.Match, args: CallArgs) -> str | None:
        # DataFusion allows an empty OVER () for every window function
        # (rank.slt:142, row_number.slt:63, nth_value.slt:105); Spark's
        # rank-family demands an ORDER BY. A constant ordering keeps
        # aggregate frames whole-partition (all rows are RANGE peers of
        # each other).
        return None if args.text.strip() else f"{m.group(0)}{args.text}ORDER BY 1)"

    sql = rewrite_calls(sql, _LAG_LEAD_RE, offset_one)
    return rewrite_calls(sql, _OVER_RE, constant_order)


def rewrite_exact_count(sql: str) -> str:
    return _rename(sql, _EXACT_COUNT_RE, "count")


def rewrite_selector(sql: str) -> str:
    """topk(col, k)/bottom(col, k) in the projection → col + ORDER BY +
    LIMIT appended to the (single, un-suffixed) SELECT. Parity rules from
    the reference analyzer: exactly one selector per query, no nesting,
    k ∈ [1, 255]."""
    calls = list(iter_calls(sql, _TOPK_RE))
    if not calls:
        return sql
    if len(calls) > 1:
        raise ValueError("only one topk/bottom selector is allowed per query")
    m, args, end = calls[0]
    fn = m.group(1).lower()
    if len(args) != 2:
        raise ValueError(f"{fn} expects exactly 2 arguments")
    col, k_str = args
    try:
        k = int(k_str)
    except ValueError as exc:
        raise ValueError(f"{fn} k must be an integer literal") from exc
    if not 1 <= k <= MAX_K:
        raise ValueError(f"{fn} k must be in [1, {MAX_K}], got {k}")
    if re.search(r"\b(order\s+by|limit)\b", sql, re.I):
        raise ValueError(f"{fn} cannot be combined with ORDER BY/LIMIT")
    body = sql[: m.start()] + col + sql[end:]
    direction = "DESC" if fn == "topk" else "ASC"
    return f"{body.rstrip().rstrip(';')} ORDER BY {col} {direction} NULLS LAST LIMIT {k}"


# ---------------------------------------------------------------------------
# gauge_agg / state_agg / sample SQL surface
#
# Reference: query_server/query/src/extension/expr/aggregate_function/
# {gauge/gauge_agg.rs, state_agg/*.rs, sample.rs} and the scalar accessors
# under extension/expr/scalar_function/. The rewrites below parse the
# composite forms ``accessor(gauge_agg(t, v))``, ``duration_in(state_agg(t,
# s), ...)`` and the bare aggregates, raise the reference's signature
# errors, and splice in the expressions built by functions/gauge.py and
# functions/state.py.
# ---------------------------------------------------------------------------

_GAUGE_ACC_RE = re.compile(
    r"\b(delta|rate|time_delta|first_time|first_val|last_time|last_val|"
    r"idelta_left|idelta_right)\s*\(",
    re.I,
)
_GAUGE_AGG_RE = re.compile(r"\bgauge_agg\s*\(", re.I)
_STATE_ACC_RE = re.compile(r"\b(duration_in|state_at)\s*\(", re.I)
_STATE_AGG_RE = re.compile(r"\b(compact_state_agg|state_agg)\s*\(", re.I)
_SAMPLE_RE = re.compile(r"\bsample\s*\(", re.I)
_ORDER_BY_TAIL = re.compile(r"\s+order\s+by\s+.+$", re.I | re.S)


def _gauge_args(args: CallArgs) -> tuple[str, str] | None:
    """(t, v) of a two-argument ``gauge_agg`` call."""
    if len(args) != 2:
        return None
    if not re.search(r"\btime\b", args[0], re.I):
        # first argument must be the timestamp column
        # (gauge_agg.slt:58 gauge_agg(f0, f0) is a signature error)
        raise ValueError(
            "Error during planning: No function matches the given name and "
            "argument types for gauge_agg — expected (time, value)"
        )
    return args[0], _ORDER_BY_TAIL.sub("", args[1]).strip()


def _state_args(m: re.Match, args: CallArgs) -> tuple[bool, str, str] | None:
    """(compact, t, s) of a two-argument ``[compact_]state_agg`` call."""
    if len(args) != 2:
        return None
    return (
        m.group(1).lower() == "compact_state_agg",
        args[0],
        _ORDER_BY_TAIL.sub("", args[1]).strip(),
    )


def rewrite_gauge(sql: str) -> str:
    """``accessor(gauge_agg(t, v))`` → built-in aggregate expressions;
    a bare ``gauge_agg(t, v)`` → the GaugeData struct
    (first/second/penultimate/last TSPoints + num_elements,
    gauge_agg.rs:22-67). Non-matching arities are left for Spark's
    unresolved-function error (parity with DataFusion's planner errors)."""

    def accessor(m: re.Match, args: CallArgs) -> str | None:
        call = _sole_call(args[0], _GAUGE_AGG_RE) if len(args) == 1 else None
        inner = call and _gauge_args(call[1])
        return inner and gauge.gauge_accessor(m.group(1).lower(), *inner)

    def bare(m: re.Match, args: CallArgs) -> str | None:
        inner = _gauge_args(args)
        return inner and gauge.gauge_agg(*inner)

    sql = rewrite_calls(sql, _GAUGE_ACC_RE, accessor)
    return rewrite_calls(sql, _GAUGE_AGG_RE, bare)


def rewrite_state(sql: str) -> str:
    """``duration_in([compact_]state_agg(t, s), state[, start[, interval]])``
    / ``state_at(state_agg(t, s), ts)`` / bare ``[compact_]state_agg(t, s)``
    → built-in aggregate expressions (state_agg accumulator semantics:
    periods are closed on the left, the final state is a zero-length period
    — state_at at/after the last point is NULL, state_at.slt)."""

    def accessor(m: re.Match, args: CallArgs) -> str | None:
        call = _sole_call(args[0], _STATE_AGG_RE) if len(args) >= 2 else None
        inner = call and _state_args(*call)
        if not inner:
            return None
        compact, t, s = inner
        if m.group(1).lower() == "state_at":
            if compact:
                raise ValueError(
                    "state_at(state_agg, ts) doesn't support compact_agg"
                )
            if len(args) != 2:
                raise ValueError("state_at expects 2 arguments")
            return state.state_at(t, s, args[1])
        if len(args) > 4:
            raise ValueError("duration_in expects 2-4 arguments")
        if compact and len(args) > 2:
            raise ValueError(
                "duration_in(state_agg, state, start_time) doesn't "
                "support compact_agg"
            )
        return state.duration_in(t, s, *args[1:], compact=compact)

    sql = rewrite_calls(sql, _STATE_ACC_RE, accessor)

    def bare(m: re.Match, args: CallArgs) -> str | None:
        inner = _state_args(m, args)
        if not inner:
            return None
        compact, t, s = inner
        return state.state_agg(t, s, compact)

    return rewrite_calls(sql, _STATE_AGG_RE, bare)


def rewrite_sample(sql: str) -> str:
    """``sample(x, n)`` → deterministic md5-keyed n-sample as an array
    aggregate (aggregate_function/sample.rs: reservoir of n; ours orders by
    md5 so engine and oracle agree — documented divergence, SURVEY §2.4).
    n must lie in (1, 2000] (sample.slt's guard records)."""

    def sample(m: re.Match, args: CallArgs) -> str:
        if len(args) != 2:
            raise ValueError("sample expects exactly 2 arguments")
        x, n_str = args
        try:
            n = int(n_str)
        except ValueError as exc:
            raise ValueError("sample n must be an integer literal") from exc
        if not 1 < n <= 2000:
            raise ValueError(f"sample n must be in (1, 2000], got {n}")
        return (
            f"slice(transform(array_sort(transform(collect_list({x}), "
            f"_x -> named_struct('k', md5(cast(_x as string)), 'v', _x))), "
            f"_p -> _p.v), 1, {n})"
        )

    return rewrite_calls(sql, _SAMPLE_RE, sample)


_TIME_INT_CMP = re.compile(
    r"\b(time)\s*(<=|>=|<>|<|>|=|!=)\s*(-?\d+)(?![\d.\w])", re.I
)
# mixed bounds: one side an int literal, the other a string literal —
# DataFusion coerces each independently (type_conversion/timestamp.slt:461)
_TIME_MIXED_BETWEEN = re.compile(
    r"\b(time)\s+(NOT\s+)?BETWEEN\s+(-?\d+|'[^']*')\s+AND\s+(-?\d+|'[^']*')"
    r"(?![\d.\w])",
    re.I,
)


def _ts_bound(lit: str) -> str:
    """Integer time bound → the µs value catalog.insert would store:
    ns-magnitude values (|v| ≥ 1e16) floor-divide by 1000, small values
    are already µs (keeps `time = X`, `time BETWEEN X AND X`, and the
    stored row all consistent)."""
    lit = lit.strip()
    if re.fullmatch(r"-?\d+", lit):
        v = int(lit)
        if abs(v) >= 10_000_000_000_000_000:
            v //= 1000  # floor — matches catalog.insert's decomposition
        return f"timestamp_micros({v})"
    return f"try_cast({lit} AS TIMESTAMP)"


def rewrite_time_int_comparison(sql: str) -> str:
    """``time <op> <integer>`` → epoch-microsecond comparison (Spark's
    native precision; the reference coerces as ns — µs keeps insert and
    comparison consistent at Spark precision, see catalog.insert)."""
    sql = _TIME_INT_CMP.sub(
        lambda m: f"{m.group(1)} {m.group(2)} {_ts_bound(m.group(3))}",
        sql,
    )
    # time BETWEEN <int> AND <int> — same ns-integer coercion; mixed
    # int/string bounds coerce each side independently
    # (type_conversion/timestamp.slt:431-501; an unparseable string bound
    # is NULL via try_cast, matching the plan-then-no-rows behavior)
    return _TIME_MIXED_BETWEEN.sub(
        lambda m: (
            f"{m.group(1)} {m.group(2) or ''}BETWEEN "
            f"{_ts_bound(m.group(3))} AND {_ts_bound(m.group(4))}"
        )
        if re.fullmatch(r"-?\d+", m.group(3).strip())
        or re.fullmatch(r"-?\d+", m.group(4).strip())
        else m.group(0),
        sql,
    )


_CAST_INT_TS = re.compile(
    r"\bCAST\s*\(\s*(-?\d+)\s+AS\s+TIMESTAMP\s*\)", re.I
)
_CAST_RE = re.compile(r"\bCAST\s*\(", re.I)


def rewrite_cast_int_timestamp(sql: str) -> str:
    """``CAST(<int literal> AS TIMESTAMP)`` → nanosecond epoch semantics
    (DataFusion casts int64 to Timestamp(ns); Spark would read seconds).
    Truncated to Spark's µs precision — the documented ns→µs divergence
    (data_type/type_conversion/between.slt:18 expects .263356943, we hold
    .263356)."""

    def ns_cast(m: re.Match, args: CallArgs) -> str | None:
        im = re.fullmatch(r"(-?\d+)\s+AS\s+TIMESTAMP", args.text.strip(), re.I)
        return im and f"timestamp_micros({int(im.group(1)) // 1000})"

    return rewrite_calls(sql, _CAST_RE, ns_cast)


_VALUES_COLN = re.compile(r"\bcolumn(\d+)\b")


def rewrite_values_column_names(sql: str) -> str:
    """DataFusion names VALUES-derived columns ``column1..N``; Spark names
    them ``col1..N`` (dml/insert/insert_select.slt:32). Only applied when
    the query actually contains a VALUES clause, so real columns named
    ``columnN`` in ordinary queries are untouched."""
    if not re.search(r"\(\s*VALUES\s*\(", sql, re.I):
        return sql
    return _VALUES_COLN.sub(lambda m: f"col{m.group(1)}", sql)


# System variables (@@name): the reference registers four read-only vars
# with DataFusion's VarProvider (extension/variable/{cluster_name,
# server_version,deployment_mode,node_id}.rs); any other @@-token is a
# planning error ("variable [..] has no type information").
SYSTEM_VARIABLES = {
    "cluster_name": "'cluster_xxx'",
    "server_version": "'2.4.0'",
    "deployment_mode": "'query_tskv'",
    "node_id": "CAST(1001 AS BIGINT)",  # reference: ScalarValue::UInt64
}

_SYSVAR_RE = re.compile(r"@+\w*")


def rewrite_system_variables(sql: str) -> str:
    """Replace ``@@var`` with its literal value outside string literals;
    raise on unknown/malformed variables like the reference planner."""
    if "@" not in sql:
        return sql
    # split out single-quoted literals so @ inside strings is untouched
    parts = re.split(r"('(?:[^']|'')*')", sql)
    for i in range(0, len(parts), 2):
        def _sub(m: re.Match) -> str:
            tok = m.group(0)
            name = tok.lstrip("@")
            if tok.startswith("@@") and name.lower() in SYSTEM_VARIABLES:
                return SYSTEM_VARIABLES[name.lower()]
            raise ValueError(
                f'variable ["{tok}"] has no type information'
            )
        parts[i] = _SYSVAR_RE.sub(_sub, parts[i])
    return "".join(parts)


_ARRAY_AGG_RE = re.compile(r"\barray_agg\s*\(", re.I)
_APPROX_MEDIAN_RE = re.compile(r"\bapprox_median\s*\(", re.I)
_TO_TS_UNIT_RE = re.compile(
    r"\bto_timestamp_(seconds|millis|micros)\s*\(", re.I
)


def rewrite_double_quoted_identifiers(sql: str) -> str:
    """DataFusion follows ANSI: double quotes delimit IDENTIFIERS
    (tsbench/avg_daily_driving_duration.slt writes ``as "hours driven"``,
    ``"fleet"``); Spark's parser reads them as string literals. Convert
    every double-quoted token (outside single-quoted strings) to backtick
    quoting. ``""`` inside is the ANSI escaped quote."""
    if '"' not in sql:
        return sql
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
        elif ch == '"':
            j = i + 1
            buf: list[str] = []
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        buf.append('"')
                        j += 2
                        continue
                    break
                buf.append(sql[j])
                j += 1
            out.append("`" + "".join(buf) + "`")
            i = j + 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


_DATE_BIN_RE = re.compile(r"\bDATE_BIN\s*\(", re.I)


def rewrite_date_bin(sql: str) -> str:
    """``date_bin(stride, ts[, origin])`` (DataFusion builtin, exercised by
    tsbench/avg_daily_driving_duration.slt:26) → epoch-µs floor arithmetic:
    ts - pmod(ts - origin, stride). pmod keeps the floor correct for
    pre-origin timestamps."""

    def date_bin(m: re.Match, args: CallArgs) -> str:
        if not 2 <= len(args) <= 3:
            raise ValueError("date_bin expects (stride, source[, origin])")
        im = _INTERVAL_RE.match(args[0])
        if not im:
            raise ValueError("date_bin stride must be an interval literal")
        stride_us = int(timeseries._parse_duration(im.group(1)).total_seconds() * 1_000_000)
        ts = args[1]
        origin_us = (
            f"unix_micros(CAST({args[2]} AS TIMESTAMP))" if len(args) == 3 else "0"
        )
        return (
            f"timestamp_micros(unix_micros({ts}) - "
            f"pmod(unix_micros({ts}) - {origin_us}, {stride_us}))"
        )

    return rewrite_calls(sql, _DATE_BIN_RE, date_bin)


_FROM_UNIXTIME_RE = re.compile(r"\bfrom_unixtime\s*\(", re.I)
_LENGTH_RE = re.compile(r"\blength\s*\(", re.I)
_CURRENT_TIME_RE = re.compile(r"\bcurrent_time\s*\(", re.I)


def rewrite_time_fn_parity(sql: str) -> str:
    """DataFusion-27 parity shims for two time functions:

    - ``from_unixtime(<float>)`` is a planning error (from_unixtime.slt:47
      — only integer seconds are accepted);
    - ``length(current_time())`` is a type error (current_time.slt:32 —
      Time has no length), while ``current_time() < '23:59:59'`` works
      (string-comparable); Spark 4's TIME type does neither, so
      current_time() becomes a formatted string after the length guard."""
    for _, args, _ in iter_calls(sql, _FROM_UNIXTIME_RE):
        if _FLOAT_LIT_RE.fullmatch(args.text.strip()):
            raise ValueError(
                "Error during planning: No function matches "
                f"'from_unixtime(Float64)' for literal {args.text.strip()}"
            )
    for _, args, _ in iter_calls(sql, _LENGTH_RE):
        if _CURRENT_TIME_RE.match(args.text.lstrip()):
            raise ValueError(
                "Error during planning: No function matches the given name and "
                "argument types 'length(Time64(Nanosecond))'"
            )
    for _, args, end in iter_calls(sql, _CURRENT_TIME_RE):
        if re.fullmatch(r"\s*\d*\s*", args.text) and re.match(
            r"\s*[+-]\s*interval\b", sql[end:], re.I
        ):
            # current_time.slt:24 — Time ± Interval is a planning error
            raise ValueError(
                "Error during planning: Time64(Nanosecond) + Interval is not supported"
            )

    def time_string(m: re.Match, args: CallArgs) -> str | None:
        if re.fullmatch(r"\s*\d*\s*", args.text):
            return "date_format(current_timestamp(), 'HH:mm:ss.SSSSSS')"
        return None

    return rewrite_calls(sql, _CURRENT_TIME_RE, time_string)


_STARTS_WITH_RE = _call_re("starts_with")
_COVAR_RE = _call_re("covar")
_VAR_RE = _call_re("var")
_MODE_RE = _call_re("mode")
_STRPOS_RE = _call_re("strpos")
_TRUNC_RE = _call_re("trunc")
_TRIM_RE = _call_re("trim")
_GCD_LCM_RE = _call_re("gcd", "lcm")
_LEN_RE = _call_re("len")
_REPLACE_RE = _call_re("replace")
_CHR_RE = _call_re("chr")
_TO_HEX_RE = _call_re("to_hex")
_CONCAT_ANY_RE = _call_re("concat", "concat_ws")
_REPEAT_WRAP_RE = _call_re("repeat", "left", "right")
_NONSTR_LIT = r"-?\d+(\.\d+)?|TRUE|FALSE|(DATE|TIMESTAMP)\s+'[^']*'"
# Utf8-subject functions: (count argument position, negative count allowed)
_STR_SUBJECT_FNS = {
    "substr": (2, False), "substring": (2, False), "left": (1, True),
    "right": (1, True), "split_part": (2, False), "length": (None, True),
    "char_length": (None, True), "character_length": (None, True),
    "translate": (None, True), "lpad": (1, True), "rpad": (1, True),
    "replace": (None, True),
}
_REPEAT_CAP = 4_194_304


def rewrite_fn_aliases(sql: str) -> str:
    """DataFusion fn names → Spark equivalents (same semantics):
    starts_with → startswith (string_func/starts_with.slt),
    covar → covar_samp, var → var_samp (statistical_agg/*.slt),
    1-arg mode → mode(x, true), the lowest value on a tie,
    strpos(str, sub) → locate(sub, str) (string_func/strpos.slt),
    1-arg numeric trunc → toward-zero floor/ceil (math_function/trunc.slt;
    Spark's trunc is the 2-arg date function)."""
    sql = _rename(sql, _STARTS_WITH_RE, "startswith")
    sql = _rename(sql, _COVAR_RE, "covar_samp")
    sql = _rename(sql, _VAR_RE, "var_samp")
    # Spark's 1-arg mode picks any of the tied values
    sql = rewrite_calls(
        sql, _MODE_RE,
        lambda m, args: f"mode({args[0]}, true)" if len(args) == 1 else None,
    )

    def strpos(m: re.Match, args: CallArgs) -> str:
        if len(args) != 2 or re.fullmatch(r"-?\d+(\.\d+)?", args[0]):
            # strpos.slt:64 — a numeric haystack is a signature error
            raise ValueError(
                "Error during planning: strpos expects (string, substring)"
            )
        return f"locate({args[1]}, {args[0]})"

    def trunc(m: re.Match, args: CallArgs) -> str:
        if len(args) != 1:
            # DataFusion-27 trunc is unary (trunc.slt:25 expects an error
            # for the two-argument form)
            raise ValueError("Error during planning: trunc expects 1 argument")
        x = args[0]
        return f"(CASE WHEN ({x}) >= 0 THEN floor({x}) ELSE ceil({x}) END)"

    sql = rewrite_calls(sql, _STRPOS_RE, strpos)
    sql = rewrite_calls(sql, _TRUNC_RE, trunc)
    # DataFusion's trim is unary (ltrim/rtrim DO take a 2nd chars arg —
    # ltrim.slt:88) and the SQL-standard TRIM(BOTH/LEADING/TRAILING …
    # FROM …) form is unsupported (string_func/trim.slt:7,16)
    for _, args, _ in iter_calls(sql, _TRIM_RE):
        if re.match(r"\s*(BOTH|LEADING|TRAILING)\s+FROM\b", args.text, re.I):
            # chars-less spec form errors (trim.slt:16); WITH chars
            # (TRIM(BOTH ' ' FROM x), trim.slt:21) is fine in both engines
            raise ValueError("sql parser error: Expected an expression, found: FROM")
        if not re.match(
            r"\s*(BOTH|LEADING|TRAILING)\b", args.text, re.I
        ) and len(args) > 1:
            raise ValueError("Error during planning: trim expects 1 argument")
    # gcd/lcm are integer-only (gcd.slt:17 gcd(0.5,3); lcm.slt:19 lcm(0,'a'))
    for _, args, _ in iter_calls(sql, _GCD_LCM_RE):
        if any(re.fullmatch(r"-?\d+\.\d*", a) or a.startswith("'") for a in args):
            raise ValueError(
                "Error during planning: gcd/lcm expect integer arguments"
            )
    # Utf8-subject functions with a non-string LITERAL subject are planning
    # errors in DataFusion (substr.slt:92-116, left.slt:145, right.slt:49,
    # split_part.slt:116, length…slt:58); non-integer or negative count
    # args are errors too (left.slt:123, split_part.slt:90,126,
    # substr.slt:72-75). Count-arg rule: left/right take negative counts
    # (left.slt:25 drops from the right) but not fractions; split_part/substr
    # reject both
    for fn, (count_pos, allow_negative) in _STR_SUBJECT_FNS.items():
        for _, fargs, _ in iter_calls(sql, _call_re(fn)):
            if fargs and re.fullmatch(_NONSTR_LIT, fargs[0], re.I):
                raise ValueError(
                    f"Error during planning: {fn} expects a string subject"
                )
            if count_pos is not None and len(fargs) > count_pos:
                carg = fargs[count_pos]
                if re.fullmatch(r"-?\d+\.\d+", carg) or (
                    not allow_negative and re.fullmatch(r"-\d+", carg)
                ):
                    raise ValueError(
                        f"Error during planning: {fn} count must be an integer"
                    )
    # DataFusion has no len() alias (length…slt:4) and concat needs ≥1 arg,
    # concat_ws a separator plus ≥1 value (concat.slt:4, concat_ws.slt:51)
    if next(iter_calls(sql, _LEN_RE), None):
        raise ValueError("Error during planning: no function named len")
    # replace is strictly ternary (replace.slt:192) and chr rejects the
    # NUL code point (chr.slt:14); to_hex is Spark's hex
    for _, args, _ in iter_calls(sql, _REPLACE_RE):
        if len(args) != 3:
            raise ValueError("Error during planning: replace expects 3 arguments")
    for _, args, _ in iter_calls(sql, _CHR_RE):
        if args.text.strip() == "0":
            raise ValueError("Execution error: requires an ASCII code > 0")
    for _, args, _ in iter_calls(sql, _TO_HEX_RE):
        if args.text.strip().upper() == "NULL":
            # to_hex is Int64-only in DataFusion (to_hex.slt:54)
            raise ValueError("Error during planning: to_hex expects an integer")
    # DataFusion's to_hex emits lowercase, Spark's hex uppercase — wrap in
    # lower() for byte-for-byte output parity (to_hex.slt)
    sql = rewrite_calls(sql, _TO_HEX_RE, lambda m, args: f"lower(hex({args.text}))")
    for m, args, _ in iter_calls(sql, _CONCAT_ANY_RE):
        if len(args) < (2 if m.group(1).lower() == "concat_ws" else 1):
            raise ValueError("Error during planning: too few concat arguments")
    # reference transport caps one flight message at 4 MiB — a literal
    # repeat() whose product exceeds it can only ever error
    # (concat.slt:32-47, left.slt:82 "message length too large"), unless a
    # small-count left/right shrinks it below the cap again (left.slt:135
    # LEFT(REPEAT('abc', 10000000), 10) is ok)
    truncated: set[int] = set()
    for m, args, _ in iter_calls(sql, _REPEAT_WRAP_RE):
        if m.group(1).lower() != "repeat":
            if len(args) == 2 and re.fullmatch(r"-?\d+", args[1]) and (
                abs(int(args[1])) <= _REPEAT_CAP
            ):
                truncated.add(m.end() + len(args.text) - len(args.text.lstrip()))
            continue
        lit = re.fullmatch(r"'([^']*)'", args[0]) if len(args) == 2 else None
        if (
            lit and re.fullmatch(r"\d+", args[1])
            and len(lit.group(1)) * int(args[1]) > _REPEAT_CAP
            and m.start() not in truncated
        ):
            raise ValueError(
                "Error, message length too large: the limit is: 4194304 bytes"
            )
    return sql


_APPROX_PERCENTILE_RE = _call_re(
    "approx_percentile_cont_with_weight", "approx_percentile_cont",
    "approx_percentile",
)
_APPROX_PERCENTILE_CONT_RE = _call_re("approx_percentile_cont")


def rewrite_approx_percentile(sql: str) -> str:
    """approx_percentile_cont(x, p[, centroids]) → Spark approx_percentile
    (same t-digest family; approx_percentile_cont_with_weight.slt:94 uses
    the 3-arg form). A literal percentile outside [0,1] is a planning error
    for both the plain and weighted variants (…_with_weight.slt:62-65)."""
    for m, args, _ in iter_calls(sql, _APPROX_PERCENTILE_RE):
        p_idx = 2 if m.group(1).lower().endswith("_with_weight") else 1
        p = args[p_idx] if len(args) > p_idx else ""
        if re.fullmatch(r"-?\d+(\.\d+)?", p) and not 0.0 <= float(p) <= 1.0:
            raise ValueError(
                "Error during planning: Percentile value must be "
                f"between 0.0 and 1.0 inclusive, {p} is invalid"
            )
    return _rename(sql, _APPROX_PERCENTILE_CONT_RE, "approx_percentile")


def rewrite_approx_median(sql: str) -> str:
    """approx_median(x) → approx_percentile(x, 0.5)
    (approx_agg/approx_median.slt; both are t-digest-family sketches)."""
    return rewrite_calls(
        sql, _APPROX_MEDIAN_RE,
        lambda m, args: f"approx_percentile({args.text}, 0.5)",
    )


_BARE_TO_TS_RE = re.compile(r"\bto_timestamp\s*\(", re.I)
_INT_LIT_RE = re.compile(r"^-?\d+$")
_FLOAT_LIT_RE = re.compile(r"^-?(?:\d+\.\d*|\.\d+)(?:[eE][+-]?\d+)?$|^-?\d+[eE][+-]?\d+$")


def rewrite_bare_to_timestamp(sql: str) -> str:
    """``to_timestamp(x)`` with an integer counts epoch NANOSECONDS in the
    reference's DataFusion 27 (to_timestamp.slt:30 → 1970-01-01T00:00:01.67…
    for 1672538600); Spark's counts seconds. Floats are a parse error
    (to_timestamp.slt:36). Integer literals are rewritten at µs precision;
    non-literal args get a try-string/try-int fallback chain."""

    def to_timestamp(m: re.Match, args: CallArgs) -> str | None:
        arg = args.text.strip()
        if _INT_LIT_RE.fullmatch(arg):
            return f"timestamp_micros({int(arg) // 1000})"
        if _FLOAT_LIT_RE.fullmatch(arg):
            raise ValueError(
                f"Arrow: Parser error: Error parsing timestamp from '{arg}': "
                "error parsing date"
            )
        if arg.startswith("'"):
            return None  # string literal: Spark's parser already matches
        # unparseable non-null input is a RUNTIME parse error in the
        # reference (to_timestamp.slt:47 'invalid-date' string row), not
        # a NULL — the raise_error arm fires only when both parse paths
        # miss (coalesce evaluates lazily)
        return (
            f"coalesce(try_to_timestamp(cast(({arg}) as string)), "
            f"timestamp_micros(try_cast(({arg}) as bigint) div 1000), "
            f"CASE WHEN ({arg}) IS NOT NULL THEN raise_error(concat("
            f"'Arrow: Parser error: Error parsing timestamp from ', "
            f"cast(({arg}) as string), ': error parsing date')) END)"
        )

    return rewrite_calls(sql, _BARE_TO_TS_RE, to_timestamp)


def rewrite_to_timestamp_unit(sql: str) -> str:
    """to_timestamp_{seconds,millis,micros}(x) (time_functions/*.slt):
    strings parse as timestamps, integers count epoch units; the result
    truncates to the unit — all expressible with Spark's timestamp_<unit>
    + unix_<unit> builtins (stays in whole-stage codegen)."""

    def unit_timestamp(m: re.Match, args: CallArgs) -> str:
        unit, x = m.group(1).lower(), args.text
        if _FLOAT_LIT_RE.fullmatch(x.strip()):
            # to_timestamp_seconds.slt:60 — float input is a planning error
            raise ValueError(
                f"Error during planning: to_timestamp_{unit} expects an "
                "integer or string"
            )
        parsed = (
            f"coalesce(try_to_timestamp(cast(({x}) as string)), "
            f"timestamp_{unit}(try_cast(({x}) as bigint)), "
            f"CASE WHEN ({x}) IS NOT NULL THEN raise_error(concat("
            f"'Arrow: Parser error: Error parsing timestamp from ', "
            f"cast(({x}) as string), ': error parsing date')) END)"
        )
        if unit == "micros":
            return parsed  # TimestampType is already µs-precision
        return f"timestamp_{unit}(unix_{unit}({parsed}))"

    return rewrite_calls(sql, _TO_TS_UNIT_RE, unit_timestamp)


def rewrite_array_agg_order(sql: str) -> str:
    """array_agg(expr ORDER BY key [ASC|DESC]) — Spark's array_agg takes no
    ORDER BY; rewrite to the struct-sort idiom (sort by key, project the
    value), which keeps the aggregation map-side combinable."""

    def sorted_agg(m: re.Match, args: CallArgs) -> str | None:
        om = re.match(
            r"(.+?)\s+ORDER\s+BY\s+(.+?)\s*(ASC|DESC)?\s*$",
            args.text, re.I | re.S,
        )
        if not om:
            return None
        expr, key, direction = om.group(1), om.group(2), (om.group(3) or "ASC")
        agg = f"array_sort(array_agg(struct({key} AS _k, {expr} AS _v)))"
        if direction.upper() == "DESC":
            agg = f"reverse({agg})"
        return f"transform({agg}, s -> s._v)"

    return rewrite_calls(sql, _ARRAY_AGG_RE, sorted_agg)


_LIKE_LIT = re.compile(r"((?:NOT\s+)?I?LIKE\s*\(?\s*)('(?:[^']|'')*')", re.I)


def escape_like_pattern_backslashes(sql: str) -> str:
    """A lone backslash in a LIKE pattern literal is a PLAIN character in
    DataFusion but Spark's LIKE compiler rejects it ('escape character is
    not allowed to precede ...', sqlancer/select.slt:2483). Double it at
    the PATTERN level (escape_literal_backslashes then doubles again for
    the parser, netting an escaped-backslash pattern = literal match)."""
    if "\\" not in sql:
        return sql
    return _LIKE_LIT.sub(
        lambda m: m.group(1) + m.group(2).replace("\\", "\\\\"), sql
    )


def escape_literal_backslashes(sql: str) -> str:
    """DataFusion treats a backslash inside a string literal as a plain
    character; Spark's parser treats it as an escape. Double every
    backslash inside single-quoted literals so the value Spark parses is
    byte-identical to the reference's (type_conversion/between.slt writes
    tags like ``'}\\'``). Applied only on the spark.sql-bound path — the
    engine's own literal extraction (COPY urls, DCL) sees the original."""
    if "\\" not in sql:
        return sql
    parts = re.split(r"('(?:[^']|'')*')", sql)
    for i in range(1, len(parts), 2):
        parts[i] = parts[i].replace("\\", "\\\\")
    return "".join(parts)


_NUM_LIT = re.compile(r"(?<![\w.\"'])-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?(?![\w.])")


def rewrite_overflow_decimal_literals(sql: str) -> str:
    """Numeric literals wider than decimal(38) parse as Float64 in the
    reference (sqlancer/function.slt inserts 40+-digit fractions); Spark
    raises DECIMAL_PRECISION_EXCEEDS_MAX_PRECISION. Rewrite any literal
    with more than 38 significant digits to its shortest round-trip double
    form, skipping string literals."""
    parts = re.split(r"('(?:[^']|'')*')", sql)
    for i in range(0, len(parts), 2):
        if not parts[i]:
            continue

        def _sub(m: re.Match) -> str:
            tok = m.group(0)
            digits = sum(c.isdigit() for c in tok.split("e")[0].split("E")[0])
            if digits <= 38:
                return tok
            return repr(float(tok))

        parts[i] = _NUM_LIT.sub(_sub, parts[i])
    return "".join(parts)


_NTH_VALUE_RE = re.compile(r"\bnth_value\s*\(", re.I)
_ARROW_TYPEOF_RE = _call_re("arrow_typeof")
_CURRENT_DATE_RE = _call_re("current_date")
_RANDOM_RE = _call_re("random")
_MAP_RE = _call_re("MAP")
_RANK_FAMILY_RE = _call_re(
    "rank", "dense_rank", "percent_rank", "cume_dist", "row_number"
)


def rewrite_misc_parity(sql: str) -> str:
    """Small DataFusion dialect shims exercised by the corpus:

    - ``ARRAY[1,2,3]`` literal syntax → ``array(1,2,3)`` (nth_value.slt:227)
    - ``arrow_typeof(x)`` → Spark ``typeof(x)`` (current_date.slt:31)
    - ``current_date() ± <int>`` is a planning error (current_date.slt:34)
    - ``random(<args>)`` is nullary (random.slt:26)
    - nth_value's offset: fractions error, negatives read from the end —
      approximated as 1 (nth_value.slt:252,262)"""
    sql = re.sub(
        r"\bARRAY\s*\[([^\]]*)\]", lambda m: f"array({m.group(1)})", sql, flags=re.I
    )
    sql = _rename(sql, _ARROW_TYPEOF_RE, "typeof")
    for _, args, end in iter_calls(sql, _CURRENT_DATE_RE):
        if not args.text.strip() and re.match(r"\s*[+-]\s*\d", sql[end:]):
            raise ValueError("Error during planning: Date32 + Int64 is not supported")
    for _, args, _ in iter_calls(sql, _RANDOM_RE):
        if args:
            raise ValueError("Error during planning: random takes no arguments")
    # DataFusion has no MAP constructor (nth_value.slt:232,
    # first_value.slt:240 expect planning errors)
    if next(iter_calls(sql, _MAP_RE), None):
        raise ValueError("Error during planning: no function named map")
    # rank-family window functions are nullary (dense_rank.slt:173)
    for m, args, _ in iter_calls(sql, _RANK_FAMILY_RE):
        if args:
            raise ValueError(
                f"Error during planning: {m.group(1)} takes no arguments"
            )

    def nth_value(m: re.Match, args: CallArgs) -> str | None:
        if len(args) != 2:
            return None
        if re.fullmatch(r"-?\d+\.\d+", args[1]):
            raise ValueError(
                "Error during planning: nth_value offset must be an integer"
            )
        if re.fullmatch(r"-\d+", args[1]):
            return f"nth_value({args[0]}, 1)"
        return None

    return rewrite_calls(sql, _NTH_VALUE_RE, nth_value)


_STR_EDGE_RE = re.compile(
    r"\b(ltrim|rtrim|split_part|replace|left|right)\s*\(", re.I
)


def rewrite_string_fn_edge_cases(sql: str) -> str:
    """DataFusion string-fn semantics Spark renders differently:
    - 2-arg ltrim/rtrim is (str, trimChars) — Spark's deprecated 2-arg
      form is (trimChars, str), so the args swap (ltrim.slt:89);
    - split_part with an empty literal delimiter returns ''
      (split_part.slt:86; Spark returns the whole string);
    - replace with an empty literal search interleaves the replacement
      between every character (replace.slt:92);
    - left/right with a negative literal count drop from the other end
      (left.slt:25 LEFT('Hello', -1) → 'Hell'; Spark returns '')."""

    def edge_case(m: re.Match, args: CallArgs) -> str | None:
        fn = m.group(1).lower()
        if fn in ("ltrim", "rtrim") and len(args) == 2:
            return f"{fn}({args[1]}, {args[0]})"
        if fn == "split_part" and len(args) == 3 and args[1] == "''":
            return f"(CASE WHEN ({args[0]}) IS NULL THEN CAST(NULL AS STRING) ELSE '' END)"
        if fn == "replace" and len(args) == 3 and args[1] == "''":
            s, r = args[0], args[2]
            # NULL guard: the inner concat is later converted to
            # NULL-skipping concat_ws('') by rewrite_concat_null_skip,
            # which would turn replace(NULL, '', r) into r instead of NULL
            body = (
                f"concat({r}, array_join(transform("
                f"filter(split({s}, ''), _c -> _c <> ''), "
                f"_c -> concat(_c, {r})), ''))"
            )
            return (
                f"(CASE WHEN ({s}) IS NULL OR ({r}) IS NULL "
                f"THEN CAST(NULL AS STRING) ELSE {body} END)"
            )
        if fn not in ("left", "right") or len(args) != 2:
            return None
        if re.fullmatch(r"-\d+", args[1]):
            # clamp to i32 so the substr arithmetic stays INT-safe; any
            # clamped drop-count already exceeds every string length
            n = min(-int(args[1]), 2147483646)
            if fn == "left":
                return (
                    f"substr({args[0]}, 1, "
                    f"greatest(char_length({args[0]}) - {n}, 0))"
                )
            return f"substr({args[0]}, {n} + 1)"
        if re.fullmatch(r"\d+", args[1]) and int(args[1]) > 2147483647:
            # DataFusion's count arg is Int64; a count beyond i32 (and any
            # string length) means the whole string — Spark's INT cast
            # would overflow
            return f"{fn}({args[0]}, 2147483647)"
        return None

    return rewrite_calls(sql, _STR_EDGE_RE, edge_case)


_FLOAT_MATH_RE = re.compile(r"\b(signum|ln|log10|log2)\s*\(", re.I)


_FOLD_INT_PAIR = re.compile(
    r"\(\s*\(\s*(-?\d+)\s*\)\s*([+*/%-])\s*\(\s*(-?\d+)\s*\)\s*\)"
)

_PAREN_RE = re.compile(r"\(")
_I64_MASK = (1 << 64) - 1


def _wrap_i64(v: int) -> int:
    v &= _I64_MASK
    return v - (1 << 64) if v >= (1 << 63) else v


def _trunc_div(a: int, b: int) -> int:
    # Rust i64 division truncates toward zero; Python // floors
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def rewrite_fuzzer_arith_parity(sql: str) -> str:
    """DataFusion-27 arithmetic-kernel parity for the sqlancer corpora
    (sqlancer/{select,function}.slt), where Spark's ANSI runtime errors
    but the reference evaluates permissively:

    - ``((<int>) op (<int>))`` literal pairs are constant-folded in Python
      with the reference's semantics: Int64 typing (Spark types a small
      literal Int32, so ``(-1424580636)*(1068537236)`` raises
      ARITHMETIC_OVERFLOW where DataFusion's i64 product fits —
      select.slt:2298), *wrapping* overflow (arrow-rs non-checked kernels:
      ``((9223372036854775807)-(-1826088151))`` wraps — select.slt:760),
      truncate-toward-zero division, and NULL on a zero divisor
      (arrow divide_opt — select.slt:229 expects rows, not an error).
      The fuzzer always fully parenthesizes, so requiring the outer parens
      keeps the fold precedence-safe anywhere it fires.
    - ``(X)/(Y)`` with non-literal operands → ``try_divide`` (NULL on a
      zero divisor like divide_opt, instead of Spark's DIVIDE_BY_ZERO —
      select.slt:750 TLP partitions stay count-exact under NULL).
      ``%`` is untouched: DataFusion's modulo DOES raise "Divide by zero
      error" (select.slt:3125), which Spark's REMAINDER_BY_ZERO matches
      at the error-classification level.
    """
    pos = 0
    while True:
        m = _FOLD_INT_PAIR.search(sql, pos)
        if not m:
            break
        a, op, b = int(m.group(1)), m.group(2), int(m.group(3))
        if op == "+":
            r = str(_wrap_i64(a + b))
        elif op == "-":
            r = str(_wrap_i64(a - b))
        elif op == "*":
            r = str(_wrap_i64(a * b))
        elif op == "/":
            # wrap: i64::MIN / -1 overflows to i64::MIN in the
            # non-checked arrow kernel
            r = "NULL" if b == 0 else str(_wrap_i64(_trunc_div(a, b)))
        elif b == 0:  # reference modulo-by-zero raises — leave to Spark
            pos = m.end()
            continue
        else:  # %
            # Rust rem: dividend's sign; wrap keeps i64::MIN % -1 == 0
            r = str(_wrap_i64(a - _wrap_i64(_trunc_div(a, b)) * b))
        sql = sql[: m.start()] + f"({r})" + sql[m.end():]
        pos = 0  # folds can cascade outward (((a)op(b))op(c))

    # (X) op (Y) → try_divide/try_multiply/try_add/try_subtract: scan for
    # an arithmetic operator flanked by ')' ... '(' (the fuzzer's fully
    # parenthesized style — this shape appears nowhere else in the corpus
    # except tpch's no-overflow decimal products, where try_multiply is
    # value-identical). Precedence guards keep the infix→call conversion
    # from re-associating mixed-precedence chains; same-precedence chains
    # re-associate correctly because the scan resumes after the call text.
    _TRY_FN = {"/": "try_divide", "*": "try_multiply",
               "+": "try_add", "-": "try_subtract"}
    i = 0
    while i < len(sql):
        ch = sql[i]
        if ch in ("'", '"'):
            q = ch
            i += 1
            while i < len(sql) and sql[i] != q:
                i += 1
            i += 1
            continue
        if ch not in _TRY_FN:
            i += 1
            continue
        lp = i - 1
        while lp >= 0 and sql[lp].isspace():
            lp -= 1
        rp = i + 1
        while rp < len(sql) and sql[rp].isspace():
            rp += 1
        if lp < 0 or sql[lp] != ")" or rp >= len(sql) or sql[rp] != "(":
            i += 1
            continue
        # balanced-walk back over the left parenthesized operand
        depth, ls = 0, lp
        while ls >= 0:
            if sql[ls] == ")":
                depth += 1
            elif sql[ls] == "(":
                depth -= 1
                if depth == 0:
                    break
            ls -= 1
        if ls < 0:
            i += 1
            continue
        # a function call's argument list: include the callee name (and a
        # qualified prefix) so sum(x)/(y) keeps its whole left operand
        while ls > 0 and (sql[ls - 1].isalnum() or sql[ls - 1] in "_."):
            ls -= 1
        # precedence guards: a tighter-binding neighbor owns an operand
        pb = ls - 1
        while pb >= 0 and sql[pb].isspace():
            pb -= 1
        prev_op = sql[pb] if pb >= 0 else ""
        if prev_op in "*/%" or (ch in "+-" and prev_op in "+-"):
            i += 1
            continue
        _, _, re_ = next(iter_calls(sql, _PAREN_RE, rp))
        if ch in "+-":
            nx = re_
            while nx < len(sql) and sql[nx].isspace():
                nx += 1
            if nx < len(sql) and sql[nx] in "*/%":
                i += 1
                continue
        left, right = sql[ls:lp + 1], sql[rp:re_]
        if ch == "/":
            repl = f"try_divide({left}, {right})"
        else:
            # arrow-rs non-checked kernels WRAP on i64 overflow
            # (function.slt:2480/2497 expect the wrapped value's rows):
            # try_op is NULL exactly on integer overflow (or NULL input),
            # then the DECIMAL(38,0) mod-2^64 fallback reproduces the
            # two's-complement result; (2^63)^2 < 10^38 so the product
            # fits DECIMAL(38,0)
            ldec = f"try_cast({left} AS DECIMAL(38,0))"
            rdec = f"try_cast({right} AS DECIMAL(38,0))"
            wrap = (
                f"CAST(pmod({ldec} {ch} {rdec} + 9223372036854775808, "
                f"CAST('18446744073709551616' AS DECIMAL(38,0))) "
                f"- 9223372036854775808 AS BIGINT)"
            )
            repl = f"coalesce({_TRY_FN[ch]}({left}, {right}), {wrap})"
        sql = sql[:ls] + repl + sql[re_:]
        i = ls + len(repl)
    return sql


_F32_MATH_RE = re.compile(r"\b(log|atan2)\s*\(", re.I)


def rewrite_f32_math(sql: str, int_fields: set[str]) -> str:
    """DataFusion-27 signature parity for log/atan2, whose candidate lists
    put Float32 FIRST (log.slt / atan2.slt error texts pin the order):
    integer arguments coerce to Float32, so log(bigint) and
    atan2(int, int) produce f32 results (log.slt:48 renders 0.30102998,
    atan2.slt:8 renders 1.1071488). Single-arg log is also LOG BASE 10 in
    DataFusion (log.slt:6: log(1e-12) = -12), not Spark's natural log.
    Double-typed arguments keep the Float64 path (rewritten to log10 and
    picked up by rewrite_float_math_parity's Rust-f64 semantics)."""
    intset = {f.lower() for f in int_fields}

    def is_int(a: str) -> bool:
        a = a.strip()
        if re.fullmatch(r"[+-]?\d+", a):
            return True
        return a.split(".")[-1].strip('"').lower() in intset

    def f32(m: re.Match, args: CallArgs) -> str | None:
        fn = m.group(1).lower()
        if fn == "log" and len(args) == 1:
            x = args[0]
            if not is_int(x):
                return f"log10({x})"
            xd = f"CAST(({x}) AS DOUBLE)"
            return (
                f"(CASE WHEN {xd} IS NULL THEN CAST(NULL AS FLOAT) "
                f"WHEN isnan({xd}) OR {xd} < 0.0 THEN CAST('NaN' AS FLOAT) "
                f"WHEN {xd} = 0.0 THEN CAST('-Infinity' AS FLOAT) "
                f"ELSE CAST(log10({xd}) AS FLOAT) END)"
            )
        if fn == "atan2" and len(args) == 2 and all(is_int(a) for a in args):
            a, b = args
            return (
                f"CAST(atan2(CAST(({a}) AS DOUBLE), "
                f"CAST(({b}) AS DOUBLE)) AS FLOAT)"
            )
        return None

    return rewrite_calls(sql, _F32_MATH_RE, f32)


_ASINH_RE = re.compile(r"\basinh\s*\(", re.I)


def rewrite_asinh_stable(sql: str) -> str:
    """Spark's asinh evaluates ln(x + sqrt(x²+1)) directly, which loses
    ~7 digits to cancellation for large NEGATIVE x (asinh.slt:14:
    round(asinh(-1000000), 10) must be -14.5086577385, Spark's builtin
    yields -14.5086501241). Rust's asinh is odd-symmetric and stable —
    mirror negatives through the positive branch."""

    def stable(y: str) -> str:
        # |y| < 1: ln(1+t) cancellation → log1p form; |y| >= 1 the
        # direct ln(y + sqrt(y²+1)) (= Spark's asinh) is stable
        return (
            f"(CASE WHEN {y} < 1.0 THEN "
            f"log1p({y} + {y} * {y} / (1.0 + sqrt({y} * {y} + 1.0))) "
            f"ELSE asinh({y}) END)"
        )

    def odd_symmetric(m: re.Match, args: CallArgs) -> str | None:
        if len(args) != 1:
            return None
        x = f"CAST(({args[0]}) AS DOUBLE)"
        return f"(CASE WHEN {x} < 0.0 THEN -{stable(f'(-{x})')} ELSE {stable(x)} END)"

    return rewrite_calls(sql, _ASINH_RE, odd_symmetric)


def rewrite_float_math_parity(sql: str) -> str:
    """Rust-f64 semantics for signum and the log family
    (math_function/{signum,log10,log2}.slt; Rust f64::signum(+0.0) = 1.0
    and ln/log10/log2 of 0 → -inf, of negatives → NaN) — Spark returns
    0.0 / NULL respectively."""

    def rust_f64(m: re.Match, args: CallArgs) -> str | None:
        if len(args) != 1:
            return None  # 2-arg log(base, x) etc: leave to Spark
        fn, x = m.group(1).lower(), f"CAST(({args[0]}) AS DOUBLE)"
        if fn == "signum":
            return (
                f"(CASE WHEN {x} IS NULL THEN CAST(NULL AS DOUBLE) "
                f"WHEN isnan({x}) THEN {x} "
                f"WHEN {x} >= 0.0 THEN 1.0D ELSE -1.0D END)"
            )
        return (
            f"(CASE WHEN {x} IS NULL THEN CAST(NULL AS DOUBLE) "
            f"WHEN isnan({x}) OR {x} < 0.0 THEN CAST('NaN' AS DOUBLE) "
            f"WHEN {x} = 0.0 THEN CAST('-Infinity' AS DOUBLE) "
            f"ELSE {fn}({x}) END)"
        )

    return rewrite_calls(sql, _FLOAT_MATH_RE, rust_f64)


# pmod, not %: pre-1970 timestamps have negative unix_micros and the
# seconds-within-minute extraction must stay in [0, 60) (date_part.slt
# mixes 1969 rows — % would emit -56000 where the reference shows 0)
_SUBSEC_EXPR = {
    "millisecond": "(pmod(unix_micros(CAST({x} AS TIMESTAMP)), 60000000) div 1000)",
    "microsecond": "pmod(unix_micros(CAST({x} AS TIMESTAMP)), 60000000)",
    "nanosecond": "(pmod(unix_micros(CAST({x} AS TIMESTAMP)), 60000000) * 1000)",
    "epoch": "(unix_micros(CAST({x} AS TIMESTAMP)) / 1000000.0)",
    # postgres dow: Sunday=0..Saturday=6 (date_part.slt:128); Spark's
    # dayofweek is 1-based Sunday=1
    "dow": "(dayofweek(CAST({x} AS TIMESTAMP)) - 1)",
}
_EXTRACT_RE = _call_re("extract", "date_part")
_DATE_TRUNC_RE = _call_re("date_trunc")
_DATE_TRUNC_UNITS = {
    "year", "quarter", "month", "week", "day", "hour", "minute", "second",
}


def rewrite_extract_parts(sql: str) -> str:
    """DataFusion's extract/date_part add postgres' sub-second fields —
    millisecond/microsecond/nanosecond are seconds-within-minute scaled,
    epoch is float seconds (extract.slt:102-152, date_part.slt:105-155);
    Spark's EXTRACT has none of them. Also: an invalid date_trunc unit is a
    planning error, not null (date_trunc.slt:109)."""

    def subsecond(m: re.Match, args: CallArgs) -> str | None:
        if m.group(1).lower() == "extract":
            um = re.match(r"\s*(\w+)\s+FROM\s+", args.text, re.I)
        else:
            um = re.match(r"\s*'(\w+)'\s*,\s*", args.text)
        tpl = um and _SUBSEC_EXPR.get(um.group(1).lower())
        return tpl and tpl.format(x=args.text[um.end() :].strip())

    sql = rewrite_calls(sql, _EXTRACT_RE, subsecond)
    for _, args, _ in iter_calls(sql, _DATE_TRUNC_RE):
        dm = re.match(r"\s*'(\w+)'", args.text)
        if dm and dm.group(1).lower() not in _DATE_TRUNC_UNITS:
            raise ValueError(
                f"Error during planning: unsupported date_trunc unit {dm.group(1)!r}"
            )
    return sql


_CORR_RE = re.compile(r"\bcorr\s*\(", re.I)


def rewrite_corr(sql: str) -> str:
    """corr(x, y) → pairwise-guard formula (statistical_agg/corr.slt):
    DataFusion returns 0.0 for zero-variance inputs (corr(1,2) → 0.0,
    corr.slt:20-22) and NULL when no complete pair exists (corr(f1,f3) →
    NULL, corr.slt:55) — Spark's corr raises DIVIDE_BY_ZERO under ANSI.
    covar_pop is already pairwise; the stddevs are pairwise-filtered so
    differing null patterns can't skew the ratio."""

    def corr(m: re.Match, args: CallArgs) -> str:
        if len(args) != 2:
            raise ValueError(
                "Error during planning: The function Correlation expects 2 "
                f"arguments, but {len(args)} were provided"
            )
        x, y = args
        xp = f"CASE WHEN ({y}) IS NOT NULL THEN CAST(({x}) AS DOUBLE) END"
        yp = f"CASE WHEN ({x}) IS NOT NULL THEN CAST(({y}) AS DOUBLE) END"
        denom = f"(stddev_pop({xp}) * stddev_pop({yp}))"
        return (
            f"(CASE WHEN count({xp}) = 0 OR count({yp}) = 0 "
            f"THEN CAST(NULL AS DOUBLE) "
            f"WHEN {denom} = 0 THEN 0.0 "
            f"ELSE covar_pop(CAST(({x}) AS DOUBLE), CAST(({y}) AS DOUBLE)) "
            f"/ {denom} END)"
        )

    return rewrite_calls(sql, _CORR_RE, corr)


_CONCAT_RE = re.compile(r"\bconcat\s*\(", re.I)


def rewrite_concat_null_skip(sql: str) -> str:
    """DataFusion's concat SKIPS NULL arguments (concat.slt:146:
    CONCAT('-','1',NULL,'2','3') → '-123'); Spark's concat propagates NULL.
    concat_ws('') has exactly the skip-NULL semantics. concat_ws itself is
    untouched (the \\bconcat\\( pattern can't match 'concat_ws(')."""
    return rewrite_calls(
        sql, _CONCAT_RE, lambda m, args: f"concat_ws('', {args.text})"
    )


# CAST without a word boundary: try_cast( matches too
_ANY_CAST_RE = re.compile(r"CAST\s*\(", re.I)
_BOOL_PREDICATE_RE = _call_re("starts_with", "ends_with", "startswith", "endswith")


def rewrite_bool_string_cast(sql: str) -> str:
    """CAST(<boolean predicate fn> AS STRING) renders '0'/'1' in the
    reference dialect (type_conversion/between.slt:34, string_func/
    ascii.slt:87) — not Spark's 'false'/'true'. Covers the syntactically
    detectable producers (starts_with/ends_with); boolean *columns* are
    handled schema-aware in Engine._coerce_bool_string_args."""

    def bool_cast(m: re.Match, args: CallArgs) -> str | None:
        fm, _, end = next(iter_calls(args.text, _BOOL_PREDICATE_RE), (None, None, 0))
        # only rewrite CAST(fn(...) AS STRING) — the fn call must span the
        # whole cast operand
        if not fm or args.text[: fm.start()].strip() or not re.fullmatch(
            r"\s*AS\s+(STRING|VARCHAR|TEXT)\s*", args.text[end:], re.I
        ):
            return None
        return f"CAST(CAST({args.text[fm.start() : end]} AS INT) AS STRING)"

    return rewrite_calls(sql, _ANY_CAST_RE, bool_cast)


_FLOAT_LIT = r"-?(?:\d+\.\d*|\.\d+)(?:[eE][+-]?\d+)?"
_TO_TS_ANY_RE = re.compile(r"\bto_timestamp\w*\s*\(", re.I)
_LOG_FAMILY_RE = _call_re("ln", "log10", "log2", "log")
_SUM_AVG_RE = _call_re("SUM", "AVG")


def _check_unsupported_casts(sql: str) -> None:
    """DataFusion cast-support parity (sqlancer/function.slt):
    Float64 → Timestamp is unsupported (:1522), Timestamp → Float64 is
    unsupported (:2041), and chr() of a code point beyond the encoding is
    an execution error (:2267). Spark would silently do all three."""
    casts = list(iter_calls(sql, _ANY_CAST_RE))
    for _, args, _ in casts:
        if re.match(_FLOAT_LIT + r"\s+AS\s+TIMESTAMP\b", args.text.strip(), re.I):
            raise ValueError(
                "This feature is not implemented: Unsupported CAST from "
                "Float64 to Timestamp(Nanosecond, None)"
            )
    for _, args, _ in casts:
        operand = args.text.strip()
        fm, _, end = next(iter_calls(operand, _TO_TS_ANY_RE), (None, None, 0))
        if re.fullmatch(r"time\s+AS\s+(DOUBLE|FLOAT|REAL)\s*", operand, re.I) or (
            fm and fm.start() == 0
            and re.search(r"AS\s+(DOUBLE|FLOAT|REAL)\s*$", operand[end:], re.I)
        ):
            raise ValueError(
                "This feature is not implemented: Unsupported CAST from "
                "Timestamp(Nanosecond, None) to Float64"
            )
    for _, args, _ in iter_calls(sql, _CHR_RE):
        if re.fullmatch(r"-?\d+", args.text.strip()) and not (
            0 <= int(args.text) <= 0x10FFFF
        ):
            raise ValueError(
                "Execution error: requested character too large for encoding."
            )
    # the log family rejects the timestamp column (ln.slt:23 expects a
    # planning error; the float-math rewrite would otherwise cast it)
    for _, args, _ in iter_calls(sql, _LOG_FAMILY_RE):
        if re.fullmatch(r"(?:\w+\.)?time", args.text.strip(), re.I):
            raise ValueError(
                "Error during planning: No function matches the given name and "
                "argument types for log over Timestamp(Nanosecond, None)"
            )
    # DataFusion's simplify_expressions folds constants EAGERLY, so an
    # invalid string→boolean cast errors even in a dead AND branch
    # (sqlancer/select.slt:3466) — Spark would fold the branch away first
    for _, args, _ in casts:
        # constant-folded float→string→boolean (select.slt:3466)
        fm = re.fullmatch(
            r"CAST\s*\(\s*(" + _FLOAT_LIT + r")\s+AS\s+(?:STRING|VARCHAR)\s*\)"
            r"\s+AS\s+BOOLEAN",
            args.text.strip(), re.I,
        )
        if fm:
            raise ValueError(
                f"Arrow error: Cast error: Cannot cast value '{fm.group(1)}' "
                "to value of Boolean type"
            )
    for _, args, _ in casts:
        lm = re.fullmatch(r"'([^']*)'\s+AS\s+BOOLEAN", args.text.strip(), re.I)
        if lm and lm.group(1).strip().lower() not in (
            "true", "false", "t", "f", "yes", "no", "y", "n", "1", "0",
            "on", "off",
        ):
            raise ValueError(
                f"Arrow error: Cast error: Cannot cast value '{lm.group(1)}' "
                "to value of Boolean type"
            )
    # SUM/AVG over a string literal (unary +/- is identity on Utf8 in
    # DataFusion, so SUM(+('-991419863')) is a Sum-of-Utf8 planning error,
    # sqlancer/select.slt:1091); Spark would coerce the string to double
    for m, args, _ in iter_calls(sql, _SUM_AVG_RE):
        inner = args.text.strip()
        while True:
            stripped = re.sub(r"^[+\-]\s*", "", inner).strip()
            if stripped != inner:
                inner = stripped
                continue
            if (
                inner.startswith("(")
                and inner.endswith(")")
                and _balanced(inner[1:-1])
            ):
                inner = inner[1:-1].strip()
                continue
            break
        if re.fullmatch(r"'[^']*'", inner):
            raise ValueError(
                f"Error during planning: The function {m.group(1).title()} "
                "does not support inputs of type Utf8."
            )
    # duplicate identical ORDER BY expressions are a planning error
    # ("Projections require unique expression names",
    # sqlancer/select.slt:3068)
    top_ob = None
    for om in re.finditer(r"\bORDER\s+BY\s+", sql, re.I):
        # only the statement-level ORDER BY (paren depth 0) — not the ones
        # inside OVER(...) or subqueries
        if _balanced(sql[: om.start()]):
            top_ob = om
    if top_ob:
        tail = sql[top_ob.end():]
        tm = re.search(r"\bLIMIT\b|\bOFFSET\b|;", tail, re.I)
        if tm:
            tail = tail[: tm.start()]
        items = [
            re.sub(r"\s+(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?\s*$", "", i.strip(), flags=re.I)
            for i in _split_args(tail)
        ]
        norm = [" ".join(i.split()).lower() for i in items if i]
        dups = {n for n in norm if norm.count(n) > 1}
        if dups:
            # the error only fires when the duplicated key is NOT already
            # projected: DataFusion appends missing sort columns to the
            # projection, and THAT duplication is what it rejects
            # (select.slt:3068 errors — f1 unprojected; function.slt:2191
            # is fine — f0 is in the SELECT list)
            sm = re.match(r"\s*SELECT\s+(?:ALL\s+|DISTINCT\s+)?(.*?)\s+FROM\b", sql, re.I | re.S)
            sel = ""
            if sm:
                sel = " ".join(sm.group(1).split()).lower()
            for d in dups:
                bare = d.split(".")[-1]
                if sel == "*" or d in sel or bare in sel:
                    continue
                raise ValueError(
                    "Error during planning: Projections require unique "
                    "expression names: duplicate ORDER BY expression"
                )


def _balanced(s: str) -> bool:
    depth = 0
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0


_NULL_AGG_RE = _call_re("SUM", "AVG", "MIN", "MAX")


def rewrite_dql(sql: str, *, fuzzer_arith: bool = True) -> str:
    """``fuzzer_arith=False`` skips rewrite_fuzzer_arith_parity's
    infix→try_op conversion, which assumes integer operands; the engine
    retries with it off when the converted statement fails analysis
    (e.g. fully-parenthesized timestamp arithmetic, where try_subtract +
    the decimal wrap fallback is untypable)."""
    _check_unsupported_casts(sql)
    sql = rewrite_double_quoted_identifiers(sql)
    sql = rewrite_misc_parity(sql)
    sql = rewrite_extract_parts(sql)
    sql = rewrite_system_variables(sql)
    sql = rewrite_fn_aliases(sql)
    sql = rewrite_string_fn_edge_cases(sql)
    sql = rewrite_time_fn_parity(sql)
    sql = rewrite_date_bin(sql)
    sql = rewrite_approx_percentile(sql)
    sql = rewrite_approx_median(sql)
    # parity: DataFusion cannot type SUM over a bare NULL
    # (sqlancer/function.slt:272 expects a planning error)
    for _, args, _ in iter_calls(sql, _NULL_AGG_RE):
        if re.fullmatch(r"(?:ALL\s+|DISTINCT\s+)?NULL", args.text.strip(), re.I):
            raise ValueError(
                "The aggregate function does not support inputs of type Null."
            )
    # parity pair of planning errors the reference corpus asserts: the bare
    # current_user keyword (session.slt:80 — only the () form exists),
    # and a FROM-less SELECT * (example/world.slt:24)
    if re.search(r"\bcurrent_user\b(?!\s*\()", sql, re.I):
        raise ValueError("sql parser error: Expected an expression, found: current_user")
    if re.fullmatch(r"\s*SELECT\s+\*\s*;?\s*", sql, re.I):
        raise ValueError("Error during planning: SELECT * with no tables specified is not valid")
    sql = rewrite_to_timestamp_unit(sql)
    sql = rewrite_bare_to_timestamp(sql)
    sql = rewrite_array_agg_order(sql)
    sql = rewrite_time_window(sql)
    sql = rewrite_cast_int_timestamp(sql)
    sql = rewrite_values_column_names(sql)
    sql = rewrite_exploded_groupby(sql)
    sql = rewrite_gauge(sql)
    sql = rewrite_state(sql)
    sql = rewrite_sample(sql)
    sql = rewrite_first_last(sql)
    sql = rewrite_increase(sql)
    sql = rewrite_lag_lead(sql)
    sql = rewrite_exact_count(sql)
    sql = rewrite_approx_distinct(sql)
    sql = rewrite_time_int_comparison(sql)
    sql = rewrite_selector(sql)
    sql = rewrite_float_math_parity(sql)
    sql = rewrite_asinh_stable(sql)
    if fuzzer_arith:
        sql = rewrite_fuzzer_arith_parity(sql)
    sql = rewrite_corr(sql)
    sql = rewrite_concat_null_skip(sql)
    sql = rewrite_bool_string_cast(sql)
    sql = rewrite_overflow_decimal_literals(sql)
    sql = escape_like_pattern_backslashes(sql)
    sql = escape_literal_backslashes(sql)
    return sql
