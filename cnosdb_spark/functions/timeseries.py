"""Time-series query operators: time_window, first/last, increase,
selectors, sample and gapfill.

Re-expression of the reference's signature operators
(query_server/query/src/extension/...). ``time_window``, ``first``,
``last`` and ``increase`` are SQL-expression builders: they take SQL text
and return SQL text, ``sql/rewriter`` splices them into the statements
``Engine.sql`` runs, and DataFrame code uses them through ``F.expr``.
``topk``/``bottom``/``sample_deterministic`` are row-level selectors over
a DataFrame, and ``time_window_gapfill`` is the DataFrame plan behind the
Engine's gapfill path. ``mode`` is Spark's own ``mode()``.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone

from pyspark.sql import Column, DataFrame, Window, functions as F

_DUR_RE = re.compile(
    r"(?:(\d+)\s*d(?:ays?)?)?\s*(?:(\d+)\s*h(?:ours?)?)?\s*(?:(\d+)\s*m(?:in(?:utes?)?)?)?"
    r"\s*(?:(\d+)\s*s(?:ec(?:onds?)?)?)?\s*(?:(\d+)\s*(?:ms|milliseconds?))?"
    r"\s*(?:(\d+)\s*(?:us|microseconds?))?",
    re.I,
)


def _parse_duration(s: str) -> timedelta:
    m = _DUR_RE.fullmatch(s.strip())
    if not m or not any(m.groups()):
        raise ValueError(f"cannot parse duration {s!r}")
    d, h, mi, sec, ms, us = (int(g) if g else 0 for g in m.groups())
    return timedelta(
        days=d, hours=h, minutes=mi, seconds=sec, milliseconds=ms, microseconds=us
    )


MAX_WINDOW = timedelta(days=365)
MAX_OVERLAPS = 100
_TS_RE = re.compile(r"^\s*timestamp\s+('?[^']+'?)\s*$", re.I)


def _literal_us(q: str) -> int | None:
    """µs of a quoted duration literal, None if it is not one."""
    try:
        return int(_parse_duration(q.strip("'\"")).total_seconds() * 1e6)
    except ValueError:
        return None


def time_window(
    time: str, window: str, slide: str | None = None, start: str | None = None
) -> str:
    """``time_window(time, window[, slide[, start]])`` → a struct{start,
    end} SQL expression. ``window``/``slide`` are SQL duration literals
    (``'1 hour'``); ``start`` is the reference's absolute start timestamp.

    Spark's ``window()`` is the same Expand-based operator the reference's
    analyzer builds (transform_time_window.rs:42-92) EXCEPT when
    window % slide != 0: there the reference emits all ceil(window/slide)
    windows per row unconditionally (its Expand filter only checks
    membership in the newest window, transform_time_window.rs:358-374), so
    a point can land in a window whose end == t. Spark's window() drops
    those; for parity that case is an explicit explode over the
    reference's window arithmetic (make_window_expr,
    transform_time_window.rs:251-296). Checks: both durations in
    (0, 365d] (transform_time_window.rs:143-151) and at most 100
    overlapping windows (:346)."""
    durs = [_literal_us(q) for q in (window, slide) if q is not None]
    for d in durs:
        if d is not None and not (0 < d <= MAX_WINDOW.total_seconds() * 1e6):
            raise ValueError("time_window durations must be in (0s, 365d]")
    if len(durs) == 2 and durs[0] and durs[1]:
        w_us, s_us = durs
        if (w_us + s_us - 1) // s_us > MAX_OVERLAPS:
            raise ValueError("Too many overlapping windows")
        if w_us % s_us:
            start_mod = 0
            if start is not None:
                off = _start_to_offset(start, window)  # modulus = window
                start_mod = int(
                    _parse_duration(off.strip("'\"")).total_seconds() * 1e6
                )
            return _sliding_expand_expr(time, w_us, s_us, start_mod)
    args = [time, window] + ([slide] if slide is not None else [])
    if start is not None:
        args.append(_start_to_offset(start, args[-1]))
    return f"window({', '.join(args)})"


def _sliding_expand_expr(time_arg: str, w_us: int, s_us: int, start_mod_us: int) -> str:
    """Reference-exact sliding expansion: windows i = 0..ceil(w/s)-1 at
    last_start - i*slide where last_start = t - ((t - start%w + s) mod s)
    (make_window_expr, transform_time_window.rs:251-296), emitted for every
    row — INCLUDING windows whose end == t (right-boundary divergence from
    Spark's window())."""
    n = (w_us + s_us - 1) // s_us
    t = f"unix_micros(cast({time_arg} as timestamp))"
    ls = f"({t} - pmod({t} - {start_mod_us} + {s_us}, {s_us}))"
    return (
        f"explode(transform(sequence(0, {n - 1}), i -> named_struct("
        f"'start', timestamp_micros({ls} - i * {s_us}), "
        f"'end', timestamp_micros({ls} - i * {s_us} + {w_us}))))"
    )


def _start_to_offset(start_arg: str, slide_quoted: str) -> str:
    """The reference's 4th time_window argument is an ABSOLUTE start
    timestamp (transform_time_window.rs); Spark's ``window`` takes a
    startTime OFFSET past epoch-aligned boundaries. Convert:
    offset = start_ts mod <modulus> (µs) — the caller passes the slide for
    Spark's window(), or the WINDOW duration for the explode-based sliding
    expansion (the reference's i64_start_time = start % window,
    transform_time_window.rs:270-273)."""
    s = start_arg.strip()
    tm = _TS_RE.match(s)
    if tm:
        s = tm.group(1)
    s = s.strip("'\"")
    try:
        ts = datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return start_arg  # already an offset duration string
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    epoch_us = int((ts - datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    slide_us = int(_parse_duration(slide_quoted.strip("'\"")).total_seconds() * 1_000_000)
    return f"'{epoch_us % slide_us} microseconds'"


# ---------------------------------------------------------------- selectors
MAX_K = 255


def topk(df: DataFrame, col: str, k: int, *tiebreak: str) -> DataFrame:
    """``topk(col, k)`` selector → Sort(desc nulls_last) + Limit k.

    Parity with transform_topk_func_to_topk_node.rs:27-71 (k ∈ [1,255]).
    Spark plans this as TakeOrderedAndProject — the distributed top-k that
    never materializes a global sort; at 100 TB each task keeps a k-heap.
    ``tiebreak`` columns make the row set deterministic when values tie.
    """
    if not 1 <= k <= MAX_K:
        raise ValueError(f"topk k must be in [1, {MAX_K}], got {k}")
    order = [F.col(col).desc_nulls_last(), *[F.col(c).asc() for c in tiebreak]]
    return df.orderBy(*order).limit(k)


def bottom(df: DataFrame, col: str, k: int, *tiebreak: str) -> DataFrame:
    """``bottom(col, k)`` → Sort(asc nulls_last) + Limit k
    (transform_bottom_func_to_topk_node.rs)."""
    if not 1 <= k <= MAX_K:
        raise ValueError(f"bottom k must be in [1, {MAX_K}], got {k}")
    order = [F.col(col).asc_nulls_last(), *[F.col(c).asc() for c in tiebreak]]
    return df.orderBy(*order).limit(k)


# ---------------------------------------------------------------- aggregates
def first(t: str, v: str) -> str:
    """``first(time, value)``: value at the minimum time
    (aggregate_function/first.rs)."""
    return f"min_by({v}, {t})"


def last(t: str, v: str) -> str:
    """``last(time, value)``: value at the maximum time
    (aggregate_function/last.rs)."""
    return f"max_by({v}, {t})"


def increase(t: str, v: str) -> str:
    """``increase(time, v ORDER BY time)`` (aggregate_function/
    increase.rs:42-45; function/common/increase.slt): collect (t, v)
    pairs, sort by t, then fold positive deltas — a counter reset
    (decrease) contributes the new value. Pure higher-order-function SQL:
    map-side combinable array_agg + driver-free fold, value type preserved
    (bigint counters stay bigint)."""
    arr = (
        f"transform(array_sort(array_agg(struct(({t}) AS _t, ({v}) AS _v)))"
        f", s -> s._v)"
    )
    deltas = (
        f"zip_with(slice({arr}, 2, greatest(size({arr}) - 1, 0)), "
        f"slice({arr}, 1, greatest(size({arr}) - 1, 0)), "
        f"(c, p) -> CASE WHEN c >= p THEN c - p ELSE c END)"
    )
    # try_element_at: all-NULL groups array_agg to an empty array, and
    # element_at(arr, 1) on it is INVALID_ARRAY_INDEX under ANSI mode —
    # the typed-zero seed must degrade to NULL instead of erroring
    return (
        f"aggregate({deltas}, try_element_at({arr}, 1) - try_element_at({arr}, 1), "
        f"(acc, x) -> acc + x)"
    )


def sample_deterministic(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """``sample(x, n)`` (aggregate_function/sample.rs is a reservoir sample —
    inherently random). For testability this engine exposes a *deterministic*
    uniform sample: order by md5(id) and take n. The md5 of a unique id is a
    uniform hash, so this is statistically a uniform sample yet reproducible
    and oracle-checkable.
    """
    return (
        df.withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h")
        .limit(n)
        .drop("_h")
    )


# ---------------------------------------------------------------- gapfill
def time_window_gapfill(
    df: DataFrame,
    time_col: str,
    interval: str,
    group_cols: list[str],
    aggs: list[Column],
    fill: dict[str, str] | None = None,
    origin: str = "1970-01-01",
) -> DataFrame:
    """``time_window_gapfill(time, interval)`` + ``locf(col)`` /
    ``interpolate(col)`` (extension/expr/scalar_function/{gapfill,locf,
    interpolate}.rs — the rewrite lives in CnosDB's forked DataFusion; this
    is our own Spark rewrite).

    Plan shape (scale-aware):
      1. bucket + aggregate (partial/final hash agg, one shuffle);
      2. per-group min/max bucket → ``sequence()`` + ``explode`` generates
         the dense spine *distributed* (no driver-side loop);
      3. left join actuals on (group, bucket) — both sides are partitioned
         by the same key, and the spine is tiny relative to the data;
      4. fill: locf = ``last(col, ignorenulls=True)`` over time order per
         group; interpolate = linear between bracketing non-null buckets.

    ``fill`` maps output agg column name -> 'locf' | 'interpolate' | None.
    ``aggs`` must be pre-aliased columns.
    """
    iv = _parse_duration(interval)
    if not (timedelta(0) < iv <= MAX_WINDOW):
        raise ValueError(f"gapfill interval must be in (0s, 365d], got {interval!r}")
    iv_us = int(iv.total_seconds() * 1_000_000)

    us = F.unix_micros(F.col(time_col))
    bucket = F.timestamp_micros(us - F.pmod(us, F.lit(iv_us)))
    actual = df.withColumn("_bucket", bucket).groupBy("_bucket", *group_cols).agg(*aggs)
    agg_names = [c for c in actual.columns if c != "_bucket" and c not in group_cols]

    # Dense spine WITHOUT a spine⋈actual self-join (round 10): each actual
    # row emits itself plus the gap buckets up to (exclusive) the group's
    # next actual bucket via one lead() window + posexplode — the union
    # over rows is exactly sequence(min_bucket, max_bucket, step) because
    # all buckets are multiples of the interval. This removes the second
    # aggregation of `actual`, the join, and (at scale) a full shuffle of
    # the aggregated table; the lead window's hashpartitioning(group) is
    # the same clustering the fill windows below need, so they reuse it.
    # Left-join-exact semantics are preserved: gap rows (_pos > 0) carry
    # NULL aggregates, and rows whose group key contains a NULL keep the
    # spine buckets but NULL every aggregate (SQL equi-join never matches
    # NULL keys, so the old join left them unfilled too).
    wlead = Window.partitionBy(*group_cols).orderBy("_bucket")
    bus = F.unix_micros(F.col("_bucket"))
    end_us = F.coalesce(F.unix_micros(F.lead("_bucket").over(wlead)) - iv_us, bus)
    keep = F.col("_pos") == 0
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    joined = (
        actual.withColumn("_end_us", end_us)
        .select(
            *group_cols,
            F.posexplode(
                F.sequence(bus, F.col("_end_us"), F.lit(iv_us))
            ).alias("_pos", "_bus"),
            *agg_names,
        )
        .select(
            *group_cols,
            F.timestamp_micros(F.col("_bus")).alias("_bucket"),
            *[
                F.when(keep, F.col(c)).otherwise(F.lit(None)).alias(c)
                for c in agg_names
            ],
        )
    )

    fill = fill or {}
    out = joined
    for col_name, how in fill.items():
        if how is None:
            continue
        w = Window.partitionBy(*group_cols).orderBy("_bucket")
        if how == "locf":
            out = out.withColumn(
                col_name,
                F.last(col_name, ignorenulls=True).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
        elif how == "interpolate":
            # "next non-null" via a running last() over the REVERSED order,
            # never a (1, unboundedFollowing) frame: Spark evaluates
            # forward-unbounded frames by rescanning the partition tail for
            # every row — O(n²) per series, measured 117x wall time at 10x
            # data (BENCH_SCALE.json round 6) — while running frames over
            # either ordering are O(n) and reuse the same hash exchange
            # (one extra in-partition sort).
            wd = Window.partitionBy(*group_cols).orderBy(F.col("_bucket").desc())
            prev_v = F.last(col_name, ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            )
            next_v = F.last(col_name, ignorenulls=True).over(
                wd.rowsBetween(Window.unboundedPreceding, -1)
            )
            prev_t = F.last(
                F.when(F.col(col_name).isNotNull(), F.unix_micros("_bucket")),
                ignorenulls=True,
            ).over(w.rowsBetween(Window.unboundedPreceding, -1))
            next_t = F.last(
                F.when(F.col(col_name).isNotNull(), F.unix_micros("_bucket")),
                ignorenulls=True,
            ).over(wd.rowsBetween(Window.unboundedPreceding, -1))
            t = F.unix_micros("_bucket")
            interp = prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t)
            out = out.withColumn(
                col_name,
                F.when(F.col(col_name).isNotNull(), F.col(col_name)).otherwise(interp),
            )
        else:
            raise ValueError(f"unknown fill method {how!r} for {col_name!r}")
    return out.withColumnRenamed("_bucket", "bucket")
