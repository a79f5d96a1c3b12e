"""Time-series query operators: time_window, gapfill, selector functions.

Spark-first re-expression of the reference's signature operators
(/root/reference query_server/query/src/extension/...). Where Spark has a
native equivalent we use it directly and only add the reference's argument
validation for parity.
"""

from __future__ import annotations

import re
from datetime import timedelta

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


def time_window(
    time_col: str | Column,
    window_duration: str,
    slide_duration: str | None = None,
    start_time: str | None = None,
) -> Column:
    """``time_window(time, window[, slide[, start]])`` → struct{start,end}.

    Spark's ``F.window`` IS the reference's design — the analyzer rule
    transform_time_window.rs:42-92 expands sliding windows exactly like
    Spark's Expand-based TimeWindow. We add the reference's validation:
    duration ∈ (0, 365d] (transform_time_window.rs:143-151) and at most
    100 overlapping windows (:346).
    """
    wd = _parse_duration(window_duration)
    if not (timedelta(0) < wd <= MAX_WINDOW):
        raise ValueError(f"window duration must be in (0s, 365d], got {window_duration!r}")
    if slide_duration is not None:
        sd = _parse_duration(slide_duration)
        if sd <= timedelta(0):
            raise ValueError("slide duration must be positive")
        if wd.total_seconds() / sd.total_seconds() > MAX_OVERLAPS:
            raise ValueError(
                f"window/slide produces more than {MAX_OVERLAPS} overlapping windows"
            )
        return F.window(time_col, window_duration, slide_duration, start_time)
    return F.window(time_col, window_duration, startTime=start_time)


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
def first_agg(time_col: str | Column, value_col: str | Column) -> Column:
    """``first(time, value)``: value at minimum time, null values skipped
    (aggregate_function/first.rs). Spark: min_by with null-guarded key."""
    v, t = F.col(value_col) if isinstance(value_col, str) else value_col, (
        F.col(time_col) if isinstance(time_col, str) else time_col
    )
    return F.min_by(v, F.when(v.isNotNull(), t))


def last_agg(time_col: str | Column, value_col: str | Column) -> Column:
    """``last(time, value)``: value at maximum time, null values skipped
    (aggregate_function/last.rs)."""
    v, t = F.col(value_col) if isinstance(value_col, str) else value_col, (
        F.col(time_col) if isinstance(time_col, str) else time_col
    )
    return F.max_by(v, F.when(v.isNotNull(), t))


def mode_df(df: DataFrame, group_cols: list[str], value_col: str, out_col: str = "mode") -> DataFrame:
    """Deterministic mode per group: value with max count, ties → min value."""
    counted = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    w = Window.partitionBy(*group_cols).orderBy(F.col("_cnt").desc(), F.col(value_col).asc())
    return (
        counted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*group_cols, F.col(value_col).alias(out_col))
    )


def increase(
    df: DataFrame,
    time_col: str,
    value_col: str,
    group_cols: list[str],
    out_col: str = "increase",
) -> DataFrame:
    """Counter increase with reset handling (aggregate_function/increase.rs):
    sum of positive deltas over time order; a decrease is a counter reset and
    contributes the new value.

    Window lag + conditional sum — stays in whole-stage codegen; the shuffle
    is one hash exchange on the group key (the series), which is exactly how
    the data is clustered at scale.
    """
    w = Window.partitionBy(*group_cols).orderBy(time_col)
    delta = F.col(value_col) - F.lag(value_col).over(w)
    contrib = (
        F.when(delta.isNull(), F.lit(None))
        .when(delta >= 0, delta)
        .otherwise(F.col(value_col))  # reset: counter restarted at value
    )
    return (
        df.withColumn("_d", contrib)
        .groupBy(*group_cols)
        .agg(F.coalesce(F.sum("_d"), F.lit(0.0)).alias(out_col))
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
