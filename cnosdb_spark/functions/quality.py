"""Data-quality aggregates: completeness, consistency, timeliness, validity.

Reference: /root/reference query_server/query/src/extension/expr/
aggregate_function/data_quality/{mod,accumulator,common}.rs (metrics math at
common.rs:110-210) — IoTDB-style series-quality scores computed from the
timestamp interval distribution and value outliers.

Formulas (re-derived from the reference's math, per (series) group over
time-ordered (time, value) pairs):

  cnt        = number of points
  missing    = estimated missing points from interval analysis: for each
               gap dt_i, a point is "missing" when dt_i > mean+3σ of
               intervals; estimated count += round(dt_i/median_dt) - 1
  special    = NaN/None values
  late / early = interval outliers small/large vs median
  completeness = 1 - missing/(cnt+missing)
  consistency  = 1 - redundancy/cnt          (redundancy: dt_i == 0 dups)
  timeliness   = 1 - late/cnt
  validity     = 1 - invalid/cnt             (value outliers: |v-median| > 3·MAD-σ)

Implemented relationally (one lag window plus keyed aggregations, no
Python boundary); the per-series pandas twin it is pinned against lives in
tests/twins.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def data_quality(
    df: DataFrame,
    time_col: str,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group data-quality scores. Output: group_cols + 4 double scores.

    Relational implementation (round 10): the interval/MAD math runs as
    one lag window plus three keyed aggregations that all reuse the
    window's hashpartitioning — no Python boundary, no full-row
    applyInPandas shuffle (guide §4.1: built-ins over grouped-map when
    they exist). Semantics replicate the per-series reference
    (``_series_quality`` in tests/twins.py) exactly,
    including the edges:

    - ``rint`` (IEEE half-even) for the missing-point estimate — Python's
      ``round`` on a numpy float64 rounds half to even, NOT half up;
    - NaN **and** NULL values both count as ``special`` (pandas
      ``to_numeric(errors="coerce")`` turned None into NaN);
    - value outliers need >= 2 finite points and sigma > 0, and
      ``special`` always adds into ``invalid``;
    - single-point / empty-interval groups take the same early-exit
      scores as the Python reference (cnt < 2 branch);
    - an all-duplicate-timestamp group (no positive interval) has
      ``med_dt = NULL`` here vs 0.0 there — every med_dt use is guarded
      by ``med_dt > 0``, which NULL fails exactly like 0.0;
    - **NULL group keys**: the stat join-backs are inner equi-joins on
      the group keys, so a group whose key contains NULL is dropped from
      the output, whereas ``data_quality_pandas`` (groupBy +
      applyInPandas) emits a row for it. A deliberate, pinned divergence
      (tests/test_functions.py::test_data_quality_null_key_group_drops):
      the engine's series keys (tags) are non-null by construction, and
      null-safe join conditions would trade the plain equi-join shape
      (co-partitioned, AQE-friendly) for an edge no caller hits.

    Differentially pinned against ``data_quality_pandas``
    (tests/twins.py) in tests/test_functions.py.
    """
    keys = list(group_cols) if group_cols else ["_g"]
    # cast covers TIMESTAMP_NTZ inputs (unix_micros rejects them; the UTC
    # session timezone makes the cast a value no-op)
    t_ns = (
        F.unix_micros(F.col(time_col).cast("timestamp")) * F.lit(1000)
    ).cast("double")
    base = df.select(
        *group_cols,
        *([] if group_cols else [F.lit(1).alias("_g")]),
        (t_ns / F.lit(1e9)).alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
    )
    w = Window.partitionBy(*keys).orderBy("_t")
    finite = F.col("_v").isNotNull() & ~F.isnan("_v")
    rows = base.withColumn("_dt", F.col("_t") - F.lag("_t").over(w))

    g1 = rows.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.count(F.when(~finite, 1)).alias("_special"),
        F.count(F.when(finite, 1)).alias("_nfin"),
        F.avg("_dt").alias("_mean_dt"),
        F.stddev_pop("_dt").alias("_std_dt"),
        F.count(F.when(F.col("_dt") == 0, 1)).alias("_redund"),
        F.percentile(F.when(F.col("_dt") > 0, F.col("_dt")), F.lit(0.5)).alias(
            "_med_dt"
        ),
        F.percentile(F.when(finite, F.col("_v")), F.lit(0.5)).alias("_med_v"),
    )
    # second pass: per-row comparisons against the group stats (co-
    # partitioned join — g1 derives from the same exchange)
    r2 = rows.join(g1, keys)
    big = (F.col("_med_dt") > 0) & (
        F.col("_dt") > F.col("_mean_dt") + F.lit(3) * F.col("_std_dt")
    )
    est = F.greatest(
        F.expr("CAST(rint(_dt / _med_dt) AS BIGINT)") - F.lit(1).cast("long"),
        F.lit(0).cast("long"),
    )
    g2 = r2.groupBy(*keys).agg(
        F.coalesce(F.sum(F.when(big, est)), F.lit(0).cast("long")).alias("_missing"),
        F.count(
            F.when(
                (F.col("_med_dt") > 0)
                & (F.col("_dt") > 0)
                & (F.col("_dt") < F.col("_med_dt") / 2),
                1,
            )
        ).alias("_late"),
        F.percentile(
            F.when(finite, F.abs(F.col("_v") - F.col("_med_v"))), F.lit(0.5)
        ).alias("_mad"),
    )
    # third pass: value outliers against the MAD threshold
    r3 = rows.join(g1.select(*keys, "_med_v", "_nfin"), keys).join(g2, keys)
    sigma = F.lit(1.4826) * F.col("_mad")
    g3 = r3.groupBy(*keys).agg(
        F.count(
            F.when(
                (F.col("_nfin") >= 2)
                & (sigma > 0)
                & finite
                & (F.abs(F.col("_v") - F.col("_med_v")) > F.lit(3) * sigma),
                1,
            )
        ).alias("_outliers"),
    )

    j = g1.join(g2, keys).join(g3, keys)
    cnt = F.col("_cnt").cast("double")
    invalid = F.col("_outliers") + F.col("_special")
    small = F.col("_cnt") < 2
    out = j.select(
        *group_cols,
        F.when(small, F.when(F.col("_special") > 0, 0.0).otherwise(1.0))
        .otherwise(
            F.lit(1.0) - F.col("_missing") / (F.col("_cnt") + F.col("_missing"))
        )
        .cast("double")
        .alias("completeness"),
        F.when(small, 1.0)
        .otherwise(F.lit(1.0) - F.col("_redund") / cnt)
        .cast("double")
        .alias("consistency"),
        F.when(small, 1.0)
        .otherwise(F.lit(1.0) - F.col("_late") / cnt)
        .cast("double")
        .alias("timeliness"),
        F.when(small, F.lit(1.0) - F.col("_special") / cnt)
        .otherwise(F.lit(1.0) - invalid / cnt)
        .cast("double")
        .alias("validity"),
    )
    return out
