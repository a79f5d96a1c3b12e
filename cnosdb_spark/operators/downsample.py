"""Per-series downsampling and smoothing operators.

Not in the reference surface (CnosDB downsamples via time_window
aggregation, SURVEY §2.6) — these add the two shapes dashboards and
monitoring pipelines actually ask for:

- **LTTB** (Largest-Triangle-Three-Buckets, Steinarsson 2013): the
  visual-fidelity downsampler Grafana uses — picks the point per bucket
  that preserves the line's SHAPE, which bucket averages destroy
  (spikes survive LTTB; avg flattens them).
- **EWMA** exponential smoothing — the classic monitoring smoother.

Both algorithms are inherently SEQUENTIAL per series (each choice/state
depends on the previous), so they run through
``functions.repair.map_series``: one hash shuffle on the series key, a
sort by (key, time), and one streaming ``mapInArrow`` whose numpy/pandas
kernel makes the sequential pass per series at C speed.

At 100 TB the scale axis is the NUMBER of series (each fits one task);
a single monster series should be pre-bucketed with time_window first.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..functions.repair import map_series


def _lttb_numpy(t, v, n_out: int):
    """Reference LTTB over float arrays; returns kept indices."""
    import numpy as np

    n = len(t)
    if n_out >= n or n_out < 3:
        return list(range(n))
    kept = [0]
    # n_out-2 interior buckets over points 1..n-2
    bounds = np.linspace(1, n - 1, n_out - 1).astype(int)
    a = 0
    for i in range(n_out - 2):
        lo, hi = bounds[i], bounds[i + 1]
        nlo, nhi = hi, (n - 1 if i == n_out - 3 else bounds[i + 2])
        # average of the NEXT bucket forms the triangle's third corner
        avg_t = t[nlo:nhi].mean() if nhi > nlo else t[n - 1]
        avg_v = v[nlo:nhi].mean() if nhi > nlo else v[n - 1]
        at, av = t[a], v[a]
        area = np.abs(
            (at - avg_t) * (v[lo:hi] - av) - (at - t[lo:hi]) * (avg_v - av)
        )
        a = lo + int(area.argmax())
        kept.append(a)
    kept.append(n - 1)
    return kept


def lttb(
    df: DataFrame,
    time_col: str = "time",
    value_col: str = "value",
    tags: list[str] | None = None,
    n_out: int = 500,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsample to ``n_out`` points per
    series (first/last always kept; series already at or under ``n_out``
    pass through).  Output: (tags, time, value) sorted within series.
    """
    fields = df.schema
    # timestamps enter the kernel as ns floats, numeric time columns as
    # they are: triangle areas round differently at other scales, and the
    # lttb arm's oracle replay (__spark_entry__) works in ns
    scale = 1.0 if isinstance(fields[time_col].dataType, T.NumericType) else 1000.0

    def _one(ts, v):
        idx = _lttb_numpy(ts.astype("float64") * scale, v, n_out)
        return ts[idx], v[idx]

    return map_series(
        df, list(tags or []), time_col, [value_col], _one,
        [fields[time_col], fields[value_col]],
    )


def ewma(
    df: DataFrame,
    time_col: str = "time",
    value_col: str = "value",
    tags: list[str] | None = None,
    alpha: float = 0.3,
    out_col: str = "ewma",
    round_decimals: int | None = 6,
) -> DataFrame:
    """Exponentially weighted moving average per series (time-ordered,
    ``s_i = alpha*x_i + (1-alpha)*s_{i-1}``, seeded with the first
    value — pandas ``ewm(alpha, adjust=False)`` semantics, which is the
    recursion monitoring systems use; bit-exact with the literal
    recursion, so a recursive-CTE SQL oracle reproduces it exactly).
    ``round_decimals=None`` emits the raw doubles (differential tests
    need this: double-rounding through two engines' round() flavors
    flips last digits).
    Output: (tags, time, value, ``out_col``) sorted within series."""
    def _one(ts, v):
        e = pd.Series(v).ewm(alpha=alpha, adjust=False).mean()
        return ts, v, e if round_decimals is None else e.round(round_decimals)

    fields = df.schema
    return map_series(
        df, list(tags or []), time_col, [value_col], _one,
        [fields[time_col], fields[value_col], T.StructField(out_col, T.DoubleType())],
    )
