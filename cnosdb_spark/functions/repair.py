"""ts_gen_func data-repair table functions: timestamp_repair, value_fill,
value_repair, and :func:`map_series`, the one per-series executor every
sequential kernel in the library runs through.

Reference: /root/reference query_server/query/src/extension/expr/ts_gen_func/
{mod.rs:12-57, data_repair/{timestamp_repair,value_fill,value_repair}.rs} —
table-generating functions that regularize timestamps, fill missing values,
and repair outliers, computed per series.

Spark-first: one hash shuffle on the series key, a sort by (key, time)
within partitions, then one ``mapInArrow`` that walks the Arrow batches
and calls a numpy kernel once per complete series (the reference's
analyzer likewise gathers each series into one partition —
extension/analyse/transform_ts_gen_func.rs). A task holds one series plus
one batch, never a whole partition; each series must fit in memory, as
in the reference's accumulator design.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, types as T
from pyspark.sql.pandas.types import to_arrow_schema


def map_series(
    df: DataFrame,
    keys: list[str],
    time_col: str,
    value_cols: list[str],
    fn,
    out_fields: list[T.StructField],
) -> DataFrame:
    """Run ``fn(ts_us, *values)`` once per series of ``df``.

    A series is one value of ``keys`` (NULLs are one series, as in
    ``groupBy``); with no keys the whole frame is one series. ``ts_us`` is
    ``time_col`` as int64 (epoch µs for timestamps), ``values`` are the
    ``value_cols`` as float64 with NULL → NaN, in time order. ``fn``
    returns one array per ``out_fields`` entry, all of one length; the
    output is ``keys`` + ``out_fields``, each Arrow type derived from the
    Spark type and NaN emitted as NULL.

    Plan: one hash Exchange on ``keys`` (a single partition without
    keys), a Sort on (keys, time) within partitions, one MapInArrow."""
    out_schema = T.StructType([df.schema[k] for k in keys] + list(out_fields))
    arrow_schema = to_arrow_schema(out_schema)
    n_keys = len(keys)
    proj = df.select(*keys, time_col, *value_cols)
    proj = proj.repartition(*keys) if keys else proj.repartition(1)
    return proj.sortWithinPartitions(*keys, time_col).mapInArrow(
        lambda batches: _per_series(batches, n_keys, fn, arrow_schema),
        out_schema,
    )


def _per_series(batches, n_keys: int, fn, schema: pa.Schema):
    """Partition body of :func:`map_series`. Batches hold (keys..., time,
    values...) sorted by (keys, time); yields one output batch per input
    batch that completed a series. Only the series still open at a batch
    boundary is carried into the next batch."""
    key = None  # 1-row key arrays of the open series
    parts: list[list[np.ndarray]] = []  # its (time, values...) slices
    done: list = []  # (key, fn output) of completed series
    for b in batches:
        n = b.num_rows
        if not n:
            continue
        keys = b.columns[:n_keys]
        cols = [b.column(n_keys).cast(pa.int64())] + [
            c.cast(pa.float64()) for c in b.columns[n_keys + 1 :]
        ]
        cols = [c.to_numpy(zero_copy_only=False) for c in cols]
        if key is None:
            key, parts = [k.slice(0, 1) for k in keys], [[] for _ in cols]
        lo = 0
        for hi in [*_key_changes(key, keys), n]:
            for p, c in zip(parts, cols):
                p.append(c[lo:hi])
            if hi == n:
                break
            done.append((key, fn(*(np.concatenate(p) for p in parts))))
            key, parts, lo = [k.slice(hi, 1) for k in keys], [[] for _ in cols], hi
        if done:
            yield _series_batch(done, n_keys, schema)
            done = []
    if key is not None:
        done.append((key, fn(*(np.concatenate(p) for p in parts))))
        yield _series_batch(done, n_keys, schema)


def _key_changes(prev: list, keys: list) -> list[int]:
    """Rows of a batch whose key differs from the row before; row 0 is
    compared with ``prev``, the 1-row key of the open series. NULL equals
    NULL."""
    if not keys:
        return []
    change = np.zeros(len(keys[0]), dtype=bool)
    for p, k in zip(prev, keys):
        a = pa.concat_arrays([p, k])
        x, y = a.slice(1), a.slice(0, len(k))
        ne = pc.fill_null(pc.not_equal(x, y), False)
        ne = pc.or_(ne, pc.not_equal(pc.is_null(x), pc.is_null(y)))
        change |= ne.to_numpy(zero_copy_only=False)
    return np.flatnonzero(change).tolist()


def _series_batch(done: list, n_keys: int, schema: pa.Schema) -> pa.RecordBatch:
    """One output batch from completed series: each key repeated over its
    series' output rows, then the concatenated ``fn`` outputs."""
    lens = [len(out[0]) for _, out in done]
    rows = pa.array(np.repeat(np.arange(len(done)), lens))
    arrays = [
        pc.take(pa.concat_arrays([key[i] for key, _ in done]), rows)
        for i in range(n_keys)
    ] + [
        pa.array(
            np.concatenate([np.asarray(out[j]) for _, out in done]),
            from_pandas=True,
        )
        for j in range(len(schema) - n_keys)
    ]
    return pa.RecordBatch.from_arrays(
        [a.cast(f.type) for a, f in zip(arrays, schema)], schema=schema
    )


def fix_timestamp_repair(ts: np.ndarray, vals: np.ndarray):
    """Median-interval timestamp snap: each point moves to start +
    k·interval, keep-first on collisions (the ts_value_fill_repair arm
    kernel; the SQL surface is the DP-exact :func:`timestamp_repair`)."""
    if len(ts) < 3:
        return ts, vals
    dt = np.diff(ts)
    pos = dt[dt > 0]
    if not len(pos):
        return ts[:1], vals[:1]
    interval = int(np.median(pos))
    if interval <= 0:
        return ts, vals
    start = int(ts[0])
    # floor(x+0.5) (half-up), not np.round (half-even): reproducible in
    # ANSI SQL for the differential oracle
    k = np.floor((ts - start) / interval + 0.5).astype("int64")
    new_ts = start + k * interval
    _, first_idx = np.unique(new_ts, return_index=True)
    return new_ts[first_idx], vals[first_idx]


def fix_value_fill(ts: np.ndarray, vals: np.ndarray):
    """Linear fill of NaN values, edges clamped (np.interp; the
    ts_value_fill_repair arm kernel; the SQL surface is
    :func:`value_fill`)."""
    ok = ~np.isnan(vals)
    if not ok.any():
        return ts, vals
    return ts, np.interp(ts.astype("float64"), ts[ok].astype("float64"), vals[ok])


def fix_value_repair(ts: np.ndarray, vals: np.ndarray, smin=None, smax=None):
    """Clamp each point's rate-of-change, sequentially against the
    already-repaired previous point, to [smin, smax] per second — by
    default the series' MAD-based speed bounds median ± 3·1.4826·MAD
    (the screen method: the ts_value_fill_repair arm kernel and the clamp
    of :func:`value_repair`). NaN points are left as they are."""
    n = len(ts)
    if n < 3:
        return ts, vals
    tsec = ts.astype("float64") / 1e6
    dt = np.diff(tsec)
    dv = np.diff(vals)
    with np.errstate(divide="ignore", invalid="ignore"):
        speed = np.where(dt > 0, dv / dt, 0.0)
    finite = speed[np.isfinite(speed)]
    if not len(finite):
        return ts, vals
    med = float(np.median(finite))
    sigma = 1.4826 * float(np.median(np.abs(finite - med)))
    lo_s = med - 3 * sigma if smin is None else smin
    hi_s = med + 3 * sigma if smax is None else smax
    out = vals.copy()
    for i in range(1, n):
        d = tsec[i] - tsec[i - 1]
        if d <= 0 or np.isnan(out[i - 1]) or np.isnan(out[i]):
            continue
        lo, hi = out[i - 1] + lo_s * d, out[i - 1] + hi_s * d
        if out[i] < lo:
            out[i] = lo
        elif out[i] > hi:
            out[i] = hi
    return ts, out


# ------------------------------------------------------------------
# Reference-exact ts_gen_func SQL surface (function/data_repair.slt).
# The fix_* kernels above are the ts_value_fill_repair row's arms; the
# functions below mirror the reference's algorithms bit-for-bit where row
# layout depends on them (timestamp_repair's DP insert/remove changes the
# output row COUNT, so SQL parity needs the exact algorithm).
# ------------------------------------------------------------------

def parse_ts_gen_params(arg: str | None, allowed: tuple[str, ...]) -> dict:
    """serde_urlencoded-style ``k=v&k2=v2`` parse with deny_unknown_fields
    (ts_gen_func/utils.rs get_arg)."""
    out: dict[str, str] = {}
    if not arg:
        return out
    for part in arg.split("&"):
        if not part:
            continue
        k, _eq, v = part.partition("=")
        if k not in allowed:
            raise ValueError(
                f"Fail to parse argument: unknown field `{k}`, expected one "
                "of " + ", ".join(f"`{a}`" for a in allowed)
            )
        if k in out:
            # serde_urlencoded rejects duplicate fields
            raise ValueError(
                f"Fail to parse argument: duplicate field `{k}`"
            )
        out[k] = v
    return out


def _interval_median_ref(ts: np.ndarray) -> int:
    # timestamp_repair.rs get_interval_median — note it indexes the
    # intervals array by len(timestamps)//2 (an off-by-one quirk kept as-is)
    n = len(ts)
    iv = np.sort(np.diff(ts))
    if n % 2 == 0:
        return int((int(iv[n // 2 - 1]) + int(iv[n // 2])) // 2)
    return int(iv[n // 2])


def _interval_mode_ref(ts: np.ndarray) -> int:
    vals, counts = np.unique(np.diff(ts), return_counts=True)
    return int(vals[np.argmax(counts)])


def _interval_cluster_ref(ts: np.ndarray) -> int:
    # k_means_clustering(intervals, 3): integer-mean k-means, returns the
    # mean of the most populated cluster
    data = np.diff(ts).astype("int64")
    k = 3
    mn, mx = int(data.min()), int(data.max())
    means = [mn + (i + 1) * (mx - mn) // (k + 1) for i in range(k)]
    assign = np.zeros(len(data), dtype="int64")
    changed = True
    while changed:
        changed = False
        d = np.abs(data[:, None] - np.array(means)[None, :])
        new_assign = d.argmin(axis=1)
        if (new_assign != assign).any():
            changed = True
        assign = new_assign
        for i in range(k):
            sel = data[assign == i]
            if len(sel):
                means[i] = int(sel.sum()) // len(sel)
    counts = np.bincount(assign, minlength=k)
    best = int(counts.argmax())
    sel = data[assign == best]
    return int(sel.sum()) // len(sel) if len(sel) else 0


def _start_linear_ref(ts: np.ndarray, delta: int) -> int:
    s = int(ts.astype(object).sum()) - delta * (len(ts) * (len(ts) - 1) // 2)
    return s // len(ts)


def _start_mode_ref(ts: np.ndarray, delta: int) -> int:
    mods = ts % delta
    vals, counts = np.unique(mods, return_counts=True)
    max_key = int(vals[np.argmax(counts)])
    result = 0
    for i in range(len(mods)):
        if mods[i] == max_key:
            result = int(ts[i])
    first = int(ts[0])
    while result > first:
        result -= delta
    return result


def _dp_repair_ref(start: int, interval: int, ts: np.ndarray, vals: np.ndarray):
    """timestamp_repair.rs dp_repair: edit-distance alignment of the
    observed timestamps onto the regular grid start + k·interval; inserted
    grid slots get NaN, surplus observations are dropped."""
    m = len(ts)
    if m <= 2:
        return ts, vals
    n = int(np.ceil((int(ts[-1]) - start) / interval + 1.0))
    ADD = 100_000_000_000
    NOTHING, INSERT, REMOVE = 0, 1, 2
    f = np.zeros((n + 1, m + 1), dtype="int64")
    steps = np.zeros((n + 1, m + 1), dtype="int8")
    f[:, 0] = ADD * np.arange(n + 1)
    steps[:, 0] = INSERT
    f[0, :] = ADD * np.arange(m + 1)
    steps[0, :] = REMOVE
    for i in range(1, n + 1):
        grid = start + interval * (i - 1)
        for j in range(1, m + 1):
            t = int(ts[j - 1])
            if t == grid:
                f[i, j] = f[i - 1, j - 1]
                steps[i, j] = NOTHING
            else:
                if f[i - 1, j] < f[i, j - 1]:
                    f[i, j] = f[i - 1, j] + ADD
                    steps[i, j] = INSERT
                else:
                    f[i, j] = f[i, j - 1] + ADD
                    steps[i, j] = REMOVE
                modify = f[i - 1, j - 1] + abs(t - grid)
                if modify < f[i, j]:
                    f[i, j] = modify
                    steps[i, j] = NOTHING
    out_ts = np.zeros(n, dtype="int64")
    out_vals = np.zeros(n, dtype="float64")
    i, j = n, m
    while i >= 1 and j >= 1:
        ps = start + interval * (i - 1)
        if steps[i, j] == NOTHING:
            out_ts[i - 1] = ps
            out_vals[i - 1] = vals[j - 1]
            i -= 1
            j -= 1
        elif steps[i, j] == INSERT:
            out_ts[i - 1] = ps
            out_vals[i - 1] = np.nan
            i -= 1
        else:
            j -= 1
    return out_ts, out_vals


def timestamp_repair(
    df: DataFrame,
    time_col: str,
    value_col: str,
    group_cols: list[str],
    arg: str | None = None,
) -> DataFrame:
    """Reference-exact timestamp_repair (data_repair/timestamp_repair.rs):
    interval via method=mode|cluster|median or explicit interval=<ms>,
    start via start_mode=linear|mode, then DP alignment."""
    p = parse_ts_gen_params(arg, ("method", "interval", "start_mode"))
    start_mode = p.get("start_mode", "mode").lower()
    if start_mode not in ("linear", "mode"):
        raise ValueError(f"Invalid start_mode: {p['start_mode']}")
    interval_fixed: int | None = None
    method = None
    if "interval" in p:
        interval_fixed = int(p["interval"])
        if interval_fixed < 0:
            raise ValueError("interval must be positive")
    elif "method" in p:
        method = p["method"].lower()
        if method not in ("mode", "cluster", "median"):
            raise ValueError(f"Invalid method: {p['method']}")
    else:
        method = "median"

    def fix(ts: np.ndarray, vals: np.ndarray):
        vals = np.where(np.isfinite(vals), vals, np.nan)
        if len(ts) <= 2:
            return ts, vals
        if interval_fixed is not None:
            # reference scales the ms argument to its native ns; ours is µs
            interval = interval_fixed * 1000
        elif method == "cluster":
            interval = _interval_cluster_ref(ts)
        elif method == "mode":
            interval = _interval_mode_ref(ts)
        else:
            interval = _interval_median_ref(ts)
        if interval <= 0:
            return ts, vals
        if start_mode == "linear":
            start = _start_linear_ref(ts, interval)
        else:
            start = _start_mode_ref(ts, interval)
        return _dp_repair_ref(start, interval, ts, vals)

    return _ts_gen(df, group_cols, time_col, value_col, fix)


def value_fill(
    df: DataFrame,
    time_col: str,
    value_col: str,
    group_cols: list[str],
    arg: str | None = None,
) -> DataFrame:
    """Reference-parity value_fill surface (data_repair/value_fill.rs):
    method ∈ {mean, previous, linear, ar, ma}, default linear; errors
    mirror the reference ('Invalid fill method', 'All values are
    Invalid')."""
    p = parse_ts_gen_params(arg, ("method",))
    method = p.get("method", "linear").lower()
    if method not in ("mean", "previous", "linear", "ar", "ma"):
        raise ValueError(f"Invalid fill method: {p.get('method')}")

    def fix(ts: np.ndarray, vals: np.ndarray):
        valid = np.isfinite(vals)
        if not valid.any():
            raise ValueError("All values are Invalid")
        s = pd.Series(vals)
        s[~np.isfinite(vals)] = np.nan
        if method == "mean":
            s = s.fillna(s.mean())
        elif method == "previous":
            s = s.ffill().bfill()
        elif method == "linear":
            s = pd.Series(
                np.interp(
                    ts.astype("float64"),
                    ts[valid].astype("float64"),
                    vals[valid],
                )
            )
        elif method == "ar":
            # AR(1) fit on consecutive valid pairs (value_fill.rs fill_ar)
            v = s.to_numpy()
            prev, cur = v[:-1], v[1:]
            ok = np.isfinite(prev) & np.isfinite(cur)
            if ok.sum() < 2 or np.var(prev[ok]) == 0:
                raise ValueError(
                    "Cannot fit AR(1) model. Please try another method."
                )
            phi = float(np.cov(prev[ok], cur[ok])[0, 1] / np.var(prev[ok]))
            c = float(cur[ok].mean() - phi * prev[ok].mean())
            out = v.copy()
            for i in range(1, len(out)):
                if not np.isfinite(out[i]) and np.isfinite(out[i - 1]):
                    out[i] = c + phi * out[i - 1]
            s = pd.Series(out)
            s = s.fillna(s.mean())
        else:  # ma: centered moving average of valid neighbors
            filled = s.ffill().bfill()
            ma = filled.rolling(5, center=True, min_periods=1).mean()
            s = s.where(np.isfinite(s), ma)
        return ts, s.to_numpy("float64")

    return _ts_gen(df, group_cols, time_col, value_col, fix)


def value_repair(
    df: DataFrame,
    time_col: str,
    value_col: str,
    group_cols: list[str],
    arg: str | None = None,
) -> DataFrame:
    """Reference-parity value_repair surface (data_repair/value_repair.rs):
    method ∈ {screen, lsgreedy} (default screen) with min_speed/max_speed/
    center/sigma params. NaN runs are first linearly interpolated
    (process_nan), then the screen speed-clamp runs; lsgreedy maps onto
    the same clamp kernel (documented approximation — the row layout and
    arg surface are reference-exact, the smoothing objective differs)."""
    p = parse_ts_gen_params(
        arg, ("method", "min_speed", "max_speed", "center", "sigma")
    )
    method = p.get("method", "screen").lower()
    if method not in ("screen", "lsgreedy"):
        raise ValueError(f"Invalid method: {p.get('method')}")
    smin = float(p["min_speed"]) if "min_speed" in p else None
    smax = float(p["max_speed"]) if "max_speed" in p else None

    def fix(ts: np.ndarray, vals: np.ndarray):
        vals = np.where(np.isfinite(vals), vals, np.nan)
        valid = np.isfinite(vals)
        if valid.sum() < 2:
            raise ValueError("At least two non-NaN values are needed")
        # process_nan: linear interpolation over NaN runs (ends extrapolate)
        vals = np.interp(
            ts.astype("float64"), ts[valid].astype("float64"), vals[valid]
        )
        return fix_value_repair(ts, vals, smin, smax)

    return _ts_gen(df, group_cols, time_col, value_col, fix)


def _ts_gen(df, group_cols, time_col, value_col, fix):
    return map_series(
        df, group_cols, time_col, [value_col], fix,
        [df.schema[time_col], T.StructField(value_col, T.DoubleType())],
    )
