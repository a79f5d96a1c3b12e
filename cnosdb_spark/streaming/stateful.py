"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference's stream engine persists aggregate state between micro-
batches (query_server/query/src/execution/stream/mod.rs:148-187 —
StateSaveExec/StateRestoreExec around the single AggregateExec). Spark's
built-in streaming aggregations cover the reference's own surface
(time_window counts/sums — stream/basic.slt); this module adds the
operator that surface CANNOT express with built-ins: a *time-ordered,
non-commutative* per-series fold — counter ``increase`` with reset
handling (aggregate_function/increase.rs semantics; the batch form is
the SQL expression functions.timeseries.increase) computed incrementally
across batches.

Scale shape: state is one (last_ts, last_val, running_total, n) tuple
per series, partitioned by the group key in Spark's state store — the
same clustering the data has at rest; each micro-batch shuffles only its
own rows once.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_increase(
    stream_df: DataFrame,
    time_col: str,
    value_col: str,
    group_cols: list[str],
    out_col: str = "increase",
) -> DataFrame:
    """Incremental counter-increase per series over a streaming DataFrame.

    Each micro-batch folds its (time-sorted) rows into per-key state
    ``(last_ts, last_val, total, n)`` and emits the updated running
    totals for the keys it touched (update-mode semantics). A decrease
    is a counter reset and contributes the new value, exactly the batch
    ``increase`` rule — the differential test pins stream-final ==
    batch-whole-table.

    Late rows older than the stored ``last_ts`` are DROPPED (counted in
    ``n_late``), mirroring the reference stream executor's
    watermark-discard rather than silently corrupting the fold order.
    """
    key_fields = [stream_df.schema[c] for c in group_cols]
    out_schema = T.StructType(
        list(key_fields)
        + [
            T.StructField(out_col, T.DoubleType()),
            T.StructField("n_points", T.LongType()),
            T.StructField("n_late", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_ts", T.LongType()),
            T.StructField("last_val", T.DoubleType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("n", T.LongType()),
            T.StructField("n_late", T.LongType()),
        ]
    )

    tcol, vcol = time_col, value_col

    def fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            last_ts, last_val, total, n, n_late = state.get
        else:
            last_ts, last_val, total, n, n_late = None, None, 0.0, 0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(tcol, kind="mergesort")
            ts = pd.to_datetime(pdf[tcol])
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
            ts_us = ts.astype("int64") // 1000  # ns → µs
            for t_us, v in zip(ts_us, pdf[vcol].astype(float)):
                if last_ts is not None and t_us < last_ts:
                    n_late += 1
                    continue
                if last_val is not None:
                    d = v - last_val
                    total += d if d >= 0 else v
                last_ts, last_val = int(t_us), float(v)
                n += 1
        state.update((last_ts, last_val, total, n, n_late))
        yield pd.DataFrame(
            [tuple(key) + (total, n, n_late)],
            columns=[f.name for f in out_schema.fields],
        )

    return stream_df.groupBy(*group_cols).applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
