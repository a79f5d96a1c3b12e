"""functions.repair.map_series, the one per-series executor: it streams a
partition's Arrow batches, runs its kernel once per complete series
(NULL keys are one series, a series may straddle batches) and plans as
one hash Exchange plus Sort plus MapInArrow."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import types as T

from cnosdb_spark.functions.repair import _per_series, map_series

BASE = datetime(2024, 1, 1)


def _count_and_sum(ts, v):
    """One row per series: first time, point count, and a time-ordered
    fold (a running difference), so a misordered series shows."""
    fold = 0.0
    for x in v:
        fold = x - fold
    return ts[:1], np.array([len(ts)]), np.array([fold])


def test_per_series_yields_each_series_once_complete():
    """The partition body pulls batches lazily: series "a" (batches 0-1)
    is emitted before batch 2 is pulled, and only one open series is
    carried across each boundary."""
    batches = [
        (["a", "a", "a"], [1, 2, 3]),
        (["a", "b", "b"], [4, 1, 2]),
        (["b", None], [3, 1]),
        ([None, None], [2, 3]),
    ]
    pulled = []

    def gen():
        for i, (keys, ts) in enumerate(batches):
            pulled.append(i)
            yield pa.record_batch(
                [pa.array(keys, pa.string()), pa.array(ts, pa.int64()),
                 pa.array([float(t) for t in ts])],
                names=["k", "t", "v"],
            )

    schema = pa.schema([("k", pa.string()), ("t", pa.int64()),
                        ("n", pa.int64()), ("fold", pa.float64())])
    out = _per_series(gen(), 1, _count_and_sum, schema)
    first = next(out)
    assert pulled == [0, 1]
    assert first.to_pydict() == {"k": ["a"], "t": [1], "n": [4], "fold": [2.0]}
    rest = [b.to_pydict() for b in out]
    assert rest == [
        {"k": ["b"], "t": [1], "n": [3], "fold": [2.0]},
        {"k": [None], "t": [1], "n": [3], "fold": [2.0]},
    ]
    # no keys: the whole partition is one series
    out = list(_per_series(
        (pa.record_batch([pa.array([t]), pa.array([1.0])], names=["t", "v"])
         for t in range(5)),
        0, _count_and_sum, pa.schema([("t", pa.int64()), ("n", pa.int64()),
                                      ("fold", pa.float64())]),
    ))
    assert [b.to_pydict() for b in out] == [{"t": [0], "n": [5], "fold": [1.0]}]


@pytest.fixture()
def small_batches(spark):
    """Three rows per Arrow batch, so series straddle batch boundaries."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield
    spark.conf.set(key, old)


def _frame(spark):
    rng = random.Random(7)
    rows = []
    for k1 in ["x", "y", None]:
        for k2 in [1, 2]:
            for i in range(rng.randint(1, 8)):
                v = None if rng.random() < 0.2 else float(rng.randint(0, 9))
                rows.append((k1, k2, BASE + timedelta(seconds=i), v))
    rng.shuffle(rows)
    return rows, spark.createDataFrame(
        rows, "k1 string, k2 bigint, t timestamp, v double"
    )


def _expected(rows, key_idx):
    series: dict = {}
    for r in rows:
        series.setdefault(tuple(r[i] for i in key_idx), []).append(r)
    out = set()
    for key, rs in series.items():
        rs.sort(key=lambda r: r[2])
        v = np.array([np.nan if r[3] is None else r[3] for r in rs])
        _, n, fold = _count_and_sum(np.zeros(len(v)), v)
        fold = None if np.isnan(fold[0]) else float(fold[0])
        out.add((*key, rs[0][2], int(n[0]), fold))
    return out


@pytest.mark.parametrize("keys", [["k1"], ["k1", "k2"], []])
def test_map_series_matches_grouped_reference(spark, small_batches, keys):
    """A string key with a NULL group, two keys, and no keys, with every
    series split across 3-row batches: one output row per series, the
    fold over the time-ordered values, and the key types kept."""
    rows, df = _frame(spark)
    out = map_series(
        df, keys, "t", ["v"], _count_and_sum,
        [df.schema["t"], T.StructField("n", T.LongType()),
         T.StructField("fold", T.DoubleType())],
    )
    assert out.dtypes == [*[(k, df.schema[k].dataType.simpleString()) for k in keys],
                          ("t", "timestamp"), ("n", "bigint"), ("fold", "double")]
    idx = [["k1", "k2"].index(k) for k in keys]
    assert {tuple(r) for r in out.collect()} == _expected(rows, idx)


def test_map_series_plan_shape(spark):
    rows, df = _frame(spark)

    def plan(keys):
        out = map_series(df, keys, "t", ["v"], lambda ts, v: (ts, v),
                         [df.schema["t"], df.schema["v"]])
        return out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )

    p = plan(["k1", "k2"])
    assert p.count("Exchange hashpartitioning(k1") == 1 and p.count("Exchange") == 1
    assert "Sort [k1#" in p and "MapInArrow" in p
    assert "FlatMapGroupsInPandas" not in p
    p = plan([])
    assert p.count("Exchange SinglePartition") == 1 and p.count("Exchange") == 1
