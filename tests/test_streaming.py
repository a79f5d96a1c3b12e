"""Streaming parity tests: stream table over parquet, Once-trigger
incremental aggregation (deterministic, as cases/stream/basic.slt does),
watermark handling, and the reference's unsupported-operator checker."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from cnosdb_spark.streaming.stream_table import (
    StreamPlanChecker,
    StreamTable,
    run_incremental_agg,
    run_to_memory,
)


@pytest.fixture()
def source(spark, tmp_path):
    path = str(tmp_path / "readings")
    base = datetime(2024, 1, 1)
    rows = [
        (base + timedelta(minutes=m), f"truck_{m % 2}", float(m)) for m in range(20)
    ]
    spark.createDataFrame(rows, ["time", "name", "elevation"]).write.parquet(path)
    return path


def test_stream_tumbling_agg_matches_batch(spark, source):
    st = StreamTable(
        name="readings_stream",
        source_path=source,
        event_time_column="time",
        watermark_delay="5 minutes",
    )
    sdf = st.read(spark)
    agg = sdf.groupBy(F.window("time", "10 minutes"), "name").agg(
        F.avg("elevation").alias("avg_elev")
    )
    q = run_to_memory(agg, "stream_out", output_mode="complete")
    q.awaitTermination(120)
    got = {
        (r["window"]["start"], r["name"]): r["avg_elev"]
        for r in spark.sql("SELECT * FROM stream_out").collect()
    }
    batch = spark.read.parquet(source)
    expect = {
        (r["window"]["start"], r["name"]): r["avg_elev"]
        for r in batch.groupBy(F.window("time", "10 minutes"), "name")
        .agg(F.avg("elevation").alias("avg_elev"))
        .collect()
    }
    assert got == expect


def test_stream_sink_parquet_once_trigger(spark, source, tmp_path):
    st = StreamTable("s", source, "time")
    sdf = st.read(spark)
    agg = sdf.withWatermark("time", "1 minute").groupBy(
        F.window("time", "10 minutes")
    ).agg(F.count(F.lit(1)).alias("n"))
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = run_incremental_agg(agg, sink, ckpt, trigger="once", output_mode="append")
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; with a second batch
    # of later data the remaining window closes — the reference's
    # emit-on-watermark-advance behavior (execution/stream/mod.rs).
    late = [(datetime(2024, 1, 1) + timedelta(minutes=40), "truck_0", 1.0)]
    spark.createDataFrame(late, ["time", "name", "elevation"]).write.mode(
        "append"
    ).parquet(source)
    q2 = run_incremental_agg(agg, sink, ckpt, trigger="once", output_mode="append")
    q2.awaitTermination(120)
    out = spark.read.parquet(sink)
    assert out.count() >= 2  # first two 10-min windows closed
    assert set(out.columns) == {"window", "n"}


def test_stream_checker_rejects_reference_shapes(spark, source):
    st = StreamTable("s", source, "time")
    sdf = st.read(spark)
    static = spark.createDataFrame([("truck_0", "fleet_a")], ["name", "fleet"])
    with pytest.raises(ValueError, match="Join"):
        StreamPlanChecker.check(sdf.join(static, "name"))
    with pytest.raises(ValueError, match="Sort|Limit"):
        StreamPlanChecker.check(sdf.orderBy("time"))
    agg1 = sdf.groupBy("name").agg(F.avg("elevation").alias("a"))
    StreamPlanChecker.check(agg1)  # single agg ok
    with pytest.raises(ValueError, match="one aggregation"):
        StreamPlanChecker.check(
            agg1.groupBy("name").agg(F.sum("a").alias("s"))
        )


def test_offset_tracking_incremental(spark, source, tmp_path):
    """File-source offsets = the reference's per-source offset tracker
    (stream/offset_tracker): a second Once run only processes new files."""
    st = StreamTable("s", source, "time")
    sink = str(tmp_path / "sink2")
    ckpt = str(tmp_path / "ckpt2")
    raw = st.read(spark).select("time", "name", "elevation")
    q = raw.writeStream.option("checkpointLocation", ckpt).trigger(
        availableNow=True
    ).format("parquet").start(sink)
    q.awaitTermination(120)
    n1 = spark.read.parquet(sink).count()
    q2 = raw.writeStream.option("checkpointLocation", ckpt).trigger(
        availableNow=True
    ).format("parquet").start(sink)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(sink).count()
    assert n1 == n2  # no new input → no new rows (offsets committed)


def test_interval_trigger_update_mode_incremental(spark, tmp_path):
    """Interval (processingTime) trigger + update output mode over a
    growing directory: ≥2 micro-batches, each emitting only changed keys,
    final per-key state equal to the batch aggregation (reference
    execution/stream/trigger/executor.rs interval loop;
    cases/stream/basic.slt)."""
    import glob
    import shutil

    src = str(tmp_path / "grow")
    os.makedirs(src)
    base = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(base + timedelta(minutes=m), f"t{m % 2}", float(m)) for m in range(20)],
        ["time", "name", "v"],
    )
    df.filter(F.col("v") < 10).coalesce(1).write.parquet(str(tmp_path / "p1"))
    df.filter(F.col("v") >= 10).coalesce(1).write.parquet(str(tmp_path / "p2"))
    shutil.copy(glob.glob(str(tmp_path / "p1" / "*.parquet"))[0], src)
    shutil.copy(glob.glob(str(tmp_path / "p2" / "*.parquet"))[0], src)

    sdf = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)  # force one batch per file
        .parquet(src)
    )
    agg = sdf.groupBy("name").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )

    out = str(tmp_path / "updates")
    os.makedirs(out)

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out)

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    updates = spark.read.parquet(out)
    n_batches = updates.select("batch_id").distinct().count()
    assert n_batches >= 2, "interval trigger must process the files incrementally"
    # update mode: latest emission per key == full batch aggregation
    from pyspark.sql import Window

    latest = (
        updates.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("name").orderBy(F.col("batch_id").desc())
            ),
        )
        .filter("rn = 1")
        .select("name", "n", "sv")
    )
    got = {(r["name"], r["n"], r["sv"]) for r in latest.collect()}
    expect = {
        (r["name"], r["n"], r["sv"])
        for r in df.groupBy("name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        .collect()
    }
    assert got == expect


def test_stateful_streaming_increase_matches_batch(spark, tmp_path):
    """applyInPandasWithState counter-increase: per-series state folds
    across ≥2 micro-batches; the final emission per key must equal the
    SQL increase() the Engine runs (functions.timeseries.increase) over
    the whole table, including a counter reset inside the second batch."""
    import glob
    import shutil

    from cnosdb_spark.functions.timeseries import increase
    from cnosdb_spark.streaming.stateful import streaming_increase

    src = str(tmp_path / "counters")
    os.makedirs(src)
    base = datetime(2024, 1, 1)
    rows = []
    # s0: monotone 0,10,20,...,90 → increase 90
    # s1: 0,5,10,15,20 then RESET to 2,4,6,8,10 → 20 + 2 + 8 = 30
    for i in range(10):
        rows.append((base + timedelta(minutes=i), "s0", 10.0 * i))
        v = 5.0 * i if i < 5 else 2.0 * (i - 4)
        rows.append((base + timedelta(minutes=i), "s1", v))
    df = spark.createDataFrame(rows, ["time", "series", "value"])
    df.filter(F.col("time") < base + timedelta(minutes=5)).coalesce(1).write.parquet(
        str(tmp_path / "h1")
    )
    df.filter(F.col("time") >= base + timedelta(minutes=5)).coalesce(1).write.parquet(
        str(tmp_path / "h2")
    )
    for i, h in enumerate(("h1", "h2")):
        dst = os.path.join(src, f"part{i}.parquet")
        shutil.copy(glob.glob(str(tmp_path / h / "*.parquet"))[0], dst)
        # the file source orders batches by modification time — pin it,
        # or the halves can arrive reversed and the fold sees h1 as late
        os.utime(dst, (1_000_000 + i * 100, 1_000_000 + i * 100))

    sdf = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_increase(sdf, "time", "value", ["series"])

    sink_dir = str(tmp_path / "inc_updates")
    os.makedirs(sink_dir)

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            sink_dir
        )

    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "inc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    updates = spark.read.parquet(sink_dir)
    assert updates.select("batch_id").distinct().count() >= 2
    from pyspark.sql import Window

    latest = (
        updates.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("series").orderBy(F.col("batch_id").desc())
            ),
        )
        .filter("rn = 1")
    )
    got = {r["series"]: (r["increase"], r["n_points"], r["n_late"])
           for r in latest.collect()}
    expect = {
        r["series"]: r["increase"]
        for r in df.groupBy("series")
        .agg(F.expr(increase("time", "value")).alias("increase"))
        .collect()
    }
    assert set(got) == {"s0", "s1"}
    for k in got:
        assert got[k][0] == pytest.approx(expect[k])
        assert got[k][1] == 10 and got[k][2] == 0
    assert expect["s0"] == pytest.approx(90.0)
    assert expect["s1"] == pytest.approx(30.0)


def test_stream_ingest_dedup_within_watermark(spark, tmp_path):
    """dedup_points_stream suppresses re-delivered (tags, time) duplicates
    at ingest; distinct points and ns-distinct retries survive."""
    from cnosdb_spark.streaming.stream_table import dedup_points_stream

    path = str(tmp_path / "dup_src")
    base = datetime(2024, 1, 1)
    rows = [(base + timedelta(minutes=m), f"t{m % 2}", float(m)) for m in range(10)]
    df = spark.createDataFrame(rows, ["time", "tag", "v"])
    # write the batch twice -> every point re-delivered once
    df.write.parquet(path)
    df.write.mode("append").parquet(path)

    st = StreamTable("dup_stream", path, "time")
    deduped = dedup_points_stream(st.read(spark), ["tag"], "time", "30 minutes")
    q = run_to_memory(deduped, "dedup_out", output_mode="append")
    q.awaitTermination(120)
    got = spark.sql("SELECT time, tag, v FROM dedup_out").collect()
    assert len(got) == 10  # 20 delivered, 10 unique survive
    assert len({(r["time"], r["tag"]) for r in got}) == 10


def test_stream_ingest_dedup_respects_existing_watermark(spark, tmp_path):
    from cnosdb_spark.streaming.stream_table import dedup_points_stream

    path = str(tmp_path / "wm_src")
    base = datetime(2024, 1, 1)
    spark.createDataFrame(
        [(base, "a", 1.0), (base, "a", 1.0)], ["time", "tag", "v"]
    ).write.parquet(path)
    st = StreamTable("wm_stream", path, "time", watermark_delay="5 minutes")
    sdf = st.read(spark)  # StreamTable already applied the watermark
    deduped = dedup_points_stream(sdf, ["tag"])
    q = run_to_memory(deduped, "wm_dedup_out", output_mode="append")
    q.awaitTermination(120)
    assert spark.sql("SELECT * FROM wm_dedup_out").count() == 1


def test_stream_session_window_matches_batch(spark, tmp_path):
    """Session windows (dynamic-gap sessionization) on a stream: bursts
    separated by more than the gap land in separate sessions, and the
    streamed result matches the batch session_window aggregation — the
    streaming complement of the batch `sessionization` driver query."""
    path = str(tmp_path / "clicks")
    base = datetime(2024, 1, 1)
    rows = []
    for burst_start, n in [(0, 3), (30, 2), (75, 4)]:  # minutes
        for i in range(n):
            rows.append((base + timedelta(minutes=burst_start + i), "u1", 1.0))
    rows.append((base + timedelta(minutes=5), "u2", 2.0))
    spark.createDataFrame(rows, ["time", "name", "v"]).write.parquet(path)

    st = StreamTable(
        name="clicks_stream",
        source_path=path,
        event_time_column="time",
        watermark_delay="5 minutes",
    )
    agg = (
        st.read(spark)
        .groupBy(F.session_window("time", "10 minutes"), "name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    )
    q = run_to_memory(agg, "session_out", output_mode="complete")
    q.awaitTermination(120)
    got = {
        (r["session_window"]["start"], r["name"]): (r["n"], r["sv"])
        for r in spark.sql("SELECT * FROM session_out").collect()
    }
    expect = {
        (r["session_window"]["start"], r["name"]): (r["n"], r["sv"])
        for r in spark.read.parquet(path)
        .groupBy(F.session_window("time", "10 minutes"), "name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        .collect()
    }
    assert got == expect
    # u1's three bursts: 0-30 merges (gap 27 < 10? no —) verify count
    u1_sessions = [k for k in got if k[1] == "u1"]
    assert len(u1_sessions) == 3


def test_enrich_stream_static_join(spark, source, tmp_path):
    """Stream-static enrichment (extension past stream_checker.rs): each
    streamed reading picks up its dimension row; output matches the batch
    join; the checker still rejects the same plan in strict mode."""
    from cnosdb_spark.streaming.stream_table import enrich_stream

    st = StreamTable("readings", source, "time")
    sdf = st.read(spark)
    dims = spark.createDataFrame(
        [("truck_0", "fleet_a"), ("truck_1", "fleet_b")], ["name", "fleet"]
    )
    enriched = enrich_stream(sdf, dims, on="name")
    with pytest.raises(ValueError, match="Join"):
        StreamPlanChecker.check(enriched)  # strict mode still reference-exact
    out = str(tmp_path / "enriched")
    q = (
        enriched.writeStream.option(
            "checkpointLocation", str(tmp_path / "ck_enrich")
        )
        .trigger(availableNow=True)
        .format("parquet")
        .start(out)
    )
    q.awaitTermination(120)
    got = {
        (r["time"], r["name"], r["fleet"])
        for r in spark.read.parquet(out).collect()
    }
    expect = {
        (r["time"], r["name"], r["fleet"])
        for r in spark.read.parquet(source).join(dims, "name").collect()
    }
    assert got == expect
    with pytest.raises(ValueError, match="static"):
        enrich_stream(sdf, sdf, on="name")


def test_interval_join_streams_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (extension): impressions
    joined to clicks within [0s, 30min] per user — the streamed result
    must equal the equivalent batch range join, and outputs only appear
    through the writeStream path (availableNow)."""
    from cnosdb_spark.streaming.stream_table import interval_join_streams

    base = datetime(2024, 1, 1)
    imp_path, clk_path = str(tmp_path / "imp"), str(tmp_path / "clk")
    impressions = [
        (base + timedelta(minutes=5 * i), f"u{i % 3}", f"ad{i}") for i in range(12)
    ]
    clicks = [
        # u0 clicks 10 min after its first impression; u1 clicks 29 min
        # after one of its; one click outside every window (joins nothing)
        (base + timedelta(minutes=10), "u0", "c0"),
        (base + timedelta(minutes=34), "u1", "c1"),
        (base + timedelta(hours=12), "u2", "c_late"),
    ]
    spark.createDataFrame(impressions, ["imp_time", "user", "ad_id"]).write.parquet(imp_path)
    spark.createDataFrame(clicks, ["click_time", "user", "click_id"]).write.parquet(clk_path)

    imp_s = spark.readStream.schema(
        spark.read.parquet(imp_path).schema
    ).parquet(imp_path)
    clk_s = spark.readStream.schema(
        spark.read.parquet(clk_path).schema
    ).parquet(clk_path)

    joined = interval_join_streams(
        imp_s, clk_s, key="user",
        left_time="imp_time", right_time="click_time",
        lower="0 seconds", upper="30 minutes",
    )
    out = str(tmp_path / "attributed")
    q = (
        joined.writeStream.option("checkpointLocation", str(tmp_path / "ck_ssj"))
        .trigger(availableNow=True)
        .format("parquet")
        .start(out)
    )
    q.awaitTermination(180)
    got = {
        (r["ad_id"], r["click_id"])
        for r in spark.read.parquet(out).collect()
    }
    imp_b = spark.read.parquet(imp_path)
    clk_b = spark.read.parquet(clk_path)
    expect = {
        (r["ad_id"], r["click_id"])
        for r in imp_b.join(
            clk_b,
            (imp_b.user == clk_b.user)
            & (clk_b.click_time >= imp_b.imp_time)
            & (clk_b.click_time <= imp_b.imp_time + F.expr("INTERVAL 30 minutes")),
        ).collect()
    }
    assert got == expect and len(got) > 0
    # the out-of-window click attributed to nothing
    assert not any(c == "c_late" for _, c in got)


def test_asof_join_streams_matches_batch(spark, tmp_path):
    """Stream-stream AS-OF enrichment (join → max_by agg, two chained
    stateful operators): each trade picks the latest same-key quote
    within the lookback; the streamed result must equal the batch
    temporal.asof_join with the same tolerance (inner-filtered)."""
    from cnosdb_spark.operators import temporal
    from cnosdb_spark.streaming.stream_table import asof_join_streams

    base = datetime(2024, 1, 1)
    q_path, t_path = str(tmp_path / "quotes"), str(tmp_path / "trades")
    quotes = [
        (base + timedelta(minutes=0), "u0", 1.0),
        (base + timedelta(minutes=20), "u0", 2.0),
        (base + timedelta(minutes=5), "u1", 3.0),
        # far-future sentinel pushes the final watermark past all real rows
        (base + timedelta(days=2), "u8", 9.9),
    ]
    trades = [
        ("t1", base + timedelta(minutes=25), "u0"),   # → 20min quote (2.0)
        ("t2", base + timedelta(minutes=10), "u0"),   # → 0min quote (1.0)
        ("t3", base + timedelta(minutes=4), "u1"),    # quote @5min is LATER → drop
        ("t4", base + timedelta(minutes=6), "u1"),    # → 3.0
        ("t5", base + timedelta(minutes=10), "u2"),   # no quotes → drop
        ("t_s", base + timedelta(days=2, hours=3), "u9"),  # sentinel, no match
    ]
    spark.createDataFrame(quotes, ["q_time", "user", "price"]).write.parquet(q_path)
    spark.createDataFrame(trades, ["trade_id", "t_time", "user"]).write.parquet(t_path)

    t_s = spark.readStream.schema(spark.read.parquet(t_path).schema).parquet(t_path)
    q_s = spark.readStream.schema(spark.read.parquet(q_path).schema).parquet(q_path)
    out_df = asof_join_streams(
        t_s, q_s, key="user", left_time="t_time", right_time="q_time",
        left_id="trade_id", value_cols=["price"], lookback="1 hour",
    )
    out = str(tmp_path / "enriched")
    q = (
        out_df.writeStream.option("checkpointLocation", str(tmp_path / "ck_asof"))
        .trigger(availableNow=True)
        .format("parquet")
        .start(out)
    )
    q.awaitTermination(180)
    got = {
        (r["trade_id"], r["price_right"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {("t1", 2.0), ("t2", 1.0), ("t4", 3.0)}

    # parity with the batch as-of join at the same tolerance (inner rows)
    batch = temporal.asof_join(
        spark.read.parquet(t_path),
        spark.read.parquet(q_path).withColumnRenamed("q_time", "t_time"),
        key="user",
        left_time="t_time",
        right_time="t_time",
        value_cols=["price"],
        tolerance="1 HOUR",
    )
    expect = {
        (r["trade_id"], r["price_right"])
        for r in batch.collect()
        if r["price_right"] is not None and not r["trade_id"].endswith("_s")
    }
    assert got == expect


def test_interval_join_streams_rejects_static_side(spark, tmp_path):
    from cnosdb_spark.streaming.stream_table import interval_join_streams

    path = str(tmp_path / "one")
    spark.createDataFrame(
        [(datetime(2024, 1, 1), "u0")], ["t", "user"]
    ).write.parquet(path)
    s = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    b = spark.read.parquet(path)
    with pytest.raises(ValueError, match="both sides must be streaming"):
        interval_join_streams(s, b, key="user", left_time="t", right_time="t")


def test_sessionize_stream_matches_batch_sessionization(spark, tmp_path):
    """Streaming session windows (F.session_window — one state row per
    open session, watermark-evicted) must produce the same sessions the
    batch lag-gap rule derives: same count per user, same boundaries."""
    from cnosdb_spark.streaming.stream_table import sessionize_stream

    base = datetime(2024, 1, 1)
    rows = [
        # u0: two sessions — [0,5,20] (gaps <= 15m) then [60]
        ("u0", base + timedelta(minutes=0), 1.0),
        ("u0", base + timedelta(minutes=5), 2.0),
        ("u0", base + timedelta(minutes=20), 3.0),
        ("u0", base + timedelta(minutes=60), 4.0),
        # u1: one session
        ("u1", base + timedelta(minutes=2), 5.0),
        ("u1", base + timedelta(minutes=10), 6.0),
        # far-future sentinel flushes the watermark past all real sessions
        ("u9", base + timedelta(days=2), 0.0),
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, ["user", "ts", "value"]).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out_df = sessionize_stream(
        stream, key="user", time_col="ts", gap="15 minutes",
        watermark="30 minutes", value_col="value",
    )
    out = str(tmp_path / "sessions")
    q = (
        out_df.writeStream.option("checkpointLocation", str(tmp_path / "ck_sess"))
        .trigger(availableNow=True)
        .format("parquet")
        .start(out)
    )
    q.awaitTermination(180)
    got = {
        (r["user"], r["session_start_us"], r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
        if r["user"] != "u9"
    }
    us = lambda m: int(
        (base + timedelta(minutes=m) - datetime(1970, 1, 1)).total_seconds()
        * 1_000_000
    )
    assert got == {
        ("u0", us(0), 3, 6.0),
        ("u0", us(60), 1, 4.0),
        ("u1", us(2), 2, 11.0),
    }
    # session_end = last event + gap (session_window semantics)
    ends = {
        (r["user"], r["session_start_us"]): r["session_end_us"]
        for r in spark.read.parquet(out).collect()
    }
    assert ends[("u0", us(0))] == us(20 + 15)
    assert ends[("u0", us(60))] == us(75)


def test_await_stream_times_out_loudly(spark, tmp_path):
    """awaitTermination(timeout) returns False on timeout WITHOUT raising;
    the driver arms' _await_stream wrapper must turn that into a loud
    TimeoutError (and stop the query) instead of letting a slow host
    read a partial output directory — which would surface later as a
    baffling oracle-parity mismatch (round-9 ADVICE)."""
    import pytest

    from __spark_entry__ import _await_stream

    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        with pytest.raises(TimeoutError, match="did not finish"):
            _await_stream(q, timeout=1)
        assert not q.isActive  # stopped on the way out
    finally:
        if q.isActive:
            q.stop()


def test_dedup_stream_against_index_two_ticks(spark, tmp_path):
    """The always-on ingest dedup (dedup_stream_against_index) with the
    self-updating index: tick 2 must flag duplicates of documents that
    arrived in tick 1 (whose band table was appended to the index), and
    no tick flags against its own batch's index rows. Two availableNow
    runs over the same checkpoint = two deterministic ingest ticks (the
    second run processes only files added after the first)."""
    from cnosdb_spark.operators import dedup
    from __spark_entry__ import _await_stream

    ix_path = str(tmp_path / "ix")
    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated document about spark plans")],
        ["doc_id", "text"],
    )
    dedup.minhash_band_table(
        corpus, "text", "doc_id", n=3, num_hashes=16, bands=4
    ).write.parquet(ix_path)

    def run_tick(rows):
        spark.createDataFrame(rows, ["doc_id", "text"]).write.mode(
            "append"
        ).parquet(in_path)
        q = (
            dedup.dedup_stream_against_index(
                spark.readStream.schema("doc_id bigint, text string")
                .parquet(in_path),
                None,  # self-updating: re-read the index per tick
                out_path,
                str(tmp_path / "ck"),
                "text",
                "doc_id",
                n=3,
                num_hashes=16,
                bands=4,
                update_index_path=ix_path,
            )
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 120)

    # tick 1: doc 10 duplicates corpus doc 1; doc 11 is novel
    run_tick([
        (10, "the quick brown fox jumps over the lazy dog"),
        (11, "a brand new document with its own words entirely"),
    ])
    # tick 2: doc 20 duplicates doc 11 — which arrived in TICK 1, not
    # in the pre-built corpus index
    run_tick([(20, "a brand new document with its own words entirely")])

    got = {
        (r.id_new, r.id_match, r.source)
        for r in spark.read.parquet(out_path).collect()
    }
    assert (10, 1, "index") in got
    assert (20, 11, "index") in got  # tick-2 doc flagged vs tick-1 doc
    assert (20, 10, "index") not in got  # dissimilar tick-1 doc: no flag
    # no self-matches: a tick's own index append happens after its check
    assert not {(a, b, s) for (a, b, s) in got if a == b}


def test_dedup_stream_bootstrap_empty_index(spark, tmp_path):
    """Self-updating mode with NO pre-built index: the first tick ever
    bootstraps an empty index (within-batch pairs only, no crash on the
    missing path), creates it, and the second tick flags against tick-1
    documents."""
    from cnosdb_spark.operators import dedup
    from __spark_entry__ import _await_stream

    ix_path = str(tmp_path / "ix")  # never created up front
    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")

    def run_tick(rows):
        spark.createDataFrame(rows, ["doc_id", "text"]).write.mode(
            "append"
        ).parquet(in_path)
        q = (
            dedup.dedup_stream_against_index(
                spark.readStream.schema("doc_id bigint, text string")
                .parquet(in_path),
                None,
                out_path,
                str(tmp_path / "ck"),
                "text",
                "doc_id",
                n=3,
                num_hashes=16,
                bands=4,
                update_index_path=ix_path,
            )
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 120)

    # tick 1 (bootstrap): 30/31 duplicate each other within the batch
    run_tick([
        (30, "the quick brown fox jumps over the lazy dog"),
        (31, "the quick brown fox jumps over the lazy dog"),
    ])
    got1 = {
        (r.id_new, r.id_match, r.source)
        for r in spark.read.parquet(out_path).collect()
    }
    assert (30, 31, "batch") in got1
    assert not {t for t in got1 if t[2] == "index"}  # empty bootstrap index
    # tick 2: duplicates a tick-1 doc — the bootstrapped index caught up
    run_tick([(40, "the quick brown fox jumps over the lazy dog")])
    got2 = {
        (r.id_new, r.id_match, r.source)
        for r in spark.read.parquet(out_path).collect()
    }
    assert {(40, 30, "index"), (40, 31, "index")} <= got2


def test_dedup_stream_replay_is_idempotent(spark, tmp_path):
    """A replayed batch must REWRITE its _batch_id partition, not append
    a duplicate copy: re-running the same input through a FRESH
    checkpoint (the worst-case replay — every batch re-executes) leaves
    the flagged-pair output byte-identical, not doubled."""
    from cnosdb_spark.operators import dedup
    from __spark_entry__ import _await_stream

    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    index = dedup.minhash_band_table(
        corpus, "text", "doc_id", n=3, num_hashes=16, bands=4
    )
    spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),
         (11, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    ).write.parquet(in_path)

    def run(ck):
        q = (
            dedup.dedup_stream_against_index(
                spark.readStream.schema("doc_id bigint, text string")
                .parquet(in_path),
                index,
                out_path,
                str(tmp_path / ck),
                "text",
                "doc_id",
                n=3,
                num_hashes=16,
                bands=4,
            )
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 120)

    run("ck1")
    first = sorted(
        (r.id_new, r.id_match, r.source)
        for r in spark.read.parquet(out_path).collect()
    )
    assert first  # the dedup actually flagged pairs
    run("ck2")  # fresh checkpoint: batch 0 replays over the same files
    second = sorted(
        (r.id_new, r.id_match, r.source)
        for r in spark.read.parquet(out_path).collect()
    )
    assert second == first  # overwritten in place, not doubled


def test_compact_band_index_in_place_and_snapshot(spark, tmp_path):
    """compact_band_index removes replay-duplicated band rows without
    changing the flagged-pair result: in-place swap keeps the path
    readable with the distinct row multiset; snapshot mode leaves the
    source untouched."""
    from cnosdb_spark.operators import dedup

    ix_path = str(tmp_path / "ix")
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated document about spark plans")],
        ["doc_id", "text"],
    )
    band = dedup.minhash_band_table(corpus, "text", "doc_id")
    band.write.parquet(ix_path)
    band.write.mode("append").parquet(ix_path)  # a replayed append
    before = spark.read.parquet(ix_path)
    distinct_rows = {tuple(r) for r in before.distinct().collect()}
    assert before.count() == 2 * len(distinct_rows)

    snap = str(tmp_path / "snap")
    n_snap = dedup.compact_band_index(spark, ix_path, out_path=snap)
    assert n_snap == len(distinct_rows)
    assert spark.read.parquet(ix_path).count() == 2 * len(distinct_rows)  # untouched

    n = dedup.compact_band_index(spark, ix_path)
    after = spark.read.parquet(ix_path)
    assert n == len(distinct_rows)
    assert {tuple(r) for r in after.collect()} == distinct_rows
    assert after.count() == len(distinct_rows)

    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    got = {
        (r.id_new, r.id_match)
        for r in dedup.dedup_against_index(
            batch, after, "text", "doc_id"
        ).collect()
    }
    assert (10, 1) in got and (10, 2) not in got


def test_dedup_stream_self_updating_replay_no_self_matches(spark, tmp_path):
    """The worst-case self-updating replay: the tick's own band rows are
    ALREADY in the index when the tick re-runs (crash after append,
    before checkpoint commit — simulated with a fresh checkpoint over
    the same input). The replayed output must equal the first run:
    no self-pairs, no within-batch pairs relabeled as 'index' matches."""
    from cnosdb_spark.operators import dedup
    from __spark_entry__ import _await_stream

    ix_path = str(tmp_path / "ix")
    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    dedup.minhash_band_table(corpus, "text", "doc_id").write.parquet(ix_path)
    spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),
         (11, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    ).write.parquet(in_path)

    def run(ck):
        q = (
            dedup.dedup_stream_against_index(
                spark.readStream.schema("doc_id bigint, text string")
                .parquet(in_path),
                None,
                out_path,
                str(tmp_path / ck),
                "text",
                "doc_id",
                update_index_path=ix_path,
            )
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 120)

    run("ck1")
    first = sorted(
        (r.id_new, r.id_match, r.source)
        for r in spark.read.parquet(out_path).collect()
    )
    assert (10, 11, "batch") in [tuple(t) for t in first]
    # replay: the index NOW contains docs 10/11's band rows
    run("ck2")
    second = sorted(
        (r.id_new, r.id_match, r.source)
        for r in spark.read.parquet(out_path).collect()
    )
    assert second == first  # no self-matches, no 'index'-relabeled pairs


def test_hot_bucket_ceiling_counts_distinct_docs(spark):
    """Replay-duplicated index rows must not trip the max_bucket_size
    cap: the ceiling counts DISTINCT docs per bucket, so a doubled
    2-doc bucket stays under a cap of 3 and its matches survive —
    compaction remains purely a read-cost optimization."""
    from cnosdb_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    band = dedup.minhash_band_table(corpus, "text", "doc_id")
    doubled = band.unionAll(band)  # a replayed append
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    got = {
        (r.id_new, r.id_match)
        for r in dedup.dedup_against_index(
            batch, doubled, "text", "doc_id", max_bucket_size=3
        ).collect()
    }
    assert {(10, 1), (10, 2)} <= got  # 2 distinct docs < cap 3: kept
