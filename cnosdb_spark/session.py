"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every setting here is chosen so the
same plan shape survives a 1000-executor cluster: AQE on (runtime shuffle
re-planning + skew-join splitting), shuffle partitions sized explicitly,
Arrow enabled for the Pandas-UDF slow path, UTC session timezone so
event-time semantics are deterministic and DuckDB-comparable.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# input bytes per shuffle partition of a stateful stream
# (stream_state_partitions) and per task of a spread small input
# (spread_small_input)
STREAM_TASK_BYTES = 256 * 1024
SPREAD_TASK_BYTES = 64 * 1024


def get_spark(
    app_name: str = "cnosdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Mirrors the session-level knobs CnosDB keeps in its query config
    (target_partitions, batch size — /root/reference
    query_server/spi/src/query/config.rs) but expressed as Spark conf.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata stores events.ts as TIMESTAMP(NANOS); Spark reads
        # it as LongType nanos (converted back to µs timestamps at load)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # v2 file committer: task outputs move to the destination at TASK
        # commit instead of a single sequential driver-side rename pass at
        # job commit — the tskv daily-bucket layout legally fans one
        # backfill INSERT out to thousands of _tb= partition dirs, where
        # the v1 job-commit rename loop dominated write wall (measured
        # −15-20% on a 1222-partition insert, OPTIMIZATION_r10.md §writes).
        # Documented tradeoff (MAPREDUCE-7282): v2 task commit is not
        # atomic — a task failing mid-commit, or a speculative/retried
        # task, can leave partial or duplicate files. This engine never
        # enables spark.speculation, and its DML paths stage overwrites
        # through rename swaps, so the window is failed-task debris only;
        # deployments that enable speculation or need job-abort cleanliness
        # should set SPARK_GRAFT_COMMITTER_VERSION=1 and re-pay the
        # sequential job-commit rename wall.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            os.environ.get("SPARK_GRAFT_COMMITTER_VERSION", "2"),
        )
        # Broadcast ONLY from measured sizes, never from static estimates:
        # the STATIC threshold is fully OFF (-1) — static sizes are
        # file-size × selectivity guesses, and a statically-committed
        # broadcast is irreversible: AQE can upgrade SMJ→BHJ but never
        # demote — while the ADAPTIVE threshold is generous (64 MB — AQE
        # has exact post-shuffle sizes).  Round-7 scale rehearsal: a 64 MB
        # STATIC threshold broadcast the filtered 4.2M-row lineitem side of
        # q3 at 10x data from a bad estimate — 6.1 s vs 1.4 s with this
        # split, and the misplan would only widen with scale.  Round 10
        # closed the residual hole: even at 10 MB the static planner
        # broadcast the column-pruned LINEITEM fact table as a q5 build
        # side at sf0.1 (plans/r10/tpch_q5_local_supplier_before.txt) —
        # with -1, fixed-cardinality dims still broadcast via explicit
        # F.broadcast hints and everything else is AQE's runtime call
        # (measured −4% headline total, q3 −20%, q5 −17%; rotated
        # interleaved min-of-4, OPTIMIZATION_r10.md §joins).
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            "-1",
        )
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register the driver's parquet tables as temp views; return dict of DFs."""
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def normalize_timestamps(df, ts_nanos_long_cols: tuple[str, ...] = ("ts",)):
    """Normalize every timestamp column to Spark µs ``TimestampType``
    regardless of how the parquet file encoded it. The driver's testdata
    has historically shipped three encodings for ``events.ts``:

    - ``TIMESTAMP(NANOS)`` → surfaced as ``LongType`` nanoseconds under
      ``spark.sql.legacy.parquet.nanosAsLong`` (round 1 data),
    - ``timestamp[us]`` with no timezone → ``TimestampNTZType`` under
      Spark 4's ``parquet.inferTimestampNTZ`` (round 3 data),
    - ``timestamp[us]`` UTC-adjusted → ``TimestampType`` already.

    All engine time-series helpers use ``F.unix_micros`` which accepts only
    ``TimestampType``; session timezone is pinned to UTC so the NTZ→LTZ
    cast is a value no-op. Handling all three here means the next testdata
    regeneration can't silently break nine operators again (round-2
    postmortem).
    """
    from pyspark.sql import functions as F, types as T

    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
        elif field.name in ts_nanos_long_cols and isinstance(field.dataType, T.LongType):
            # nanos-as-long era: integer div keeps µs precision exact
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"{field.name} div 1000"))
            )
    return df


def dir_bytes(path: str) -> int:
    """Total on-disk bytes under ``path`` (the staged input of a file-source
    streaming query) — the size signal for :func:`stream_state_partitions`."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def stream_state_partitions(spark, input_bytes: int) -> int:
    """Scale-adaptive shuffle-partition count for a stateful STREAMING
    query (guide §2.5/§5). Two things make streaming different from batch:
    AQE is disabled in stateful workloads (no runtime coalescing), and
    every stateful operator materializes ONE state store PER shuffle
    partition PER micro-batch, each paying checkpoint/delta-file I/O even
    when its slice of state is empty. Sizing the partition count from the
    staged input (``STREAM_TASK_BYTES``, 256 KiB, per partition) keeps a
    small proof-arm input at a handful of stores — measured 2.2× on the asof stream arm at sf0.1 — while any
    production-sized input saturates the session's configured shuffle
    parallelism unchanged (the cap, not the floor, binds). This is the
    streaming analogue of :func:`spread_small_input`: a structural no-op
    at scale."""
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(n_shuffle, -(-int(input_bytes) // STREAM_TASK_BYTES)))


@contextmanager
def scoped_shuffle_partitions(spark, n: int):
    """Scope ``spark.sql.shuffle.partitions`` around a streaming query
    START. A stream snapshots the session conf into its own cloned
    session at ``.start()``, so restoring immediately afterwards leaves
    the running query on the scoped value while batch planning returns
    to the session default."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _lru_get(cache: "OrderedDict", key):
    """Bounded-map read: refresh recency on hit."""
    v = cache.get(key)
    if v is not None:
        cache.move_to_end(key)
    return v


def _lru_put(cache: "OrderedDict", key, value, cap: int = 256):
    """Bounded-map write: evict least-recently-used past ``cap``. The
    session memo maps (read plans, spread probes) would otherwise grow
    one entry per distinct plan/table for the life of the application —
    fine in a bench session, a slow leak in a long-lived service."""
    cache[key] = value
    cache.move_to_end(key)
    while len(cache) > cap:
        cache.popitem(last=False)


def spread_small_input(df, key: str | None = None):
    """The pipeline cookbook's small-input rule (docs/pipeline_cookbook.md):
    Spark cannot split a parquet file below row-group granularity, so a
    small single-file corpus scans as ONE partition and any per-row-heavy
    stage (regex stat towers, Arrow kernels, BPE encode, per-shingle md5)
    serializes on one core. When the input's partition count is below
    the target, repartition up to it — hash on ``key`` when given
    (deterministic, and skips the sort-before-repartition a round-robin
    exchange pays); the exchange is trivially cheap exactly when the
    guard fires, and at production scale (many files / many row groups)
    it never does.

    The target is ``defaultParallelism`` CAPPED by a per-task input-bytes
    floor (``SPREAD_TASK_BYTES``, 64 KiB, from the
    optimizer's size estimate — no action): fanning a tiny corpus out to
    every core makes each Python worker re-pay interpreter/Arrow setup
    for crumbs of work — the round-10 scaling run measured the 8-core
    bench BEATING 32 cores on the fingerprint kernels for exactly this
    reason. The floor keeps small inputs at proportionally fewer, fuller
    tasks and is irrelevant from a few MB of input up.

    Partition-count/size probes are memoized per semantically-identical
    plan in a bounded LRU (a stale hit after in-app source regeneration
    mis-sizes the spread by a factor, never changes results; the driver
    testdata is immutable per session)."""
    sc = df.sparkSession.sparkContext
    # the partition-count probe (rdd.getNumPartitions) costs ~50 ms of
    # physical planning per call — memoize it per semantically-identical
    # plan so repeated builds of the same query pay one cheap hash lookup
    cache_key = (sc.applicationId, df.semanticHash())
    probed = _lru_get(_SPREAD_PROBE_CACHE, cache_key)
    if probed is None:
        n = df.rdd.getNumPartitions()
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        probed = (n, size)
        _lru_put(_SPREAD_PROBE_CACHE, cache_key, probed)
    n, size = probed
    target = min(sc.defaultParallelism, max(1, -(-size // SPREAD_TASK_BYTES)))
    if n >= target or target <= 1:
        return df
    from pyspark.sql import functions as F

    return df.repartition(target, F.col(key)) if key else df.repartition(target)


_SPREAD_PROBE_CACHE: "OrderedDict[tuple[str, int], tuple[int, int]]" = OrderedDict()


_READ_TABLE_PLANS: "OrderedDict[tuple[str, str, str, str], object]" = OrderedDict()


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver parquet table with timestamps normalized to
    ``TimestampType`` (see :func:`normalize_timestamps`).

    Defensive: the conf is set here (runtime-settable, on EVERY call —
    a cache hit must not skip it, the session may have been rebuilt) so
    this works under ANY caller-provided SparkSession, not just
    get_spark()'s.

    The unresolved READ PLAN is cached per (session, application, dir,
    table) — the analogue of the reference meta-service's schema cache:
    building it costs a file listing + parquet footer/schema read, pure
    overhead when the same immutable testdata table is opened hundreds of
    times a session. Only the DataFrame (a logical plan) is reused; every
    action still scans the parquet files, so results always recompute
    from the inputs. Assumes the table files are immutable for the life
    of the session (true for the driver's testdata): regenerating a
    directory in-place within one application would serve a stale file
    listing from the cached plan. The session UUID in the key stops a
    second SparkSession in the same JVM from receiving a DataFrame bound
    to the first. Bounded LRU (no per-table growth for the life of a
    long-lived service)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (
        spark._jsparkSession.sessionUUID(),
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        name,
    )
    df = _lru_get(_READ_TABLE_PLANS, key)
    if df is None:
        raw = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        # only `events.ts` ever shipped as TIMESTAMP(NANOS); other tables'
        # long columns (keys, counts) must not be touched
        df = normalize_timestamps(
            raw, ts_nanos_long_cols=("ts",) if name == "events" else ()
        )
        _lru_put(_READ_TABLE_PLANS, key, df)
    return df
