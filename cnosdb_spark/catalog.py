"""Warehouse catalog: databases + tskv tables as partitioned Parquet.

Spark-first re-expression of the reference's meta service + tskv storage:

- a table lives at ``<warehouse>/<tenant>/<db>/<table>/`` as Parquet files
  directory-partitioned by a time bucket (``_tb=YYYYMMDD``) — the analogue
  of CnosDB's vnode_duration time sharding
  (/root/reference common/models/src/schema/database_schema.rs:109-170);
  partition pruning on ``_tb`` replaces predicate→vnode pruning
  (query_server/query/src/data_source/split/mod.rs:25-62).
- writes are append-only with a monotonically increasing ``_ingest_seq``
  (the analogue of WAL sequence); reads go through a merge-on-read view
  that applies **per-column last-write-wins** on (series, time) — the
  semantics pinned by tskv/src/reader/sort_merge.rs and
  query_server/sqllogicaltests/cases/sqlancer/repeat_write.slt:12-32
  (a later row with a NULL field does NOT erase the earlier value).
- database TTL is applied as a query-time lower bound on time
  (database_schema.rs:70-84), not at write time.

The write rule: every table mutation (INSERT, UPDATE/DELETE, COMPACT,
RENAME COLUMN) stages its ``_tb=`` buckets and series index, range-checks
them, then commits through ``Catalog._commit`` — the only code that moves
data into a table. It bumps the table's version, which the Engine's temp
views are keyed on. Not crash-atomic yet: a crash mid-commit can leave an
INSERT partly visible, and a rewrite deletes the old buckets before it
moves the new ones in.

At 100 TB scale: the dedup view is an aggregation keyed on
(tags..., time) — Spark plans it as partial/final hash aggregate over a
shuffle on exactly the key the data is naturally clustered by; `compact()`
materializes the merge so steady-state reads skip it entirely.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import time as _time
from collections.abc import Collection

from pyspark.sql import DataFrame, SparkSession, functions as F

from .schema import (
    INGEST_ROW_COL,
    INGEST_SEQ_COL,
    NS_RESIDUE_COL,
    TIME_COL,
    TskvTableSchema,
)

_CATALOG_FILE = "_tskv_table.json"
_TB_COL = "_tb"
_SERIES_DIR = "_series"
_TB_DAY_FMT = "yyyyMMdd"

# table path -> commit count. Process-wide and in memory only: the temp
# views keyed on it never outlive the process. Entries are never removed,
# so a dropped and re-created table never repeats a version.
_VERSIONS: dict[str, int] = {}

# vnode_duration → _tb granularity thresholds (days)
_TB_MONTH_MIN_DAYS = 28
_TB_YEAR_MIN_DAYS = 365

_DUR_UNIT_DAYS = {
    "d": 1, "day": 1, "days": 1,
    "w": 7, "week": 7, "weeks": 7,
    "month": 30, "months": 30,
    "y": 365, "year": 365, "years": 365,
}


def bucket_fmt_for(options: dict) -> str:
    """Derive the ``_tb`` directory granularity from a database's
    ``vnode_duration`` option — the analogue of the reference's
    time-shard duration (database_schema.rs:109-170: one vnode bucket
    per duration window). A longer vnode_duration means coarser
    time-sharding; here that maps to coarser ``_tb`` partition dirs,
    which bounds the per-directory commit fan-out of backfill writes
    (a 7-year daily-bucket INSERT legally fans out to 1222 dirs and
    becomes file-bound — guide §6.2). Day stays the default: it is the
    pruning/rewrite unit every existing test pins.

    Accepts both the raw CREATE DATABASE form ('365d', '1year', bare
    days) and the ALTER-normalized form ('365 DAY'). Sub-day durations
    (hours/minutes/seconds) floor to daily dirs. humantime units are
    case-sensitive: 'M' is month, 'm' is minute."""
    vd = options.get("vnode_duration")
    if not vd:
        return _TB_DAY_FMT
    m = re.fullmatch(r"(\d+)\s*([a-zA-Z]*)", str(vd).strip())
    if not m:
        return _TB_DAY_FMT
    n, unit = int(m.group(1)), m.group(2)
    if unit == "":
        days = n  # bare number defaults to days (database_schema.rs)
    elif unit == "M":
        days = 30 * n
    else:
        per = _DUR_UNIT_DAYS.get(unit.lower())
        if per is None:
            return _TB_DAY_FMT
        days = n * per
    if days >= _TB_YEAR_MIN_DAYS:
        return "yyyy"
    if days >= _TB_MONTH_MIN_DAYS:
        return "yyyyMM"
    return _TB_DAY_FMT


class Catalog:
    def __init__(self, spark: SparkSession, warehouse: str, tenant: str = "cnosdb"):
        self.spark = spark
        self.warehouse = warehouse
        self.tenant = tenant
        self.root = os.path.abspath(os.path.join(warehouse, tenant))
        # "now" provider for the TTL retention filter — the engine rebinds
        # this to its virtual clock so slt `sleep` advances expiry
        # (data_tests/data_ttl.slt) without wall-clock waits
        self.now_us = lambda: _time.time_ns() // 1000
        os.makedirs(warehouse, exist_ok=True)
        # tables holding rows whose raw integer timestamp overflows the
        # engine's µs render range (ms/s-precision dbs): the reference
        # stores the raw value and fails at RENDER time
        # (ddl/db_precision.slt:54-57) — reads of a poisoned table raise.
        # The set is a cache; a marker file in the table directory makes
        # the poison survive an engine restart on the same warehouse.
        self._render_poison: set[tuple[str, str]] = set()

    def _poison_marker_path(self, db: str, name: str) -> str:
        return os.path.join(self.table_path(db, name), "_render_poison")

    def _poison(self, db: str, name: str) -> None:
        self._render_poison.add((db, name))
        self._bump(db, name)  # a view built before must now fail to rebuild
        try:
            with open(self._poison_marker_path(db, name), "w") as f:
                f.write("")
        except OSError:
            pass  # table dir gone mid-write: the in-memory flag still holds

    def _is_poisoned(self, db: str, name: str) -> bool:
        if (db, name) in self._render_poison:
            return True
        if os.path.exists(self._poison_marker_path(db, name)):
            self._render_poison.add((db, name))
            return True
        return False

    # ---------- paths and versions ----------
    def _db_path(self, db: str) -> str:
        return os.path.join(self.root, db)

    def table_path(self, db: str, name: str) -> str:
        return os.path.join(self._db_path(db), name)

    def _series_path(self, db: str, name: str) -> str:
        return os.path.join(self.table_path(db, name), _SERIES_DIR)

    def version(self, db: str, name: str) -> int:
        """Bumped by every commit, schema save and drop of the table."""
        return _VERSIONS.get(self.table_path(db, name), 0)

    def _bump(self, db: str, name: str) -> None:
        p = self.table_path(db, name)
        _VERSIONS[p] = _VERSIONS.get(p, 0) + 1

    # ---------- DDL ----------
    def create_database(self, db: str, ttl: str | None = None, **options) -> None:
        os.makedirs(self._db_path(db), exist_ok=True)
        self._save_database_options(db, {"ttl": ttl, **options})

    def _save_database_options(self, db: str, options: dict) -> None:
        with open(os.path.join(self._db_path(db), "_db.json"), "w") as f:
            json.dump(options, f)

    def set_database_option(self, db: str, key: str, value) -> None:
        """ALTER DATABASE ... SET <key> <value>."""
        self._save_database_options(db, {**self.database_options(db), key: value})

    def database_options(self, db: str) -> dict:
        p = os.path.join(self._db_path(db), "_db.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def drop_database(self, db: str) -> None:
        for name in self.list_tables(db):
            self._bump(db, name)
        shutil.rmtree(self._db_path(db), ignore_errors=True)
        self._render_poison = {k for k in self._render_poison if k[0] != db}

    def disk_bytes(self, db: str) -> int:
        """Bytes of every file under the database's directory."""
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, fs in os.walk(self._db_path(db))
            for f in fs
        )

    def list_databases(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )

    def create_table(self, db: str, schema: TskvTableSchema) -> None:
        path = self.table_path(db, schema.name)
        if os.path.exists(os.path.join(path, _CATALOG_FILE)):
            raise ValueError(f"table {db}.{schema.name} already exists")
        os.makedirs(path, exist_ok=True)
        # the _tb granularity is fixed PER TABLE at creation from the db's
        # vnode_duration (see bucket_fmt_for): a later ALTER DATABASE must
        # not re-shard existing data dirs — mixing granularities within one
        # table would strand rows from the pruned overwrite's affected-set
        # match. Stamped only when coarser than the daily default so
        # existing tables' schema JSON stays byte-stable.
        fmt = bucket_fmt_for(self.database_options(db))
        if fmt != _TB_DAY_FMT:
            schema.options["bucket_fmt"] = fmt
        self.save_schema(db, schema)

    def bucket_fmt(self, schema: TskvTableSchema) -> str:
        """The table's ``_tb`` date_format pattern (fixed at creation)."""
        return schema.options.get("bucket_fmt", _TB_DAY_FMT)

    def save_schema(self, db: str, schema: TskvTableSchema) -> None:
        with open(os.path.join(self.table_path(db, schema.name), _CATALOG_FILE), "w") as f:
            json.dump(schema.to_json(), f, indent=2)
        self._bump(db, schema.name)

    def drop_table(self, db: str, name: str) -> None:
        shutil.rmtree(self.table_path(db, name), ignore_errors=True)
        self._render_poison.discard((db, name))
        self._bump(db, name)

    def get_schema(self, db: str, name: str) -> TskvTableSchema:
        p = os.path.join(self.table_path(db, name), _CATALOG_FILE)
        if not os.path.exists(p):
            # ValueError = legitimate semantic error (the slt expected-error
            # classifier treats KeyError as an engine bug)
            raise ValueError(f"table {db}.{name} not found")
        with open(p) as f:
            return TskvTableSchema.from_json(json.load(f))

    def list_tables(self, db: str) -> list[str]:
        root = self._db_path(db)
        if not os.path.isdir(root):
            return []
        return sorted(
            d
            for d in os.listdir(root)
            if os.path.exists(os.path.join(root, d, _CATALOG_FILE))
        )

    def alter_table_add_field(self, db: str, name: str, col: str, ftype: str) -> None:
        """ALTER TABLE ADD COLUMN — schema_version bump; old files lack the
        column and Parquet schema merge fills NULLs (tskv_table_schema.rs:361-396)."""
        schema = self.get_schema(db, name)
        if col in schema.fields or col in schema.tags or col == TIME_COL:
            raise ValueError(f"column {col} already exists")
        schema.fields[col] = ftype
        schema.schema_version += 1
        self.save_schema(db, schema)

    def alter_table_add_tag(self, db: str, name: str, col: str) -> None:
        """ALTER TABLE ADD TAG (ddl/alter_table.slt) — new tag is NULL on
        existing rows (tskv_table_schema.rs add-column semantics)."""
        schema = self.get_schema(db, name)
        if col in schema.fields or col in schema.tags or col == TIME_COL:
            raise ValueError(f"column {col} already exists in table {name}")
        schema.tags.append(col)
        schema.schema_version += 1
        self.save_schema(db, schema)

    def alter_table_drop_field(self, db: str, name: str, col: str) -> None:
        schema = self.get_schema(db, name)
        if col not in schema.fields:
            raise ValueError(f"column {col} is not a field of {name}")
        if len(schema.fields) == 1:
            # parity: a tskv table must keep ≥1 field (ddl/alter_table.slt
            # DROP-of-only-field record)
            raise ValueError(f"cannot drop the only field {col} of {name}")
        del schema.fields[col]
        schema.schema_version += 1
        self.save_schema(db, schema)

    def alter_table_rename_column(self, db: str, name: str, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN (reference ddl/rename_field.slt,
        rename_tag.slt; schema machinery tskv_table_schema.rs:361-396).
        Data files are rewritten with the new column name — the reference
        resolves old names via schema_version at scan time; at the scale
        this engine targets the equivalent is a column-mapping rule in the
        scan, but a rewrite keeps the storage self-describing here."""
        from .schema import TIME_COL

        schema = self.get_schema(db, name)
        if old == TIME_COL:
            raise ValueError("rename time column is not supported")
        if new in schema.fields or new in schema.tags or new == TIME_COL:
            raise ValueError(f"column {new} already exists in {name}")
        is_tag = old in schema.tags
        if not is_tag and old not in schema.fields:
            raise ValueError(f"column {old} not found in {name}")
        buckets = self._buckets(db, name)
        sp = self._series_path(db, name)
        with self._commit(db, name, replace=buckets) as stage:
            if buckets:
                # the table's own storage schema: inferring one from a
                # single footer would mistype files of other writers
                self.read_raw(db, name).withColumnRenamed(old, new).write.mode(
                    "overwrite"
                ).partitionBy(_TB_COL).parquet(stage)
            if is_tag and os.path.isdir(sp):
                self.spark.read.parquet(sp).withColumnRenamed(
                    old, new
                ).write.parquet(os.path.join(stage, _SERIES_DIR))
        if is_tag:
            schema.tags = [new if t == old else t for t in schema.tags]
        else:
            schema.fields = {
                (new if k == old else k): v for k, v in schema.fields.items()
            }
        codecs = schema.options.get("codecs", {})
        if old in codecs:
            codecs[new] = codecs.pop(old)
        schema.schema_version += 1
        self.save_schema(db, schema)

    # Writable time range mirrors the reference's ns-i64 bucket math:
    # timestamps past i64::MAX ns (2262-04-11T23:47:16.854775807) overflow
    # bucket creation, and writes older than now - min(ttl, i64::MAX ns
    # ≈ 292.47 years) hit an "expired bucket" (meta clamps the retention
    # window to what ns-i64 can express — why time_window.slt rejects
    # 1677/1688 inserts under TTL '1000000d').
    _MAX_TS_US = 9_223_372_036_854_775  # i64::MAX ns in µs
    _MAX_TTL_US = 9_223_372_036_854_775  # ns-i64 span in µs

    def _check_time_range(self, db: str, ts_min, ts_max) -> None:
        from datetime import datetime, timedelta

        if ts_min is None:
            return
        epoch = datetime(1970, 1, 1)
        if (ts_max - epoch) // timedelta(microseconds=1) >= self._MAX_TS_US:
            raise ValueError(
                f"create bucket: timestamp {ts_max} overflows the ns range"
            )
        # a write older than now - ttl lands in an expired bucket (meta
        # rejects bucket creation — ddl/describe_database.slt's TIME=100
        # insert under ttl '10d'); ttl unset/INF → only the ns-i64 bound
        ttl_us = self._MAX_TTL_US
        ttl = self.database_options(db).get("ttl")
        m = re.fullmatch(r"(\d+)\s+(\w+)", str(ttl or "")) if ttl else None
        if m:
            per_unit = {
                "DAY": 86_400_000_000, "HOUR": 3_600_000_000,
                "MINUTE": 60_000_000, "SECOND": 1_000_000,
            }.get(m.group(2).upper())
            if per_unit:
                ttl_us = min(int(m.group(1)) * per_unit, self._MAX_TTL_US)
        expired = datetime.utcnow() - timedelta(microseconds=ttl_us)
        if ts_min < expired:
            raise ValueError(
                f"create expired bucket: timestamp {ts_min} is beyond the "
                "retention window"
            )

    # ---------- DML ----------
    def insert(self, db: str, name: str, df: DataFrame) -> int:
        """INSERT INTO: cast the source to the table schema and append.

        Mirrors TableWriterPlanNode semantics (returns affected row count) —
        /root/reference query_server/query/src/extension/logical/plan_node/
        table_writer.rs:1-123.
        """
        schema = self.get_schema(db, name)
        tgt = schema.to_struct_type()
        from pyspark.sql import types as T

        by_lower = {c.lower(): c for c in df.columns}  # SQL identifiers are
        cols = []  # case-insensitive (INSERT m(TIME, ...) must hit 'time')
        time_overflow_check = False
        # sub-µs fidelity: residue from the source (line-protocol ingest) or
        # computed from ns-magnitude integer time literals below
        ns_residue = (
            F.col(f"`{by_lower[NS_RESIDUE_COL]}`")
            if NS_RESIDUE_COL in by_lower
            else None
        )
        src_types = {f.name: f.dataType for f in df.schema.fields}
        for f_ in tgt.fields:
            src = by_lower.get(f_.name.lower())
            if src is None:
                cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
            elif f_.name == TIME_COL and isinstance(
                src_types[src], (T.DoubleType, T.FloatType, T.DecimalType)
            ):
                # parity: DataFusion has no Float64 → Timestamp cast
                # (ddl/create_table.slt TIME=0.1 record)
                raise ValueError(
                    "Unsupported CAST from Float64 to Timestamp"
                )
            elif f_.name == TIME_COL and isinstance(
                src_types[src], (T.LongType, T.IntegerType, T.ShortType)
            ):
                # integer time literals scale by the database PRECISION
                # option (ddl/db_precision.slt). Default (NS) is
                # interpreted as epoch MICROSECONDS — Spark's native
                # precision; µs keeps tiny integer timestamps distinct
                # under the LWW merge, which ns-div-1000 would collapse.
                # Documented divergence, consistent with the comparison
                # rewrite.
                prec = str(
                    self.database_options(db).get("precision") or "NS"
                ).upper()
                scale = {"MS": 1000, "S": 1_000_000}.get(prec, 1)
                c = F.col(f"`{src}`")
                if scale == 1:
                    # default-precision (NS) dbs: values of ns magnitude
                    # (≥1e16 µs would be year 2286+) are epoch ns — the
                    # reference's interpretation; small literals stay µs
                    # (see divergence note above)
                    # FLOOR division (not trunc `div`): pmod is
                    # floor-style, so floor keeps time*1000 + residue ==
                    # original for pre-epoch ns values and matches
                    # line_protocol's Python // and % decomposition —
                    # the same physical point gets the same (time,
                    # _ns_res) merge key on both ingest paths.
                    # (c - pmod(c, 1000)) is exactly divisible, so the
                    # integer `div` below IS the floor; double division
                    # would lose ns precision.
                    expr = F.when(
                        F.abs(c) >= 10_000_000_000_000_000,
                        F.expr(
                            f"(`{src}` - pmod(`{src}`, 1000)) div 1000"
                        ),
                    ).otherwise(c).cast("long")
                    if ns_residue is None:
                        ns_residue = F.when(
                            F.abs(c) >= 10_000_000_000_000_000,
                            F.pmod(c, F.lit(1000)),
                        ).otherwise(F.lit(0))
                else:
                    # an ms/s-precision raw value whose µs equivalent
                    # overflows i64 is ACCEPTED at write (the reference
                    # stores raw ints in the db's own precision) and only
                    # fails when rendered — store NULL and poison the table
                    lim = ((1 << 63) - 1) // scale
                    expr = (
                        F.when(F.abs(c) > lim, F.lit(None))
                        .otherwise(c * scale)
                        .cast("long")
                    )
                    time_overflow_check = True
                cols.append(F.timestamp_micros(expr).alias(f_.name))
            elif schema.fields.get(f_.name) == "unsigned":
                # BIGINT UNSIGNED stores as long; negatives are a cast
                # error in the reference ("Can't cast value -N to UInt64")
                c = F.col(f"`{src}`").cast(f_.dataType)
                cols.append(
                    F.when(
                        c < 0,
                        F.raise_error(
                            F.concat(
                                F.lit("Can't cast value "),
                                c.cast("string"),
                                F.lit(" to type UInt64"),
                            )
                        ).cast(f_.dataType),
                    )
                    .otherwise(c)
                    .alias(f_.name)
                )
            else:
                # backticks: a dotted schemaless name (json "a.b") must not
                # be parsed as nested-struct access
                cols.append(F.col(f"`{src}`").cast(f_.dataType).alias(f_.name))
        seq = int(_time.time_ns())
        cols.append(
            (ns_residue if ns_residue is not None else F.lit(0))
            .cast("long")
            .alias(NS_RESIDUE_COL)
        )
        out = (
            df.select(*cols)
            .withColumn(INGEST_SEQ_COL, F.lit(seq))
            .withColumn(INGEST_ROW_COL, F.monotonically_increasing_id())
            .withColumn(_TB_COL, F.date_format(TIME_COL, self.bucket_fmt(schema)))
        )
        # Single-pass write: the source plan executes exactly once — the
        # staged data write — with no persist holding a copy in memory (an
        # INSERT..SELECT source can be arbitrarily expensive; previously it
        # was persisted and re-read by three jobs). The write lands in the
        # commit's stage, and the commit moves it into the ``_tb=`` dirs
        # only after the time-range check passes (a raise skips the
        # commit), preserving reject-before-visible semantics for
        # TTL/overflow violations. The row-count/time-range
        # stats and the series index are computed FROM the staged files
        # (column-pruned columnar scans), never by re-executing the source.
        # Deliberately NOT df.observe(): the first Observation initializes
        # SparkSession.observationManager, a non-serializable lazy field
        # that then breaks ANY later plan serializing the session (Spark ML
        # training summaries captured in model-transform UDFs do).
        with self._commit(db, name) as stage:
            out.write.mode("overwrite").partitionBy(_TB_COL).parquet(stage)
            staged_buckets = [
                e for e in os.listdir(stage) if e.startswith(_TB_COL + "=")
            ]
            if not staged_buckets:  # 0-row insert: only _SUCCESS staged
                return 0
            # Common case — no TTL, default (NS) precision, every staged
            # bucket name below the ns-i64 horizon year: the time-range
            # check is decided by the bucket dir names alone (a bucket
            # below "2262" cannot overflow, and with no retention nothing
            # expires), and the affected-row count comes from the parquet
            # footers — no Spark job at all. Bucket names are zero-padded
            # (yyyy[-MM[-dd]]), so the lexical compare is a date compare;
            # a NULL-time row lands in __HIVE_DEFAULT_PARTITION__, which
            # sorts above "2262" and falls back to the exact path.
            ttl = str(self.database_options(db).get("ttl") or "INF").upper()
            from datetime import datetime as _dt, timedelta as _td

            # even TTL=INF clamps to the ns-i64 span: buckets whose YEAR is
            # strictly above the rolling cutoff year cannot be expired
            lo = str(
                (_dt.utcnow() - _td(microseconds=self._MAX_TTL_US)).year + 1
            ).zfill(4)
            if (
                not time_overflow_check
                and ttl == "INF"
                and all(
                    lo <= b.split("=", 1)[1] < "2262" for b in staged_buckets
                )
            ):
                import pyarrow.parquet as _pq

                n = 0
                for b in staged_buckets:
                    bdir = os.path.join(stage, b)
                    for fname in os.listdir(bdir):
                        if fname.endswith(".parquet"):
                            n += _pq.read_metadata(
                                os.path.join(bdir, fname)
                            ).num_rows
            else:
                n, ts_min, ts_max, n_null_ts = (
                    self.spark.read.parquet(stage)
                    .agg(
                        F.count(F.lit(1)),
                        F.min(TIME_COL),
                        F.max(TIME_COL),
                        F.count(F.when(F.col(TIME_COL).isNull(), 1)),
                    )
                    .first()
                )
                if time_overflow_check and n_null_ts:
                    self._poison(db, name)
                self._check_time_range(db, ts_min, ts_max)
            if schema.tags and n:
                # maintain the series index on write — the analogue of the
                # reference's inverted tag index updated during ingest
                # (tskv/src/index/ts_index.rs). Stages this batch's
                # distinct tag tuples, which the commit appends to the
                # index; readers dedup across appends. The
                # explicit tag-only schema prunes the read AND skips the
                # footer schema-inference job.
                from pyspark.sql import types as T

                tag_struct = T.StructType(
                    [T.StructField(t, T.StringType(), True) for t in schema.tags]
                )
                # the select is NOT redundant: partition discovery APPENDS
                # the _tb dir column even under an explicit user schema,
                # and a _tb in the distinct would inflate the index by one
                # row per (series, bucket) — caught by a 600k-row A/B
                # (546,208 true series vs 599,969 inflated)
                self.spark.read.schema(tag_struct).parquet(stage).select(
                    *schema.tags
                ).distinct().write.parquet(os.path.join(stage, _SERIES_DIR))
        return n

    def series(self, db: str, name: str, where: str | None = None) -> DataFrame:
        """Distinct series (tag tuples). Served from the write-maintained
        series index when present — a tag-only query then never touches
        data files (the point of RewriteTagScan, rewrite_tag_scan.rs:16-60);
        falls back to a distinct over the raw table otherwise. With a
        ``where`` predicate: the series of the merged rows it keeps."""
        schema = self.get_schema(db, name)
        sp = self._series_path(db, name)
        if where:
            src = self.read(db, name).filter(F.expr(where))
        elif os.path.isdir(sp):
            return self.spark.read.parquet(sp).distinct()
        else:
            src = self.read_raw(db, name)
        return src.select(*schema.tags).distinct()

    # ---------- reads ----------
    def read_raw(self, db: str, name: str) -> DataFrame:
        if self._is_poisoned(db, name):
            # ddl/db_precision.slt:57 — a stored raw timestamp outside the
            # render range fails at query time, exactly like the reference's
            # ms→datetime cast error
            raise ValueError(
                "Arrow error: Cast error: Failed to convert stored raw "
                f"timestamp to datetime for table {db}.{name}"
            )
        schema = self.get_schema(db, name)
        path = self.table_path(db, name)
        df = (
            self.spark.read.schema(schema.to_struct_type(with_ingest_seq=True))
            .option("basePath", path)
            .parquet(path)
        )
        return df

    def ttl_filter(self, db: str, df: DataFrame) -> DataFrame:
        """Retention: drop rows older than now − TTL ('INF' = no expiry,
        alter_database.slt). Applies to BOTH the merge-on-read view and the
        raw pre-merge count path — the reference's storage scan never
        returns expired rows, so the count pushdown excludes them too
        (data_tests/data_ttl.slt:38 expects COUNT(*) = 0 after expiry)."""
        ttl = self.database_options(db).get("ttl")
        if ttl and str(ttl).upper() != "INF":
            now = F.timestamp_micros(F.lit(int(self.now_us())))
            df = df.filter(F.col(TIME_COL) >= now - F.expr(f"INTERVAL {ttl}"))
        return df

    def read(
        self, db: str, name: str, dedup: bool = True, keep_residue: bool = False
    ) -> DataFrame:
        """Merge-on-read table view.

        Per-column last-write-wins on (tags, time): for every field,
        ``max_by(field, seq-if-field-non-null)`` — a later NULL write does
        not erase an earlier value (sort_merge.rs column-cursor merge;
        pinned by cases/sqlancer/repeat_write.slt:12-32).
        """
        schema = self.get_schema(db, name)
        df = self.ttl_filter(db, self.read_raw(db, name))

        if not dedup:
            return df.drop(INGEST_SEQ_COL, INGEST_ROW_COL, NS_RESIDUE_COL)

        # merge key includes the sub-µs residue: the reference keys series
        # points on raw i64 NANOSECONDS, so points 1 ns apart are distinct
        # rows even though TIME_COL renders them at the same µs
        res_key = F.coalesce(F.col(NS_RESIDUE_COL), F.lit(0)).alias(NS_RESIDUE_COL)
        keys = [f"`{k}`" for k in (TIME_COL, *schema.tags)]
        # backticked names: schemaless json ingest can produce dotted
        # column names like "sev.level" that must not parse as nested access
        aggs = [
            F.max_by(
                F.col(f"`{f_}`"),
                F.when(
                    F.col(f"`{f_}`").isNotNull(),
                    F.struct(F.col(INGEST_SEQ_COL), F.col(INGEST_ROW_COL)),
                ),
            ).alias(f_)
            for f_ in schema.field_names
        ]
        if not aggs:  # tag-only table: distinct series+time
            out = df.select(*keys, res_key).distinct()
            return out if keep_residue else out.drop(NS_RESIDUE_COL)
        merged = df.groupBy(*keys, res_key).agg(*aggs)
        out_cols = [TIME_COL, *schema.tags, *schema.field_names]
        if keep_residue:
            out_cols.append(NS_RESIDUE_COL)
        return merged.select(*[f"`{c}`" for c in out_cols])

    def compact(self, db: str, name: str) -> None:
        """Materialize the merge-on-read view (the analogue of tskv
        compaction, tskv/src/compaction/) so reads skip dedup. Merging
        changes no tag, so the series index stays."""
        self.overwrite(
            db, name, self.read(db, name, keep_residue=True), rebuild_index=False
        )

    def overwrite(
        self,
        db: str,
        name: str,
        df: DataFrame,
        partitions: list[str] | None = None,
        rebuild_index: bool = True,
    ) -> None:
        """Rewrite a table's data files from a merged view (UPDATE/DELETE,
        COMPACT; tskv/src/compaction analogue). When ``partitions`` is
        given, ONLY those ``_tb`` buckets are rewritten — at 100 TB an
        UPDATE ... WHERE time > X must not rewrite years of history.

        ``rebuild_index=False`` skips the series-index rewrite — legal
        exactly when no tag value changed and no row was removed (a
        field-only UPDATE). Otherwise the index is computed from ``df``, the
        caller's full post-state view (still backed by its persist of the
        pre-swap files), not by re-scanning the rewritten table — one read
        job less; it is staged before the commit deletes any file."""
        schema = self.get_schema(db, name)
        staged = (
            df.withColumn(INGEST_SEQ_COL, F.lit(0))
            .withColumn(INGEST_ROW_COL, F.lit(0))
            .withColumn(_TB_COL, F.date_format(TIME_COL, self.bucket_fmt(schema)))
        )
        if partitions is None:
            partitions = self._buckets(db, name)
        else:
            staged = staged.filter(F.col(_TB_COL).isin(list(partitions)))
        with self._commit(db, name, replace=partitions) as stage:
            staged.write.mode("overwrite").partitionBy(_TB_COL).parquet(stage)
            if schema.tags and rebuild_index:
                # df is the post-mutation table content regardless of the
                # partition pruning above (unpruned buckets are unchanged rows)
                df.select(*schema.tags).distinct().write.parquet(
                    os.path.join(stage, _SERIES_DIR)
                )

    def _buckets(self, db: str, name: str) -> list[str]:
        """The ``_tb`` values of the table's live buckets."""
        return [
            e.split("=", 1)[1]
            for e in os.listdir(self.table_path(db, name))
            if e.startswith(_TB_COL + "=")
        ]

    @contextlib.contextmanager
    def _commit(self, db: str, name: str, replace: Collection[str] | None = None):
        """The one commit of every table mutation. The ``with`` body stages
        ``_tb=`` bucket dirs in the yielded directory, and optionally a
        series index in its ``_series`` subdirectory. On a clean exit they
        move into the table and the table's version is bumped; the stage is
        removed either way, so a body that raises leaves the table as is.

        ``replace=None`` appends (INSERT): a staged bucket the table lacks
        is renamed into place (one dir rename, the common fresh-day case),
        else it joins the live one file by file (part names embed the job
        UUID); a staged index joins the live one the same way. Otherwise
        ``replace`` lists the ``_tb`` values whose live buckets the stage
        supersedes, and a staged index replaces the live one. Not
        crash-atomic (see the module docstring)."""
        path = self.table_path(db, name)
        stage = os.path.join(path, f"_stage-{_time.time_ns()}")
        try:
            yield stage
            staged = os.listdir(stage) if os.path.isdir(stage) else []
            moves = [
                (os.path.join(stage, e), os.path.join(path, e))
                for e in staged
                if e.startswith(_TB_COL + "=")
            ]
            if _SERIES_DIR in staged:
                moves.append(
                    (os.path.join(stage, _SERIES_DIR), self._series_path(db, name))
                )
            if replace is not None:
                gone = [f"{_TB_COL}={v}" for v in replace]
                if _SERIES_DIR in staged:
                    gone.append(_SERIES_DIR)
                for entry in gone:
                    shutil.rmtree(os.path.join(path, entry), ignore_errors=True)
            for src, dst in moves:
                if not os.path.isdir(dst):
                    os.rename(src, dst)
                    continue
                for fname in os.listdir(src):
                    shutil.move(os.path.join(src, fname), os.path.join(dst, fname))
            if moves or replace:
                self._bump(db, name)
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    # ---------- time-series metadata queries ----------
    def show_series(self, db: str, name: str, where: str | None = None) -> DataFrame:
        """SHOW SERIES [WHERE]: distinct tag tuples formatted
        ``measurement,tag=val,...`` (sql/planner.rs:1400-1406). Tag-only
        projection is DISTINCT series by definition (rewrite_tag_scan.rs)."""
        schema = self.get_schema(db, name)
        df = self.series(db, name, where)
        parts = [F.lit(name)]
        for t in sorted(schema.tags):  # lexical tag-key order in series keys
            parts.append(
                F.when(F.col(t).isNotNull(), F.concat(F.lit(f",{t}="), F.col(t))).otherwise(F.lit(""))
            )
        return df.select(F.concat(*parts).alias("key")).orderBy("key")

    def show_tag_values(
        self, db: str, name: str, keys: list[str], where: str | None = None
    ) -> DataFrame:
        """SHOW TAG VALUES WITH KEY IN (...) [WHERE]: distinct (key, value)
        pairs (sql/planner.rs:1408-1421)."""
        schema = self.get_schema(db, name)
        bad = [k for k in keys if k not in schema.tags]
        if bad:
            raise ValueError(f"not tag columns: {bad}")
        if not keys:  # e.g. WITH KEY NOT IN (<all tags>) → empty result
            return self.spark.createDataFrame([], "key string, value string")
        df = self.series(db, name, where)
        out = None
        for k in keys:
            part = (
                df.select(F.lit(k).alias("key"), F.col(k).alias("value"))
                .filter(F.col("value").isNotNull())
                .distinct()
            )
            out = part if out is None else out.unionAll(part)
        return out.distinct().orderBy("key", "value")
