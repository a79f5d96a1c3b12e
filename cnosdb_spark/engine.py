"""Engine: the SQL entry point — the Spark analogue of CnosDB's query
dispatcher (/root/reference query_server/query/src/dispatcher/manager.rs:
87-115 SimpleQueryDispatcher::execute_query).

``Engine(spark, warehouse).sql(text)`` parses one statement (the reference
enforces exactly one — dispatcher/manager.rs:131-137), routes DDL/DML/SHOW
to the catalog and DQL through the dialect rewriter into Spark SQL
(planner: sql/planner.rs:168-250 statement_to_plan → here Catalyst).

Statement surface (parser.rs):
  CREATE/DROP DATABASE, CREATE/DROP TABLE (fields + TAGS), ALTER TABLE,
  CREATE EXTERNAL TABLE ... STORED AS ... LOCATION, CREATE STREAM TABLE,
  INSERT INTO ... VALUES/SELECT, UPDATE, DELETE,
  COPY INTO <table> FROM '<url>' / COPY INTO '<url>' FROM (query),
  SHOW DATABASES/TABLES/SERIES/TAG VALUES, EXPLAIN, SELECT.
"""

from __future__ import annotations

import json
import os
import re
import weakref
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import Catalog
from .schema import (
    NS_RESIDUE_COL,
    TIME_COL,
    TskvTableSchema,
)
from .sql.rewriter import (
    _LAG_LEAD_RE,
    _PAREN_RE,
    _call_re,
    _split_args,
    iter_calls,
    rewrite_calls,
    rewrite_dql,
    rewrite_f32_math,
)
from .streaming.stream_table import StreamTable

_SESSION_FN_RE = _call_re(
    "current_user", "current_role", "current_tenant", "current_database"
)
_COALESCE_RE = _call_re("coalesce")
_LEFT_RIGHT_RE = _call_re("left", "right")
_NUMERIC_AGG_RE = _call_re(
    "avg", "sum", "stddev", "variance", "var_samp", "covar_samp", "corr"
)
_INT64_ARG_RE = _call_re("chr", "to_hex")
_APPROX_DISTINCT_RE = _call_re("approx_distinct")
_TO_TIMESTAMP_RE = _call_re(
    "to_timestamp", "to_timestamp_seconds", "to_timestamp_millis",
    "to_timestamp_micros", "from_unixtime",
)
_GAPFILL_RE = _call_re("time_window_gapfill")
_FILL_RE = _call_re("locf", "interpolate")
# a bare, optionally qualified, column reference
_COLUMN_REF = re.compile(r"(?:(\w+)\.)?(\w+)")

_TYPE_MAP = {
    "bigint unsigned": "unsigned",
    "unsigned": "unsigned",
    "bigint": "bigint",
    "double": "double",
    "float": "double",
    "string": "string",
    "varchar": "string",
    "boolean": "boolean",
}

# Display names for DESCRIBE TABLE (reference renders the tskv type names,
# ddl/describe_table.slt; "TIMESTAMP(NANOSECOND)" is the reference's native
# time precision — ours stores µs, the label mirrors the surface).
_TYPE_DISPLAY = {
    "bigint": "BIGINT",
    "unsigned": "BIGINT UNSIGNED",
    "double": "DOUBLE",
    "string": "STRING",
    "boolean": "BOOLEAN",
    "geometry": "GEOMETRY",
}

# Codec validity per field type (reference common/models/src/codec.rs:5-34:
# BIGINT_CODEC / DOUBLE_CODEC / STRING_CODEC / BOOLEAN_CODEC).
_CODEC_COMPAT = {
    "bigint": {"DEFAULT", "NULL", "DELTA", "DELTATS", "QUANTILE"},
    "unsigned": {"DEFAULT", "NULL", "DELTA", "DELTATS", "QUANTILE"},
    "double": {"DEFAULT", "NULL", "GORILLA", "QUANTILE"},
    "string": {"DEFAULT", "NULL", "GZIP", "BZIP", "ZSTD", "SNAPPY", "ZLIB"},
    "geometry": {"DEFAULT", "NULL", "GZIP", "BZIP", "ZSTD", "SNAPPY", "ZLIB"},
    "boolean": {"DEFAULT", "NULL", "BITPACK", "BIT_PACK"},
}


# Temp views belong to the SparkSession, not to an Engine, so their cache
# does too: per session, view name -> the stamp the view was built from
# (see Engine._register_views).
_SESSION_VIEWS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
# ``db.`` of a dotted name; the lookahead leaves the next name unconsumed
_DB_DOT = re.compile(r"\b(\w+)\.(?=(\w+))")
_SYS_SCHEMAS = ("information_schema", "cluster_schema", "usage_schema")


def _check_codec(codec: str | None, ftype: str) -> None:
    if codec is None:
        return
    if codec.upper() not in _CODEC_COMPAT.get(ftype, {"DEFAULT", "NULL"}):
        raise ValueError(f"Unsupported encoding type {codec} for {ftype}")


class Engine:
    # Prometheus remote-read responses are assembled driver-side (the
    # serving path collects the matched rows to build the protobuf);
    # this bounds how many rows one read request may select — the
    # reference bounds remote-read responses on the coordinator read
    # path the same way.
    PROM_READ_MAX_ROWS = 1_000_000
    # same guard for the Flight-style Arrow IPC result transport
    ARROW_RESULT_MAX_ROWS = 1_000_000

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        tenant: str = "cnosdb",
        database: str = "public",
    ):
        self.spark = spark
        self.warehouse = warehouse
        self._home_tenant = tenant
        self._catalogs: dict[str, Catalog] = {tenant: Catalog(spark, warehouse, tenant)}
        self._catalogs[tenant].now_us = self._now_us
        self.database = database
        # external tables, scoped per tenant (the reference scopes them to
        # the tenant's meta — information_schema/tables.slt under a fresh
        # tenant must not see another tenant's externals)
        self._external_by_tenant: dict[str, dict[str, tuple[str, str, dict]]] = {}
        self._external_db_by_tenant: dict[str, dict[str, str]] = {}
        # RejectCrossJoin (extension/logical/optimizer_rule/
        # reject_cross_join.rs) exists in the reference but is NEVER
        # registered with the optimizer (only mod.rs declares it) — the slt
        # corpus expects comma cross joins to execute
        # (string_func/left.slt:192). Batch queries therefore allow them by
        # default; set allow_cross_join=False for the strict guard (the
        # STREAMING path always rejects joins via StreamPlanChecker,
        # stream/unsupport_op.slt:72).
        self.allow_cross_join = True
        self._streams_by_tenant: dict[str, dict[str, StreamTable]] = {}
        # continuous stream jobs (INSERT ... SELECT over a stream table):
        # re-evaluated on each virtual-clock advance (slt `sleep`) — the
        # batch-recompute analogue of the reference's micro-batch trigger
        # loop; LWW merge on the target makes re-emission idempotent.
        self.stream_jobs: dict = {}
        # EXPLAIN plans under non-ANSI coercion by toggling the (shared)
        # session conf; _select also plans under this lock, so a concurrent
        # query can't be ANALYZED while the conf is flipped (execution
        # after planning is outside the lock — analysis-time constant
        # folding is where ANSI-vs-not changes outcomes). RLock: the
        # EXPLAIN path re-enters through _select.
        import threading

        self._ansi_lock = threading.RLock()
        from .functions import gis, math_extra, weighted

        weighted.register(spark)
        gis.register(spark)
        math_extra.register(spark)
        # DCL metadata (single-process analogue of the reference's meta
        # service state: common/models/src/auth/{user,role,privilege}.rs).
        # Spark has no auth layer; these are catalog objects + SHOW surface.
        self.user = "root"
        self.users: dict[str, dict] = {
            "root": {
                "is_admin": True,
                "options": {
                    "must_change_password": "true",
                    "comment": "system admin",
                },
            }
        }
        self.tenants: dict[str, dict] = {"cnosdb": {"members": {"root": "owner"}}}
        # delayed-drop resource machinery (reference meta resource manager:
        # ddl/drop_and_recover_{database,tenant}.slt). The slt runner's
        # `sleep` advances a VIRTUAL clock so expiry is testable without
        # wall-clock waits.
        self.current_tenant = tenant
        self.clock_offset_us = 0
        self._resources: dict[str, dict] = {}
        self._hidden_dbs: set[str] = set()
        self._hidden_tenants: set[str] = set()
        self._roles_by_tenant: dict[str, dict] = {}  # custom roles, per tenant
        self.grants: list[tuple[str, str, str]] = []  # (privilege, db, role)
        if database not in self.catalog.list_databases():
            self.catalog.create_database(database)
        # usage_schema metric counters (reference tskv usage recorder —
        # sys_table/usage_schema/*.slt); flushed into the home tenant's
        # usage_schema tables lazily when a query references them
        self._usage: dict[tuple, int] = {}
        self._usage_flushed: dict[tuple, int] = {}
        self._init_usage_schema()

    _USAGE_BASE_TAGS = ["database", "node_id", "tenant"]
    _USAGE_HTTP_TAGS = ["api", "database", "host", "node_id", "tenant", "user"]
    _USAGE_VNODE_TAGS = ["database", "node_id", "tenant", "vnode_id"]
    _USAGE_TABLES = {
        "coord_data_in": _USAGE_BASE_TAGS,
        "coord_data_out": _USAGE_BASE_TAGS,
        "coord_queries": _USAGE_BASE_TAGS,
        "coord_writes": _USAGE_BASE_TAGS,
        "sql_data_in": _USAGE_BASE_TAGS,
        "http_data_in": _USAGE_HTTP_TAGS,
        "http_data_out": _USAGE_HTTP_TAGS,
        "http_queries": _USAGE_HTTP_TAGS,
        "http_writes": _USAGE_HTTP_TAGS,
        "vnode_cache_size": _USAGE_VNODE_TAGS,
        "vnode_disk_storage": _USAGE_VNODE_TAGS,
    }

    @property
    def _home_catalog(self) -> Catalog:
        """usage_schema lives in the home (cnosdb) tenant's warehouse and is
        visible from every tenant, like the reference's single usage DB."""
        if "cnosdb" not in self._catalogs:
            self._catalogs["cnosdb"] = Catalog(self.spark, self.warehouse, "cnosdb")
            self._catalogs["cnosdb"].now_us = self._now_us
        return self._catalogs["cnosdb"]

    def _cat_for(self, db: str) -> Catalog:
        """usage_schema objects live in the home catalog whatever the
        session tenant (usage_schema_privilege.slt creates user tables in
        it); everything else is tenant-scoped."""
        return self._home_catalog if db == "usage_schema" else self.catalog

    def _init_usage_schema(self) -> None:
        cat = self._home_catalog
        if "usage_schema" not in cat.list_databases():
            cat.create_database("usage_schema")
        existing = set(cat.list_tables("usage_schema"))
        for t, tags in self._USAGE_TABLES.items():
            if t not in existing:
                cat.create_table(
                    "usage_schema",
                    TskvTableSchema(
                        tenant="cnosdb", db="usage_schema", name=t,
                        tags=list(tags), fields={"value": "unsigned"},
                    ),
                )

    def _bump_usage(self, write: bool, nbytes: int) -> None:
        t, d = self.current_tenant, self.database
        if d == "usage_schema":
            return
        u = self._usage
        ins = (
            ("coord_data_in", "sql_data_in", "http_data_in")
            if write else ("coord_data_out", "http_data_out")
        )
        cnt = ("coord_writes", "http_writes") if write else (
            "coord_queries", "http_queries"
        )
        for k in ins:
            u[(k, t, d)] = u.get((k, t, d), 0) + nbytes
        for k in cnt:
            u[(k, t, d)] = u.get((k, t, d), 0) + 1

    def _flush_usage(self) -> None:
        """Append one sample per changed counter into the usage tables
        (the reference's usage recorder writes periodic samples; ours are
        taken lazily at usage-query time — same observable shape)."""
        from datetime import datetime, timedelta

        changed = {
            k: v for k, v in self._usage.items()
            if self._usage_flushed.get(k) != v
        }
        now = datetime(1970, 1, 1) + timedelta(microseconds=self._now_us())
        cat = self._home_catalog
        by_table: dict[str, list[tuple]] = {}
        for (table, tenant, db), value in changed.items():
            if self._USAGE_TABLES.get(table) is self._USAGE_HTTP_TAGS:
                row = (now, "/api/v1/sql", db, "localhost", "1001", tenant,
                       self.user, value)
            else:
                row = (now, db, "1001", tenant, value)
            by_table.setdefault(table, []).append(row)
        # vnode sizes: one sample per existing database directory
        for vt in ("vnode_cache_size", "vnode_disk_storage"):
            rows = []
            for tenant, c in self._catalogs.items():
                for db in c.list_databases():
                    if db == "usage_schema":
                        continue
                    size = c.disk_bytes(db)
                    if size > 0:
                        rows.append((now, db, "1001", tenant, "3", size))
            if rows:
                by_table[vt] = rows
        for table, rows in by_table.items():
            tags = self._USAGE_TABLES[table]
            schema_str = (
                "time timestamp, "
                + ", ".join(f"{t} string" for t in tags)
                + ", value long"
            )
            from .sources import batch_df

            cat.insert(
                "usage_schema", table,
                batch_df(self.spark, rows, schema_str),
            )
        self._usage_flushed.update(changed)

    @property
    def catalog(self) -> Catalog:
        """Per-tenant catalog (warehouse paths are tenant-namespaced, so
        tenants are fully data-isolated — dcl/user_access.slt's
        'Table not found: tenant_b.db_a.air_a' semantics)."""
        t = self.current_tenant
        if t not in self._catalogs:
            self._catalogs[t] = Catalog(self.spark, self.warehouse, t)
            self._catalogs[t].now_us = self._now_us
        return self._catalogs[t]

    @property
    def streams(self) -> dict:
        """Stream tables of the CURRENT tenant (tenant-scoped meta)."""
        return self._streams_by_tenant.setdefault(self.current_tenant, {})

    @property
    def external(self) -> dict:
        """External tables of the CURRENT tenant: name -> (fmt, path, opts)."""
        return self._external_by_tenant.setdefault(self.current_tenant, {})

    @property
    def external_dbs(self) -> dict:
        """name -> database an external table was created in (SHOW TABLES /
        information_schema.tables scope them per database)."""
        return self._external_db_by_tenant.setdefault(self.current_tenant, {})

    @property
    def roles(self) -> dict:
        """Custom roles of the CURRENT tenant (roles are tenant-scoped:
        dcl/user_access.slt 'The role role_a not found' under tenant_a for
        a role created under cnosdb)."""
        return self._roles_by_tenant.setdefault(self.current_tenant, {})

    def set_tenant(self, tenant: str) -> None:
        """Switch session tenant. Views need no invalidation: their stamps
        carry the catalog root, which is tenant-namespaced."""
        self.current_tenant = tenant

    # ------------------------------------------------------------- dispatch
    def sql(self, text: str) -> DataFrame | None:
        text = _strip_line_comments(text)
        stmts = [s for s in _split_args(text, ";") if s]
        if len(stmts) != 1:
            # parity: dispatcher/manager.rs:131-137 (exactly one statement)
            raise ValueError(f"expected exactly one statement, got {len(stmts)}")
        stmt = stmts[0]
        self._current_stmt = stmt
        head = stmt.split(None, 2)
        kw = head[0].upper() if head else ""
        kw2 = head[1].upper() if len(head) > 1 else ""

        self._process_resources()
        if kw in ("INSERT", "COPY"):
            self._bump_usage(write=True, nbytes=len(stmt))
        elif kw in ("SELECT", "WITH", "VALUES", "("):
            self._bump_usage(write=False, nbytes=len(stmt))
        if kw in (
            "SELECT", "WITH", "VALUES", "(", "DESCRIBE", "DESC", "SHOW",
            "EXPLAIN",
        ) and (
            self.database == "usage_schema"
            or re.search(r"\busage_schema\b", stmt, re.I)
        ):
            # lazy sample flush — the reference's usage recorder writes
            # periodically; ours materializes when usage tables are read
            self._flush_usage()
        # session handshake: the session tenant must exist (tenants.slt:213
        # "The tenant tenant_not_exists not found" — even for root) …
        if (
            self.current_tenant not in self.tenants
            or self.current_tenant in self._hidden_tenants
        ) and kw not in ("CREATE", "DROP", "ALTER", "GRANT", "REVOKE", "RECOVER"):
            raise ValueError(
                f"Auth error: The tenant {self.current_tenant} not found"
            )
        # … and a non-admin user must be a member of the current tenant
        # (user_access.slt "The member ... not found")
        if not self._is_admin() and kw not in ("CREATE", "DROP", "ALTER", "GRANT", "REVOKE"):
            members = self.tenants.get(self.current_tenant, {}).get("members", {})
            if self.user not in members:
                raise ValueError(
                    f"Auth error: The member {self.user} of tenant "
                    f"{self.current_tenant} not found"
                )
        if kw == "RECOVER":
            return self._recover(stmt)
        if kw == "CREATE" and kw2 == "DATABASE":
            return self._create_database(stmt)
        if kw == "CREATE" and kw2 == "EXTERNAL":
            return self._create_external_table(stmt)
        if kw == "CREATE" and kw2 == "STREAM":
            return self._create_stream_table(stmt)
        if kw == "CREATE" and kw2 == "TABLE":
            return self._create_table(stmt)
        if kw == "CREATE" and kw2 in ("TENANT", "USER", "ROLE"):
            return self._dcl(stmt)
        if kw in ("GRANT", "REVOKE"):
            return self._dcl(stmt)
        if kw in ("DROP", "ALTER") and kw2 in ("TENANT", "USER", "ROLE"):
            return self._dcl(stmt)
        if kw in ("DESCRIBE", "DESC"):
            return self._describe(stmt)
        if kw == "DROP":
            return self._drop(stmt)
        if kw == "ALTER":
            return self._alter(stmt)
        if kw == "INSERT":
            return self._insert(stmt)
        if kw == "UPDATE":
            return self._update(stmt)
        if kw == "DELETE":
            return self._delete(stmt)
        if kw == "COPY":
            return self._copy(stmt)
        if kw == "SHOW" and kw2 == "QUERIES":
            from .sys_schema import QueryTracker

            return QueryTracker(self.spark).queries_df()
        if kw == "KILL":
            from .sys_schema import QueryTracker

            m = re.match(r"KILL\s+QUERY\s+'?([\w-]+)'?\s*;?\s*$", stmt, re.I)
            if not m:
                raise ValueError(f"cannot parse KILL QUERY: {stmt!r}")
            ok = QueryTracker(self.spark).kill(m.group(1))
            return self.spark.createDataFrame([(ok,)], ["killed"])
        if kw == "COMPACT":
            # COMPACT DATABASE <db> / COMPACT TABLE <t> (reference parser
            # compact statements; tskv/src/compaction) — materialize the
            # merge-on-read view of every affected table
            m = re.match(r"COMPACT\s+DATABASE\s+(\w+)\s*;?\s*$", stmt, re.I)
            if m:
                db = m.group(1)
                if db not in self.catalog.list_databases():
                    raise ValueError(f"Database not found: {db}")
                for t in self.catalog.list_tables(db):
                    self.catalog.compact(db, t)
                return None
            m = re.match(r"COMPACT\s+TABLE\s+([\w.]+)\s*;?\s*$", stmt, re.I)
            if m:
                db, t = self._split_table_name(m.group(1))
                self.catalog.compact(db, t)
                return None
            raise ValueError(f"cannot parse COMPACT statement: {stmt[:80]!r}")
        if kw == "SHOW":
            return self._show(stmt)
        if kw == "EXPLAIN":
            inner = stmt[len("EXPLAIN") :].strip()
            if inner.split(None, 1)[0].upper() == "COPY":
                # EXPLAIN COPY (dml/explain/explain_copy_into.slt): render
                # the write plan without executing the copy
                return self.spark.createDataFrame(
                    [(f"CopyTo: {inner[:200]}",)], ["plan"]
                )
            self._allow_stream_select = True
            # plan under non-ANSI coercion: DataFusion PLANS comparisons
            # like `double_col >= 'xxx'` (runtime cast), Spark's ANSI
            # analyzer constant-folds them into errors — for EXPLAIN the
            # reference shows a plan, so match that
            # (data_type/type_conversion/double.slt:171-269)
            with self._ansi_lock:
                prev_ansi = self.spark.conf.get("spark.sql.ansi.enabled")
                try:
                    self.spark.conf.set("spark.sql.ansi.enabled", "false")
                    df = self._select(inner)
                    # optimization (constant folding) also runs non-ANSI here
                    plan = df._jdf.queryExecution().explainString(
                        self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                            "formatted"
                        )
                    )
                finally:
                    self.spark.conf.set("spark.sql.ansi.enabled", prev_ansi)
                    self._allow_stream_select = False
            return self.spark.createDataFrame([(plan,)], ["plan"])
        if kw in ("SELECT", "WITH", "VALUES", "("):
            return self._select(stmt)
        raise ValueError(f"unsupported statement: {stmt[:80]!r}")

    # ---------------------------------------------------------------- DQL
    def _register_views(self) -> set[tuple[str, str]]:
        """Register catalog tables as temp views: bare names for the
        current database, ``__db__table`` (see ``_qualify``) for others;
        external and stream tables under their own names. Returns the
        (db, table) pairs listed, for ``_qualify``. System tables are not
        registered here: ``_qualify`` builds those a statement names.

        Per SparkSession, ``_SESSION_VIEWS`` maps each view to the stamp it
        was built from: catalog root, db, db options, the clock offset if
        the db has a TTL (its views freeze "now"), table and table version.
        Every Catalog commit, schema save and drop bumps the version, so a
        view is re-read exactly when its stamp changed, whoever changed it.
        A mapped view that no current listing produces is dropped."""
        views = _SESSION_VIEWS.setdefault(self.spark, {})
        want: dict[str, tuple] = {}  # view -> (stamp, builds its DataFrame)
        tables: set[tuple[str, str]] = set()

        def db_stamp(cat: Catalog, db: str) -> tuple:
            opts = cat.database_options(db)
            ttl = str(opts.get("ttl") or "INF").upper()
            clock = None if ttl == "INF" else self.clock_offset_us
            return (cat.root, db, json.dumps(opts, sort_keys=True), clock)

        def add_tables(cat: Catalog, db: str, prefix: str) -> None:
            stamp = db_stamp(cat, db)
            for name in cat.list_tables(db):
                tables.add((db, name))
                want[prefix + name] = (
                    (*stamp, name, cat.version(db, name)),
                    partial(cat.read, db, name),
                )

        for db in self.catalog.list_databases():
            if db != "usage_schema":  # registered from the home catalog below
                add_tables(
                    self.catalog, db, "" if db == self.database else f"__{db}__"
                )
        # usage_schema: home-catalog tables, visible from every tenant
        home = self._home_catalog
        if "usage_schema" in home.list_databases():
            add_tables(home, "usage_schema", "__usage_schema__")
            if self.database == "usage_schema":
                add_tables(home, "usage_schema", "")
        for name, (fmt, path, opts) in self.external.items():
            want[_ext_view_name(name)] = (
                ("external", fmt, path, json.dumps(opts, sort_keys=True)),
                partial(self._read_external, fmt, path, opts),
            )
        for sname, st in self.streams.items():
            # stream tables are selectable/explainable as batch views over
            # their source (stream/basic.slt:70-78); the streaming path
            # proper goes through StreamTable.read/run_incremental_agg
            src_db = st.src_db or self.database
            if st.src_table and st.src_table in self.catalog.list_tables(src_db):
                want[sname] = (
                    ("stream", *db_stamp(self.catalog, src_db), st.src_table,
                     self.catalog.version(src_db, st.src_table),
                     tuple(st.columns or ())),
                    partial(_stream_view, self.catalog, src_db, st),
                )
        for view in [v for v in views if v not in want]:
            del views[view]
            self.spark.catalog.dropTempView(view)
        for view, (stamp, build) in want.items():
            if views.get(view) != stamp:
                build().createOrReplaceTempView(view)
                views[view] = stamp
        return tables

    def _build_sys_views(self, named: set[tuple[str, str]]) -> None:
        """Build the ``information_schema`` / ``cluster_schema`` views a
        statement names, from the session state as it is now (the
        reference resolves them through metadata providers when the
        planner meets the name: information_schema_provider,
        cluster_schema_provider). cluster_schema exists only under the
        home tenant (users.slt:80-96 / tenants.slt:188-196 expect "Table
        not found" under other tenants): there a leftover view is dropped
        instead, unless it is a user table of a db named cluster_schema."""
        from . import sys_schema

        admin, owner = self._is_admin(), self._sys_role() == "owner"
        members = self.tenants.get(self.current_tenant, {}).get("members", {})
        cur = getattr(self, "_current_stmt", None)
        builders = {
            "information_schema.databases": lambda: sys_schema.databases_df(
                self.spark, self.catalog, hidden=self._hidden_dbs
            ),
            "information_schema.tables": lambda: sys_schema.tables_df(
                self.spark, self.catalog, self.external, self.streams,
                self.external_dbs,
            ),
            "information_schema.columns": lambda: sys_schema.columns_df(
                self.spark, self.catalog
            ),
            # self-referential: it shows the statement being executed
            "information_schema.queries": lambda: self.spark.createDataFrame(
                [(
                    "1", "batch", cur, self.user, self.current_tenant,
                    self.database, "OPTIMIZING", 0.0,
                )] if cur else [],
                "query_id string, query_type string, query_text string, "
                "user_name string, tenant_name string, database_name string, "
                "state string, duration double",
            ),
            "information_schema.resource_status": lambda: self.spark.createDataFrame(
                [
                    (name, r["action"], str(r["try_count"]), r["status"])
                    for name, r in sorted(self._resources.items())
                    # non-admins see only the current tenant's resources
                    # (resource_status.slt:59-68: u001 under cnosdb sees
                    # neither 't001' nor 't001-db001', but saw them under
                    # tenant t001)
                    if admin or name == self.current_tenant
                    or name.startswith(f"{self.current_tenant}-")
                ],
                "name string, action string, try_count string, status string",
            ),
            # roles are visible only to tenant owners (dcl_role.slt: a
            # plain member's SELECT on information_schema.roles is empty)
            "information_schema.roles": lambda: sys_schema.roles_df(
                self.spark, self.roles if owner else None
            ),
            # admins are not tenant members — empty view for them
            # (enabled_roles.slt: root sees no enabled role anywhere)
            "information_schema.enabled_roles": lambda: sys_schema.enabled_roles_df(
                self.spark, None if admin else members.get(self.user)
            ),
            "information_schema.members": lambda: sys_schema.members_df(
                self.spark, members
            ),
            # owners/admins see every grant; a plain member only their role's
            "information_schema.database_privileges": lambda: (
                sys_schema.database_privileges_df(
                    self.spark, self.current_tenant, self.grants, self.roles,
                    only_role=None if owner else members.get(self.user),
                )
            ),
            # contents are admin-only (users.slt:57-70: a plain member sees
            # no rows); a scheduled drop hides a tenant (dcl_tenant.slt:337)
            "cluster_schema.tenants": lambda: sys_schema.tenants_df(
                self.spark, {
                    k: v for k, v in self.tenants.items()
                    if k not in self._hidden_tenants
                } if admin else {},
            ),
            "cluster_schema.users": lambda: sys_schema.users_df(
                self.spark, self.users if admin else {}
            ),
        }
        for schema, name in named:
            build = builders.get(f"{schema}.{name}")
            view = f"__{schema}__{name}"
            if build is None:
                continue
            if schema == "cluster_schema" and self.current_tenant != self._home_tenant:
                if view not in _SESSION_VIEWS.get(self.spark, {}):
                    self.spark.catalog.dropTempView(view)
            else:
                build().createOrReplaceTempView(view)

    def _qualify(self, sql: str, tables: set[tuple[str, str]]) -> str:
        """Rewrite ``db.table`` references to their temp-view names (Spark
        temp views live in a flat namespace), in one pass: a table of
        ``tables`` (``_register_views``' listing) becomes its bare view in
        the current database and ``__db__table`` in others;
        ``information_schema.x``, ``cluster_schema.x`` and
        ``usage_schema.x`` (any case) become ``__<schema>__x``, and the
        system views so named are built for this statement. Only OUTSIDE
        quoted regions, so a string literal like ``'db2.t1'`` (or a quoted
        identifier) is never mangled."""
        # external tables with non-identifier names ("ba sic") are
        # addressed as quoted tokens — map those to their sanitized views
        # before the quote-aware pass (which skips quoted regions)
        for ext in self.external:
            if not re.fullmatch(r"\w+", ext):
                view = _ext_view_name(ext)
                sql = sql.replace(f'"{ext}"', view).replace(f"'{ext}'", view)
        named: set[tuple[str, str]] = set()

        def prefix(m: re.Match) -> str:
            # only the ``db.`` is consumed: in a.b.c, b.c is tried next
            db, name = m.groups()
            if db.lower() in _SYS_SCHEMAS:
                named.add((db.lower(), name.lower()))
                return f"__{db.lower()}__"
            if (db, name) in tables:
                return "" if db == self.database else f"__{db}__"
            return m.group(0)

        out: list[str] = []
        plain: list[str] = []
        in_str: str | None = None
        for ch in sql:
            if in_str:
                out.append(ch)
                if ch == in_str:
                    in_str = None
            elif ch in ("'", '"'):
                out.append(_DB_DOT.sub(prefix, "".join(plain)))
                plain = []
                out.append(ch)
                in_str = ch
            else:
                plain.append(ch)
        out.append(_DB_DOT.sub(prefix, "".join(plain)))
        if named:
            self._build_sys_views(named)
        return "".join(out)

    def _export(self, df: DataFrame, url: str, fmt: str | None) -> DataFrame:
        """COPY INTO '<url>': write ``df`` (parquet by default) and return
        the affected-rows frame. A CSV export is headered, so it
        round-trips through CREATE EXTERNAL TABLE ... WITH HEADER ROW
        (copy_into_location__WINDOWS.slt), and writes RFC 4180 doubled
        quotes (escape='"'), the external CSV reader's convention.

        The count comes from the WRITTEN files instead of re-executing the
        query: the write is the single evaluation (a re-run could disagree
        with what was written under concurrent writes — the sql_arrow
        TOCTOU shape), and for parquet the read-back count is footer
        metadata, no scan. A CSV read-back needs multiLine: the writer
        legally emits quoted embedded newlines, which would otherwise
        split into extra records and over-report the count."""
        url, fmt = self._winpath(url), (fmt or "parquet").lower()
        csv = {"header": "true", "escape": '"'} if fmt == "csv" else {}
        getattr(df.write.mode("overwrite").options(**csv), fmt)(url)
        reader = self.spark.read.options(**csv)
        if csv:
            reader = reader.option("multiLine", "true")
        return self.spark.createDataFrame(
            [(getattr(reader, fmt)(url).count(),)], ["rows"]
        )

    def _read_external(self, fmt: str, path: str, opts: dict) -> DataFrame:
        path = self._winpath(path)
        # the reference's slt corpus uses LOCATIONs relative to its repo
        # root (cases/tpch.slt: 'query_server/sqllogicaltests/resource/...')
        if not os.path.isabs(path) and not os.path.exists(path):
            cand = os.path.join("/root/reference", path)
            if os.path.exists(cand):
                path = cand
        reader = self.spark.read
        decl = opts.get("columns")
        if decl:
            # declared schema: no inference scan (at 100 TB inference reads
            # data; a declared schema is free)
            reader = reader.schema(
                ", ".join(f"`{c}` {t}" for c, t, _ in decl)
            )
        if fmt == "csv":
            reader = reader.option("header", str(opts.get("header", False)).lower())
            # RFC 4180 semantics, matching the reference's arrow-csv
            # parser: quoted fields may embed newlines (multiLine) and
            # escape quotes by doubling (escape='"'). multiLine makes a
            # single file non-splittable — per-FILE parallelism remains,
            # and external-table ingest is the staging path, not the hot
            # scan path (convert to parquet for repeated scans).
            reader = reader.option("multiLine", "true").option("escape", '"')
            if not decl:
                reader = reader.option("inferSchema", "true")
            if "delimiter" in opts:
                reader = reader.option("sep", opts["delimiter"])
            return reader.csv(path)
        if fmt in ("json", "ndjson"):
            return reader.json(path)
        if fmt == "parquet":
            df = reader.parquet(path)
            # TIMESTAMP(NANOS) columns surface as LongType under the
            # session's nanosAsLong conf (the reference writes ns parquet,
            # e.g. resource/parquet/part-0.parquet) — convert back to µs
            # timestamps so downstream INSERT ... SELECT keeps time typed
            try:
                import pyarrow.parquet as pq

                pf = next(
                    f
                    for f in sorted(os.listdir(path))
                    if f.endswith(".parquet")
                ) if os.path.isdir(path) else None
                arrow = pq.ParquetFile(
                    os.path.join(path, pf) if pf else path
                ).schema_arrow
                for field in arrow:
                    if str(field.type) == "timestamp[ns]":
                        df = df.withColumn(
                            field.name,
                            F.timestamp_micros(F.expr(f"`{field.name}` div 1000")),
                        )
            except Exception:
                pass
            from cnosdb_spark.session import normalize_timestamps

            # µs-NTZ parquet → TimestampType (UTC session: value no-op)
            return normalize_timestamps(df, ts_nanos_long_cols=())
        if fmt == "avro":
            return reader.format("avro").load(path)
        raise ValueError(f"unsupported external format {fmt!r}")

    def _session_fns(self, sql: str) -> str:
        """Session/context functions (reference query_server/query/src/
        extension/expr/session_function/mod.rs: current_user, current_role,
        current_tenant, current_database) — resolved to literals at plan
        time, exactly as the reference binds them from the session context."""
        # a user with no tenant-member role has NO current_role — the
        # reference binds ScalarValue::Null (current_role.rs:16,
        # session.slt:35 expects NULL for root: admins are not tenant
        # members, even though the privilege model treats them as owners)
        role = (
            None
            if self._is_admin()
            else self.tenants.get(self.catalog.tenant, {})
            .get("members", {})
            .get(self.user)
        )
        subs = {
            "current_user": f"'{self.user}'",
            "current_role": "CAST(NULL AS STRING)" if role is None else f"'{role}'",
            "current_tenant": f"'{self.catalog.tenant}'",
            "current_database": f"'{self.database}'",
        }
        return rewrite_calls(
            sql, _SESSION_FN_RE,
            lambda m, args: None if args.text.strip() else subs[m.group(1).lower()],
        )

    def _select(self, stmt: str) -> DataFrame:
        tables = self._register_views()
        stmt = self._session_fns(stmt)
        if next(iter_calls(stmt, _GAPFILL_RE), None):
            return self._gapfill_select(stmt, tables)
        m = re.match(
            r"SELECT\s+(timestamp_repair|value_fill|value_repair)\s*\(",
            stmt.strip(), re.I,
        )
        if m:
            return self._ts_gen_select(stmt.strip(), m.group(1).lower())
        m = re.match(
            r"SELECT\s+(completeness|consistency|timeliness|validity)\s*\(\s*"
            r"(\w+)\s*,\s*(\w+)\s*\)\s+FROM\s+([\w.]+)"
            r"(\s+WHERE\s+.*?)?\s*;?\s*$",
            stmt.strip(), re.I | re.S,
        )
        if m:
            return self._quality_select(*m.groups())
        if not getattr(self, "_allow_stream_select", False) and any(
            re.search(rf"\b{re.escape(sn)}\b", stmt, re.I)
            for sn in self.streams
        ):
            # stream/unsupport_op.slt:95 — batch SELECT on a stream table
            # is rejected; only INSERT..SELECT (stream job) and EXPLAIN use
            # a stream table
            raise ValueError(
                "Stream table can only be used as source table in insert "
                "select statements."
            )
        src = self._from_table(stmt)
        self._check_string_fn_args(stmt, src)
        raw_count = self._raw_count_select(stmt, src)
        if raw_count is not None:
            return raw_count
        stmt = self._coerce_schema_typed_args(stmt, src)
        qualified = self._qualify(stmt, tables)
        rewritten = rewrite_dql(qualified)
        try:
            with self._ansi_lock:
                df = self.spark.sql(rewritten)
        except Exception as exc:
            # the fuzzer-arith infix→try_op conversion assumes integer
            # operands; on non-integer types (timestamp - timestamp) its
            # coalesce/decimal wrap is untypable — retry with it off, and
            # re-raise the ORIGINAL error if the plain form fails too
            # (keeps error-message parity for genuinely bad statements)
            alt = rewrite_dql(qualified, fuzzer_arith=False)
            if alt == rewritten:
                raise
            try:
                with self._ansi_lock:
                    df = self.spark.sql(alt)
            except Exception:
                raise exc
        self._reject_cross_join(df)
        return df

    def _raw_count_select(self, stmt: str, src: tuple | None):
        """``SELECT count(*|field) FROM t`` on a tskv table counts PRE-MERGE
        physical rows in the reference — the AggregateFilterTskvExec count
        pushdown skips the LWW merge (count.slt:117 expects 11 over 6 merged
        rows; exact_count(*) is the post-merge one). Only the bare
        single-aggregate shape takes this path; anything with WHERE / GROUP
        BY / joins aggregates over merged rows as usual. ``src`` is
        ``_from_table(stmt)``, here the only FROM."""
        m = re.match(
            r"\s*SELECT\s+(?<!exact_)count\s*\(\s*(\*|\w+)\s*\)\s+"
            r"FROM\s+[\w.]+\s*;?\s*$",
            stmt, re.I,
        )
        if not m or src[3] is None:
            return None  # external/stream/system tables: normal path
        arg, (_, db, name, sch) = m.group(1), src
        if arg != "*" and arg.lower() not in {
            TIME_COL, *(t.lower() for t in sch.tags),
            *(f.lower() for f in sch.fields),
        }:
            return None  # count(0) / count(NULL) / expressions: normal path
        cat = self._cat_for(db)
        raw = cat.ttl_filter(db, cat.read_raw(db, name))
        col = F.lit(1) if arg == "*" else F.col(arg)
        label = f"COUNT({'*' if arg == '*' else arg})"
        return raw.agg(F.count(col).alias(label))

    def _from_table(self, stmt: str) -> tuple | None:
        """The statement's first ``FROM <name>`` as (match, db, table,
        schema); schema is None when the name is no tskv table (external,
        stream, system table, subquery alias). None without a FROM."""
        fm = re.search(r"\bFROM\s+([\w.]+)", stmt, re.I)
        if not fm:
            return None
        db, name = self._split_table_name(fm.group(1))
        try:
            return fm, db, name, self._cat_for(db).get_schema(db, name)
        except ValueError:
            return fm, db, name, None

    def _coerce_schema_typed_args(self, stmt: str, src: tuple | None) -> str:
        """Schema-aware dialect coercions Spark renders differently:
        boolean fields inside concat()/ascii() render '0'/'1' (ascii.slt:87,
        concat.slt:93), the time column inside concat() renders ISO-'T'
        (concat.slt:139), and string FIELDS inside corr() coerce safely to
        NULL (corr.slt:55 — while string TAGS are planning errors).
        ``src`` is ``_from_table(stmt)``."""
        sch = src and src[3]
        # f32 log/atan2 parity applies to literal-only statements too
        # (log.slt `select log(1)`), so it runs before the schema gate
        f32_ints = (
            {f for f, t in sch.fields.items() if str(t).lower() in ("bigint", "unsigned")}
            if sch
            else set()
        )
        stmt = rewrite_f32_math(stmt, f32_ints)
        if sch is None:
            return stmt
        bool_fields = {f for f, t in sch.fields.items() if "bool" in str(t).lower()}
        str_fields = {f for f, t in sch.fields.items() if "string" in str(t).lower()}
        tag_set = set(sch.tags)

        def map_args(fn_pat: str, arg_fn) -> None:
            nonlocal stmt
            stmt = rewrite_calls(
                stmt, re.compile(rf"\b{fn_pat}\s*\(", re.I),
                lambda m, args: m.group(0) + ", ".join(map(arg_fn, args)) + ")",
            )

        def concat_arg(a: str) -> str:
            base = a.split(".")[-1].strip('"')
            if base in bool_fields:
                return f"cast(cast({a} as int) as string)"
            if base.lower() == "time":
                # DataFusion renders timestamps ISO-'T' with the fraction in
                # whole millis/micros groups ('.010', not Spark's '.01') —
                # concat.slt:139
                us = f"pmod(unix_micros({a}), 1000000)"
                # no backslash escapes: the later literal-backslash rewrite
                # would mangle an embedded \'T\' — render 'T' via replace()
                return (
                    f"concat(replace(date_format({a}, 'yyyy-MM-dd HH:mm:ss')"
                    f", ' ', 'T'), "
                    f"CASE WHEN {us} = 0 THEN '' "
                    f"WHEN {us} % 1000 = 0 THEN concat('.', "
                    f"lpad(cast({us} div 1000 as string), 3, '0')) "
                    f"ELSE concat('.', lpad(cast({us} as string), 6, '0')) "
                    f"END)"
                )
            return a

        def ascii_arg(a: str) -> str:
            base = a.split(".")[-1].strip('"')
            if base in bool_fields:
                return f"cast(cast({a} as int) as string)"
            return a

        def corr_arg(a: str) -> str:
            base = a.split(".")[-1].strip('"')
            if base in tag_set:
                raise ValueError(
                    "Error during planning: The function Correlation does "
                    "not support inputs of type Utf8."
                )
            if base in str_fields:
                return f"try_cast({a} as double)"
            return a

        map_args("concat(?!_ws)", concat_arg)
        # same '0'/'1' boolean and ISO-'T' time renders apply to the
        # value args (concat_ws.slt:124,165) AND to the separator — a
        # typed-column separator materializes between values with the
        # same DataFusion rendering (concat_ws.slt:226
        # concat_ws(TIME,TIME,TIME) shows three ISO-'T' copies)
        map_args("concat_ws", concat_arg)
        # DataFusion coerces a MIXED numeric/string coalesce to Utf8
        # (coalesce.slt:26-155: coalesce(d_double_1, null, d_string)
        # yields '69.0'/'C'); Spark ANSI instead casts the string arg to
        # double and errors on non-numeric text. Cast the numeric args
        # to string when the call mixes both — Spark's double→string
        # render ('69.0') matches DataFusion's byte-for-byte here.
        num_fields = {
            f for f, t in sch.fields.items()
            if str(t).lower() in ("double", "bigint", "unsigned")
        }

        def _coal_type(a: str) -> str:
            if a.upper() == "NULL":
                return "null"
            if a.startswith("'"):
                return "str"
            base = a.split(".")[-1].strip('"')
            if base in str_fields or base in tag_set:
                return "str"
            if base in num_fields:
                return "num"
            toks = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", a))
            if toks & (str_fields | tag_set):
                return "other"
            if toks & num_fields or re.search(r"\d", a):
                return "num"
            return "other"

        def coalesce(m: re.Match, args: list[str]) -> str:
            kinds = [_coal_type(a) for a in args]
            if "str" in kinds and "num" in kinds:
                args = [
                    f"cast({a} as string)" if k == "num" else a
                    for a, k in zip(args, kinds)
                ]
            return m.group(0) + ", ".join(args) + ")"

        stmt = rewrite_calls(stmt, _COALESCE_RE, coalesce)

        int_fields = {
            f for f, t in sch.fields.items()
            if str(t).lower() in ("bigint", "unsigned")
        }

        def int64_count(m: re.Match, args: list[str]) -> str | None:
            if len(args) != 2 or args[1].split(".")[-1].strip('"') not in int_fields:
                return None
            s, n = args
            if m.group(1).lower() == "right":
                return (
                    f"(CASE WHEN {n} IS NULL THEN CAST(NULL AS STRING) "
                    f"WHEN {n} >= 0 THEN right({s}, "
                    f"CAST(LEAST({n}, 2147483647) AS INT)) "
                    f"ELSE substr({s}, CAST(LEAST(-({n}), 2147483647) "
                    f"AS INT) + 1) END)"
                )
            return (
                f"(CASE WHEN {n} IS NULL THEN CAST(NULL AS STRING) "
                f"WHEN {n} >= 0 THEN left({s}, "
                f"CAST(LEAST({n}, 2147483647) AS INT)) "
                f"ELSE substr({s}, 1, CAST(greatest("
                f"char_length({s}) + {n}, 0) AS INT)) END)"
            )

        if int_fields:
            # DataFusion's left/right count arg is Int64; Spark casts to
            # INT, so a bigint count column overflows at runtime
            # (sqlancer/function.slt:2497 right(s, m2.f0) — DF returns the
            # whole string for any count beyond the length, and drops from
            # the other end for runtime negatives). Only integer-typed
            # FIELD columns are clamped — boolean/time counts stay put so
            # Spark still raises the planning error the corpus expects
            # (left.slt:200/212).
            stmt = rewrite_calls(stmt, _LEFT_RIGHT_RE, int64_count)
        if bool_fields:
            map_args("ascii", ascii_arg)
        map_args("corr", corr_arg)
        # covar family: same string-FIELD safe-coercion as corr
        # (statistical_agg/covar.slt:54 expects NULL for covar(f1, f3))
        map_args("covar(?:_pop|_samp)?", corr_arg)
        # lag/lead default-value type parity: DataFusion demands the default
        # match the value column's Int64 type — a float default over an
        # integer field is an error (lag.slt:333, lead.slt:231); Spark would
        # silently widen
        for _, args, _ in iter_calls(stmt, _LAG_LEAD_RE):
            if len(args) == 3:
                vbase = args[0].split(".")[-1].strip('"')
                vtype = str(sch.fields.get(vbase, "")).lower()
                if (
                    ("bigint" in vtype or "int" in vtype or vtype == "unsigned")
                    and re.fullmatch(r"-?(?:\d+\.\d*|\.\d+)", args[2])
                ):
                    raise ValueError(
                        "Internal error: Expects default value to have "
                        "Int64 type."
                    )
        return stmt

    # DataFusion's Utf8-only scalar functions reject numeric/time columns
    # (string_func/{trim,lower,upper,ltrim,rtrim}.slt "expected error" rows);
    # Spark would silently coerce, so the signature check happens here.
    _STR_ONLY_FNS = (
        "trim", "ltrim", "rtrim", "btrim", "lower", "upper", "initcap",
        "reverse", "bit_length", "octet_length", "length", "char_length",
        "character_length", "substr", "left", "right", "split_part",
        "repeat", "strpos", "st_geomfromwkb", "lpad", "rpad", "replace",
    )
    # these take an Int64 count/needle as 2nd arg: unsigned/double columns
    # are signature errors (right.slt:72-100, string_repeat.slt:69)
    _INT_ARG2_FNS = ("left", "right", "repeat", "lpad", "rpad")

    def _check_string_fn_args(self, stmt: str, src: tuple | None) -> None:
        """Reject the argument types DataFusion's signatures reject, by the
        FROM table's column types; ``src`` is ``_from_table(stmt)``."""
        if src is None or src[3] is None:
            return  # external/stream/subquery sources: no tskv signature map
        fm, db, name, sch = src
        schemas = {name: sch}  # by qualifier; None: not a table of db

        # multi-table FROM (joins / comma lists): an unqualified column can
        # belong to ANY of the tables, possibly with different types — only
        # qualified references are checkable (left.slt:192 mixes
        # func_tbl.f0/func_tb2.f0 with different types)
        multi_table = bool(
            re.search(r"\bJOIN\b", stmt, re.I)
            or re.match(r"\s*(?:(?:AS\s+)?\w+\s*)?,", stmt[fm.end():], re.I)
        )

        def field_type(qualifier: str | None, col: str) -> str | None:
            """Declared type of a column, resolved against its qualifying
            table (left.slt:192 mixes func_tbl.f0/func_tb2.f0, which have
            DIFFERENT types) or the first FROM table when unqualified."""
            if qualifier is None and multi_table:
                return None
            qualifier = qualifier or name
            if qualifier not in schemas:
                try:
                    schemas[qualifier] = self._cat_for(db).get_schema(db, qualifier)
                except ValueError:
                    schemas[qualifier] = None
            sch = schemas[qualifier]
            if sch is None:
                return None
            if col.lower() == "time":
                return "time"
            if col in sch.tags:
                return "string"  # tags are Utf8 (to_hex(tag) must error,
                # sqlancer/function.slt:670; trim(tag) is fine)
            return sch.fields.get(col)

        # a wildcard next to explicit table columns duplicates names —
        # DataFusion rejects the projection (insert_values.slt:134;
        # `time_window(...), *` stays fine, the window isn't a column)
        sm = re.match(r"\s*SELECT\s+(.*?)\s+FROM\b", stmt, re.I | re.S)
        if sm:
            items = _split_args(sm.group(1))
            if "*" in items:
                cols = {TIME_COL, *sch.tags, *sch.fields}
                if any(i.strip('"') in cols for i in items if i != "*"):
                    raise ValueError(
                        "Error during planning: Projections require unique "
                        "expression names"
                    )

        def column_ref(arg: str) -> tuple[str, str | None] | None:
            """(column, type) when ``arg`` is a bare, optionally
            qualified, column reference."""
            r = _COLUMN_REF.fullmatch(arg)
            return r and (r.group(2), field_type(*r.groups()))

        # numeric-only aggregates reject the timestamp column
        # (avg.slt:14, sum.slt:14 expect planning errors for agg(time))
        for m, args, _ in iter_calls(stmt, _NUMERIC_AGG_RE):
            if args and args[0].lower() == "time":
                raise ValueError(
                    "Error during planning: No function matches the given name "
                    f"and argument types '{m.group(1)}(Timestamp)'"
                )
        # chr/to_hex take a signed Int64 only (chr.slt:31,39;
        # to_hex.slt:100-112: unsigned/double/boolean/string/time error)
        for m, args, _ in iter_calls(stmt, _INT64_ARG_RE):
            ref = len(args) == 1 and column_ref(args[0])
            if not ref:
                continue
            (col2, t), fn2 = ref, m.group(1)
            bad_kinds = ("double", "unsigned", "float") if fn2.lower() == "chr" else (
                "double", "unsigned", "float", "boolean", "string",
            )
            if (t == "time" and fn2.lower() == "to_hex") or (
                t is not None and t != "time"
                and any(k in str(t).lower() for k in bad_kinds)
            ):
                raise ValueError(
                    "Error during planning: No function matches the given "
                    f"name and argument types '{fn2}({col2})'"
                )
        # approx_distinct accepts string/int columns only
        # (approx_distinct.slt:48-59: Timestamp/Float64/Boolean error)
        for _, args, _ in iter_calls(stmt, _APPROX_DISTINCT_RE):
            ref = len(args) == 1 and column_ref(args[0])
            if ref and (ref[1] == "time" or (
                ref[1] is not None
                and any(k in str(ref[1]).lower() for k in ("double", "float", "boolean"))
            )):
                raise ValueError(
                    "Error during planning: approx_distinct does not accept "
                    f"{ref[0]}'s type"
                )
        # the to_timestamp family rejects Float64 columns
        # (to_timestamp_seconds.slt:36 and siblings)
        for m, args, _ in iter_calls(stmt, _TO_TIMESTAMP_RE):
            ref = len(args) == 1 and column_ref(args[0])
            if ref and ref[1] is not None and any(
                k in str(ref[1]).lower() for k in ("double", "float")
            ):
                raise ValueError(
                    f"Error during planning: {m.group(1)} does not accept "
                    f"Float64 ({ref[0]})"
                )
        for fn in self._STR_ONLY_FNS:
            for _, args, _ in iter_calls(stmt, _call_re(fn)):
                ref = args and column_ref(args[0])
                if not ref:
                    continue
                col, t = ref
                if t == "time" or (
                    t is not None
                    and "string" not in str(t).lower()
                    and "geometry" not in str(t).lower()  # GEOMETRY is WKT text
                ):
                    raise ValueError(
                        "Error during planning: No function matches the "
                        f"given name and argument types '{fn}({col})'"
                    )
                ref2 = fn in self._INT_ARG2_FNS and len(args) > 1 and column_ref(args[1])
                if ref2 and ref2[1] is not None and any(
                    k in str(ref2[1]).lower() for k in ("double", "unsigned", "float")
                ):
                    raise ValueError(
                        "Error during planning: No function matches "
                        f"the given name and argument types "
                        f"'{fn}(…, {ref2[0]})'"
                    )

    def _quality_select(
        self, metric: str, time_col: str, value_col: str, table: str,
        where: str | None,
    ) -> DataFrame:
        """Data-quality aggregates as SQL (aggregate_function/data_quality/
        {mod,accumulator,common}.rs; function/data_quality.slt): whole-table
        IoTDB-style quality score. The reference's accumulator needs at
        least two non-NaN points (data_quality.slt:40 expects an error on a
        single-row series)."""
        from .functions.quality import data_quality

        inner = self._select(
            f"SELECT {time_col}, {value_col} FROM {table} {where or ''}"
        )
        # LIMIT-2 probe, not a full count: the guard only needs "are there
        # at least two valid rows", and the full pass re-runs right after
        # in data_quality anyway
        n_valid = (
            inner.filter(
                F.col(value_col).isNotNull() & ~F.isnan(F.col(value_col))
            )
            .limit(2)
            .count()
        )
        if n_valid < 2:
            raise ValueError(
                "Execution error: At least two non-NaN values are needed"
            )
        out = data_quality(inner, time_col, value_col, [])
        return out.select(F.col(metric.lower()).alias(metric.lower()))

    def _ts_gen_select(self, stmt: str, fn: str) -> DataFrame:
        """ts_gen_func projection form (extension/expr/ts_gen_func/mod.rs;
        function/data_repair.slt): ``SELECT <fn>(time, value[, 'params'])
        FROM t [WHERE ...]`` — a table transform planned like the
        reference's analyzer rule (transform_ts_gen_func.rs gathers each
        series and applies the kernel; here: repair.map_series)."""
        from .functions import repair as rep

        m = re.match(
            r"SELECT\s+\w+\s*\((.*?)\)\s+FROM\s+(\S+)"
            r"(?:\s+(WHERE\s+.*?))?\s*;?\s*$",
            stmt, re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse ts_gen_func call: {stmt[:80]!r}")
        args = [a.strip() for a in m.group(1).split(",")]
        if not 2 <= len(args) <= 3:
            raise ValueError(f"{fn} expects (time, value[, 'params'])")
        time_col, value_col = args[0], args[1]
        params = None
        if len(args) > 2:
            pm = re.fullmatch(r"'((?:[^']|'')*)'", args[2])
            if not pm:
                raise ValueError(f"{fn}: params must be a string literal")
            params = pm.group(1).replace("''", "'")
        table, where = m.group(2), m.group(3) or ""
        inner = self._select(
            f"SELECT {time_col}, {value_col} FROM {table} {where}"
        )
        return getattr(rep, fn)(inner, time_col, value_col, [], params)

    def _reject_cross_join(self, df: DataFrame) -> None:
        """Reference parity: the optimizer rejects any plan containing a
        cross join (reject_cross_join.rs — DataFusion's CrossJoin node →
        ``NotImplemented("cross join")``). Checked on Spark's OPTIMIZED
        logical plan so comma-joins whose WHERE predicate turns them into
        equi-joins pass, exactly like the reference (the rule runs after
        predicate pushdown there too)."""
        if self.allow_cross_join:
            return
        try:
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception:
            return  # analysis errors surface at execution with better text
        for line in plan.splitlines():
            node = line.lstrip(" :+-").rstrip()
            # "Join Cross" = explicit CROSS JOIN; bare "Join Inner" (no
            # condition after optimization) = comma-join with no usable
            # equi-predicate — DataFusion models both as CrossJoin
            if (
                node.startswith("Join Cross")
                or node.startswith("CartesianProduct")
                or node == "Join Inner"
            ):
                raise ValueError("This feature is not implemented: cross join")

    def _gapfill_select(self, stmt: str, tables: set) -> DataFrame:
        """``SELECT time_window_gapfill(t, interval 'X') AS w, g...,
        locf(agg) AS a / interpolate(agg) AS b FROM tbl [WHERE ...]
        GROUP BY ...`` → the DataFrame gapfill rewrite
        (functions.timeseries.time_window_gapfill; reference
        extension/expr/scalar_function/{gapfill,locf,interpolate}.rs —
        the rewrite lives in CnosDB's forked DataFusion, here it's ours).

        Supported shape mirrors the reference: single table, gapfill call
        in both SELECT and GROUP BY, fills wrap aggregate expressions.
        """
        from .functions.timeseries import time_window_gapfill

        m = re.match(
            r"SELECT\s+(.*?)\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.*?))?\s+GROUP\s+BY\s+(.*?)"
            r"(?:\s+ORDER\s+BY\s+(.*?))?\s*;?\s*$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise ValueError(
                "time_window_gapfill requires SELECT ... FROM <table> "
                "[WHERE ...] GROUP BY <gapfill>, <tags...>"
            )
        select_list, table, where, _group_by, order_by = m.groups()
        df = self.spark.table(self._qualify(table, tables))
        if where:
            df = df.filter(F.expr(where))

        bucket_alias = "_window"
        time_col = None
        interval = None
        group_cols: list[str] = []
        aggs = []
        fill: dict[str, str] = {}
        out_cols: list[str] = []

        for i, item in enumerate(_split_args(select_list)):
            am = re.match(r"(.*?)\s+AS\s+(\w+)\s*$", item, re.I | re.S)
            expr_sql, alias = (am.group(1).strip(), am.group(2)) if am else (item, None)
            call = next(iter_calls(expr_sql, _GAPFILL_RE), None)
            if call and call[0].start() == 0:
                args = call[1]
                if len(args) != 2:
                    raise ValueError("time_window_gapfill expects (time, interval)")
                time_col = args[0]
                im = re.match(r"interval\s+'([^']+)'", args[1], re.I)
                if not im:
                    raise ValueError("second gapfill argument must be interval '...'")
                interval = im.group(1)
                bucket_alias = alias or "_window"
                out_cols.append(bucket_alias)
                continue
            call = next(iter_calls(expr_sql, _FILL_RE), None)
            if call and call[0].start() == 0:
                name = alias or f"_f{i}"
                aggs.append(F.expr(rewrite_dql(call[1].text)).alias(name))
                fill[name] = call[0].group(1).lower()
                out_cols.append(name)
                continue
            if re.match(r"^[\w.]+$", expr_sql):  # plain group column
                group_cols.append(expr_sql)
                out_cols.append(alias or expr_sql)
                if alias:
                    df = df.withColumn(alias, F.col(expr_sql))
                continue
            # un-filled aggregate
            name = alias or f"_a{i}"
            aggs.append(F.expr(rewrite_dql(expr_sql)).alias(name))
            out_cols.append(name)
        if time_col is None:
            raise ValueError("time_window_gapfill call not found in SELECT list")

        out = time_window_gapfill(
            df, time_col, interval, group_cols, aggs, fill=fill
        ).withColumnRenamed("bucket", bucket_alias)
        out = out.select(*out_cols)
        if order_by:
            order_sql = order_by.replace(f"{bucket_alias}.start", bucket_alias)
            out = out.orderBy(*[F.expr(o) for o in _split_args(order_sql)])
        return out

    # ---------------------------------------------------------------- DDL
    def _create_database(self, stmt: str) -> None:
        m = re.match(
            r"CREATE\s+DATABASE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r"(\w+|'[^']*'|\"[^\"]*\")(?:\s+WITH\s+(.*))?\s*;?\s*$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE DATABASE: {stmt!r}")
        name, opts_str = m.group(1).strip("'\""), m.group(2) or ""
        # name rules from the reference parser (ddl/create_database.slt):
        # non-empty, non-blank, no '/'
        if not name.strip():
            raise ValueError("Name cannot be empty or contain only spaces")
        if "/" in name:
            raise ValueError(f"not supported keyword contains '/': {name}")
        if name.lower() in (
            "cluster_schema", "information_schema", "usage_schema"
        ) and self.current_tenant == self._home_tenant:
            # parity: sys_table/system_database.slt — reserved under the
            # system tenant; other tenants may shadow the names
            # (dcl_tenant.slt:356 creates cluster_schema under tenant001)
            raise ValueError(f"Database is a system database: {name}")
        if self._sys_role() != "owner":
            raise ValueError(
                "Insufficient privileges, expected "
                f"[Write on all databases of tenant {self.current_tenant}]"
            )
        if name in self.catalog.list_databases() and not re.search(
            r"IF\s+NOT\s+EXISTS", stmt, re.I
        ):
            # parity: system_database.slt "create database public" errors
            raise ValueError(f"Database already exists: {name}")
        opts = {}
        tm = re.search(r"TTL\s+'([^']+)'", opts_str, re.I)
        if tm:
            opts["ttl"] = _normalize_ttl(tm.group(1))
        pm = re.search(r"PRECISION\s+'(\w+)'", opts_str, re.I)
        if pm:
            opts["precision"] = pm.group(1).upper()
        for key in ("shard", "replica", "memcache_partitions", "max_cache_readers"):
            km = re.search(rf"\b{key}\s+(\d+)", opts_str, re.I)
            if km:
                opts[key] = int(km.group(1))
        # remaining DatabaseConfig options (database_schema.rs) — stored
        # raw, rendered by DESCRIBE/information_schema
        for key in (
            "vnode_duration", "max_memcache_size", "wal_max_file_size",
            "wal_sync", "strict_write",
        ):
            km = re.search(rf"\b{key}\s+'([^']+)'", opts_str, re.I)
            if km:
                opts[key] = km.group(1)
        self.catalog.create_database(name, **opts)

    def _create_table(self, stmt: str) -> None:
        m = re.match(
            r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\((.*)\)\s*;?\s*$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE TABLE: {stmt!r}")
        if_not_exists = bool(m.group(1))
        db, name = self._split_table_name(m.group(2))
        self._require_db_full(db)
        cat = self._cat_for(db)
        if db not in cat.list_databases():
            raise ValueError(f'Database not found: "{db}"')
        if if_not_exists and name in cat.list_tables(db):
            return
        body = m.group(3)
        if re.search(r",\s*$", body):
            # parity: the reference parser rejects a trailing comma
            # (ddl/create_table.slt "Expected identifier, found: )")
            raise ValueError("Expected identifier, found: )")
        tags: list[str] = []
        fields: dict[str, str] = {}
        codecs: dict[str, str] = {}
        geometry_subtypes: dict[str, str] = {}
        tm = re.search(r"TAGS\s*\(([^)]*)\)", body, re.I)
        if tm:
            tags = [t.strip().strip('"') for t in tm.group(1).split(",") if t.strip()]
            body = body[: tm.start()] + body[tm.end() :]
        for coldef in _split_args(body):
            coldef = coldef.strip().rstrip(",").strip()
            if not coldef:
                continue
            cm = re.match(
                r'("?[\w]+"?)\s+(.+?)(?:\s+CODEC\s*\(\s*(\w+)\s*\))?\s*$', coldef, re.I
            )
            if not cm:
                raise ValueError(f"cannot parse column definition {coldef!r}")
            cname = cm.group(1).strip('"')
            ctype = cm.group(2).strip().lower()
            if cname.lower() == TIME_COL:
                continue  # implicit in tskv tables
            if cname in fields or cname in tags:
                raise ValueError(f"column {cname} already exists")
            if cm.group(3):
                codecs[cname] = cm.group(3).upper()
            if ctype.startswith("geometr"):
                # GEOMETRY(<sub_type>, <srid>) — validation mirrors
                # gis/check_write.slt's declaration errors
                gm = re.fullmatch(
                    r"geometry\s*\(\s*(\w+)\s*,\s*(\d+)\s*\)", ctype, re.I
                )
                if not gm:
                    raise ValueError(
                        f"Unexpected data type {ctype} of {cname}, "
                        "format: GEOMETRY(<sub_type>, <srid>)"
                    )
                sub, srid = gm.group(1).upper(), int(gm.group(2))
                if sub not in (
                    "POINT", "LINESTRING", "POLYGON", "MULTIPOINT",
                    "MULTILINESTRING", "MULTIPOLYGON", "GEOMETRYCOLLECTION",
                ):
                    raise ValueError(
                        f"Unexpected data type {ctype} of {cname}, sub_type "
                        "must be POINT, LINESTRING, POLYGON, MULTIPOINT, "
                        "MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION"
                    )
                if srid != 0:
                    raise ValueError(
                        f"Unexpected data type {ctype} of {cname}, currently "
                        "only supports 0, Cartesian coordinate system"
                    )
                fields[cname] = "geometry"  # WKT string, subtype in options
                geometry_subtypes[cname] = sub
                continue
            if ctype not in _TYPE_MAP:
                raise ValueError(f"unsupported field type {ctype!r} for {cname!r}")
            fields[cname] = _TYPE_MAP[ctype]
            _check_codec(codecs.get(cname), fields[cname])
        schema = TskvTableSchema(
            tenant=cat.tenant, db=db, name=name, tags=tags, fields=fields
        )
        if codecs:
            schema.options["codecs"] = codecs
        if geometry_subtypes:
            schema.options["geometry"] = geometry_subtypes
        cat.create_table(db, schema)

    def _create_external_table(self, stmt: str) -> None:
        m = re.match(
            r"CREATE\s+EXTERNAL\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
            r'((?:"[^"]*"|\'[^\']*\'|\w+)(?:\s*\.\s*(?:"[^"]*"|\'[^\']*\'|\w+))?)\s*'
            r"(?:\((.*?)\)\s*)?STORED\s+AS\s+(\w+)\s*(.*?)\s*LOCATION\s+'([^']+)'\s*;?\s*$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE EXTERNAL TABLE: {stmt!r}")
        name, cols_str, fmt, middle, path = m.groups()
        # external tables live in the session namespace; a qualified
        # "db"."tbl" registers under the bare table name (the reference
        # scopes them per-database — flat here, same resolution behavior
        # for the corpus' usage)
        name = name.split(".")[-1].strip().strip("'\"").strip()
        if not name:
            raise ValueError("Name cannot be empty or contain only spaces")
        if "/" in name:
            raise ValueError(f"not supported keyword contains '/': {name}")
        if name.lower() in ("cluster_schema", "information_schema", "usage_schema"):
            # parity: sys_table/system_database.slt — system schemas are
            # reserved database names
            raise ValueError(f"Database is a system database: {name}")
        opts: dict = {}
        if re.search(r"WITH\s+HEADER\s+ROW", middle or "", re.I):
            opts["header"] = True
        dm = re.search(r"DELIMITER\s+'(.)'", middle or "", re.I)
        if dm:
            opts["delimiter"] = dm.group(1)
        if cols_str and cols_str.strip():
            # honor the DECLARED schema (the reference plans against it —
            # an empty CSV still DESCRIBEs its declared columns, and at
            # scale a declared schema avoids an inference scan entirely)
            opts["columns"] = _parse_external_columns(cols_str)
        self.external[name] = (fmt.lower(), path, opts)
        self.external_dbs[name] = self.database

    def _create_stream_table(self, stmt: str) -> None:
        """CREATE STREAM TABLE name(...) WITH (db='..', table='..',
        event_time_column='..') engine=tskv (stream/basic.slt:40-50)."""
        m = re.match(
            r"CREATE\s+STREAM\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*"
            r"(?:\((.*?)\)\s*)?WITH\s*\((.*?)\)\s*"
            r"(?:engine\s*=\s*(\w+))?\s*;?\s*$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse CREATE STREAM TABLE: {stmt!r}")
        name, cols_str, withs, eng_name = m.groups()
        if eng_name and eng_name.lower() != "tskv":
            # stream/syntax.slt "Unsupported stream type: xxx"
            raise ValueError(f"Unsupported stream type: {eng_name}")
        opts = dict(re.findall(r"(\w+)\s*=\s*'([^']*)'", withs))
        # required WITH options (stream/syntax.slt "Missing option [x]")
        for req in ("db", "table", "event_time_column"):
            if req not in opts:
                raise ValueError(
                    f"Missing option [{req}] of table {name.lower()}"
                )
        src_db = opts.get("db", self.database)
        src_table = opts["table"]
        if src_table not in self.catalog.list_tables(src_db):
            raise ValueError(f'Table not found: "{src_db}.{src_table}"')
        if cols_str:
            seen: set[str] = set()
            for coldef in _split_args(cols_str):
                cname = coldef.split()[0].strip('"') if coldef.split() else ""
                if cname.lower() in seen:
                    # stream/syntax.slt "Field or Tag have the same name"
                    raise ValueError(
                        f"Field or Tag have the same name {cname}"
                    )
                seen.add(cname.lower())
        schema = self.catalog.get_schema(src_db, src_table)
        valid = {TIME_COL, *schema.tags, *schema.fields}
        columns: list[str] | None = None
        if cols_str:
            # declared columns must exist in the source table
            # (ddl/create_stream_table.slt 'Unable to get field' record)
            columns = []
            for coldef in _split_args(cols_str):
                cname = coldef.split()[0].strip('"') if coldef.split() else ""
                if cname and cname not in valid:
                    raise ValueError(
                        f'Unable to get field named "{cname}". '
                        f"Valid fields: {sorted(valid)}"
                    )
                if cname:
                    columns.append(cname)
        etc = opts["event_time_column"]
        if etc not in valid:
            # stream/syntax.slt 'Unable to get field named "timex"'
            raise ValueError(
                f'Unable to get field named "{etc}". '
                f"Valid fields: {sorted(valid)}"
            )
        if etc != TIME_COL:
            # only the time column is timestamp-typed in a tskv table
            # (stream/syntax.slt "data type ... is not timestamp")
            raise ValueError(
                f"Invalid option [event_time_column] of table {name.lower()}:"
                f" The data type of column '{etc}' is not timestamp"
            )
        path = self.catalog.table_path(src_db, src_table)
        st = StreamTable(
            name=name,
            source_path=path,
            event_time_column=etc,
            watermark_delay=opts.get("watermark_delay", "0 seconds"),
            src_db=src_db,
            src_table=src_table,
            columns=columns,
        )
        st.home_db = self.database
        self.streams[name] = st

    def _drop(self, stmt: str) -> None:
        m = re.match(
            r"DROP\s+(DATABASE|TABLE|STREAM\s+TABLE)\s+(?:IF\s+EXISTS\s+)?"
            r"([\w.]+|'[^']*'|\"[^\"]*\")(?:\s+AFTER\s+'([^']+)')?\s*;?\s*$",
            stmt,
            re.I,
        )
        if not m:
            raise ValueError(f"cannot parse DROP: {stmt!r}")
        kind, name, after = m.group(1).upper(), m.group(2).strip("'\""), m.group(3)
        if after is not None:
            if kind != "DATABASE":
                raise ValueError("AFTER is only supported for DROP DATABASE/TENANT")
            if name not in self.catalog.list_databases():
                if re.search(r"IF\s+EXISTS", stmt, re.I):
                    return None
                raise ValueError(f'Database not found: "{name}"')
            self._schedule_drop("DropDatabase", name, after)
            return None
        if kind == "DATABASE" and name.lower() == "public":
            # parity: the reference forbids dropping the default database
            # (ddl/drop_database.slt:66)
            raise ValueError("Forbidden to drop database public")
        if kind == "DATABASE" and name.lower() in (
            "cluster_schema", "information_schema", "usage_schema"
        ):
            # parity: sys_table/system_database.slt
            raise ValueError(f"Forbidden to drop system database: {name}")
        if kind == "DATABASE":
            self.catalog.drop_database(name)
            # immediate drops also land in information_schema.resource_status
            # (resource manager records every DropDatabase —
            # resource_status.slt:26 expects a row without AFTER)
            self._resources[f"{self.catalog.tenant}-{name}"] = {
                "action": "DropDatabase",
                "target": name,
                "try_count": 0,
                "status": "Successed",
                "deadline_us": 0,
            }
        elif kind == "TABLE":
            db, tbl = self._split_table_name(name)
            self._require_db_full(db)
            if tbl in self.external:
                del self.external[tbl]
            else:
                cat = self._cat_for(db)
                if tbl not in cat.list_tables(db):
                    if re.search(r"IF\s+EXISTS", stmt, re.I):
                        return None
                    raise ValueError(f'Table not found: "{tbl}"')
                cat.drop_table(db, tbl)
        else:
            self.streams.pop(name, None)

    def _alter(self, stmt: str) -> None:
        m = re.match(
            r"ALTER\s+DATABASE\s+(\w+)\s+SET\s+"
            r"(TTL|VNODE_DURATION|REPLICA|SHARD)\s+'?([^';]+)'?\s*;?\s*$",
            stmt,
            re.I,
        )
        if m:
            db, opt, val = m.groups()
            if db not in self.catalog.list_databases():
                raise ValueError(f'Database not found: "{db}"')
            self.catalog.set_database_option(
                db, opt.lower(),
                _normalize_ttl(val) if opt.lower() in ("ttl", "vnode_duration") else val,
            )
            return None
        m = re.match(
            r"ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+(?:COLUMN\s+)?(\w+)\s+TO\s+(\w+)\s*;?\s*$",
            stmt,
            re.I,
        )
        if m:  # ddl/rename_field.slt, rename_tag.slt
            tbl, old, new = m.groups()
            db, name = self._split_table_name(tbl)
            self.catalog.alter_table_rename_column(db, name, old, new)
            return None
        m = re.match(
            r"ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+(\w+)\s+SET\s+CODEC\s*\(\s*(\w+)\s*\)\s*;?\s*$",
            stmt,
            re.I,
        )
        if m:  # ddl/alter_codec.slt
            tbl, col, codec = m.groups()
            db, name = self._split_table_name(tbl)
            schema = self.catalog.get_schema(db, name)
            if col not in schema.fields:
                raise ValueError(f"column {col} is not a field of {name}")
            _check_codec(codec, schema.fields[col])
            codecs = schema.options.setdefault("codecs", {})
            codecs[col] = codec.upper()
            schema.schema_version += 1
            self.catalog.save_schema(db, schema)
            return None
        m = re.match(
            r"ALTER\s+TABLE\s+([\w.]+)\s+(ADD|DROP)\s+(?:(FIELD|TAG|COLUMN)\s+)?(\w+)"
            r"(?:\s+(\w+(?:\s+\w+)?))?(?:\s+CODEC\s*\(\s*(\w+)\s*\))?\s*;?\s*$",
            stmt,
            re.I,
        )
        if not m:
            raise ValueError(f"cannot parse ALTER TABLE: {stmt!r}")
        tbl, action, kind, col, ctype, codec = m.groups()
        db, name = self._split_table_name(tbl)
        if action.upper() == "ADD":
            if (kind or "").upper() == "TAG":
                self.catalog.alter_table_add_tag(db, name, col)
            else:
                if not ctype:
                    raise ValueError("ADD FIELD requires a type")
                ftype = _TYPE_MAP[ctype.lower()]
                _check_codec(codec and codec.upper(), ftype)
                self.catalog.alter_table_add_field(db, name, col, ftype)
                if codec:
                    schema = self.catalog.get_schema(db, name)
                    schema.options.setdefault("codecs", {})[col] = codec.upper()
                    self.catalog.save_schema(db, schema)
        else:
            self.catalog.alter_table_drop_field(db, name, col)

    # ---------------------------------------------------------------- DML
    def _insert(self, stmt: str):
        # reference dialect allows INSERT without INTO and an optional
        # TABLE keyword: `INSERT m2(...)`, `insert into table db.t(...)`
        m = re.match(
            r"INSERT\s+(?:INTO\s+)?(?:TABLE\s+)?([\w.]+)\s*(?:\(([^)]*)\))?\s*"
            r"(VALUES\s*.*|SELECT\s+.*)\s*;?\s*$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse INSERT: {stmt!r}")
        tbl, cols_str, src = m.groups()
        db, name = self._split_table_name(tbl)
        cat = self._cat_for(db)
        if src.upper().startswith("VALUES"):
            cols = [c.strip().strip('"') for c in (cols_str or "").split(",") if c.strip()]
            schema = cat.get_schema(db, name)
            if not cols:
                cols = [TIME_COL, *schema.tags, *schema.field_names]
            # every row must write at least one non-null FIELD
            # (dql/filter_push_down.slt "Fields can't be empty")
            field_pos = [i for i, c in enumerate(cols) if c in schema.fields]
            if not field_pos:
                raise ValueError("Fields can't be empty")
            rows_args = [
                _split_args(row[1:-1])
                for row in _split_args(src.strip().rstrip(";")[len("VALUES"):])
            ]
            for row_args in rows_args:
                if len(row_args) == len(cols) and all(
                    row_args[i].upper() == "NULL" for i in field_pos
                ):
                    raise ValueError("Fields can't be empty")
            # parity: DataFusion's VALUES planner refuses int vs float
            # literals in one column (sqlancer/function.slt:36-49
            # "Inconsistent data type across values list at row R column C";
            # row/column are 0-based, R = first conflicting row)
            def _lit_kind(a: str) -> str | None:
                a = a.strip()
                if re.fullmatch(r"-?\d+", a):
                    return "int"
                if re.fullmatch(
                    r"-?(?:\d+\.\d*|\.\d+)(?:[eE][+-]?\d+)?|-?\d+[eE][+-]?\d+", a
                ):
                    return "float"
                return None

            if len(rows_args) > 1:
                ncols = max(len(r) for r in rows_args)
                for c in range(ncols):
                    first_kind: str | None = None
                    for r, row in enumerate(rows_args):
                        if c >= len(row):
                            continue
                        k = _lit_kind(row[c])
                        if k is None:
                            continue
                        if first_kind is None:
                            first_kind = k
                        elif k != first_kind:
                            raise ValueError(
                                "Error during planning: Inconsistent data "
                                f"type across values list at row {r} column {c}"
                            )
            from .sql.rewriter import (
                _CAST_INT_TS,
                escape_literal_backslashes,
                rewrite_cast_int_timestamp,
                rewrite_overflow_decimal_literals,
            )

            # CAST(<int> AS TIMESTAMP) is epoch ns, cast to µs: its sub-µs
            # residue goes to the _ns_res storage column, so the point gets
            # the (time, _ns_res) key line-protocol ingest gives it
            ti = next((i for i, c in enumerate(cols) if c.lower() == TIME_COL), None)
            ns = [
                _CAST_INT_TS.fullmatch(row[ti].strip())
                if ti is not None and ti < len(row) else None
                for row in rows_args
            ]
            values = src.rstrip(";")
            if any(ns):
                rows_args = [
                    [*row, str(int(m.group(1)) % 1000) if m else "0"]
                    for row, m in zip(rows_args, ns)
                ]
                cols = [*cols, NS_RESIDUE_COL]
                values = "VALUES " + ", ".join(f"({', '.join(r)})" for r in rows_args)
            vsql = rewrite_cast_int_timestamp(values)
            vsql = rewrite_overflow_decimal_literals(vsql)
            vsql = escape_literal_backslashes(vsql)
            try:
                src_df = self.spark.sql(f"SELECT * FROM ({vsql}) AS v")
            except Exception as e:
                if "INVALID_INLINE_TABLE" not in str(e):
                    raise
                # non-foldable expressions (VALUES (random()) —
                # math_function/random.slt:9) aren't allowed in Spark's
                # inline tables; emit a UNION ALL of SELECTs instead
                selects = [
                    "SELECT " + ", ".join(
                        f"{rewrite_overflow_decimal_literals(rewrite_cast_int_timestamp(v))} AS c{i}"
                        for i, v in enumerate(row)
                    )
                    for row in rows_args
                ]
                src_df = self.spark.sql(
                    escape_literal_backslashes(" UNION ALL ".join(selects))
                )
            src_df = src_df.toDF(*cols)
            if TIME_COL not in [c.lower() for c in cols]:
                # INSERT without the time column defaults it to now()
                # (math_function/random.slt:9 inserts VALUES (random()))
                src_df = src_df.withColumn(TIME_COL, F.current_timestamp())
        else:
            is_stream_src = any(
                re.search(rf"\b{re.escape(sn)}\b", src, re.I)
                for sn in self.streams
            )
            # the source is planned as a SELECT; a stream table is a valid
            # source here, as under EXPLAIN
            self._allow_stream_select = True
            try:
                src_df = self._select(src)
            finally:
                self._allow_stream_select = False
            if is_stream_src:
                # reference stream_checker.rs restrictions (stream/
                # unsupport_op.slt): at most one aggregation, no join/
                # limit/sort in a streaming insert-select
                from .streaming.stream_table import StreamPlanChecker

                StreamPlanChecker.check(src_df)
                # stream job (stream/basic.slt:84-90): remember the whole
                # INSERT and re-dispatch it on every clock advance so later
                # source writes flow through (LWW merge on the target makes
                # re-emission idempotent)
                self.stream_jobs[(db, name, " ".join(src.split()).lower())] = stmt
            if cols_str:
                cols = [c.strip().strip('"') for c in cols_str.split(",")]
            else:
                # reference semantics are POSITIONAL (planner.rs insert
                # plans a cast by position, not name)
                schema = cat.get_schema(db, name)
                cols = [TIME_COL, *schema.tags, *schema.field_names]
            if len(src_df.columns) != len(cols):
                raise ValueError(
                    f"Insert columns and Source columns not match: "
                    f"expected {len(cols)}, got {len(src_df.columns)}"
                )
            src_df = src_df.toDF(*cols)
        gsubs = cat.get_schema(db, name).options.get("geometry") or {}
        for gcol, gsub in gsubs.items():
            if gcol not in src_df.columns:
                continue
            up = F.upper(F.trim(F.col(gcol)))
            ok = up.startswith(gsub + "(") | up.startswith(gsub + " ")
            bad = (
                src_df.filter(F.col(gcol).isNotNull() & ~ok)
                .select(gcol).first()
            )
            if bad is not None:
                # gis/check_write.slt "Invalid geometry type, error: ..."
                raise ValueError(
                    f"Invalid geometry type, error: expect "
                    f"{gsub.capitalize()}, got {bad[0]}"
                )
        n = cat.insert(db, name, src_df)
        return self.spark.createDataFrame([(n,)], ["rows"])

    def _update(self, stmt: str):
        """UPDATE via read-merge-overwrite (reference transform_update.rs:
        tag-update vs field-update both collapse to Delta-style rewrite)."""
        m = re.match(
            r"UPDATE\s+([\w.]+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*?))?\s*;?\s*$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse UPDATE: {stmt!r}")
        tbl, sets_str, where = m.groups()
        db, name = self._split_table_name(tbl)
        tschema = self.catalog.get_schema(db, name)
        set_pairs = [
            tuple(p.strip() for p in a.partition("=")[::2])
            for a in _split_args(sets_str)
        ]
        # SQL identifiers are case-insensitive: resolve each SET target to
        # the schema's spelling of the column (SET T0 = ... is a tag update)
        canon = {c.lower(): c for c in (*tschema.tags, *tschema.fields)}
        set_pairs = [
            (canon.get(c.strip('"').lower(), c.strip('"')), rhs)
            for c, rhs in set_pairs
        ]
        set_names = [c for c, _ in set_pairs]
        if TIME_COL in [c.lower() for c in set_names]:
            # the time column is immutable (update_field.slt:820,
            # update_tag.slt:360)
            raise ValueError(
                "Failed to do analyze. err: time column can not be updated"
            )
        if any(c in tschema.tags for c in set_names):
            # tag-update restrictions (transform_update analyze step;
            # dml/update_tag.slt:17,89-97,127,144,343): WHERE may touch
            # tags only, SET may not mix in fields, values are constants,
            # and the assignments may not ALL be NULL (an empty series key)
            if any(c in tschema.fields for c in set_names):
                raise ValueError(
                    "Failed to do analyze. err: tag and field columns "
                    "cannot be updated together"
                )
            for other in [TIME_COL, *tschema.fields]:
                if where and re.search(rf"\b{re.escape(other)}\b", where, re.I):
                    raise ValueError(
                        "Failed to do analyze. err: Where clause cannot "
                        f"contain field/time column, but found: {other}"
                    )
            tag_rhs = [rhs for c, rhs in set_pairs if c in tschema.tags]
            if tag_rhs and all(r.strip().upper() == "NULL" for r in tag_rhs):
                raise ValueError(
                    "Failed to do analyze. err: tag values cannot all be null"
                )
            for rhs in tag_rhs:
                cols_in_rhs = [
                    t for t in re.findall(r"[A-Za-z_]\w*", rhs)
                    if t in tschema.tags or t in tschema.fields
                    or t.lower() == TIME_COL
                ]
                if cols_in_rhs:
                    raise ValueError(
                        f"Schema error: No field named {cols_in_rhs[0]}."
                    )
        else:
            # field-update checks: a WHERE clause is mandatory
            # (update_field.slt:707 "Disable updating of the entire table")
            # and negative literals cannot land in UNSIGNED columns
            # (update_field.slt:214)
            if not where:
                raise ValueError(
                    "Error during planning: Disable updating of the entire "
                    "table, if you want to continue, please add `where true`"
                )
            for c, rhs in set_pairs:
                t = str(tschema.fields.get(c, "")).lower()
                if "unsigned" in t and re.fullmatch(r"-\d+(\.\d+)?", rhs.strip()):
                    raise ValueError(
                        "Failed to do analyze. err: negative value for "
                        f"unsigned column {c}"
                    )
        # keep_residue: the read-modify-write must carry the sub-µs residue
        # (_ns_res) through the rewrite — dropping it would merge ns-distinct
        # rows on the next read (reference keys points on raw i64 ns,
        # tskv_table_schema.rs:409-415; transform_update.rs:41-120 rewrites
        # the full storage row)
        df = self.catalog.read(db, name, keep_residue=True)
        # Materialize the condition (and every SET rhs) against the ORIGINAL
        # row before any assignment mutates columns: `SET f0=0 WHERE f0>5`
        # must match on the old f0, and a second assignment must not see the
        # first one's new value (reference plans UPDATE against one snapshot,
        # query/src/execution/ddl -> transform_update semantics).
        upd = (F.expr(rewrite_dql(where)) if where else F.lit(True)).alias("_upd")
        df = df.withColumn("_upd", upd).persist()
        try:
            # ONE pass: matched-row count + the set of affected time-bucket
            # partitions (only those get rewritten — the analogue of the
            # reference pruning the delta rewrite to touched vnodes).
            n, affected = df.filter(F.col("_upd")).agg(
                F.count(F.lit(1)),
                F.collect_set(
                    F.date_format(TIME_COL, self.catalog.bucket_fmt(tschema))
                ),
            ).first()
            if n:
                assigns = []
                out = df
                types = {f.name: f.dataType for f in df.schema.fields}
                for i, (col, expr) in enumerate(set_pairs):
                    set_col = f"_set_{i}"
                    rhs = F.expr(expr)
                    # DataFusion coerces the SET rhs to the column type
                    # (dml/update_field.slt: f2_boolean = 0 → false)
                    if col in types:
                        rhs = rhs.cast(types[col])
                    out = out.withColumn(set_col, rhs)
                    assigns.append((col, set_col))
                for col, set_col in assigns:
                    out = out.withColumn(
                        col, F.when(F.col("_upd"), F.col(set_col)).otherwise(F.col(col))
                    )
                out = out.drop("_upd", *[s for _, s in assigns])
                # SET time=... can move rows across _tb buckets → the
                # pruned rewrite would strand them; fall back to full
                touches_time = any(c.lower() == TIME_COL for c, _ in assigns)
                # a field-only UPDATE changes no tag and removes no row,
                # so the distinct-tags series index is untouched — skip
                # its rebuild (one full extra job otherwise)
                touches_tags = any(c in tschema.tags for c, _ in assigns)
                self.catalog.overwrite(
                    db,
                    name,
                    out,
                    partitions=None if touches_time else affected,
                    rebuild_index=touches_tags,
                )
        finally:
            df.unpersist()
        return self.spark.createDataFrame([(int(n),)], ["rows"])

    def _delete(self, stmt: str):
        # optional table alias between name and WHERE (dml/delete.slt:93
        # `delete from dml_tbl f1 where ...` — even `time` can alias)
        m = re.match(
            r"DELETE\s+FROM\s+([\w.]+)(?:\s+(?!WHERE\b)\w+)?"
            r"(?:\s+WHERE\s+(.*?))?\s*;?\s*$",
            stmt, re.I | re.S,
        )
        if not m:
            raise ValueError(f"cannot parse DELETE: {stmt!r}")
        tbl, where = m.groups()
        db, name = self._split_table_name(tbl)
        schema = self.catalog.get_schema(db, name)
        if where:
            # reference restriction (dml/delete.slt:76,80): DELETE
            # predicates may touch tags/time only, compared against
            # constants — fields and computed expressions are rejected
            bad = [
                f for f in schema.fields
                if re.search(rf"\b{re.escape(f)}\b", where)
            ]
            if bad:
                raise ValueError(
                    "Semantic error: Delete only supports conditions on "
                    f"tag and time columns, found field {bad[0]}"
                )
            if "||" in where:
                raise ValueError(
                    "Semantic error: Delete predicates must compare "
                    "against constants"
                )
            # tag = <int literal> coerces the literal to the tag's string
            # type (DataFusion comparison coercion; delete.slt:49)
            for t in schema.tags:
                where = re.sub(
                    rf"(\b{re.escape(t)}\s*(?:=|!=|<>|<=|>=|<|>)\s*)(-?\d+)(?![\d.])",
                    lambda mm: f"{mm.group(1)}'{mm.group(2)}'",
                    where,
                )
        # keep_residue: same rewrite-fidelity rule as UPDATE — surviving
        # ns-distinct rows must keep their residue through the rewrite
        df = self.catalog.read(db, name, keep_residue=True).persist()
        try:
            if where:
                cond = F.expr(rewrite_dql(where))
                # ONE pass for deleted-row count + affected partitions
                n, affected = df.filter(cond).agg(
                    F.count(F.lit(1)),
                    F.collect_set(
                        F.date_format(TIME_COL, self.catalog.bucket_fmt(schema))
                    ),
                ).first()
                if n:
                    keep = df.filter(~cond | cond.isNull())
                    self.catalog.overwrite(db, name, keep, partitions=affected)
            else:
                n = df.count()
                self.catalog.overwrite(db, name, df.limit(0))
        finally:
            df.unpersist()
        return self.spark.createDataFrame([(int(n),)], ["rows"])

    def _winpath(self, url: str) -> str:
        """Map Windows-style URLs (``file://C:\\tmp\\data\\out\\`` —
        dml/copy_into/copy_into_location__WINDOWS.slt) onto a sandbox dir
        under the engine root so the corpus' Windows variant replays on any
        OS. Non-Windows URLs pass through untouched."""
        m = re.match(r"^(?:file://)?([A-Za-z]):[\\/](.*)$", url)
        if not m:
            # relative Windows path ('.\query_server\...\part-0.parquet')
            return url.replace("\\", "/") if "\\" in url else url
        drive, rest = m.groups()
        return os.path.join(
            self.warehouse, "winfs", drive.upper(),
            rest.replace("\\", "/").strip("/"),
        )

    def _copy(self, stmt: str):
        """COPY INTO <table> FROM '<url>'  |  COPY INTO '<url>' FROM (query)
        (sql/planner.rs:2346-2477)."""
        m = re.match(r"COPY\s+INTO\s+'([^']+)'\s+FROM\s*\(", stmt, re.I | re.S)
        if m:  # export: balanced-paren extraction of the subquery
            _, query, end = next(iter_calls(stmt, _PAREN_RE, m.end() - 1))
            fm = re.search(
                r"FILE_FORMAT\s*=\s*\(\s*TYPE\s*=\s*'(\w+)'\s*\)", stmt[end:], re.I
            )
            df = self._select(query.text)
            return self._export(df, m.group(1), fm.group(1) if fm else None)
        m = re.match(
            r"COPY\s+INTO\s+'([^']+)'\s+FROM\s+\"?([\w.]+)\"?\s*"
            r"(?:FILE_FORMAT\s*=\s*\(\s*TYPE\s*(?:=\s*)?'(\w+)'\s*\))?\s*;?\s*$",
            stmt,
            re.I | re.S,
        )
        if m:  # export of a whole table (dcl/assignment.slt space-form TYPE)
            url, tbl, fmt = m.groups()
            return self._export(self._select(f"SELECT * FROM {tbl}"), url, fmt)
        m = re.match(
            r"COPY\s+INTO\s+\"?([\w.]+)\"?\s*(?:\(([^)]*)\))?\s+FROM\s+'([^']+)'\s*"
            r"(?:FILE_FORMAT\s*=\s*\(\s*TYPE\s*(?:=\s*)?'(\w+)'(.*?)\))?\s*;?\s*$",
            stmt,
            re.I | re.S,
        )
        if m:  # import
            tbl, cols_str, url, fmt, opts_str = m.groups()
            db, name = self._split_table_name(tbl)
            fmt = (fmt or "parquet").lower()
            if name in self.external:
                # COPY INTO an external table appends files at its LOCATION
                # (DataFusion ListingTable insert;
                # copy_into_location__WINDOWS.slt:181 8192 → 8202 rows)
                efmt, epath, eopts = self.external[name]
                src = self._read_external(fmt, url, {"header": True} if fmt == "csv" else {})
                writer = src.write.mode("append")
                if efmt == "csv":
                    # escape='"' matches _read_external's RFC 4180 parsing —
                    # the default backslash escape would corrupt values with
                    # embedded quotes on read-back of our own appended files
                    writer = writer.option(
                        "header", str(eopts.get("header", False)).lower()
                    ).option("escape", '"')
                getattr(writer, efmt)(self._winpath(epath))
                # the one explicit invalidation: the view over the
                # external files is keyed on no catalog version
                _SESSION_VIEWS.get(self.spark, {}).pop(_ext_view_name(name), None)
                return self.spark.createDataFrame([(src.count(),)], ["rows"])
            # DataFusion's CsvReadOptions defaults to has_header=true
            # (dql/file_query.slt copies headered CSVs with no option)
            opts = {"header": True} if fmt == "csv" else {}
            if re.search(r"HEADER\s*=\s*'?false'?", opts_str or "", re.I):
                opts["header"] = False
            src = self._read_external(fmt, url, opts)
            if cols_str:
                cols = [c.strip().strip('"') for c in cols_str.split(",")]
            else:
                schema = self.catalog.get_schema(db, name)
                cols = [TIME_COL, *schema.tags, *schema.field_names]
            src_by_lower = {c.lower(): c for c in src.columns}
            auto_infer = bool(
                re.search(r"auto_infer_schema\s*=\s*true", stmt, re.I)
            )
            if auto_infer and len(src.columns) != len(cols):
                # with auto_infer_schema the INFERRED schema must line up
                # positionally (copy_into_table.slt:129 errors on the same
                # JSON that by-name NULL-filling accepts at :115)
                raise ValueError(
                    "Semantic error: Insert columns and Source columns not match"
                )
            if not cols_str and fmt == "csv":
                # WITHOUT a column list, CSV COPY maps POSITIONALLY to the
                # table order (time, tags, fields-in-creation-order) — a
                # header-name match does NOT re-order
                # (copy_into_table.slt:66: the same csv that loads clean
                # into inner_csv errors into inner_csv_v2, whose fields were
                # declared in a different order)
                if len(src.columns) != len(cols):
                    raise ValueError(
                        f"Insert columns and Source columns not match: "
                        f"expected {len(cols)}, got {len(src.columns)}"
                    )
                src = src.toDF(*cols)
            elif set(src_by_lower) <= {c.lower() for c in cols}:
                # source names are a subset of the table's (headered CSV /
                # parquet / json whose field order differs; a JSON file may
                # carry only some columns — copy_into_table.slt:115 fills
                # the rest with NULL, like the reference's by-name insert)
                src = src.select(
                    *[
                        F.col(src_by_lower[c.lower()]).alias(c)
                        if c.lower() in src_by_lower
                        else F.lit(None).alias(c)
                        for c in cols
                    ]
                )
            elif len(src.columns) != len(cols):
                # copy_into_table.slt: arity mismatch is an error
                raise ValueError(
                    f"Insert columns and Source columns not match: "
                    f"expected {len(cols)}, got {len(src.columns)}"
                )
            else:
                src = src.toDF(*cols)
            n = self.catalog.insert(db, name, src)
            return self.spark.createDataFrame([(n,)], ["rows"])
        raise ValueError(f"cannot parse COPY: {stmt[:80]!r}")

    # ------------------------------------------------------------ DESCRIBE
    def _describe(self, stmt: str) -> DataFrame:
        """DESCRIBE TABLE/DATABASE (reference ddl/describe_table.slt,
        describe_database.slt; planner DescribeTable/DescribeDatabase in
        query_server/query/src/sql/planner.rs). Row shape mirrors the
        reference: table → (column_name, data_type, column_type,
        compression_codec); database → the 11 database options."""
        m = re.match(
            r"(?:DESCRIBE|DESC)\s+(TABLE|DATABASE)\s+([\w.]+)\s*;?\s*$", stmt, re.I
        )
        if not m:
            # bare `DESC <table>` (rename_field.slt uses `desc table`; the
            # http surface also allows DESCRIBE <table>)
            m2 = re.match(r"(?:DESCRIBE|DESC)\s+([\w.]+)\s*;?\s*$", stmt, re.I)
            if not m2:
                raise ValueError(f"cannot parse DESCRIBE: {stmt!r}")
            kind, target = "TABLE", m2.group(1)
        else:
            kind, target = m.group(1).upper(), m.group(2)
        if kind == "DATABASE":
            self._require_db_read(target)
            if target not in self.catalog.list_databases():
                raise ValueError(f"Database not found: {target!r}")
            from .schema import db_options_row

            row = db_options_row(self.catalog.database_options(target))
            return self.spark.createDataFrame(
                [row],
                "ttl string, shard bigint, vnode_duration string, replica bigint, "
                "precision string, max_memcache_size string, memcache_partitions bigint, "
                "wal_max_file_size string, wal_sync boolean, strict_write boolean, "
                "max_cache_readers bigint",
            )
        db, name = self._split_table_name(target)
        if name in self.external:
            fmt, path, opts = self.external[name]
            decl = opts.get("columns")
            if decl:
                rows = [(c, disp, "FIELD", "NULL") for c, _, disp in decl]
            else:
                df = self._read_external(fmt, path, opts)
                rows = [
                    (f.name, f.dataType.simpleString().upper(), "FIELD", "NULL")
                    for f in df.schema.fields
                ]
        else:
            schema = self.catalog.get_schema(db, name)
            codecs = schema.options.get("codecs", {})
            rows = [(TIME_COL, "TIMESTAMP(NANOSECOND)", "TIME", "DEFAULT")]
            rows += [(t, "STRING", "TAG", "DEFAULT") for t in schema.tags]
            rows += [
                (
                    fname,
                    _TYPE_DISPLAY.get(ftype, ftype.upper()),
                    "FIELD",
                    codecs.get(fname, "DEFAULT"),
                )
                for fname, ftype in schema.fields.items()
            ]
        return self.spark.createDataFrame(
            rows,
            "column_name string, data_type string, column_type string, "
            "compression_codec string",
        )

    # ------------------------------------------------- delayed-drop resources
    def _now_us(self) -> int:
        import time as _t

        return _t.time_ns() // 1000 + self.clock_offset_us

    def advance_clock(self, dur: str) -> None:
        """slt `sleep <dur>` advances the virtual clock (expiry is testable
        without wall-clock waits), triggers pending stream jobs, and takes
        usage samples at the reference recorder's ~10s cadence (one sample
        per elapsed 10s, capped — vnode_cache_size.slt counts samples)."""
        dur_us = _parse_short_duration_us(dur)
        ticks = max(1, min(int(dur_us // 10_000_000), 6))
        step = dur_us // ticks
        for _ in range(ticks):
            self.clock_offset_us += step
            if dur_us >= 10_000_000:
                self._flush_usage()
        self.clock_offset_us += dur_us - step * ticks
        self._run_stream_jobs()

    def _run_stream_jobs(self) -> None:
        for stmt in list(self.stream_jobs.values()):
            try:
                self._insert(stmt)
            except Exception:
                # a job whose source/target vanished stops emitting,
                # like a cancelled reference stream task
                continue

    def _process_resources(self) -> None:
        """Execute scheduled drops whose deadline has passed (the reference
        meta resource manager's background loop, evaluated lazily here)."""
        for name, r in self._resources.items():
            if r["status"] != "Schedule" or r["deadline_us"] > self._now_us():
                continue
            if r["action"] == "DropDatabase":
                self._drop_database_now(r["target"])
            else:
                self.tenants.pop(r["target"], None)
                self._hidden_tenants.discard(r["target"])
            r["try_count"] += 1
            r["status"] = "Successed"  # sic — the reference's spelling

    def _drop_database_now(self, db: str) -> None:
        self.catalog.drop_database(db)
        self._hidden_dbs.discard(db)

    def _schedule_drop(self, kind: str, target: str, dur: str) -> None:
        name = f"{self.catalog.tenant}-{target}" if kind == "DropDatabase" else target
        self._resources[name] = {
            "action": kind,
            "target": target,
            "try_count": self._resources.get(name, {}).get("try_count", 0),
            "status": "Schedule",
            "deadline_us": self._now_us() + _parse_short_duration_us(dur),
        }
        (self._hidden_dbs if kind == "DropDatabase" else self._hidden_tenants).add(
            target
        )

    def _recover(self, stmt: str):
        m = re.match(
            r"RECOVER\s+(DATABASE|TENANT)\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$",
            stmt,
            re.I,
        )
        if not m:
            raise ValueError(f"cannot parse RECOVER: {stmt!r}")
        kind, target = m.group(1).upper(), m.group(2)
        if_exists = re.search(r"IF\s+EXISTS", stmt, re.I) is not None
        key = f"{self.catalog.tenant}-{target}" if kind == "DATABASE" else target
        r = self._resources.get(key)
        if r is None or r["status"] != "Schedule":
            if if_exists:
                return None
            raise ValueError(f"{kind.lower()} {target} is not scheduled for drop")
        r["status"] = "Cancel"
        (self._hidden_dbs if kind == "DATABASE" else self._hidden_tenants).discard(
            target
        )
        return None

    def _require_db_full(self, db: str) -> None:
        """Member-role DDL needs a Full (ALL) grant on the database
        (dcl_tenant.slt:598-640: a plain member's CREATE/DROP TABLE errors,
        the tenant owner's succeeds)."""
        if self._is_admin() or self._sys_role() in ("", "owner"):
            return
        role = (
            self.tenants.get(self.current_tenant, {})
            .get("members", {})
            .get(self.user)
        )
        privs = {p for p, d, r in self.grants if d == db and r == role}
        if "ALL" not in privs:
            raise ValueError(
                f"Insufficient privileges, expected [Full on database {db} "
                f"of tenant {self.current_tenant}]"
            )

    def _require_db_read(self, db: str) -> None:
        """Member-role reads need any grant on the database
        (dcl_role.slt:230-249: show tables / describe database error
        without a Read grant)."""
        if self._is_admin() or self._sys_role() in ("", "owner"):
            return
        role = (
            self.tenants.get(self.current_tenant, {})
            .get("members", {})
            .get(self.user)
        )
        if role is None or role.lower() in ("owner", "member"):
            return  # builtin roles read everywhere (dcl_tenant.slt:658)
        privs = {p for p, d, r in self.grants if d == db and r == role}
        if not privs:
            raise ValueError(
                f"Insufficient privileges, expected [Read on database {db} "
                f"of tenant {self.current_tenant}]"
            )

    def _is_admin(self) -> bool:
        u = self.users.get(self.user) or {}
        return bool(
            u.get("is_admin")
            or str(u.get("options", {}).get("granted_admin")).lower() == "true"
        )

    def _sys_role(self) -> str:
        """Current user's effective system role in the current tenant:
        'owner', 'member', or '' (no membership) — the reference's
        privilege checks reduce to this (auth/role.rs system roles)."""
        if self._is_admin():
            return "owner"
        role = (
            self.tenants.get(self.current_tenant, {})
            .get("members", {})
            .get(self.user)
        )
        if role is None:
            return ""
        r = role.lower()
        if r in ("owner", "member"):
            return r
        return self.roles.get(role, {}).get("inherit", "member")

    # ---------------------------------------------------------------- DCL
    def _dcl(self, stmt: str):
        """Tenant/user/role/grant DCL as metadata-only catalog objects
        (reference common/models/src/auth/{user,role,privilege}.rs and
        cases/dcl/*.slt; Spark has no auth enforcement layer — the surface
        exists so DCL round-trips and SHOW works)."""
        s = stmt.rstrip(";").strip()
        m = re.match(
            r"CREATE\s+TENANT\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+|'[^']*'|\"[^\"]*\")"
            r"(?:\s+WITH\s+(.*))?$",
            s, re.I | re.S,
        )
        if m:
            name, withs = m.group(1).strip("'\""), m.group(2) or ""
            if not name.strip():
                raise ValueError("Name cannot be empty or contain only spaces")
            if "/" in name:
                # dcl_tenant.slt:374 CREATE TENANT "t/1"
                raise ValueError(f"not supported keyword contains '/': {name}")
            if name in self.tenants and "IF NOT EXISTS" not in s.upper():
                raise ValueError(f"tenant {name} already exists")
            opts = _parse_with_options(withs)
            if opts.get("drop_after"):
                _parse_short_duration_us(opts["drop_after"])  # validate now
            self.tenants.setdefault(name, {"members": {}, "options": opts})
            self._hidden_tenants.discard(name)
            return None
        m = re.match(
            r"DROP\s+TENANT\s+(?:IF\s+EXISTS\s+)?(\w+)(?:\s+AFTER\s+'([^']+)')?", s, re.I
        )
        if m:
            name, after = m.groups()
            if name == "cnosdb":
                raise ValueError("tenant cnosdb is prohibited from being dropped")
            gone = name not in self.tenants or name in self._hidden_tenants
            if gone and "IF EXISTS" not in s.upper():
                raise ValueError(f"The tenant {name} not found")
            if gone:
                return None
            # an explicit AFTER, or the tenant's own drop_after option,
            # schedules the drop instead of executing it
            # (ddl/drop_and_recover_tenant.slt)
            after = after or self.tenants[name].get("options", {}).get("drop_after")
            if after:
                self._schedule_drop("DropTenant", name, after)
            else:
                self.tenants.pop(name, None)
                # immediate DropTenant also recorded
                # (resource_status.slt:46 't001' 'DropTenant')
                self._resources[name] = {
                    "action": "DropTenant",
                    "target": name,
                    "try_count": 0,
                    "status": "Successed",
                    "deadline_us": 0,
                }
            return None
        m = re.match(
            r"CREATE\s+USER\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+|'[^']*'|\"[^\"]*\")(.*)$",
            s, re.I | re.S,
        )
        if m:
            name, rest = m.group(1).strip("'\""), m.group(2)
            if not name.strip():
                raise ValueError("Name cannot be empty or contain only spaces")
            if "/" in name:
                raise ValueError(f"not supported keyword contains '/': {name}")
            if name in self.users and "IF NOT EXISTS" not in s.upper():
                raise ValueError(f"user {name} already exists")
            wm = re.match(r"\s*(?:WITH\s+(.*?))?\s*$", rest, re.I | re.S)
            withs = (wm.group(1) or "") if wm else ""
            opts = _parse_with_options(withs)
            self.users.setdefault(name, {"is_admin": False, "options": opts})
            return None
        m = re.match(r"DROP\s+USER\s+(?:IF\s+EXISTS\s+)?(\w+)", s, re.I)
        if m:
            name = m.group(1)
            if name == "root":
                raise ValueError("User 'root' is prohibited from being dropped")
            if name not in self.users and "IF EXISTS" not in s.upper():
                raise ValueError(f"The user {name} not found")
            self.users.pop(name, None)
            return None
        m = re.match(r"ALTER\s+USER\s+(\w+)\s+SET\s+(\w+)\s*=\s*(.+)$", s, re.I)
        if m:
            name, key, val = m.group(1), m.group(2).lower(), m.group(3).strip().strip("'")
            if name == "root" and self.user != "root":
                raise ValueError("Insufficient privileges, expected [root user]")
            if name == "root" and key == "granted_admin":
                raise ValueError("The root user does not support changing granted_admin")
            if key == "granted_admin" and not self._is_admin():
                raise ValueError(
                    "Insufficient privileges, expected [maintainer for system]"
                )
            if name not in self.users:
                raise ValueError(f"The user {name} not found")
            self.users[name]["options"][key] = val
            return None
        m = re.match(
            r"ALTER\s+TENANT\s+(\w+)\s+SET\s+(?:object_config|request_config)\b(.*)$",
            s, re.I | re.S,
        )
        if m:
            # limiter grammar (tenants.slt:96-120): multi-clause
            # object_config/request_config assignment; the system tenant
            # cannot be restricted (tenants.slt:124)
            tenant = m.group(1)
            if tenant == self._home_tenant:
                raise ValueError(f"Tenant {tenant} cannot be restricted")
            if tenant not in self.tenants or tenant in self._hidden_tenants:
                raise ValueError(f"The tenant {tenant} not found")
            cfg = " ".join(m.group(2).split()).rstrip(";")
            for bm in re.finditer(
                r"((?:coord|http)_\w+)((?:\s+(?:remote|local)_\w+\s*=\s*\d+,?)*)",
                cfg,
            ):
                if "remote_max" in bm.group(2) and "remote_refill" not in bm.group(2):
                    # a bucket missing remote_refill is a parse error
                    # (dcl_tenant.slt:508's blank line)
                    raise ValueError(
                        "sql parser error: incomplete request_config bucket "
                        f"for {bm.group(1)}"
                    )
            opts = self.tenants[tenant].setdefault("options", {})
            opts["limiter_config"] = cfg
            return None
        m = re.match(
            r"ALTER\s+TENANT\s+(\w+)\s+(SET|UNSET)\s+(\w+)(?:(?:\s*=\s*|\s+)'([^']*)')?\s*$",
            s, re.I,
        )
        if m:
            tenant, action, key, val = m.groups()
            key = key.lower()
            if tenant not in self.tenants or tenant in self._hidden_tenants:
                raise ValueError(f"The tenant {tenant} not found")
            if key == "_limiter" and action.upper() == "UNSET":
                # UNSET _limiter clears the limiter (tenants.slt:157)
                self.tenants[tenant].setdefault("options", {})["limiter_config"] = None
                return None
            if key not in ("drop_after", "comment", "limiter_config"):
                # internal options are unmodifiable (dcl_tenant.slt
                # tenant_is_hidden record)
                raise ValueError(f"tenant option {key} is unmodifiable")
            opts = self.tenants[tenant].setdefault("options", {})
            if action.upper() == "SET":
                if key == "drop_after" and val is not None:
                    nm = re.match(r"(-?\d+)", str(val))
                    if nm and int(nm.group(1)) * 86_400_000_000_000 > 2**64 - 1:
                        # u64-ns overflow (dcl_tenant.slt:293-301)
                        raise ValueError(
                            f"sql parser error: {val} is not a valid "
                            "duration or duration overflow"
                        )
                    _parse_short_duration_us(val)  # validate now
                opts[key] = val
            else:
                opts[key] = None
            return None
        m = re.match(
            r"ALTER\s+TENANT\s+(\w+)\s+SET\s+USER\s+(\w+)\s+AS\s+(\w+)", s, re.I
        )
        if m:
            # SET USER <u> AS <role> — role reassignment (dcl_tenant.slt:628)
            tenant, user, role = m.groups()
            if tenant not in self.tenants:
                raise ValueError(f"The tenant {tenant} not found")
            if user not in self.users:
                raise ValueError(f"The user {user} not found")
            self.tenants[tenant].setdefault("members", {})[user] = role.lower()
            return None
        m = re.match(
            r"ALTER\s+TENANT\s+(\w+)\s+(ADD|REMOVE)\s+USER\s+(\w+)(?:\s+AS\s+(\w+))?",
            s, re.I,
        )
        if m:
            tenant, action, user, role = m.groups()
            if tenant not in self.tenants:
                raise ValueError(f"tenant {tenant} not found")
            if action.upper() == "ADD":
                if user not in self.users:
                    raise ValueError(f"The user {user} not found")
                r = (role or "member").lower()
                if r not in ("owner", "member") and role not in self._roles_by_tenant.get(
                    tenant, {}
                ):
                    raise ValueError(f"The role {role} not found")
                self.tenants[tenant]["members"][user] = r if r in ("owner", "member") else role
            else:
                self.tenants[tenant]["members"].pop(user, None)
            return None
        m = re.match(
            r"CREATE\s+ROLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+|'[^']*'|\"[^\"]*\")"
            r"(?:\s+INHERIT\s+(\w+))?",
            s, re.I,
        )
        if m:
            name, inherit = m.group(1).strip("'\""), m.group(2)
            if inherit and inherit.lower() not in ("owner", "member"):
                # parity: only system roles are inheritable (dcl_role.slt)
                raise ValueError(f"Expected [owner,member], found {inherit}")
            if self._sys_role() != "owner":
                raise ValueError(
                    "Insufficient privileges, expected "
                    f"[maintainer for all roles of tenant {self.current_tenant}]"
                )
            if not name.strip():
                raise ValueError("Name cannot be empty or contain only spaces")
            if name in self.roles and "IF NOT EXISTS" not in s.upper():
                raise ValueError(f"role {name} already exists")
            self.roles.setdefault(name, {"inherit": (inherit or "member").lower()})
            return None
        m = re.match(r"DROP\s+ROLE\s+(?:IF\s+EXISTS\s+)?(\w+)", s, re.I)
        if m:
            name = m.group(1)
            if name.lower() in ("owner", "member"):
                raise ValueError(f"Couldn't drop system role {name}")
            if name not in self.roles and "IF EXISTS" not in s.upper():
                raise ValueError(f"role {name} not found")
            self.roles.pop(name, None)
            return None
        m = re.match(r"GRANT\s+(READ|WRITE|ALL)\s+ON\s+DATABASE\s+(\w+)\s+TO\s+(?:ROLE\s+)?(\w+)", s, re.I)
        if m:
            priv, db, role = m.groups()
            if role not in self.roles:
                raise ValueError(f"role {role} not found")
            if db not in self.catalog.list_databases():
                # parity: database_privileges.slt:73 "Database not found"
                raise ValueError(f"Database not found: {db}")
            # a re-grant on the same (db, role) replaces the old privilege
            # (meta's role privileges are a map keyed by database)
            self.grants = [
                g for g in self.grants if not (g[1] == db and g[2] == role)
            ]
            self.grants.append((priv.upper(), db, role))
            return None
        m = re.match(r"REVOKE\s+(READ|WRITE|ALL)\s+ON\s+DATABASE\s+(\w+)\s+FROM\s+(?:ROLE\s+)?(\w+)", s, re.I)
        if m:
            priv, db, role = m.groups()
            if (priv.upper(), db, role) not in self.grants:
                # dcl_role.slt:214 — revoking an absent grant errors
                raise ValueError(
                    f"Meta: cannot revoke the privilege {priv.capitalize()} "
                    f"on database {db} of role"
                )
            self.grants = [g for g in self.grants if g != (priv.upper(), db, role)]
            return None
        raise ValueError(f"cannot parse DCL statement: {stmt[:80]!r}")

    # ---------------------------------------------------------------- SHOW
    def _show(self, stmt: str) -> DataFrame:
        s = stmt.rstrip(";").strip()
        if re.fullmatch(r"SHOW\s+DATABASES", s, re.I):
            if (
                self.current_tenant in self._hidden_tenants
                or self.current_tenant not in self.tenants
            ):
                raise ValueError("Auth error: The tenant not found")
            if not self._is_admin():
                role = (
                    self.tenants.get(self.current_tenant, {})
                    .get("members", {}).get(self.user)
                )
                if (
                    role is not None
                    and role.lower() not in ("owner", "member")
                    and role not in self.roles
                ):
                    # dcl_role.slt:150 — a member whose CUSTOM role was
                    # dropped loses visibility; builtin member is fine
                    # (dcl_tenant.slt:658 u_b sees db_a)
                    raise ValueError(
                        "Insufficient privileges, expected [Read on all "
                        f"databases of tenant {self.current_tenant}]"
                    )
            dbs = (
                [
                    d
                    for d in self.catalog.list_databases()
                    if d not in self._hidden_dbs
                ]
                if self.current_tenant == self.catalog.tenant
                else []  # other tenants own no databases in this session
            )
            return self.spark.createDataFrame(
                [(d,) for d in dbs], "database_name string"
            )
        if re.fullmatch(r"SHOW\s+TENANTS", s, re.I):
            return self.spark.createDataFrame(
                [(t,) for t in sorted(self.tenants)], ["tenant_name"]
            )
        if re.fullmatch(r"SHOW\s+USERS", s, re.I):
            return self.spark.createDataFrame(
                [(u,) for u in sorted(self.users)], ["user_name"]
            )
        if re.fullmatch(r"SHOW\s+ROLES", s, re.I):
            return self.spark.createDataFrame(
                [(r,) for r in sorted(self.roles)] or [("owner",), ("member",)],
                ["role_name"],
            )
        if re.fullmatch(r"SHOW\s+TABLES(?:\s+ON\s+(\w+))?", s, re.I):
            m = re.fullmatch(r"SHOW\s+TABLES(?:\s+ON\s+(\w+))?", s, re.I)
            db = m.group(1) or self.database
            self._require_db_read(db)
            names = (
                self.catalog.list_tables(db)
                + sorted(t for t in self.external
                         if self.external_dbs.get(t, "public") == db)
                + sorted(t for t, st in self.streams.items()
                         if getattr(st, "home_db", "public") == db)
            )
            return self.spark.createDataFrame(
                [(t,) for t in names], "table_name string"
            )
        m = re.fullmatch(
            r"SHOW\s+SERIES\s+(?:ON\s+(\w+)\s+)?FROM\s+([\w.]+)(?:\s+WHERE\s+(.*?))?"
            r"(?:\s+ORDER\s+BY\s+([\w\s,]+?))?(?:\s+LIMIT\s+(\d+))?(?:\s+OFFSET\s+(\d+))?",
            s,
            re.I | re.S,
        )
        if m:
            db, tbl, where, order, limit, offset = m.groups()
            if "." in tbl:
                # the reference grammar takes a bare identifier after FROM
                # (show_series.slt:32 "Expected end of statement, found: .")
                raise ValueError("sql parser error: Expected end of statement, found: .")
            db = db or self.database
            if where:
                _reject_fields_in_where(self.catalog.get_schema(db, tbl), where)
            out = self.catalog.show_series(db, tbl, where)
            out = _apply_show_order(out, order, valid=("key",))
            if offset:
                out = out.offset(int(offset))
            if limit:
                out = out.limit(int(limit))
            return out
        m = re.fullmatch(
            r"SHOW\s+TAG\s+VALUES\s+(?:ON\s+(\w+)\s+)?FROM\s+([\w.]+)\s+WITH\s+KEY\s*"
            r"(?:(=|!=)\s*\"?(\w+)\"?|(NOT\s+)?IN\s*\(([^)]*)\))"
            r"(?:\s+WHERE\s+(.*?))?"
            r"(?:\s+ORDER\s+BY\s+([\w\s,]+?))?(?:\s+LIMIT\s+(\d+))?(?:\s+OFFSET\s+(\d+))?",
            s,
            re.I | re.S,
        )
        if m:
            db, tbl, eq_op, single, not_kw, many, where, order, limit, offset = m.groups()
            db = db or self.database
            schema = self.catalog.get_schema(db, tbl)
            if single is not None:
                listed = [single]
                negate = eq_op == "!="
            else:
                listed = [k.strip().strip('"') for k in many.split(",") if k.strip()]
                negate = bool(not_kw)
            keys = (
                [t for t in schema.tags if t not in listed] if negate else listed
            )
            if where:
                _reject_fields_in_where(schema, where)
            out = self.catalog.show_tag_values(db, tbl, keys, where)
            out = _apply_show_order(out, order, valid=("key", "value"))
            if offset:
                out = out.offset(int(offset))
            if limit:
                out = out.limit(int(limit))
            return out
        raise ValueError(f"unsupported SHOW statement: {stmt[:80]!r}")

    # ------------------------------------------------------------ ingest
    def write_lines(self, text: str, db: str | None = None, precision: str = "ns") -> dict[str, int]:
        """Schemaless line-protocol write (the api/v1/write path,
        main/src/http/http_service.rs:484): auto-creates tables and columns,
        then appends. Returns {measurement: rows_written}."""
        from .sources.line_protocol import lines_to_tables

        return self._write_schemaless(
            lines_to_tables(self.spark, text, precision), db
        )

    def write_open_tsdb(
        self, text: str, db: str | None = None, tcp: bool = False
    ) -> dict[str, int]:
        """OpenTSDB ingest (api/v1/opentsdb/write, http_service.rs:607;
        telnet `put` framing when tcp=True). Single implicit double field
        ``value`` per the reference parser."""
        from .sources import points_to_tables
        from .sources.open_tsdb import parse_open_tsdb, parse_open_tsdb_tcp

        parse = parse_open_tsdb_tcp if tcp else parse_open_tsdb
        return self._write_schemaless(points_to_tables(self.spark, parse(text)), db)

    def write_open_tsdb_json(self, text: str, db: str | None = None) -> dict[str, int]:
        """OpenTSDB HTTP JSON put ingest (api/v1/opentsdb/put JSON body —
        protocol_parser open_tsdb JSON branch)."""
        from .sources import points_to_tables
        from .sources.open_tsdb import parse_open_tsdb_json

        return self._write_schemaless(
            points_to_tables(self.spark, parse_open_tsdb_json(text)), db
        )

    def write_prometheus(
        self, data: bytes, db: str | None = None, compressed: bool = True
    ) -> dict[str, int]:
        """Prometheus remote-write ingest (api/v1/prom/write,
        http_service.rs:1190; remote_server.rs prom_write_request_to_lines):
        snappy-compressed protobuf WriteRequest → one table per metric
        (`__name__`), every label a tag, single double field ``value``."""
        from .sources import points_to_tables
        from .sources.prometheus import parse_remote_write

        return self._write_schemaless(
            points_to_tables(self.spark, parse_remote_write(data, compressed)), db
        )

    def sql_arrow(self, sql: str, db: str | None = None) -> bytes:
        """Arrow Flight SQL result transport (main/src/flight_sql/:
        handshake + statement_query run the same QueryDispatcher path as
        HTTP SQL, result batches stream over Flight as Arrow IPC — the
        sqllogictest runner itself uses this protocol,
        sqllogicaltests/src/main.rs:16-20). Spark analogue: run the
        statement through the normal ``Engine.sql`` path and return the
        result as an Arrow IPC stream — the exact payload a Flight
        DoGet carries; any Arrow client (`pyarrow.ipc.open_stream`)
        reads it back. Serving path: the result is collected to build
        the wire bytes, so the same row-count guard as the Prometheus
        remote-read applies (``ARROW_RESULT_MAX_ROWS``). The guard is
        SINGLE-evaluation: at most limit+1 rows are fetched in the one
        Spark job and overflow fails client-side — a separate count()
        would execute the statement twice and race concurrent writes /
        nondeterministic queries (TOCTOU)."""
        import io

        import pyarrow as pa

        prev_db = self.database
        if db is not None:
            self.database = db
        try:
            df = self.sql(sql)
        finally:
            self.database = prev_db
        if df is None:  # DDL/DML: an empty zero-column stream, like
            table = pa.table({})  # Flight's empty statement result
        else:
            table = df.limit(self.ARROW_RESULT_MAX_ROWS + 1).toArrow()
            if table.num_rows > self.ARROW_RESULT_MAX_ROWS:
                raise ValueError(
                    f"sql_arrow: result exceeds limit "
                    f"{self.ARROW_RESULT_MAX_ROWS} rows; add LIMIT or use "
                    "Engine.sql() and keep the DataFrame distributed"
                )
        sink = io.BytesIO()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        return sink.getvalue()

    def sql_arrow_stream(self, sql: str, db: str | None = None,
                         batch_rows: int = 4096):
        """Streaming variant of ``sql_arrow`` — the Flight DoGet shape
        proper: yields chunks of ONE Arrow IPC stream (schema header
        first, then record-batch frames, EOS last; concatenating the
        chunks gives exactly what ``pa.ipc.open_stream`` reads). Unlike
        ``sql_arrow``, there is NO row cap: conversion to Arrow happens
        EXECUTOR-side — a ``mapInArrow`` kernel slices each batch to
        ``batch_rows`` and serializes it as a self-contained mini IPC
        stream (schema + one batch + EOS) in a single binary cell; the
        driver only re-frames those C-level batches under one stream
        header (``toLocalIterator`` holds ≤1 partition + 1 frame at a
        time), so arbitrarily large results serve in bounded memory with
        NO per-row Python anywhere — the answer to sql_arrow's "add
        LIMIT or keep it distributed" error. The executor batches use
        the exact Arrow conversion ``toArrow`` uses (same schema, NaN
        doubles stay NaN — never collapsed into NULL), so wire types
        match the capped transport's. Reference analogue: Flight DoGet
        streams executor-produced Arrow batches (main/src/flight_sql/)."""
        import io

        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        prev_db = self.database
        if db is not None:
            self.database = db
        try:
            df = self.sql(sql)
        finally:
            self.database = prev_db
        schema = (
            pa.schema([]) if df is None else to_arrow_schema(df.schema)
        )

        def _frames(it):
            # runs on executors: values go Tungsten→Arrow in the JVM and
            # stay columnar; Python only frames bytes per ≤batch_rows slice
            import io as _io

            import pyarrow as _pa

            for b in it:
                for off in range(0, b.num_rows, batch_rows):
                    piece = b.slice(off, batch_rows)
                    sink = _io.BytesIO()
                    with _pa.ipc.new_stream(sink, b.schema) as w:
                        w.write_batch(piece)
                    yield _pa.RecordBatch.from_arrays(
                        [_pa.array([sink.getvalue()], type=_pa.binary())],
                        ["frame"],
                    )

        def _gen():
            sink = io.BytesIO()
            writer = None
            if df is not None:
                frames = df.mapInArrow(_frames, "frame binary")
                for row in frames.toLocalIterator(prefetchPartitions=False):
                    for b in pa.ipc.open_stream(row.frame):
                        if writer is None:
                            writer = pa.ipc.new_stream(sink, b.schema)
                        writer.write_batch(b)
                        data = sink.getvalue()
                        sink.seek(0)
                        sink.truncate(0)
                        yield data
            if writer is None:  # DDL/DML or zero-row result
                writer = pa.ipc.new_stream(sink, schema)
            writer.close()
            yield sink.getvalue()

        return _gen()

    def read_prometheus(
        self, data: bytes, db: str | None = None, compressed: bool = True
    ) -> bytes:
        """Prometheus remote-read (api/v1/prom/read, http_service.rs:806;
        remote_server.rs:44-71 remote_read → process_read_requests):
        snappy-compressed protobuf ReadRequest → per matched table one
        ``SELECT * WHERE <matchers> AND <time range> ORDER BY time``
        (remote_server.rs:268-364 build_sql_with_table), result rows
        regrouped into TimeSeries keyed by tag set (transform_time_series),
        returned as snappy-compressed protobuf ReadResponse. The per-table
        SQL runs distributed through the normal query path; only the
        client-bound response rows are collected."""
        from .sources import prometheus as prom

        if compressed:
            data = prom.snappy_decompress(data)
        results = [
            self._prom_read_query(q, db or self.database)
            for q in prom.decode_read_request(data)
        ]
        return prom.snappy_compress(prom.encode_read_response(results))

    def _prom_read_query(self, q: dict, db: str) -> list[dict]:
        from .sources import prometheus as prom

        tables: list[str] = []
        for mtype, name, value in q["matchers"]:
            if name != prom.METRIC_NAME_LABEL:
                continue
            if mtype == prom.MATCHER_EQ:
                # remote_server.rs:285-296: an EQ name matcher must resolve
                if value not in self.catalog.list_tables(db):
                    raise ValueError(f"table not found: {value}")
                tables = [value]
            elif mtype == prom.MATCHER_RE:
                # remote_server.rs:298-316: regex-filter the table list
                pat = re.compile(value)
                tables = [
                    t for t in self.catalog.list_tables(db) if pat.search(t)
                ]
            else:
                raise ValueError(
                    "non-equal or regex-non-equal matchers are not "
                    "supported on the metric name yet"
                )  # remote_server.rs:318
        filters = prom.matcher_filters(q["matchers"])
        from datetime import datetime, timedelta

        epoch = datetime(1970, 1, 1)
        start = epoch + timedelta(milliseconds=q["start_ms"])
        end = epoch + timedelta(milliseconds=q["end_ms"])
        filters.append(f"time >= TIMESTAMP '{start.isoformat(sep=' ')}'")
        filters.append(f"time <= TIMESTAMP '{end.isoformat(sep=' ')}'")
        out: list[dict] = []
        prev_db = self.database
        self.database = db
        try:
            for t in tables:
                where = " AND ".join(filters)
                # response-size guard: the protobuf response is assembled
                # driver-side (the serving path), so a runaway matcher /
                # open time range must fail loudly instead of OOMing the
                # driver — the reference bounds remote-read responses the
                # same way (server-side limits on the coordinator read
                # path). SINGLE evaluation: fetch at most limit+1 rows in
                # the one job (TakeOrdered under the LIMIT) and fail on
                # overflow — a separate count() would scan twice and race
                # concurrent writes (TOCTOU).
                sql = (
                    f"SELECT * FROM `{t}` WHERE {where} ORDER BY time "
                    f"LIMIT {self.PROM_READ_MAX_ROWS + 1}"
                )
                rows = self.sql(sql).collect()
                if len(rows) > self.PROM_READ_MAX_ROWS:
                    raise ValueError(
                        f"prometheus remote-read: matchers select more than "
                        f"{self.PROM_READ_MAX_ROWS} rows from {t!r}; "
                        "narrow the time range or matchers"
                    )
                tag_cols = list(self.catalog.get_schema(db, t).tags)
                out.extend(prom.df_to_timeseries(rows, tag_cols))
        finally:
            self.database = prev_db
        return out

    def write_es_log(
        self, text: str, db: str | None = None, default_table: str = "log",
        tag_keys: set[str] | None = None,
    ) -> dict[str, int]:
        """Elasticsearch-bulk JSON ingest (api/v1/es/_bulk,
        http_service.rs:691): command/fields pairs; _index names the
        table."""
        from .sources import points_to_tables
        from .sources.json_protocol import group_logs, parse_es_log

        logs = group_logs(parse_es_log(text), default_table, tag_keys)
        return self._write_schemaless(points_to_tables(self.spark, logs), db)

    def write_ndjson(
        self, text: str, db: str | None = None, table: str = "log",
        tag_keys: set[str] | None = None,
    ) -> dict[str, int]:
        """ndjson ingest: one flattened JSON object per line."""
        from .sources import points_to_tables
        from .sources.json_protocol import group_logs, parse_ndjson

        logs = group_logs(parse_ndjson(text), table, tag_keys)
        return self._write_schemaless(points_to_tables(self.spark, logs), db)

    def _write_schemaless(self, tables: dict, db: str | None) -> dict[str, int]:
        """Shared schemaless write path: auto-create tables/columns, append
        through Catalog.insert (LWW merge applies on read)."""
        db = db or self.database
        existing = set(self.catalog.list_tables(db))
        stored = {
            name: self.catalog.get_schema(db, name)
            for name in tables if name in existing
        }
        for name, schema in stored.items():
            _check_stored_schema(name, schema, *tables[name])
        out: dict[str, int] = {}
        for name, (df, tagkeys) in tables.items():
            tags = [f.name for f in df.schema.fields if f.name in tagkeys]
            fields = {}
            for f in df.schema.fields:
                if f.name == TIME_COL or f.name in tagkeys:
                    continue
                if f.name == NS_RESIDUE_COL:
                    continue  # hidden sub-µs residue: storage-only column
                fields[f.name] = f.dataType.simpleString()
            if name in stored:
                schema = stored[name]
                for t in tags:
                    if t not in schema.tags and t not in schema.fields:
                        schema.tags.append(t)
                        schema.schema_version += 1
                for fname, ftype in fields.items():
                    if fname not in schema.fields and fname not in schema.tags:
                        schema.fields[fname] = ftype
                        schema.schema_version += 1
                self.catalog.save_schema(db, schema)
            else:
                schema = TskvTableSchema(
                    tenant=self.catalog.tenant, db=db, name=name, tags=tags, fields=fields
                )
                self.catalog.create_table(db, schema)
            out[name] = self.catalog.insert(db, name, df)
        return out

    # ------------------------------------------------------------- helpers
    def _split_table_name(self, name: str) -> tuple[str, str]:
        parts = name.split(".")
        if len(parts) == 1:
            return self.database, parts[0]
        if len(parts) == 2:
            return parts[0], parts[1]
        return parts[-2], parts[-1]  # tenant.db.table → (db, table)


# a schemaless value's kind (bool < int < float < str, the one rule of
# sources._resolve_discovered) by stored field type and by frame type
_KIND_RANK = {
    "boolean": 0, "integer": 1, "bigint": 1, "unsigned": 1,
    "float": 2, "double": 2, "string": 3, "geometry": 3,
}


def _check_stored_schema(name, schema, df, tagkeys) -> None:
    """Reject a schemaless write to an existing table whose frame has a
    stored field as a tag, or a field of a kind wider than its stored
    type. Narrower kinds widen on write, as within one request."""
    for f in df.schema.fields:
        stored = schema.fields.get(f.name)
        if stored is None:
            continue
        shown = _TYPE_DISPLAY.get(stored.lower(), stored.upper())
        if f.name in tagkeys:
            raise ValueError(
                f"Table {name}: column {f.name} is a {shown} field, "
                "the write has it as a tag"
            )
        kind = f.dataType.simpleString()
        if _KIND_RANK[kind] > _KIND_RANK[stored.lower()]:
            raise ValueError(
                f"Table {name}: column {f.name} is {shown}, "
                f"the write has {_TYPE_DISPLAY[kind]}"
            )


def _reject_fields_in_where(schema: TskvTableSchema, where: str) -> None:
    """SHOW SERIES / SHOW TAG VALUES may filter on tags and time only
    (show_series.slt:107; show_tag_values.slt:131 has the same checker)."""
    for f in schema.fields:
        if re.search(rf"\b{re.escape(f)}\b", where):
            raise ValueError(
                "Semantic error: SHOW SERIES does not support where "
                f"clause contains field {f}"
            )


def _apply_show_order(df: DataFrame, order: str | None, valid: tuple[str, ...]) -> DataFrame:
    """ORDER BY on SHOW SERIES/TAG VALUES output: only the output columns
    are addressable (reference errors 'No field named f0. Valid fields are
    key, value.')."""
    if not order:
        return df
    exprs = []
    for item in order.split(","):
        parts = item.split()
        if not parts:
            continue
        col = parts[0].strip('"').lower()
        if col not in valid:
            raise ValueError(
                f"No field named {col}. Valid fields are {', '.join(valid)}."
            )
        desc = len(parts) > 1 and parts[1].upper() == "DESC"
        exprs.append(F.col(col).desc() if desc else F.col(col).asc())
    return df.orderBy(*exprs) if exprs else df


def _parse_short_duration_us(dur: str) -> int:
    """'3m'/'65s'/'100ms'/'7d'/'1y'/'7' → µs (bare digits default to
    minutes). Units are CASE-SENSITIVE lowercase — the reference rejects
    '1Y' ("1Y is not a valid duration", dcl_tenant.slt:133) while '1y'
    parses."""
    m = re.fullmatch(r"\s*(\d+)\s*(\w*)\s*", str(dur))
    if not m:
        raise ValueError(f"{dur} is not a valid duration or duration overflow")
    n, unit = int(m.group(1)), m.group(2)
    per = {
        "": 60_000_000, "m": 60_000_000, "min": 60_000_000,
        "ms": 1_000, "s": 1_000_000, "h": 3_600_000_000,
        "d": 86_400_000_000, "w": 7 * 86_400_000_000,
        "y": 365 * 86_400_000_000,
    }.get(unit)
    if per is None:
        raise ValueError(f"{dur} is not a valid duration or duration overflow")
    return n * per


def _parse_with_options(withs: str) -> dict:
    """WITH key='value'[, ...] — strict: a key without a value is a parse
    error (dcl_user.slt `with comment;` record)."""
    opts: dict = {}
    if not withs or not withs.strip():
        return opts
    for part in _split_args(withs):
        part = part.strip().rstrip(";").strip()
        if not part:
            continue
        # forms: key='v' | key 'v' | key subkey= v | nested multi-line
        # limiter configs ("object_config max_users_number= 1\n
        # max_databases = 3 ...", dcl_tenant.slt:199)
        pm = re.fullmatch(
            r"(\w+(?:\s+\w+)*?)\s*(?:=\s*|\s+)(?:'([^']*)'|(\S+))", part
        )
        if pm:
            opts[pm.group(1).lower()] = (
                pm.group(2) if pm.group(2) is not None else pm.group(3)
            )
            continue
        pairs = re.findall(r"(\w+)\s*=\s*(?:'([^']*)'|([^\s,;]+))", part)
        if not pairs:
            raise ValueError(f"Expected a value, found: {part!r}")
        for k, v1, v2 in pairs:
            opts[k.lower()] = v1 if v1 else v2
    return opts


def _stream_view(cat: Catalog, db: str, st: StreamTable) -> DataFrame:
    """The batch view of a stream table: its source table's columns."""
    sdf = cat.read(db, st.src_table)
    return sdf.select(*st.columns) if st.columns else sdf


def _ext_view_name(name: str) -> str:
    """Temp-view name for an external table: identifiers pass through,
    anything else ("ba sic") gets a sanitized __ext__ name."""
    if re.fullmatch(r"\w+", name):
        return name
    return "__ext__" + re.sub(r"\W", "_", name)


def _parse_external_columns(cols_str: str) -> list[tuple[str, str, str]]:
    """Declared external-table columns → [(name, spark_type, datafusion
    display)] (reference renders Arrow type names in DESCRIBE,
    ddl/create_external_table.slt:28-33)."""
    out: list[tuple[str, str, str]] = []
    for coldef in _split_args(cols_str):
        coldef = coldef.strip()
        if not coldef:
            continue
        cm = re.match(
            r'("[^"]+"|\w+)\s+(\w+(?:\s*\(\s*\d+\s*,\s*\d+\s*\))?)', coldef
        )
        if not cm:
            raise ValueError(f"cannot parse external column {coldef!r}")
        cname = cm.group(1).strip().strip('"')
        ctype = re.sub(r"\s", "", cm.group(2)).lower()
        dm = re.match(r"(?:decimal|numeric)\((\d+),(\d+)\)", ctype)
        if dm:
            p, s = dm.groups()
            out.append((cname, f"decimal({p},{s})", f"Decimal128({p}, {s})"))
            continue
        if ctype in ("decimal", "numeric"):
            # DataFusion's bare NUMERIC → Decimal128(38, 10) (tpch.slt:12)
            out.append((cname, "decimal(38,10)", "Decimal128(38, 10)"))
            continue
        mapping = {
            "double": ("double", "Float64"),
            "float": ("float", "Float32"),
            "real": ("float", "Float32"),
            "bigint": ("bigint", "Int64"),
            "int": ("int", "Int32"),
            "integer": ("int", "Int32"),
            "smallint": ("smallint", "Int16"),
            "tinyint": ("tinyint", "Int8"),
            "string": ("string", "Utf8"),
            "varchar": ("string", "Utf8"),
            "text": ("string", "Utf8"),
            "boolean": ("boolean", "Boolean"),
            "bool": ("boolean", "Boolean"),
            "timestamp": ("timestamp", "Timestamp(Nanosecond, None)"),
            "date": ("date", "Date32"),
        }
        if ctype not in mapping:
            raise ValueError(f"unsupported external column type {ctype!r}")
        out.append((cname, *mapping[ctype]))
    return out


def _normalize_ttl(ttl: str) -> str:
    """'7d'/'100000d'/'1h' → Spark interval string."""
    if re.fullmatch(r"\d+", ttl.strip()):
        # bare number defaults to days (database_schema.rs DatabaseOptions;
        # dql/time_datatype.slt creates WITH TTL '1000000')
        return f"{ttl.strip()} DAY"
    m = re.fullmatch(r"(\d+)\s*([a-zA-Z]+)", ttl.strip())
    if not m:
        return ttl
    n, unit = m.groups()
    # humantime units are CASE-SENSITIVE: 'M' is month, 'm' is minute
    # (describe_database.slt:76 alter set ttl '1M' renders "1month")
    if unit == "M":
        return f"{n} MONTH"
    unit_map = {
        "d": "DAY", "day": "DAY", "days": "DAY",
        "h": "HOUR", "hour": "HOUR", "hours": "HOUR",
        "m": "MINUTE", "min": "MINUTE",
        "s": "SECOND", "sec": "SECOND",
        "w": "WEEK", "week": "WEEK", "weeks": "WEEK",
        "y": "YEAR", "year": "YEAR", "years": "YEAR",
        "month": "MONTH", "months": "MONTH",
    }
    return f"{n} {unit_map.get(unit.lower(), unit.upper())}"


def _strip_line_comments(text: str) -> str:
    """Remove ``-- ...`` line comments outside single-quoted strings."""
    out_lines = []
    for line in text.splitlines():
        in_q = False
        i = 0
        while i < len(line):
            ch = line[i]
            if ch == "'":
                in_q = not in_q
            elif not in_q and ch == "-" and i + 1 < len(line) and line[i + 1] == "-":
                line = line[:i]
                break
            i += 1
        out_lines.append(line)
    return "\n".join(out_lines)
