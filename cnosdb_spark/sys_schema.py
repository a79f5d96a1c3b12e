"""System schema views: information_schema + query tracking.

Reference: /root/reference query_server/query/src/metadata/
{information_schema_provider, cluster_schema_provider}/ — DATABASES,
TABLES, COLUMNS, QUERIES system tables (tests: cases/sys_table/*.slt).

Spark-first: plain DataFrames derived from catalog metadata and session
state. ``Engine._qualify`` rewrites ``information_schema.<name>`` /
``cluster_schema.<name>`` references to ``__<schema>__<name>`` temp views
and builds only the views a statement names, from the state at that
statement (``Engine._build_sys_views`` holds the one name→builder table:
these functions plus the inline QUERIES and RESOURCE_STATUS rows).
SHOW QUERIES / KILL QUERY map onto tracked StreamingQuery handles + the
Spark job group of the session (the analogue of QueryTracker,
dispatcher/query_tracker.rs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .schema import TIME_COL, db_options_row


def tenants_df(spark: SparkSession, tenants: dict) -> DataFrame:
    """cluster_schema.tenants (reference meta tenant options as JSON —
    ddl/alter_drop_after.slt LIKE-matches the rendered
    '"drop_after":{"duration"...}' / '"drop_after":null' text)."""
    import json

    rows = []
    for name, t in sorted(tenants.items()):
        opts = t.get("options", {}) or {}
        da = opts.get("drop_after")
        rendered = {
            "comment": opts.get("comment"),
            "limiter_config": None,
            "drop_after": ({"duration": da} if da else None),
        }
        rows.append((name, json.dumps(rendered, separators=(",", ":"))))
    return spark.createDataFrame(
        rows, "tenant_name string, tenant_options string"
    )


def users_df(spark: SparkSession, users: dict) -> DataFrame:
    """cluster_schema.users (ddl/user.slt renders options JSON with a
    masked hash_password first)."""
    import json

    # UserOptions serde field order (auth/user.rs:143-153): hash_password,
    # must_change_password, rsa_public_key, comment, granted_admin —
    # absent fields are skipped
    key_order = [
        "hash_password", "must_change_password", "rsa_public_key",
        "comment", "granted_admin",
    ]
    rows = []
    for name, u in sorted(users.items()):
        raw = {"hash_password": "*****"}
        for k, v in (u.get("options") or {}).items():
            # a plaintext password is never serialized — it IS the masked
            # hash_password (dcl_user.slt:96)
            if k in ("true", "false", "password"):
                continue
            raw[k] = (
                v if not isinstance(v, str)
                else True if v == "true" else False if v == "false" else v
            )
        opts = {k: raw[k] for k in key_order if k in raw}
        opts.update({k: v for k, v in raw.items() if k not in opts})
        # the is_admin column reflects GRANT ADMIN too
        # (dcl/grant_admin.slt:21, alter_user.slt:74)
        is_admin = bool(u.get("is_admin")) or raw.get("granted_admin") is True
        rows.append((name, is_admin, json.dumps(opts, separators=(",", ":"))))
    return spark.createDataFrame(
        rows, "user_name string, is_admin boolean, user_options string"
    )


def roles_df(spark: SparkSession, roles: dict | None) -> DataFrame:
    """information_schema.roles: system roles (owner/member) + custom.
    ``roles=None`` → caller lacks the privilege: empty view."""
    if roles is None:
        rows = []
    else:
        rows = [("owner", "system", None), ("member", "system", None)] + [
            (r, "custom", meta.get("inherit"))
            for r, meta in sorted(roles.items())
        ]
    return spark.createDataFrame(
        rows, "role_name string, role_type string, inherit_role string"
    )


def enabled_roles_df(spark: SparkSession, role: str | None) -> DataFrame:
    """information_schema.enabled_roles: the CURRENT user's member role in
    the current tenant (builder/enabled_roles.rs — single role_name
    column; an admin who is not a member sees an empty view)."""
    return spark.createDataFrame(
        [(role,)] if role else [], "role_name string"
    )


def members_df(spark: SparkSession, members: dict) -> DataFrame:
    """information_schema.members: all (user_name, role_name) members of
    the current tenant (builder/members.rs)."""
    return spark.createDataFrame(
        sorted(members.items()), "user_name string, role_name string"
    )


def database_privileges_df(
    spark: SparkSession,
    tenant: str,
    grants: list,
    roles: dict,
    only_role: str | None = None,
) -> DataFrame:
    """information_schema.database_privileges (factory/
    database_privileges.rs): all grants on this tenant's custom roles for
    owners/admins; ``only_role`` restricts a plain member to their own
    role's rows. Privileges render title-case (Read/Write/All)."""
    rows = []
    for priv, db, role in grants:
        if role not in roles:
            continue
        if only_role is not None and role != only_role:
            continue
        rows.append((tenant, db, priv.capitalize(), role))
    return spark.createDataFrame(
        sorted(rows),
        "tenant_name string, database_name string, privilege_type string, "
        "role_name string",
    )


def databases_df(spark: SparkSession, catalog, hidden: set | None = None) -> DataFrame:
    rows = []
    for db in catalog.list_databases():
        if hidden and db in hidden:
            continue
        opts = catalog.database_options(db)
        rows.append((catalog.tenant, db, *db_options_row(opts)))
    # 13 columns, exactly the reference's information_schema.DATABASES
    # shape (sys_table/information_schema/databases.slt:53)
    schema = (
        "tenant_name string, database_name string, ttl string, shard bigint, "
        "vnode_duration string, replica bigint, precision string, "
        "max_memcache_size string, memcache_partitions bigint, "
        "wal_max_file_size string, wal_sync boolean, strict_write boolean, "
        "max_cache_readers bigint"
    )
    return spark.createDataFrame(rows or [], schema)


def tables_df(
    spark: SparkSession, catalog, external: dict, streams: dict,
    external_dbs: dict | None = None,
) -> DataFrame:
    rows = []
    for db in catalog.list_databases():
        if db == "usage_schema":
            continue  # reference lists usage tables via columns, not here
        for t in catalog.list_tables(db):
            rows.append((catalog.tenant, db, t, "BASE TABLE", "TSKV"))
    for t in external:
        rows.append((
            catalog.tenant, (external_dbs or {}).get(t, "public"), t,
            "EXTERNAL", external[t][0].upper(),
        ))
    for t, st in streams.items():
        rows.append((
            catalog.tenant, getattr(st, "home_db", "public"), t,
            "STREAM", "TSKV",
        ))
    return spark.createDataFrame(
        rows,
        "table_tenant string, table_database string, table_name string, "
        "table_type string, table_engine string",
    )


def columns_df(spark: SparkSession, catalog) -> DataFrame:
    rows = []
    for db in catalog.list_databases():
        for t in catalog.list_tables(db):
            schema = catalog.get_schema(db, t)
            rows.append((db, t, TIME_COL, "TIME", "TIMESTAMP"))
            for tag in schema.tags:
                rows.append((db, t, tag, "TAG", "STRING"))
            for f, ftype in schema.fields.items():
                rows.append((db, t, f, "FIELD", ftype.upper()))
    return spark.createDataFrame(
        rows,
        "database_name string, table_name string, column_name string, "
        "column_type string, data_type string",
    )


class QueryTracker:
    """SHOW QUERIES / KILL QUERY over streaming query handles
    (reference dispatcher/query_tracker.rs + SHOW QUERIES planner path)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def queries_df(self) -> DataFrame:
        rows = []
        for q in self.spark.streams.active:
            rows.append(
                (
                    str(q.id),
                    q.name or "",
                    "STREAM",
                    "RUNNING" if q.isActive else "DONE",
                )
            )
        return self.spark.createDataFrame(
            rows, "query_id string, query_text string, query_type string, state string"
        )

    def kill(self, query_id: str) -> bool:
        for q in self.spark.streams.active:
            if str(q.id) == query_id or (q.name and q.name == query_id):
                q.stop()
                return True
        return False
