"""information_schema + SHOW QUERIES / KILL QUERY (cases/sys_table/*.slt)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cnosdb_spark.engine import Engine


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "wh"))
    e.sql("CREATE DATABASE db1")
    e.sql("CREATE TABLE db1.m(f0 DOUBLE, f1 BIGINT, TAGS(host))")
    return e


def test_information_schema_tables(eng):
    rows = eng.sql(
        "SELECT table_database, table_name, table_engine FROM information_schema.tables "
        "WHERE table_database = 'db1'"
    ).collect()
    assert [(r[0], r[1], r[2]) for r in rows] == [("db1", "m", "TSKV")]


def test_information_schema_columns(eng):
    rows = eng.sql(
        "SELECT column_name, column_type, data_type FROM information_schema.columns "
        "WHERE table_name = 'm' ORDER BY column_name"
    ).collect()
    got = {(r[0], r[1]) for r in rows}
    assert got == {("time", "TIME"), ("host", "TAG"), ("f0", "FIELD"), ("f1", "FIELD")}


def test_information_schema_databases(eng):
    dbs = {r["database_name"] for r in eng.sql(
        "SELECT database_name FROM information_schema.databases"
    ).collect()}
    assert {"public", "db1"} <= dbs


def test_show_and_kill_queries(eng, spark, tmp_path):
    src = str(tmp_path / "stream_src")
    from datetime import datetime

    spark.createDataFrame(
        [(datetime(2024, 1, 1), 1.0)], "time timestamp, v double"
    ).write.parquet(src)
    sdf = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        sdf.groupBy().count().writeStream.outputMode("complete")
        .format("memory").queryName("tracked_q").trigger(processingTime="10 seconds")
        .start()
    )
    try:
        rows = eng.sql("SHOW QUERIES").collect()
        assert any(r["query_text"] == "tracked_q" for r in rows)
        killed = eng.sql("KILL QUERY 'tracked_q'").collect()[0]["killed"]
        assert killed
        q.awaitTermination(60)
        assert not q.isActive
    finally:
        if q.isActive:
            q.stop()


def _sys_views(spark) -> list[str]:
    return sorted(
        t.name for t in spark.catalog.listTables()
        if t.name.startswith(("__information_schema__", "__cluster_schema__"))
    )


def test_warm_select_builds_no_system_view(eng, spark, monkeypatch):
    """A statement that names no system table builds none: no driver-side
    frame, no ``__information_schema__*`` / ``__cluster_schema__*`` view."""
    eng.sql("INSERT INTO db1.m(time, host, f0, f1) VALUES ('2024-01-01 00:00:01', 'h1', 1.5, 2)")
    q = "SELECT host, f0 FROM db1.m"
    eng.sql(q).collect()  # warm: the table's view is built
    for v in _sys_views(spark):
        spark.catalog.dropTempView(v)
    calls = []
    orig = type(spark).createDataFrame

    def spy(self, *a, **k):
        calls.append(a[:1])
        return orig(self, *a, **k)

    monkeypatch.setattr(type(spark), "createDataFrame", spy)
    assert [tuple(r) for r in eng.sql(q).collect()] == [("h1", 1.5)]
    assert calls == []
    assert _sys_views(spark) == []


def test_information_schema_queries_shows_running_statement(eng):
    q = (
        "SELECT query_type, query_text, user_name, tenant_name, "
        "database_name, state FROM information_schema.queries"
    )
    assert [tuple(r) for r in eng.sql(q).collect()] == [
        ("batch", q, "root", "cnosdb", "public", "OPTIMIZING")
    ]


def test_cluster_schema_only_under_home_tenant(eng):
    q = "SELECT tenant_name FROM cluster_schema.tenants"
    eng.sql("CREATE TENANT t1")
    assert {r[0] for r in eng.sql(q).collect()} == {"cnosdb", "t1"}
    eng.set_tenant("t1")
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
        eng.sql(q).collect()


def _qualify(eng, sql: str) -> str:
    return eng._qualify(sql, eng._register_views())


def test_qualify_rewrites_known_tables_only(eng):
    eng.sql("CREATE TABLE t(f0 DOUBLE, TAGS(k))")
    cases = {
        # current database → the bare view; another database → __db__table
        "SELECT * FROM public.t": "SELECT * FROM t",
        "SELECT db1.m.f0 FROM db1.m": "SELECT __db1__m.f0 FROM __db1__m",
        # quoted regions are never rewritten
        "SELECT 'db1.m', \"db1.m\" FROM db1.m": "SELECT 'db1.m', \"db1.m\" FROM __db1__m",
        # struct fields, aliases and unknown tables stay
        "SELECT w.start, x.f0 FROM db1.m x": "SELECT w.start, x.f0 FROM __db1__m x",
        "SELECT * FROM db1.nope, nope.m, db1.m1": "SELECT * FROM db1.nope, nope.m, db1.m1",
        # in a.b.c only b.c is a table: a.b must not hide it
        "SELECT a.db1.m, a.public.t": "SELECT a.__db1__m, a.t",
        "SELECT 1 FROM INFORMATION_SCHEMA.Tables, cluster_schema.users": (
            "SELECT 1 FROM __information_schema__Tables, __cluster_schema__users"
        ),
        "SELECT 1 FROM usage_schema.coord_queries": (
            "SELECT 1 FROM __usage_schema__coord_queries"
        ),
    }
    assert {sql: _qualify(eng, sql) for sql in cases} == cases
