"""End-to-end SQL engine tests replaying reference slt scenarios:
the SURVEY §7.2 minimum slice (time_window.slt), only_tag_col distinct
semantics, repeat_write LWW, DDL/DML round trips, COPY, SHOW."""

from __future__ import annotations

import os
from datetime import datetime

import pytest

from cnosdb_spark.engine import Engine
from cnosdb_spark.sql.rewriter import rewrite_dql


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


def test_minimum_slice_time_window(eng):
    """SURVEY §7.2: CREATE TABLE m2 → INSERT 8 rows → time_window GROUP BY
    (cases/function/time_window.slt:49-60 semantics)."""
    eng.sql("CREATE TABLE m2(f0 BIGINT, f1 DOUBLE, TAGS(t0, t1))")
    eng.sql(
        """INSERT INTO m2(time, t0, t1, f0, f1) VALUES
        ('1999-12-31 00:00:00.000', 'tag11', 'tag21', 111, 444.0),
        ('1999-12-31 00:00:00.005', 'tag12', 'tag22', 222, 333.0),
        ('1999-12-31 00:00:00.010', 'tag11', 'tag21', 333, 222.0),
        ('1999-12-31 00:00:00.015', 'tag12', 'tag22', 444, 111.0)"""
    )
    out = eng.sql(
        """SELECT time_window(time, interval '10 milliseconds') AS w, t0, avg(f1) AS a
           FROM m2 GROUP BY w, t0 ORDER BY w.start, t0"""
    ).collect()
    assert len(out) == 4
    assert out[0]["t0"] == "tag11" and out[0]["a"] == 444.0
    # sliding variant → Expand (overlapping windows)
    out2 = eng.sql(
        """SELECT time_window(time, interval '10 milliseconds',
                              interval '5 milliseconds') AS w, count(*) AS n
           FROM m2 GROUP BY w ORDER BY w.start"""
    ).collect()
    assert sum(r["n"] for r in out2) == 8  # each row in exactly 2 windows


def test_repeat_write_lww(eng):
    """cases/sqlancer/repeat_write.slt:12-32: f0=1,f1=true then f0=2 at the
    same series+time → merged (2.0, true)."""
    eng.sql("CREATE TABLE rw(f0 DOUBLE, f1 BOOLEAN, TAGS(t0))")
    eng.sql("INSERT INTO rw(time, t0, f0, f1) VALUES ('2024-01-01 00:00:00', 'a', 1.0, true)")
    eng.sql("INSERT INTO rw(time, t0, f0) VALUES ('2024-01-01 00:00:00', 'a', 2.0)")
    rows = eng.sql("SELECT f0, f1 FROM rw").collect()
    assert len(rows) == 1
    assert rows[0]["f0"] == 2.0 and rows[0]["f1"] is True


def test_tag_only_select_distinct(eng):
    """cases/dql/only_tag_col.slt: tag-only SELECT returns DISTINCT series
    (rewrite_tag_scan.rs is a semantic rewrite, not an optimization)."""
    eng.sql("CREATE TABLE m3(f0 BIGINT, TAGS(t0))")
    eng.sql(
        """INSERT INTO m3(time, t0, f0) VALUES
        ('2024-01-01 00:00:00.101', 'a', 1), ('2024-01-01 00:00:00.102', 'a', 2),
        ('2024-01-01 00:00:00.101', 'b', 3), ('2024-01-01 00:00:00.102', 'b', 4)"""
    )
    rows = eng.sql("SELECT DISTINCT t0 FROM m3 ORDER BY t0").collect()
    assert [r["t0"] for r in rows] == ["a", "b"]


def test_first_last_topk_rewrites(eng):
    eng.sql("CREATE TABLE fx(f0 DOUBLE, TAGS(t0))")
    eng.sql(
        """INSERT INTO fx(time, t0, f0) VALUES
        ('2024-01-01 00:00:01', 'a', 5.0), ('2024-01-01 00:00:02', 'a', 9.0),
        ('2024-01-01 00:00:03', 'a', 1.0), ('2024-01-01 00:00:01', 'b', 7.0)"""
    )
    r = eng.sql("SELECT t0, first(time, f0) AS fv, last(time, f0) AS lv FROM fx GROUP BY t0 ORDER BY t0").collect()
    assert (r[0]["fv"], r[0]["lv"]) == (5.0, 1.0)
    top = eng.sql("SELECT topk(f0, 2) FROM fx").collect()
    assert sorted(x[0] for x in top) == [7.0, 9.0]
    bot = eng.sql("SELECT bottom(f0, 1) FROM fx").collect()
    assert [x[0] for x in bot] == [1.0]
    with pytest.raises(ValueError, match=r"\[1, 255\]"):
        eng.sql("SELECT topk(f0, 256) FROM fx")
    with pytest.raises(ValueError, match="one topk"):
        eng.sql("SELECT topk(f0, 2), bottom(f0, 2) FROM fx")


def test_update_delete(eng):
    eng.sql("CREATE TABLE ud(f0 DOUBLE, TAGS(t0))")
    eng.sql(
        """INSERT INTO ud(time, t0, f0) VALUES
        ('2024-01-01 00:00:01', 'a', 1.0), ('2024-01-01 00:00:02', 'b', 2.0),
        ('2024-01-01 00:00:03', 'c', 3.0)"""
    )
    n = eng.sql("UPDATE ud SET f0 = f0 * 10 WHERE t0 = 'b'").collect()[0]["rows"]
    assert n == 1
    vals = {r["t0"]: r["f0"] for r in eng.sql("SELECT t0, f0 FROM ud").collect()}
    assert vals == {"a": 1.0, "b": 20.0, "c": 3.0}
    # DELETE predicates may touch tags/time only (dml/delete.slt:76 —
    # the reference's coordinator rejects field conditions)
    with pytest.raises(ValueError, match="tag and time columns"):
        eng.sql("DELETE FROM ud WHERE f0 > 5")
    n = eng.sql("DELETE FROM ud WHERE t0 = 'b'").collect()[0]["rows"]
    assert n == 1
    assert eng.sql("SELECT count(*) AS n FROM ud").collect()[0]["n"] == 2


def test_update_where_on_set_column(eng):
    """WHERE must be evaluated against the PRE-update value: `SET f0=0
    WHERE f0>5` matches the old f0 (and reports the matched count), and a
    second assignment must not observe the first one's new value."""
    eng.sql("CREATE TABLE ud2(f0 DOUBLE, f1 DOUBLE, TAGS(t0))")
    eng.sql(
        """INSERT INTO ud2(time, t0, f0, f1) VALUES
        ('2024-01-01 00:00:01', 'a', 10.0, 1.0),
        ('2024-01-01 00:00:02', 'b', 3.0, 2.0)"""
    )
    n = eng.sql("UPDATE ud2 SET f0 = 0 WHERE f0 > 5").collect()[0]["rows"]
    assert n == 1  # matched on old f0=10, not the new 0
    vals = {r["t0"]: r["f0"] for r in eng.sql("SELECT t0, f0 FROM ud2").collect()}
    assert vals == {"a": 0.0, "b": 3.0}
    # swap-style multi-assignment: both rhs read the original snapshot
    eng.sql("UPDATE ud2 SET f0 = f1, f1 = f0 WHERE t0 = 'b'")
    row = eng.sql("SELECT f0, f1 FROM ud2 WHERE t0 = 'b'").collect()[0]
    assert (row["f0"], row["f1"]) == (2.0, 3.0)


def test_drop_qualified_table_keeps_current_db_view(eng):
    """DROP TABLE db.tbl must drop the mangled view, not the bare-name view
    of the current database's same-named table."""
    eng.sql("CREATE TABLE shared(f0 DOUBLE, TAGS(t0))")
    eng.sql("INSERT INTO shared(time, t0, f0) VALUES ('2024-01-01 00:00:01', 'x', 1.0)")
    eng.sql("CREATE DATABASE other")
    eng.sql("CREATE TABLE other.shared(f0 DOUBLE, TAGS(t0))")
    eng.sql("DROP TABLE other.shared")
    # current-db table still queryable through its (bare) view
    assert eng.sql("SELECT count(*) AS n FROM shared").collect()[0]["n"] == 1
    eng.sql("CREATE DATABASE d3")
    eng.sql("CREATE TABLE d3.t1(f0 DOUBLE, TAGS(t0))")
    eng.sql("DROP DATABASE d3")
    assert "d3" not in eng.catalog.list_databases()


def test_string_literal_not_qualified(eng):
    """A literal 'db.tbl' inside a string must not be rewritten by
    _qualify even when db.tbl is a known table."""
    eng.sql("CREATE DATABASE db9")
    eng.sql("CREATE TABLE db9.t1(f0 DOUBLE, TAGS(t0))")
    row = eng.sql("SELECT 'db9.t1' AS s").collect()[0]
    assert row["s"] == "db9.t1"


def test_show_statements(eng):
    eng.sql("CREATE DATABASE db2")
    eng.sql("CREATE TABLE db2.m(f0 DOUBLE, TAGS(host, region))")
    eng.sql(
        """INSERT INTO db2.m(time, host, region, f0) VALUES
        ('2024-01-01 00:00:01', 'h1', 'eu', 1.0),
        ('2024-01-01 00:00:02', 'h2', 'eu', 2.0)"""
    )
    dbs = [r["database_name"] for r in eng.sql("SHOW DATABASES").collect()]
    assert "db2" in dbs and "public" in dbs
    tbls = [r["table_name"] for r in eng.sql("SHOW TABLES ON db2").collect()]
    assert tbls == ["m"]
    series = [r["key"] for r in eng.sql("SHOW SERIES ON db2 FROM m").collect()]
    assert series == ["m,host=h1,region=eu", "m,host=h2,region=eu"]
    filtered = [
        r["key"] for r in eng.sql("SHOW SERIES ON db2 FROM m WHERE host = 'h1'").collect()
    ]
    assert filtered == ["m,host=h1,region=eu"]
    tv = [
        (r["key"], r["value"])
        for r in eng.sql('SHOW TAG VALUES ON db2 FROM m WITH KEY IN ("host", "region")').collect()
    ]
    assert tv == [("host", "h1"), ("host", "h2"), ("region", "eu")]


def test_external_table_and_copy(eng, spark, tmp_path):
    src = str(tmp_path / "ext.csv")
    with open(src, "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    eng.sql(f"CREATE EXTERNAL TABLE ext STORED AS CSV WITH HEADER ROW LOCATION '{src}'")
    rows = eng.sql("SELECT a, b FROM ext ORDER BY a").collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, "x"), (2, "y")]

    out_dir = str(tmp_path / "out_parquet")
    eng.sql(f"COPY INTO '{out_dir}' FROM (SELECT a, b FROM ext) FILE_FORMAT = (TYPE = 'PARQUET')")
    assert spark.read.parquet(out_dir).count() == 2

    eng.sql("CREATE TABLE imp(a BIGINT, TAGS(b))")
    csv2 = str(tmp_path / "imp.csv")
    with open(csv2, "w") as f:
        f.write("time,b,a\n2024-01-01 00:00:01,x,5\n")
    n = eng.sql(
        f"COPY INTO imp FROM '{csv2}' FILE_FORMAT = (TYPE = 'CSV' WITH HEADER ROW)"
    ).collect()[0]["rows"]
    assert n == 1
    assert eng.sql("SELECT a FROM imp").collect()[0]["a"] == 5


def test_ttl_applied_via_sql(eng):
    """Write-time: inserting beyond the retention window is rejected at
    bucket creation (reference meta 'create expired bucket'); read-time:
    shrinking the TTL via ALTER DATABASE hides rows already written
    (catalog.read's retention filter, reference tskv read-path TTL)."""
    eng.sql("CREATE DATABASE short WITH TTL '1h'")
    eng.sql("CREATE TABLE short.t(f0 DOUBLE, TAGS(t0))")
    with pytest.raises(ValueError, match="expired bucket"):
        eng.sql(
            "INSERT INTO short.t(time, t0, f0) VALUES ('2000-01-01 00:00:00', 'old', 1.0)"
        )
    eng.sql(
        "INSERT INTO short.t(time, t0, f0) VALUES (now() - INTERVAL 30 MINUTES, 'mid', 1.5)"
    )
    eng.sql("INSERT INTO short.t(time, t0, f0) VALUES (now(), 'new', 2.0)")
    rows = eng.sql("SELECT t0 FROM short.t ORDER BY t0").collect()
    assert [r["t0"] for r in rows] == ["mid", "new"]
    # shrink retention below the 30-min-old row's age: read filter hides it
    eng.sql("ALTER DATABASE short SET TTL '10m'")
    rows = eng.sql("SELECT t0 FROM short.t").collect()
    assert [r["t0"] for r in rows] == ["new"]


def test_stream_table_ddl(eng):
    eng.sql("CREATE TABLE src(f0 DOUBLE, TAGS(t0))")
    eng.sql("INSERT INTO src(time, t0, f0) VALUES ('2024-01-01 00:00:01', 'a', 1.0)")
    eng.sql(
        "CREATE STREAM TABLE st WITH (db='public', table='src', "
        "event_time_column='time') engine=tskv"
    )
    assert "st" in eng.streams
    sdf = eng.streams["st"].read(eng.spark)
    assert sdf.isStreaming


def test_explain_and_errors(eng):
    eng.sql("CREATE TABLE e1(f0 DOUBLE, TAGS(t0))")
    plan = eng.sql("EXPLAIN SELECT t0, count(*) FROM e1 GROUP BY t0").collect()[0]["plan"]
    assert "HashAggregate" in plan or "Aggregate" in plan
    with pytest.raises(ValueError, match="exactly one statement"):
        eng.sql("SELECT 1; SELECT 2")
    with pytest.raises(ValueError, match="unsupported statement"):
        eng.sql("VACUUM everything")
    # GRANT is now DCL surface; a malformed one errors as such
    with pytest.raises(ValueError, match="cannot parse DCL"):
        eng.sql("GRANT ALL ON x TO y")


def test_rewriter_units():
    assert (
        rewrite_dql("SELECT time_window(time, interval '10 milliseconds') FROM t")
        == "SELECT window(time, '10 milliseconds') FROM t"
    )
    assert (
        rewrite_dql("SELECT first(time, f0), last(time, f1) FROM t")
        == "SELECT min_by(f0, time), max_by(f1, time) FROM t"
    )
    assert rewrite_dql("SELECT exact_count(f0) FROM t") == "SELECT count(f0) FROM t"
    # Spark's first_value window fn untouched
    assert rewrite_dql("SELECT first_value(x) OVER (ORDER BY t) FROM t").count("first_value") == 1
    # reference signature is strictly (time, value): one-arg first() is a
    # planning error (function/common/first.slt:11)
    with pytest.raises(ValueError, match="No function matches"):
        rewrite_dql("SELECT first(x) FROM t")


def test_write_lines_schemaless(eng):
    """api/v1/write parity: line-protocol writes auto-create the table,
    distinguish tags from string fields, and merge new columns."""
    n = eng.write_lines(
        'weather,city=berlin temp=21.5,desc="mild" 1700000000000000000\n'
        "weather,city=paris temp=25.0 1700000100000000000\n"
    )
    assert n == {"weather": 2}
    schema = eng.catalog.get_schema("public", "weather")
    assert schema.tags == ["city"]
    assert schema.fields == {"temp": "double", "desc": "string"}
    rows = eng.sql("SELECT city, temp, desc FROM weather ORDER BY city").collect()
    assert rows[0]["city"] == "berlin" and rows[0]["desc"] == "mild"
    # second write adds a new field column (schema evolution)
    eng.write_lines("weather,city=rome temp=30.0,humidity=40.0 1700000200000000000\n")
    schema = eng.catalog.get_schema("public", "weather")
    assert "humidity" in schema.fields and schema.schema_version == 2
    rows = eng.sql(
        "SELECT city, humidity FROM weather WHERE city = 'rome'"
    ).collect()
    assert rows[0]["humidity"] == 40.0


def test_write_lines_type_conflicts_in_one_request(eng):
    """A key whose kind differs between lines of one request resolves
    widest-wins (bool < int < float < str) and tag-wins (as a string),
    whatever the line order, and every value is stored coerced — the
    last-line-wins rule typed the column from the last line and the
    executor rejected the other lines' values."""
    assert eng.write_lines("m v=3i 1000\nm v=4.5 2000") == {"m": 2}
    assert eng.catalog.get_schema("public", "m").fields == {"v": "double"}
    rows = eng.sql("SELECT v FROM m ORDER BY time").collect()
    assert [r["v"] for r in rows] == [3.0, 4.5]

    assert eng.write_lines("mb v=true 1\nmb v=3i 2") == {"mb": 2}
    assert eng.catalog.get_schema("public", "mb").fields == {"v": "bigint"}
    rows = eng.sql("SELECT v FROM mb ORDER BY time").collect()
    assert [r["v"] for r in rows] == [1, 3]

    assert eng.write_lines("mt,t=a v=1 1\nmt t=7i,v=2 2") == {"mt": 2}
    schema = eng.catalog.get_schema("public", "mt")
    assert schema.tags == ["t"] and schema.fields == {"v": "double"}
    rows = eng.sql("SELECT t FROM mt ORDER BY time").collect()
    assert [r["t"] for r in rows] == ["a", "7"]


def test_write_lines_conflicts_with_stored_schema(eng):
    """A schemaless write is checked against the stored schema before any
    work: a field arriving as a tag, or with a kind wider than its stored
    type (bool < int < float < str), is a ValueError naming the table,
    the column and both types, and the request writes nothing and changes
    no schema. Narrower kinds are widened on write."""
    assert eng.write_lines("m v=4.5 1000") == {"m": 1}
    assert eng.write_lines("mi c=1i 1000\nmb f=true 1000") == {"mi": 1, "mb": 1}
    for lines, pattern in [
        ('m v="x" 4000', "m.*v.*DOUBLE.*STRING"),
        ("m,v=a w=1 5000", "m.*v.*DOUBLE.*tag"),
        ("mi c=1.5 2000", "mi.*c.*BIGINT.*DOUBLE"),
        ("mb f=1i 2000", "mb.*f.*BOOLEAN.*BIGINT"),
        # a conflict in one table rejects the whole request
        ('n x=1 2000\nm v="x" 2000', "m.*v.*DOUBLE.*STRING"),
    ]:
        with pytest.raises(ValueError, match=pattern):
            eng.write_lines(lines)
    assert "n" not in eng.catalog.list_tables("public")
    schema = eng.catalog.get_schema("public", "m")
    assert schema.tags == [] and schema.fields == {"v": "double"}

    assert eng.write_lines("m v=7i 2000\nm v=true 3000") == {"m": 2}
    rows = eng.sql("SELECT v FROM m ORDER BY time").collect()
    assert [r["v"] for r in rows] == [4.5, 7.0, 1.0]
    assert [r["c"] for r in eng.sql("SELECT c FROM mi").collect()] == [1]


def _ts_gen_rows(eng, sql):
    """(dtypes, [(µs after 2024-01-01, value rounded to 9 places)]) of a
    ts_gen_func statement, in the order Engine.sql returns them."""
    import datetime as dt

    base, us = dt.datetime(2024, 1, 1), dt.timedelta(microseconds=1)
    df = eng.sql(sql)
    rows = [
        ((t - base) // us, None if v is None else round(v, 9))
        for t, v in df.collect()
    ]
    return df.dtypes, rows


def _ts_gen_tables(eng):
    # r: 10 points, two with no v (NULL), a spike at 00:01:00, irregular
    # gaps; iv is a BIGINT field. tr: intervals whose mode (10 s) and
    # median (15 s) differ.
    eng.sql("CREATE TABLE r(v DOUBLE, iv BIGINT, TAGS(t0))")
    eng.sql(
        """INSERT INTO r(time, t0, v, iv) VALUES
        ('2024-01-01 00:00:00', 'a', 1.0, 10), ('2024-01-01 00:00:10', 'a', 2.0, 20),
        ('2024-01-01 00:00:21', 'a', 4.0, 30), ('2024-01-01 00:00:30', 'a', 3.0, 40),
        ('2024-01-01 00:00:50', 'a', 5.0, 50), ('2024-01-01 00:01:00', 'a', 100.0, 60),
        ('2024-01-01 00:01:09', 'a', 7.0, 70), ('2024-01-01 00:01:20', 'a', 6.0, 80)"""
    )
    eng.sql(
        """INSERT INTO r(time, t0, iv) VALUES
        ('2024-01-01 00:00:40', 'a', 45), ('2024-01-01 00:01:30', 'a', 90)"""
    )
    eng.sql("CREATE TABLE tr(v DOUBLE, TAGS(t0))")
    secs = [0, 10, 20, 30, 45, 60, 75, 90, 100]
    eng.sql(
        "INSERT INTO tr(time, t0, v) VALUES "
        + ", ".join(
            f"('2024-01-01 00:{s // 60:02d}:{s % 60:02d}', 'a', {i + 1}.0)"
            for i, s in enumerate(secs)
        )
    )


def test_ts_gen_func_sql_surface(eng):
    """SELECT timestamp_repair|value_fill|value_repair(time, value[, params])
    (function/data_repair.slt shapes): rows, order and schema pinned for
    every method and parameter the surface accepts."""
    _ts_gen_tables(eng)
    S = 1_000_000
    dbl = [("time", "timestamp"), ("v", "double")]
    obs = [0, 10, 21, 30, 40, 50, 60, 69, 80, 90]

    def filled(mid, last):
        return list(zip([s * S for s in obs], [1.0, 2.0, 4.0, 3.0, mid, 5.0, 100.0, 7.0, 6.0, last]))

    linear = filled(4.0, 6.0)
    assert _ts_gen_rows(eng, "SELECT value_fill(time, v) FROM r") == (dbl, linear)
    for method, rows in [
        ("linear", linear),
        ("mean", filled(16.0, 16.0)),
        ("previous", filled(3.0, 6.0)),
        ("ar", filled(23.351428961, 22.813550533)),
        ("ma", filled(23.0, 6.333333333)),
    ]:
        got = _ts_gen_rows(eng, f"SELECT value_fill(time, v, 'method={method}') FROM r")
        assert got == (dbl, rows), method

    # BIGINT value column → DOUBLE output
    assert _ts_gen_rows(
        eng, "SELECT value_fill(time, iv) FROM r WHERE time > '2024-01-01 00:00:05'"
    ) == (
        [("time", "timestamp"), ("iv", "double")],
        list(zip([s * S for s in obs[1:]], [20.0, 30.0, 40.0, 45.0, 50.0, 60.0, 70.0, 80.0, 90.0])),
    )
    assert _ts_gen_rows(eng, "SELECT value_repair(time, iv) FROM r") == (
        [("time", "timestamp"), ("iv", "double")],
        list(zip(
            [s * S for s in obs],
            [10.0, 20.0, 30.0, 40.0, 45.956545455, 51.913090909, 60.0, 70.0, 80.0, 90.0],
        )),
    )

    screened = list(zip(
        [s * S for s in obs],
        [1.0, 2.0, 4.0, 3.0, 4.0, 5.0, 10.4478, 7.34478, 6.0, 6.0],
    ))
    assert _ts_gen_rows(eng, "SELECT value_repair(time, v) FROM r") == (dbl, screened)
    assert _ts_gen_rows(
        eng, "SELECT value_repair(time, v, 'method=screen') FROM r"
    ) == (dbl, screened)
    assert _ts_gen_rows(
        eng, "SELECT value_repair(time, v, 'min_speed=-0.2&max_speed=0.2') FROM r"
    ) == (dbl, list(zip(
        [s * S for s in obs], [1.0, 2.0, 4.0, 3.0, 4.0, 5.0, 7.0, 7.0, 6.0, 6.0]
    )))

    # r: every interval method finds 10 s; the NULL-valued points stay
    # NULL and 00:00:21 / 00:01:09 snap onto the grid
    snapped = list(zip(
        [s * 10 * S for s in range(10)],
        [1.0, 2.0, 4.0, 3.0, None, 5.0, 100.0, 7.0, 6.0, None],
    ))
    assert _ts_gen_rows(eng, "SELECT timestamp_repair(time, v) FROM r") == (dbl, snapped)

    ten = list(zip(
        [s * 10 * S for s in range(11)],
        [1.0, 2.0, 3.0, 4.0, 5.0, None, 6.0, 7.0, None, 8.0, 9.0],
    ))
    fifteen = list(zip(
        [s * 15 * S for s in range(8)], [1.0, 2.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0]
    ))
    twenty = list(zip(
        [s * 20 * S for s in range(6)], [1.0, 3.0, 5.0, 6.0, 7.0, 9.0]
    ))
    for params, rows in [
        (None, fifteen),
        ("method=median", fifteen),
        ("method=mode", ten),
        ("method=cluster", ten),
        ("interval=20000", twenty),
        ("interval=20000&start_mode=mode", twenty),
        ("method=mode&start_mode=linear", list(zip(
            [7_777_777 + s * 10 * S for s in range(11)],
            [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, None, 7.0, 8.0, 9.0, None],
        ))),
        ("interval=20000&start_mode=linear", list(zip(
            [-32_222_223 + s * 20 * S for s in range(8)],
            [1.0, 2.0, 3.0, 4.0, 5.0, 7.0, 8.0, 9.0],
        ))),
    ]:
        arg = "" if params is None else f", '{params}'"
        got = _ts_gen_rows(eng, f"SELECT timestamp_repair(time, v{arg}) FROM tr")
        assert got == (dbl, rows), params


def test_ts_gen_func_sql_errors(eng):
    """Argument and data errors of the ts_gen_func surface carry the
    reference's messages (ts_gen_func/utils.rs, data_repair/*.rs)."""
    _ts_gen_tables(eng)
    with pytest.raises(ValueError, match="unknown field `foo`, expected one of `method`"):
        eng.sql("SELECT value_fill(time, v, 'foo=1') FROM r")
    with pytest.raises(ValueError, match="duplicate field `method`"):
        eng.sql("SELECT value_fill(time, v, 'method=mean&method=ar') FROM r")
    with pytest.raises(ValueError, match="Invalid fill method: bogus"):
        eng.sql("SELECT value_fill(time, v, 'method=bogus') FROM r")
    # the NULL-valued points only: raised while the statement runs
    with pytest.raises(Exception, match="All values are Invalid"):
        eng.sql(
            "SELECT value_fill(time, v) FROM r WHERE time = '2024-01-01 00:00:40'"
        ).collect()
    with pytest.raises(Exception, match="At least two non-NaN values are needed"):
        eng.sql(
            "SELECT value_repair(time, v) FROM r WHERE time >= '2024-01-01 00:01:20'"
        ).collect()


def test_gapfill_sql_locf_interpolate(eng):
    """time_window_gapfill + locf/interpolate SQL surface
    (cases/function/gapfill-style queries)."""
    eng.sql("CREATE TABLE gf(f1 DOUBLE, TAGS(t0))")
    eng.sql(
        """INSERT INTO gf(time, t0, f1) VALUES
        ('2024-01-01 00:00:00', 'a', 10.0),
        ('2024-01-01 00:00:30', 'a', 30.0),
        ('2024-01-01 00:00:00', 'b', 100.0),
        ('2024-01-01 00:00:20', 'b', 200.0)"""
    )
    rows = eng.sql(
        """SELECT time_window_gapfill(time, interval '10 seconds') AS w, t0,
                  locf(avg(f1)) AS locf_v, interpolate(avg(f1)) AS interp_v
           FROM gf GROUP BY w, t0 ORDER BY t0, w"""
    ).collect()
    a = [(r["locf_v"], r["interp_v"]) for r in rows if r["t0"] == "a"]
    # buckets 00, 10, 20, 30 for series a: actual at 00 and 30
    # locf: 10, 10, 10, 30 ; interpolate: 10, 16.67, 23.33, 30
    assert [x[0] for x in a] == [10.0, 10.0, 10.0, 30.0]
    assert [round(x[1], 2) for x in a] == [10.0, 16.67, 23.33, 30.0]
    b = [r["locf_v"] for r in rows if r["t0"] == "b"]
    assert b == [100.0, 100.0, 200.0]


def test_describe_table_and_database(eng):
    """ddl/describe_table.slt + describe_database.slt shapes."""
    eng.sql(
        """CREATE TABLE dt(column1 BIGINT CODEC(DELTA), column2 STRING CODEC(GZIP),
        column3 BIGINT UNSIGNED CODEC(NULL), column4 BOOLEAN,
        column5 DOUBLE CODEC(GORILLA), TAGS(column6, column7))"""
    )
    rows = {
        r["column_name"]: (r["data_type"], r["column_type"], r["compression_codec"])
        for r in eng.sql("DESCRIBE TABLE dt").collect()
    }
    assert rows["time"] == ("TIMESTAMP(NANOSECOND)", "TIME", "DEFAULT")
    assert rows["column1"] == ("BIGINT", "FIELD", "DELTA")
    assert rows["column2"] == ("STRING", "FIELD", "GZIP")
    assert rows["column3"] == ("BIGINT UNSIGNED", "FIELD", "NULL")
    assert rows["column4"] == ("BOOLEAN", "FIELD", "DEFAULT")
    assert rows["column5"] == ("DOUBLE", "FIELD", "GORILLA")
    assert rows["column6"] == ("STRING", "TAG", "DEFAULT")
    eng.sql("CREATE DATABASE ddb WITH TTL '100000d'")
    row = eng.sql("DESCRIBE DATABASE ddb").collect()[0]
    # ttl renders humantime-style like the reference (duration.rs:23)
    assert row["ttl"] == "273years 9months 12days 18h 57m 36s"
    assert row["shard"] == 1 and row["precision"] == "NS"
    with pytest.raises(ValueError):
        eng.sql("DESCRIBE DATABASE nope")


def test_alter_rename_column_and_codec(eng):
    """ddl/rename_field.slt + rename_tag.slt + alter_codec.slt."""
    eng.sql("CREATE TABLE rn(f0 BIGINT, f1 BIGINT, TAGS(t0))")
    eng.sql("INSERT INTO rn(time, t0, f0, f1) VALUES ('2024-01-01 00:00:01', 'a', 1, 2)")
    eng.sql("ALTER TABLE rn RENAME COLUMN f0 TO f0009")
    rows = eng.sql("SELECT t0, f0009, f1 FROM rn").collect()
    assert rows[0]["f0009"] == 1
    with pytest.raises(ValueError):
        eng.sql("ALTER TABLE rn RENAME COLUMN f1 TO f0009")  # exists
    with pytest.raises(ValueError):
        eng.sql("ALTER TABLE rn RENAME COLUMN time TO t_x")  # time column
    eng.sql("ALTER TABLE rn RENAME COLUMN f0009 TO f0")
    # tag rename keeps data + series index
    eng.sql("ALTER TABLE rn RENAME COLUMN t0 TO station")
    assert eng.sql("SELECT station, f0 FROM rn").collect()[0]["station"] == "a"
    assert [r["key"] for r in eng.sql("SHOW SERIES FROM rn").collect()] == [
        "rn,station=a"
    ]
    # codec alter: valid for type, then the reference's rejection case
    eng.sql("CREATE TABLE air2(pressure DOUBLE, TAGS(station))")
    eng.sql("ALTER TABLE air2 ALTER pressure SET CODEC(GORILLA)")
    desc = {r["column_name"]: r["compression_codec"]
            for r in eng.sql("DESC TABLE air2").collect()}
    assert desc["pressure"] == "GORILLA"
    with pytest.raises(ValueError, match="Unsupported encoding"):
        eng.sql("ALTER TABLE air2 ALTER pressure SET CODEC(SNAPPY)")


def test_dcl_and_session_functions(eng):
    """dcl/*.slt surface + session_function/ context fns."""
    with pytest.raises(ValueError):
        eng.sql("DROP USER root")
    with pytest.raises(ValueError):
        eng.sql("ALTER USER root SET granted_admin = true")
    eng.sql("CREATE USER IF NOT EXISTS u1")
    eng.sql("CREATE TENANT IF NOT EXISTS t1")
    eng.sql("ALTER TENANT t1 ADD USER u1 AS member")
    assert eng.tenants["t1"]["members"]["u1"] == "member"
    eng.sql("CREATE ROLE r1 INHERIT member")
    eng.sql("GRANT READ ON DATABASE public TO ROLE r1")
    users = [r["user_name"] for r in eng.sql("SHOW USERS").collect()]
    assert {"root", "u1"} <= set(users)
    tenants = [r["tenant_name"] for r in eng.sql("SHOW TENANTS").collect()]
    assert {"cnosdb", "t1"} <= set(tenants)
    eng.sql("REVOKE READ ON DATABASE public FROM ROLE r1")
    eng.sql("DROP ROLE r1")
    eng.sql("DROP USER u1")
    eng.sql("DROP TENANT t1")
    row = eng.sql(
        "SELECT current_user() AS u, current_role() AS r, "
        "current_tenant() AS t, current_database() AS d"
    ).collect()[0]
    # current_role is NULL for admins — they are not tenant members
    # (current_role.rs:16, function/session.slt:35)
    assert (row["u"], row["r"], row["t"], row["d"]) == (
        "root", None, "cnosdb", "public"
    )


def test_approx_percentile_cont_with_weight(eng):
    """approx_agg/approx_percentile_cont_with_weight.slt shape: weighted
    percentile aggregate usable straight from SQL (grouped-agg pandas
    UDAF). Exact weighted interpolation — documented divergence from
    DataFusion's t-digest in low digits."""
    eng.sql("CREATE TABLE aww(id BIGINT, temperature DOUBLE, weight DOUBLE)")
    eng.sql(
        """INSERT INTO aww (TIME, id, temperature, weight) VALUES
        ('1999-12-31 00:00:00.000', 1, 65.0, 1.0),
        ('1999-12-31 00:00:00.001', 2, 64.5, 0.5),
        ('1999-12-31 00:00:00.002', 3, 64.9, 1.5),
        ('1999-12-31 00:00:00.003', 4, 65.1, 0.8),
        ('1999-12-31 00:00:00.004', 5, 64.7, 2.0)"""
    )
    v = eng.sql(
        "SELECT approx_percentile_cont_with_weight(temperature, weight, 0.5) AS m FROM aww"
    ).collect()[0]["m"]
    assert 64.5 <= v <= 65.1  # weighted median within data range
    lo = eng.sql(
        "SELECT approx_percentile_cont_with_weight(temperature, weight, 0.0) AS m FROM aww"
    ).collect()[0]["m"]
    hi = eng.sql(
        "SELECT approx_percentile_cont_with_weight(temperature, weight, 1.0) AS m FROM aww"
    ).collect()[0]["m"]
    assert (lo, hi) == (64.5, 65.1)
    # NULL value and NULL weight rows are ignored
    eng.sql(
        """INSERT INTO aww (TIME, id, temperature, weight) VALUES
        ('1999-12-31 00:00:00.005', 6, NULL, 1.0),
        ('1999-12-31 00:00:00.006', 7, -2.5, NULL)"""
    )
    v2 = eng.sql(
        "SELECT approx_percentile_cont_with_weight(temperature, weight, 0.5) AS m FROM aww"
    ).collect()[0]["m"]
    assert 64.5 <= v2 <= 65.1


def test_update_delete_partition_pruned(eng, tmp_path):
    """UPDATE/DELETE with a time-pruning WHERE must rewrite ONLY the
    affected _tb partitions (at 100 TB a one-day UPDATE must not rewrite
    years of history)."""
    eng.sql("CREATE TABLE pp(f0 DOUBLE, TAGS(t0))")
    eng.sql(
        """INSERT INTO pp(time, t0, f0) VALUES
        ('2024-01-01 00:00:01', 'a', 1.0), ('2024-01-02 00:00:01', 'a', 2.0),
        ('2024-01-03 00:00:01', 'a', 3.0)"""
    )
    tbl = eng.catalog.table_path("public", "pp")
    def part_files(day):
        d = os.path.join(tbl, f"_tb={day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d) if f.endswith(".parquet")
        )
    before_0101 = part_files("20240101")
    before_0103 = part_files("20240103")
    n = eng.sql(
        "UPDATE pp SET f0 = 99 WHERE time >= '2024-01-02' AND time < '2024-01-03'"
    ).collect()[0]["rows"]
    assert n == 1
    # untouched days keep their exact files
    assert part_files("20240101") == before_0101
    assert part_files("20240103") == before_0103
    got = sorted(r["f0"] for r in eng.sql("SELECT f0 FROM pp").collect())
    assert got == [1.0, 3.0, 99.0]
    n = eng.sql("DELETE FROM pp WHERE time >= '2024-01-03'").collect()[0]["rows"]
    assert n == 1
    assert part_files("20240101") == before_0101
    assert sorted(r["f0"] for r in eng.sql("SELECT f0 FROM pp").collect()) == [1.0, 99.0]


def test_vnode_duration_bucket_granularity(eng):
    """Round 11: a database's vnode_duration (the reference's time-shard
    duration) sets the _tb directory granularity AT TABLE CREATION —
    a 7-year backfill into daily buckets fans one INSERT out to ~1222
    partition dirs and becomes file-commit-bound (guide §6.2). Yearly
    buckets must keep DML + pruned-overwrite semantics identical, and a
    later ALTER must NOT re-shard an existing table (mixed granularities
    would strand rows from the pruned overwrite's affected-set match)."""
    eng.sql("CREATE DATABASE ydb WITH VNODE_DURATION '365d'")
    eng.sql("CREATE TABLE ydb.yt(f0 DOUBLE, TAGS(t0))")
    eng.sql(
        """INSERT INTO ydb.yt(time, t0, f0) VALUES
        ('1992-03-01 00:00:01', 'a', 1.0), ('1994-07-01 00:00:01', 'a', 2.0),
        ('1998-11-30 00:00:01', 'b', 3.0)"""
    )
    tbl = eng.catalog.table_path("ydb", "yt")
    dirs = sorted(e for e in os.listdir(tbl) if e.startswith("_tb="))
    assert dirs == ["_tb=1992", "_tb=1994", "_tb=1998"]
    # time-pruned UPDATE rewrites only the touched yearly bucket
    def part_files(year):
        d = os.path.join(tbl, f"_tb={year}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d) if f.endswith(".parquet")
        )
    before_1992 = part_files("1992")
    n = eng.sql(
        "UPDATE ydb.yt SET f0 = 99 WHERE time >= '1994-01-01' AND time < '1995-01-01'"
    ).collect()[0]["rows"]
    assert n == 1
    assert part_files("1992") == before_1992
    assert sorted(
        r["f0"] for r in eng.sql("SELECT f0 FROM ydb.yt").collect()
    ) == [1.0, 3.0, 99.0]
    n = eng.sql("DELETE FROM ydb.yt WHERE t0 = 'b'").collect()[0]["rows"]
    assert n == 1
    # ALTER to daily must not re-shard the existing table (granularity is
    # stamped on the table schema at creation); new rows land per-stamp
    eng.sql("ALTER DATABASE ydb SET VNODE_DURATION '1d'")
    eng.sql(
        "INSERT INTO ydb.yt(time, t0, f0) VALUES ('1999-01-05 00:00:01', 'c', 4.0)"
    )
    dirs = sorted(e for e in os.listdir(tbl) if e.startswith("_tb="))
    assert dirs == ["_tb=1992", "_tb=1994", "_tb=1999"]
    assert sorted(
        (r["t0"], r["f0"]) for r in eng.sql("SELECT t0, f0 FROM ydb.yt").collect()
    ) == [("a", 1.0), ("a", 99.0), ("c", 4.0)]


def test_sql_gauge_accessors(eng):
    """SQL-level gauge_agg + accessors (rewriter.rewrite_gauge). Values
    pinned from the reference corpus: function/gauge/rate.slt — rate is
    delta per NANOSECOND; delta/idelta from delta.slt shapes."""
    eng.sql("CREATE TABLE g_tbl(f1 BIGINT, TAGS(t0))")
    eng.sql(
        """INSERT INTO g_tbl(time, f1, t0) VALUES
        ('1999-12-31 00:00:00.000', 444, 'tag1'),
        ('1999-12-31 00:00:00.005', 444, 'tag1'),
        ('1999-12-31 00:00:00.010', 333, 'tag1')"""
    )
    row = eng.sql(
        "select rate(gauge_agg(time, f1)) as r, delta(gauge_agg(time, f1)) as d,"
        " idelta_left(gauge_agg(time, f1)) as il,"
        " idelta_right(gauge_agg(time, f1)) as ir,"
        " first_val(gauge_agg(time, f1)) as fv, last_val(gauge_agg(time, f1)) as lv"
        " from g_tbl group by t0"
    ).collect()[0]
    assert abs(row["r"] - (-0.0000111)) < 1e-12          # rate.slt:36
    assert row["d"] == -111.0
    assert row["il"] == 0.0 and row["ir"] == -111.0
    assert row["fv"] == 444.0 and row["lv"] == 333.0


def test_sql_state_agg_family(eng):
    """SQL-level state_agg/duration_in/state_at (rewriter.rewrite_state).
    Values pinned from state_agg/duration_in.slt + state_at.slt."""
    eng.sql("CREATE TABLE st_tbl(state STRING)")
    eng.sql(
        """INSERT INTO st_tbl(time, state) VALUES
        ('2020-01-01 10:00:00', 'starting'), ('2020-01-01 10:30:00', 'running'),
        ('2020-01-03 16:00:00', 'error'), ('2020-01-03 18:30:00', 'starting'),
        ('2020-01-03 19:30:00', 'running'), ('2020-01-05 12:00:00', 'stopping')"""
    )
    def secs(sql):
        iv = eng.sql(sql).collect()[0][0]
        return iv.total_seconds() if iv is not None else None

    day = 86400.0
    # duration_in.slt: 3 days 22 h
    assert secs("select duration_in(state_agg(time, state), 'running') from st_tbl") == 3 * day + 22 * 3600
    assert secs("select duration_in(compact_state_agg(time, state), 'running') from st_tbl") == 3 * day + 22 * 3600
    # clipped to [start, start+4d]: 3 days 20.5 h
    assert secs(
        "select duration_in(state_agg(time, state), 'running',"
        " Timestamp '2020-01-01 11:00:00', interval '4 day') from st_tbl"
    ) == 3 * day + 20 * 3600 + 1800
    # state_at.slt: mid-period → state; at the final point → NULL
    at = lambda ts: eng.sql(
        f"select state_at(state_agg(time, state), Timestamp '{ts}') from st_tbl"
    ).collect()[0][0]
    assert at("2020-01-01 10:30:00") == "running"
    assert at("2020-01-03 16:00:00") == "error"
    assert at("2020-01-05 12:00:00") is None


def test_cross_join_rejected(eng):
    """The reference's RejectCrossJoin rule is declared but never
    registered (reject_cross_join.rs; only the streaming checker rejects
    joins), and the corpus runs comma cross joins
    (string_func/left.slt:192) — so the default allows them, with a
    strict opt-in guard that mirrors the unregistered rule."""
    eng.sql("CREATE TABLE cj1(f0 DOUBLE, TAGS(t0))")
    eng.sql("CREATE TABLE cj2(f0 DOUBLE, TAGS(t0))")
    eng.sql("INSERT INTO cj1(time, t0, f0) VALUES ('2024-01-01 00:00:01', 'a', 1.0)")
    eng.sql("INSERT INTO cj2(time, t0, f0) VALUES ('2024-01-01 00:00:01', 'a', 2.0)")
    # default: Spark-native cartesian products work (corpus behavior)
    assert eng.sql("SELECT cj1.f0 FROM cj1 CROSS JOIN cj2").count() == 1
    assert eng.sql("SELECT cj1.f0 FROM cj1, cj2").count() == 1
    # strict mode: explicit CROSS JOIN and predicate-less comma-joins error
    eng.allow_cross_join = False
    try:
        with pytest.raises(ValueError, match="cross join"):
            eng.sql("SELECT cj1.f0 FROM cj1 CROSS JOIN cj2").collect()
        with pytest.raises(ValueError, match="cross join"):
            eng.sql("SELECT cj1.f0 FROM cj1, cj2").collect()
        # equi-predicate in WHERE → inner join after optimization → allowed
        rows = eng.sql(
            "SELECT cj1.f0, cj2.f0 AS g0 FROM cj1, cj2 WHERE cj1.t0 = cj2.t0"
        ).collect()
        assert [(r["f0"], r["g0"]) for r in rows] == [(1.0, 2.0)]
    finally:
        eng.allow_cross_join = True


def test_system_variables(eng):
    """@@ system variables (extension/variable/*.rs; variable/system.slt):
    four registered read-only vars; unknown/malformed @-tokens are
    planning errors."""
    row = eng.sql(
        "select @@cluster_name c, @@server_version v, @@deployment_mode m, "
        "@@node_id n"
    ).collect()[0]
    assert row["c"] and row["v"] and row["m"] and row["n"] == 1001
    for bad in ["select @@server_versi", "select @@", "select @x"]:
        with pytest.raises(ValueError, match="no type information"):
            eng.sql(bad)


def test_timestamp_arith_falls_back_without_fuzzer_rewrite(eng):
    """Fully-parenthesized timestamp subtraction: the fuzzer infix→try_op
    conversion is untypable on timestamps; the engine retries with it off
    instead of hard-failing."""
    eng.sql("CREATE TABLE mta(f0 BIGINT, TAGS(t0))")
    eng.sql(
        "INSERT INTO mta(time, t0, f0) VALUES "
        "('2024-01-01 00:00:10', 'a', 1), ('2024-01-01 00:00:00', 'a', 2)"
    )
    out = eng.sql(
        "SELECT (max(time)) - (min(time)) AS d FROM mta"
    ).collect()
    assert len(out) == 1 and out[0]["d"] is not None


def test_replace_empty_search_null_propagates(eng):
    eng.sql("CREATE TABLE mrep(s0 STRING, f1 BIGINT, TAGS(t0))")
    eng.sql(
        "INSERT INTO mrep(time, t0, s0, f1) VALUES "
        "('2024-01-01', 'a', 'ab', 1), ('2024-01-02', 'b', NULL, 2)"
    )
    rows = {
        r["t0"]: r["r"]
        for r in eng.sql(
            "SELECT t0, replace(s0, '', '-') AS r FROM mrep"
        ).collect()
    }
    assert rows["a"] == "-a-b-"  # interleave semantics (replace.slt:92)
    assert rows["b"] is None  # NULL in → NULL out, not the bare '-'


def test_render_poison_survives_engine_restart(spark, tmp_path):
    """ddl/db_precision.slt:54-57: an ms-precision raw value whose µs
    equivalent overflows i64 is accepted at write and fails at render —
    including after a restart on the same warehouse."""
    wh = str(tmp_path / "wh")
    eng1 = Engine(spark, wh)
    eng1.sql("CREATE DATABASE dbms WITH precision 'ms'")
    eng1.sql("CREATE TABLE dbms.mp(f0 BIGINT, TAGS(t0))")
    eng1.sql(
        "INSERT INTO dbms.mp(time, t0, f0) VALUES (9223372036854775807, 'a', 1)"
    )
    with pytest.raises(Exception):
        eng1.sql("SELECT * FROM dbms.mp").collect()
    eng2 = Engine(spark, wh)  # fresh engine, same warehouse
    with pytest.raises(Exception):
        eng2.sql("SELECT * FROM dbms.mp").collect()


def test_sql_arrow_flight_transport_roundtrip(eng):
    """Flight-SQL-analogue result transport (SURVEY §3.2): Engine.sql_arrow
    returns the query result as an Arrow IPC stream — any Arrow client
    reads it back value-for-value; DDL yields an empty stream; the
    response-size guard fails loudly before collecting."""
    import pyarrow as pa

    assert eng.sql("CREATE TABLE fl(v DOUBLE, TAGS(t))") is None
    eng.sql(
        "INSERT INTO fl(time, t, v) VALUES "
        "(1000000000, 'a', 1.5), (2000000000, 'b', 2.5), (3000000000, 'a', 3.5)"
    )
    buf = eng.sql_arrow("SELECT t, v FROM fl ORDER BY time")
    table = pa.ipc.open_stream(buf).read_all()
    assert table.column("t").to_pylist() == ["a", "b", "a"]
    assert table.column("v").to_pylist() == [1.5, 2.5, 3.5]

    # DDL → empty zero-column stream, still valid IPC
    empty = pa.ipc.open_stream(
        eng.sql_arrow("CREATE TABLE fl2(v DOUBLE, TAGS(t))")
    ).read_all()
    assert empty.num_rows == 0 and empty.num_columns == 0

    import pytest as _pytest

    orig = eng.ARROW_RESULT_MAX_ROWS
    try:
        eng.ARROW_RESULT_MAX_ROWS = 2
        with _pytest.raises(ValueError, match="exceeds limit 2"):
            eng.sql_arrow("SELECT * FROM fl")
    finally:
        eng.ARROW_RESULT_MAX_ROWS = orig


def test_sql_arrow_stream_unbounded_roundtrip(eng):
    """sql_arrow_stream is the uncapped Flight-DoGet shape: chunks of one
    IPC stream whose concatenation any Arrow client reads back — for a
    result LARGER than ARROW_RESULT_MAX_ROWS (where sql_arrow refuses),
    with multiple batch frames, value-identical to the SQL result and
    type-identical to the capped transport (same to_arrow_schema)."""
    import pyarrow as pa

    eng.sql("CREATE TABLE flst(v DOUBLE, TAGS(t))")
    vals = ", ".join(
        f"({(i + 1) * 1000000000}, 'tag{i % 3}', {i}.25)" for i in range(50)
    )
    eng.sql(f"INSERT INTO flst(time, t, v) VALUES {vals}")

    orig = eng.ARROW_RESULT_MAX_ROWS
    try:
        eng.ARROW_RESULT_MAX_ROWS = 10
        with pytest.raises(ValueError, match="exceeds limit"):
            eng.sql_arrow("SELECT * FROM flst")
        chunks = list(
            eng.sql_arrow_stream(
                "SELECT t, v FROM flst ORDER BY time", batch_rows=16
            )
        )
    finally:
        eng.ARROW_RESULT_MAX_ROWS = orig
    assert len(chunks) >= 3  # 50 rows / 16 per batch → several frames
    table = pa.ipc.open_stream(b"".join(chunks)).read_all()
    assert table.num_rows == 50
    assert table.column("v").to_pylist() == [i + 0.25 for i in range(50)]
    # wire types match the capped transport byte-for-byte
    capped = pa.ipc.open_stream(
        eng.sql_arrow("SELECT t, v FROM flst ORDER BY time")
    ).read_all()
    assert table.schema == capped.schema
    assert table.equals(capped)

    # timestamps + DDL: tz-aware µs timestamps survive; DDL → empty stream
    ts = pa.ipc.open_stream(
        b"".join(eng.sql_arrow_stream("SELECT time, v FROM flst ORDER BY time"))
    ).read_all()
    want_ts = pa.ipc.open_stream(
        eng.sql_arrow("SELECT time, v FROM flst ORDER BY time")
    ).read_all()
    assert ts.equals(want_ts)
    empty = pa.ipc.open_stream(
        b"".join(eng.sql_arrow_stream("CREATE TABLE flst2(v DOUBLE, TAGS(t))"))
    ).read_all()
    assert empty.num_rows == 0 and empty.num_columns == 0

    # NaN stays NaN on the wire (never collapsed into NULL): the engine
    # distinguishes the two elsewhere (isNotNull & ~isnan guards), so the
    # transport must too (round-10 ADVICE medium).
    import math

    nan_tbl = pa.ipc.open_stream(
        b"".join(
            eng.sql_arrow_stream(
                "SELECT CAST('NaN' AS DOUBLE) AS nanv,"
                " CAST(NULL AS DOUBLE) AS nullv"
            )
        )
    ).read_all()
    assert nan_tbl.column("nanv").null_count == 0
    assert math.isnan(nan_tbl.column("nanv").to_pylist()[0])
    assert nan_tbl.column("nullv").null_count == 1


def test_sql_arrow_single_evaluation(eng, monkeypatch):
    """The row-count guard must not execute the statement twice: sql_arrow
    fetches at most limit+1 rows in ONE job and fails client-side. A
    count()-then-collect guard would double-scan and race concurrent
    writes (TOCTOU) — pin it by making any DataFrame.count() call blow
    up for the duration of the transport call."""
    from pyspark.sql import DataFrame

    eng.sql("CREATE TABLE fl1e(v DOUBLE, TAGS(t))")
    eng.sql("INSERT INTO fl1e(time, t, v) VALUES (1000000000, 'a', 1.5)")

    def _no_count(self, *a, **kw):
        raise AssertionError("sql_arrow must not run a separate count()")

    monkeypatch.setattr(DataFrame, "count", _no_count)
    import pyarrow as pa

    buf = eng.sql_arrow("SELECT t, v FROM fl1e")
    table = pa.ipc.open_stream(buf).read_all()
    assert table.num_rows == 1 and table.column("v").to_pylist() == [1.5]


def test_copy_export_affected_rows_with_embedded_newlines(eng, tmp_path):
    """COPY-export affected-rows are counted from the WRITTEN csv files;
    the read-back must use multiLine, or string values with quoted
    embedded newlines (which Spark's CSV writer emits legally) split
    into extra records and the count over-reports (round-10 ADVICE)."""
    src = str(tmp_path / "nl.csv")
    with open(src, "w") as f:
        f.write('a,b\n1,"line one\nline two"\n2,plain\n3,"x\ny\nz"\n')
    eng.sql(
        f"CREATE EXTERNAL TABLE nlx STORED AS CSV WITH HEADER ROW LOCATION '{src}'"
    )
    out_dir = str(tmp_path / "out_csv")
    n = eng.sql(
        f"COPY INTO '{out_dir}' FROM (SELECT a, b FROM nlx) "
        "FILE_FORMAT = (TYPE = 'CSV')"
    ).collect()[0]["rows"]
    assert n == 3


def test_update_series_index_skip_and_rebuild(eng):
    """Round-11 rewrite-path pin: a FIELD-only UPDATE provably changes no
    tag and removes no row, so the series index is left byte-identical
    (no rebuild job); a TAG update and a DELETE still rebuild it — from
    the in-memory post-state, so it must reflect the mutation exactly."""
    eng.sql("CREATE TABLE six(f0 DOUBLE, TAGS(t0))")
    eng.sql(
        """INSERT INTO six(time, t0, f0) VALUES
        ('2024-01-01 00:00:01', 'a', 1.0), ('2024-01-01 00:00:02', 'b', 2.0),
        ('2024-01-01 00:00:03', 'c', 3.0)"""
    )
    sp = eng.catalog._series_path("public", "six")

    def index_files():
        return sorted(
            (f, os.path.getmtime(os.path.join(sp, f)))
            for f in os.listdir(sp) if f.endswith(".parquet")
        )

    before = index_files()
    eng.sql("UPDATE six SET f0 = f0 * 10 WHERE t0 = 'b'")
    assert index_files() == before  # field update: index untouched
    assert {r["t0"] for r in eng.catalog.series("public", "six").collect()} == {
        "a", "b", "c"
    }
    eng.sql("UPDATE six SET t0 = 'z' WHERE t0 = 'c'")
    assert index_files() != before  # tag update: rebuilt
    assert {r["t0"] for r in eng.catalog.series("public", "six").collect()} == {
        "a", "b", "z"
    }
    eng.sql("DELETE FROM six WHERE t0 = 'z'")
    assert {r["t0"] for r in eng.catalog.series("public", "six").collect()} == {
        "a", "b"
    }
    vals = {r["t0"]: r["f0"] for r in eng.sql("SELECT t0, f0 FROM six").collect()}
    assert vals == {"a": 1.0, "b": 20.0}


def test_series_index_multi_bucket_insert_not_inflated(eng):
    """Round-11 staged-insert pin: an INSERT spanning several _tb buckets
    must index each series ONCE — partition discovery appends the _tb dir
    column even under an explicit read schema, and a _tb leaking into the
    distinct inflates the index by one row per (series, bucket)."""
    eng.sql("CREATE TABLE sev(f0 DOUBLE, TAGS(t0))")
    eng.sql(
        """INSERT INTO sev(time, t0, f0) VALUES
        ('2024-01-01 00:00:01', 'a', 1.0), ('2024-01-02 00:00:01', 'a', 2.0),
        ('2024-01-03 00:00:01', 'a', 3.0), ('2024-01-01 00:00:02', 'b', 4.0),
        ('2024-01-02 00:00:02', 'b', 5.0)"""
    )
    sp = eng.catalog._series_path("public", "sev")
    raw = eng.catalog.spark.read.parquet(sp)
    assert raw.columns == ["t0"]  # no leaked partition column
    assert raw.count() == 2  # one row per series, not per (series, bucket)
    assert {r["t0"] for r in eng.catalog.series("public", "sev").collect()} == {
        "a", "b"
    }


def test_show_where_filters_merged_view(eng):
    """SHOW SERIES / SHOW TAG VALUES with WHERE filter the merge-on-read
    view (not the series index) and keep the unfiltered statements' key
    format and row order; a field in the WHERE is a semantic error."""
    eng.sql("CREATE DATABASE db2")
    eng.sql("CREATE TABLE db2.m(f0 DOUBLE, TAGS(host, region))")
    eng.sql(
        """INSERT INTO db2.m(time, host, region, f0) VALUES
        ('2024-01-01 00:00:01', 'h2', 'eu', 1.0),
        ('2024-01-01 00:00:02', 'h1', 'eu', 2.0),
        ('2024-01-01 00:00:03', 'h3', 'us', 3.0),
        ('2024-01-01 00:00:04', 'h4', NULL, 4.0)"""
    )
    tv = [
        (r["key"], r["value"])
        for r in eng.sql(
            'SHOW TAG VALUES ON db2 FROM m WITH KEY IN ("region", "host") '
            "WHERE region = 'eu' OR host = 'h4'"
        ).collect()
    ]
    assert tv == [("host", "h1"), ("host", "h2"), ("host", "h4"), ("region", "eu")]
    series = [
        r["key"]
        for r in eng.sql(
            "SHOW SERIES ON db2 FROM m WHERE region = 'eu' OR host = 'h4'"
        ).collect()
    ]
    assert series == ["m,host=h1,region=eu", "m,host=h2,region=eu", "m,host=h4"]
    for stmt in (
        "SHOW SERIES ON db2 FROM m WHERE f0 > 1",
        'SHOW TAG VALUES ON db2 FROM m WITH KEY = "host" WHERE f0 > 1',
    ):
        with pytest.raises(
            ValueError, match="does not support where clause contains field f0"
        ):
            eng.sql(stmt)


def test_copy_table_export_csv_reads_back(eng, spark, tmp_path):
    """COPY INTO '<dir>' FROM <table> writes the merged table as headered
    RFC 4180 CSV and reports the rows it wrote."""
    eng.sql("CREATE TABLE ex(f0 DOUBLE, TAGS(t0))")
    eng.sql(
        """INSERT INTO ex(time, t0, f0) VALUES
        ('2024-01-01 00:00:01', 'a', 1.5),
        ('2024-01-01 00:00:02', 'b "q", c', 2.5),
        ('2024-01-01 00:00:02', 'b "q", c', 3.5)"""
    )
    out = str(tmp_path / "ex_csv")
    n = eng.sql(
        f"COPY INTO '{out}' FROM ex FILE_FORMAT = (TYPE = 'CSV')"
    ).collect()[0]["rows"]
    assert n == 2
    back = (
        spark.read.option("header", "true").option("escape", '"')
        .schema("time timestamp, t0 string, f0 double").csv(out)
    )
    assert sorted(tuple(r) for r in back.collect()) == [
        (datetime(2024, 1, 1, 0, 0, 1), "a", 1.5),
        (datetime(2024, 1, 1, 0, 0, 2), 'b "q", c', 3.5),
    ]


def test_insert_values_keeps_ns_residue_like_line_protocol(eng):
    """``CAST(<int> AS TIMESTAMP)`` in INSERT VALUES is epoch nanoseconds:
    points a few ns apart in one µs stay distinct rows, stored under the
    same (time, _ns_res) key the line-protocol path gives them, before
    the epoch too."""
    ns = [1704067200, 1704067210, -1704067195, -1704067190]
    eng.sql("CREATE TABLE c(v DOUBLE, TAGS(t0))")
    eng.sql(
        "INSERT INTO c(time, t0, v) VALUES "
        + ", ".join(
            f"(CAST({n} AS TIMESTAMP), 'a', {float(i)})" for i, n in enumerate(ns)
        )
    )
    eng.write_lines("\n".join(f"d,t0=a v={float(i)} {n}" for i, n in enumerate(ns)))

    def stored(name):
        return sorted(
            tuple(r)
            for r in eng.catalog.read("public", name, keep_residue=True)
            .select("time", "_ns_res", "v").collect()
        )

    assert stored("c") == stored("d")
    assert [(r[1], r[2]) for r in stored("c")] == [
        (805, 2.0), (810, 3.0), (200, 0.0), (210, 1.0)
    ]


def test_insert_select_qualified_and_stream_sources(eng):
    """INSERT … SELECT plans its source like a SELECT: ``db.table`` and
    ``public.table`` resolve to their views, and a stream table is a valid
    source (registered as a stream job) though a bare SELECT on it is not."""
    eng.sql("CREATE TABLE m(v DOUBLE, TAGS(k))")
    eng.sql("CREATE DATABASE db1")
    eng.sql("CREATE TABLE db1.m(v DOUBLE, TAGS(k))")
    eng.sql("INSERT INTO db1.m(time, k, v) VALUES (5, 'z', 5.0)")
    eng.sql("INSERT INTO m(time, k, v) SELECT time, k, v FROM db1.m")
    eng.sql("INSERT INTO m(time, k, v) SELECT time, 'y', v + 1 FROM public.m")
    rows = eng.sql("SELECT k, v FROM m ORDER BY k").collect()
    assert [(r["k"], r["v"]) for r in rows] == [("y", 6.0), ("z", 5.0)]

    eng.sql(
        "CREATE STREAM TABLE st WITH (db='db1', table='m', "
        "event_time_column='time') engine=tskv"
    )
    with pytest.raises(ValueError, match="Stream table can only be used"):
        eng.sql("SELECT * FROM st")
    eng.sql("CREATE TABLE sink(v DOUBLE, TAGS(k))")
    eng.sql("INSERT INTO sink(time, k, v) SELECT time, k, v FROM st")
    assert [("sink" in key) for key in eng.stream_jobs] == [True]
    assert eng.sql("SELECT count(*) AS n FROM sink").collect()[0]["n"] == 1


def test_update_delete_where_integer_time(eng):
    """UPDATE/DELETE WHERE gets SELECT's dialect rewrite: an integer
    compared with ``time`` is an epoch timestamp there too."""
    eng.sql("CREATE TABLE m(v DOUBLE, TAGS(k))")
    eng.sql("INSERT INTO m(time, k, v) VALUES (1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0)")
    assert eng.sql("SELECT count(*) AS n FROM m WHERE time < 2").collect()[0]["n"] == 1
    assert eng.sql("UPDATE m SET v = 9 WHERE time = 1").collect()[0]["rows"] == 1
    assert eng.sql("SELECT v FROM m WHERE time = 1").collect()[0]["v"] == 9.0
    assert eng.sql("DELETE FROM m WHERE time < 2").collect()[0]["rows"] == 1
    rows = eng.sql("SELECT k, v FROM m ORDER BY time").collect()
    assert [(r["k"], r["v"]) for r in rows] == [("a", 2.0), ("b", 3.0)]
