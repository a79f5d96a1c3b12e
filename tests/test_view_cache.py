"""Temp-view cache pins: views belong to the SparkSession, so the cache
that decides when a table's view is rebuilt must too. A view is keyed on a
stamp (catalog root, db, options, table version); every Catalog commit,
schema save and drop bumps the version, whichever Engine or direct Catalog
call made the change."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest

from cnosdb_spark.engine import Engine


def _ts(e, table: str) -> list:
    return [r[0] for r in e.sql(f"SELECT t FROM {table}").collect()]


def test_engines_on_one_session_see_their_own_warehouse(spark, tmp_path):
    e1 = Engine(spark, str(tmp_path / "w1"))
    e2 = Engine(spark, str(tmp_path / "w2"))
    for e, val in ((e1, "one"), (e2, "two")):
        e.sql("CREATE TABLE k(f0 DOUBLE, TAGS(t))")
        e.sql(f"INSERT INTO k(time, t, f0) VALUES ('2024-01-01 00:00:01', '{val}', 1.0)")
    assert _ts(e1, "k") == ["one"]
    assert _ts(e2, "k") == ["two"]
    assert _ts(e1, "k") == ["one"]


def test_information_schema_is_per_warehouse(spark, tmp_path):
    e1 = Engine(spark, str(tmp_path / "w1"))
    e2 = Engine(spark, str(tmp_path / "w2"))
    e1.sql("CREATE TABLE k(f0 DOUBLE, TAGS(t))")
    e2.sql("CREATE TABLE only_in_w2(f0 DOUBLE, TAGS(t))")

    def tables(e):
        return {
            r[0] for r in e.sql(
                "SELECT table_name FROM information_schema.tables"
            ).collect()
        }

    assert "k" in tables(e1)
    assert "only_in_w2" in tables(e2)
    assert "only_in_w2" not in tables(e1)
    with pytest.raises(Exception):
        e1.sql("SELECT * FROM only_in_w2").collect()


def test_direct_catalog_insert_into_new_bucket_is_seen(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "wh"))
    e.sql("CREATE TABLE c(f0 DOUBLE, TAGS(t))")
    e.sql(
        "INSERT INTO c(time, t, f0) VALUES "
        "('2024-01-01 00:00:01', 'a', 1.0), ('2024-01-01 00:00:02', 'a', 2.0)"
    )
    assert len(_ts(e, "c")) == 2
    df = spark.createDataFrame(
        [(datetime(2024, 1, 5), "b", 3.0)], "time timestamp, t string, f0 double"
    )
    assert e.catalog.insert("public", "c", df) == 1
    assert len(_ts(e, "c")) == 3


def test_immediate_drop_database_clears_render_poison(spark, tmp_path):
    """ddl/db_precision.slt: a table poisoned by an unrenderable raw
    timestamp raises on read — until it is dropped. An immediate DROP
    DATABASE must forget the poison like the scheduled drop does."""
    e = Engine(spark, str(tmp_path / "wh"))
    e.sql("CREATE DATABASE dbms WITH precision 'ms'")
    e.sql("CREATE TABLE dbms.mp(f0 BIGINT, TAGS(t0))")
    e.sql("INSERT INTO dbms.mp(time, t0, f0) VALUES (9223372036854775807, 'a', 1)")
    with pytest.raises(Exception, match="Failed to convert stored raw"):
        e.sql("SELECT * FROM dbms.mp").collect()
    e.sql("DROP DATABASE dbms")
    e.sql("CREATE DATABASE dbms WITH precision 'ms'")
    e.sql("CREATE TABLE dbms.mp(f0 BIGINT, TAGS(t0))")
    e.sql("INSERT INTO dbms.mp(time, t0, f0) VALUES (1704067200000, 'a', 1)")
    assert [r["f0"] for r in e.sql("SELECT f0 FROM dbms.mp").collect()] == [1]


def test_tag_update_is_case_insensitive(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "wh"))
    e.sql("CREATE TABLE u(f0 DOUBLE, TAGS(t0))")
    e.sql(
        "INSERT INTO u(time, t0, f0) VALUES "
        "('2024-01-01 00:00:01', 'a', 1.0), ('2024-01-01 00:00:02', 'b', 2.0)"
    )
    e.sql("UPDATE u SET T0 = 'z' WHERE t0 = 'a'")
    assert sorted(r["t0"] for r in e.sql("SELECT t0 FROM u").collect()) == ["b", "z"]
    tv = [r["value"] for r in e.sql("SHOW TAG VALUES FROM u WITH KEY = t0").collect()]
    assert tv == ["b", "z"]


def test_advance_clock_past_ttl_expires_rows(spark, tmp_path):
    """data_tests/data_ttl.slt: a TTL'd view freezes "now" when it is
    built, so a virtual-clock advance must rebuild it."""
    e = Engine(spark, str(tmp_path / "wh"))
    e.sql("CREATE DATABASE short WITH TTL '1h'")
    e.sql("CREATE TABLE short.t(f0 DOUBLE, TAGS(t))")
    e.sql("INSERT INTO short.t(time, t, f0) VALUES (now(), 'a', 1.0)")
    assert _ts(e, "short.t") == ["a"]
    e.advance_clock("2h")
    assert _ts(e, "short.t") == []
    assert e.sql("SELECT count(*) FROM short.t").collect()[0][0] == 0


# ------------------------------------------------------------ model test
_BASE = datetime(2024, 1, 1)


class _Model:
    """Last-write-wins per column on (t0, time), as the merge-on-read view
    defines it: a NULL in a later write does not erase a value."""

    def __init__(self):
        self.rows: dict[tuple[str, datetime], dict[str, object]] = {}
        self.ival = "f1"  # the BIGINT field's current name

    def write(self, t0, ts, f0=None, f1=None):
        row = self.rows.setdefault((t0, ts), {"f0": None, "f1": None})
        for k, v in (("f0", f0), ("f1", f1)):
            if v is not None:
                row[k] = v

    def expect(self):
        return sorted(
            (ts, t0, r["f0"], r["f1"]) for (t0, ts), r in self.rows.items()
        )

    def tags(self):
        return sorted({t0 for t0, _ in self.rows})


def _random_points(rng, n):
    pts = []
    for _ in range(n):
        ts = _BASE + timedelta(days=rng.randrange(3), seconds=rng.randrange(4))
        f0 = rng.choice([None, 0.5, 1.25, 2.0, -3.5])
        f1 = rng.choice([None, 1, 7, -2]) if f0 is not None else rng.choice([1, 7])
        pts.append((rng.choice("abc"), ts, f0, f1))
    return pts


_OPS = [
    "lines", "insert", "field_update", "tag_update", "delete", "compact",
    "rename", "drop_create", "catalog_insert",
]


def _step(rng, e, op, model, spark, k):
    iv = model.ival
    if op == "lines":
        body = []
        for t0, ts, f0, f1 in _random_points(rng, 3):
            fields = ",".join(
                part for part in (
                    None if f0 is None else f"f0={f0}",
                    None if f1 is None else f"{iv}={f1}i",
                ) if part
            )
            ns = int((ts - datetime(1970, 1, 1)).total_seconds()) * 10**9
            body.append(f"mt,t0={t0} {fields} {ns}")
            model.write(t0, ts, f0, f1)
        e.write_lines("\n".join(body))
    elif op == "insert":
        vals = []
        for t0, ts, f0, f1 in _random_points(rng, 2):
            vals.append(
                f"('{ts:%Y-%m-%d %H:%M:%S}', '{t0}', "
                f"{'NULL' if f0 is None else f0}, {'NULL' if f1 is None else f1})"
            )
            model.write(t0, ts, f0, f1)
        e.sql(f"INSERT INTO mt(time, t0, f0, {iv}) VALUES {', '.join(vals)}")
    elif op == "field_update":
        t0, v = rng.choice("abc"), rng.choice([9.5, -1.0])
        e.sql(f"UPDATE mt SET f0 = {v} WHERE t0 = '{t0}'")
        for (tag, _), r in model.rows.items():
            if tag == t0:
                r["f0"] = v
    elif op == "tag_update":
        # a fresh target value: renaming onto a live series would tie two
        # rewritten rows on one key
        src, dst = rng.choice(model.tags() or ["a"]), f"u{k}"
        col = rng.choice(["t0", "T0"])
        e.sql(f"UPDATE mt SET {col} = '{dst}' WHERE t0 = '{src}'")
        model.rows = {
            (dst if t0 == src else t0, ts): r for (t0, ts), r in model.rows.items()
        }
    elif op == "delete":
        if rng.random() < 0.5:
            t0 = rng.choice("abc")
            e.sql(f"DELETE FROM mt WHERE t0 = '{t0}'")
            model.rows = {key: r for key, r in model.rows.items() if key[0] != t0}
        else:
            cut = _BASE + timedelta(days=1)
            e.sql(f"DELETE FROM mt WHERE time < '{cut:%Y-%m-%d %H:%M:%S}'")
            model.rows = {key: r for key, r in model.rows.items() if key[1] >= cut}
    elif op == "compact":
        e.sql("COMPACT TABLE mt")
    elif op == "rename":
        new = "g1" if iv == "f1" else "f1"
        e.sql(f"ALTER TABLE mt RENAME COLUMN {iv} TO {new}")
        model.ival = new
    elif op == "drop_create":
        e.sql("DROP TABLE mt")
        e.sql("CREATE TABLE mt(f0 DOUBLE, f1 BIGINT, TAGS(t0))")
        model.rows, model.ival = {}, "f1"
    else:
        pts = _random_points(rng, 2)
        df = spark.createDataFrame(
            [(ts, t0, f0, f1) for t0, ts, f0, f1 in pts],
            f"time timestamp, t0 string, f0 double, {iv} long",
        )
        e.catalog.insert("public", "mt", df)
        for t0, ts, f0, f1 in pts:
            model.write(t0, ts, f0, f1)


def test_two_engines_match_lww_model(spark, tmp_path):
    """Two Engines on one session and one warehouse; a seeded random
    interleaving of every write path. After each step both Engines must
    answer SELECT and SHOW TAG VALUES exactly as the LWW model does."""
    wh = str(tmp_path / "wh")
    engines = [Engine(spark, wh), Engine(spark, wh)]
    engines[0].sql("CREATE TABLE mt(f0 DOUBLE, f1 BIGINT, TAGS(t0))")
    model, rng = _Model(), random.Random(20261017)
    ops = _OPS * 2  # every write path twice, in a seeded random order
    rng.shuffle(ops)
    for k, op in enumerate(ops):
        _step(rng, rng.choice(engines), op, model, spark, k)
        for i, e in enumerate(engines):
            got = sorted(
                tuple(r) for r in e.sql(
                    f"SELECT time, t0, f0, {model.ival} FROM mt"
                ).collect()
            )
            assert got == model.expect(), (k, op, i)
            tags = [
                r["value"]
                for r in e.sql("SHOW TAG VALUES FROM mt WITH KEY = t0").collect()
            ]
            assert tags == model.tags(), (k, op, i)
