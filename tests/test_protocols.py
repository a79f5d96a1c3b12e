"""OpenTSDB + JSON protocol ingest tests, mirroring the reference parser
cases (common/protocol_parser/src/{open_tsdb,json_protocol}/parser.rs
`mod test`)."""

from __future__ import annotations

import pytest

from cnosdb_spark.engine import Engine
from cnosdb_spark.sources.json_protocol import (
    flatten_json,
    parse_es_log,
    parse_ndjson,
)
from cnosdb_spark.sources.open_tsdb import (
    parse_open_tsdb,
    parse_open_tsdb_tcp,
)


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


def test_open_tsdb_parse():
    out = parse_open_tsdb(
        "sys.if.bytes.out 1479496100 1.3e3 host=web01 interface=eth0\n"
        "sys.procs.running 1479496100 42 host=web01"
    )
    rows, tags = out["sys.if.bytes.out"]
    assert rows[0]["value"] == 1300.0
    assert rows[0]["host"] == "web01" and rows[0]["interface"] == "eth0"
    assert tags == {"host", "interface"}
    # seconds vs milliseconds magnitude
    s_rows, _ = out["sys.procs.running"]
    assert s_rows[0]["time"].year == 2016
    ms = parse_open_tsdb("m 1479496100000 1 host=a")["m"][0][0]["time"]
    assert ms.year == 2016
    with pytest.raises(ValueError, match="missing field"):
        parse_open_tsdb("m 1479496100 host=a")
    with pytest.raises(ValueError, match="bad tag"):
        parse_open_tsdb("m 1479496100 1 hosta")


def test_open_tsdb_tcp_put():
    out = parse_open_tsdb_tcp(
        "put sys.cpu.user 1479496100 42.5 host=web01\r\n"
        "put sys.cpu.user 1479496101 43.5 host=web02\r\n"
    )
    rows, _ = out["sys.cpu.user"]
    assert [r["value"] for r in rows] == [42.5, 43.5]
    with pytest.raises(ValueError, match="unknown command"):
        parse_open_tsdb_tcp("PUT sys.cpu.user 1 1 host=a")  # case-sensitive
    # reference requires ≥4 tokens (put metric ts value); tags optional
    # (parser.rs:139-141 checks tokens.len() < 4)
    assert parse_open_tsdb_tcp("put m 1479496100 42.5")["m"][0][0]["value"] == 42.5
    with pytest.raises(ValueError, match="put needs"):
        parse_open_tsdb_tcp("put sys.cpu.user 1479496100")


def test_flatten_json():
    flat = flatten_json("", {"a": {"b": 1, "c": [10, {"d": 2}]}, "e": "x"})
    assert flat == {"a.b": 1, "a.c.0": 10, "a.c.1.d": 2, "e": "x"}


def test_es_log_pairs():
    text = (
        '{ "index" : { "_index" : "test", "_id" : "1" } }\n'
        '{ "field1" : "value1", "n": 7 }\n'
        '{ "create" : { "_index" : "test", "_id" : "3" } }\n'
        '{ "field1" : "value3", "n": 8 }\n'
    )
    logs = parse_es_log(text)
    assert [l["_table"] for l in logs] == ["test", "test"]
    assert [l["n"] for l in logs] == [7, 8]
    with pytest.raises(ValueError, match="pair"):
        parse_es_log('{ "index": {} }')
    with pytest.raises(ValueError, match="invalid es command"):
        parse_es_log('{ "delete": {} }\n{"a": 1}')


def test_ndjson_parse():
    logs = parse_ndjson('{"a": 1, "b": {"c": true}}\n{"a": 2, "b": {"c": false}}')
    assert logs == [{"a": 1, "b.c": True}, {"a": 2, "b.c": False}]


def test_open_tsdb_write_path(eng):
    n = eng.write_open_tsdb(
        "cpu 1479496100 42.5 host=web01\ncpu 1479496101 43.5 host=web02"
    )
    assert n == {"cpu": 2}
    rows = eng.sql("SELECT host, value FROM cpu ORDER BY host").collect()
    assert [(r["host"], r["value"]) for r in rows] == [
        ("web01", 42.5), ("web02", 43.5)
    ]
    desc = {r["column_name"]: r["column_type"]
            for r in eng.sql("DESC TABLE cpu").collect()}
    assert desc["host"] == "TAG" and desc["value"] == "FIELD"
    # telnet framing appends to the same table
    eng.write_open_tsdb("put cpu 1479496102 44.5 host=web03\r\n", tcp=True)
    assert eng.sql("SELECT count(*) AS n FROM cpu").collect()[0]["n"] == 3


def test_json_write_path(eng):
    n = eng.write_es_log(
        '{ "index" : { "_index" : "applog" } }\n'
        '{ "time": 1700000000000000000, "msg": "hello", "sev": {"level": 3} }\n'
        '{ "index" : { "_index" : "applog" } }\n'
        '{ "time": 1700000001000000000, "msg": "bye", "sev": {"level": 4} }\n'
    )
    assert n == {"applog": 2}
    rows = eng.sql("SELECT msg, `sev.level` FROM applog ORDER BY time").collect()
    assert [r["msg"] for r in rows] == ["hello", "bye"]
    assert [r["sev.level"] for r in rows] == [3, 4]
    n2 = eng.write_ndjson(
        '{"time": 1700000002000000000, "v": 1.5}', table="ndj"
    )
    assert n2 == {"ndj": 1}
    assert eng.sql("SELECT v FROM ndj").collect()[0]["v"] == 1.5


def test_ingest_protocol_roundtrip_all_entry_points(eng):
    """Small mirror of the ``ingest_protocol_roundtrip`` registry row: the
    same 4 points (2 series) through each of the six ``Engine.write_*``
    entry points read back as the same (time, tags, value) rows, with
    user_id/event_type as TAGs and value as a FIELD in every table.
    Times are whole milliseconds, the precision of the Prometheus wire
    format."""
    import json
    from datetime import datetime, timedelta

    from cnosdb_spark.sources.prometheus import encode_write_request, snappy_compress

    t0 = 1_700_000_000_000_000  # µs
    points = [  # (µs, user_id, event_type, value)
        (t0, "1", "click", 1.5),
        (t0 + 1_000, "2", "view", -2.25),
        (t0 + 2_000, "1", "click", 3.0),
        (t0 + 3_000, "2", "view", 4.125),
    ]
    eng.write_lines("\n".join(
        f"ev_lp,user_id={u},event_type={e} value={v!r} {us * 1000}"
        for us, u, e, v in points
    ))
    eng.write_open_tsdb("\r\n".join(
        f"put ev_tsdb {us} {v!r} user_id={u} event_type={e}"
        for us, u, e, v in points
    ), tcp=True)
    eng.write_open_tsdb_json(json.dumps([
        {"metric": "ev_tsdbj", "timestamp": us, "value": v,
         "tags": {"user_id": u, "event_type": e}}
        for us, u, e, v in points
    ]))
    docs = [
        {"time": us * 1000, "user_id": u, "event_type": e, "value": v}
        for us, u, e, v in points
    ]
    tags = {"user_id", "event_type"}
    eng.write_es_log("\n".join(
        '{"index": {"_index": "ev_es"}}\n' + json.dumps(d) for d in docs
    ), tag_keys=tags)
    eng.write_ndjson(
        "\n".join(json.dumps(d) for d in docs), table="ev_nd", tag_keys=tags
    )
    series: dict = {}
    for us, u, e, v in points:
        series.setdefault((u, e), {
            "labels": {"__name__": "ev_prom", "user_id": u, "event_type": e},
            "samples": [],
        })["samples"].append((v, us // 1000))
    eng.write_prometheus(snappy_compress(encode_write_request(list(series.values()))))

    want = [
        (datetime(1970, 1, 1) + timedelta(microseconds=us), u, e, v)
        for us, u, e, v in points
    ]
    for table in ("ev_lp", "ev_tsdb", "ev_tsdbj", "ev_es", "ev_nd", "ev_prom"):
        rows = eng.sql(
            f"SELECT time, user_id, event_type, value FROM {table} ORDER BY time"
        ).collect()
        assert [tuple(r) for r in rows] == want, table
        roles = {r["column_name"]: r["column_type"]
                 for r in eng.sql(f"DESC TABLE {table}").collect()}
        assert roles["user_id"] == roles["event_type"] == "TAG", table
        assert roles["value"] == "FIELD", table
    # auto-created JSON tables order their columns by name — time, tags,
    # fields — as line protocol does, not by arrival order
    assert [r["column_name"] for r in eng.sql("DESC TABLE ev_nd").collect()] == [
        "time", "event_type", "user_id", "value"
    ]


def test_prometheus_wire_codecs():
    """Pure codec round-trips: snappy literals+copies, protobuf varint/
    fixed64/length-delimited (prometheus.rs message layout)."""
    from cnosdb_spark.sources.prometheus import (
        decode_write_request,
        encode_write_request,
        snappy_compress,
        snappy_decompress,
    )

    # snappy: our literal-only compressor round-trips
    for payload in [b"", b"x", b"hello world" * 100, bytes(range(256)) * 300]:
        assert snappy_decompress(snappy_compress(payload)) == payload
    # snappy: hand-built stream WITH copy elements (offset=5, len=10,
    # 1-byte-offset form): "abcde" then copy → self-overlapping run
    stream = bytes([15]) + bytes([4 << 2]) + b"abcde" + bytes([((10 - 4) << 2) | 1, 5])
    assert snappy_decompress(stream) == b"abcdeabcdeabcde"

    series = [
        {
            "labels": {"__name__": "up", "job": "api", "instance": "i-1"},
            "samples": [(1.0, 1700000000000), (0.0, 1700000060000)],
        },
        {
            "labels": {"__name__": "http_requests_total", "code": "200"},
            "samples": [(42.5, -1)],  # negative ms must survive (int64)
        },
    ]
    assert decode_write_request(encode_write_request(series)) == series


def test_prometheus_write_request_to_lines():
    """remote_server.rs:79-115 semantics: __name__ selects the table AND
    stays a tag; default table when absent; ms→µs timestamps."""
    from cnosdb_spark.sources.prometheus import (
        DEFAULT_PROM_TABLE_NAME,
        encode_write_request,
        parse_remote_write,
        snappy_compress,
    )

    payload = snappy_compress(
        encode_write_request(
            [
                {
                    "labels": {"__name__": "up", "job": "api"},
                    "samples": [(1.0, 1700000000000)],
                },
                {"labels": {"job": "noname"}, "samples": [(7.0, 1000)]},
            ]
        )
    )
    tables = parse_remote_write(payload)
    assert set(tables) == {"up", DEFAULT_PROM_TABLE_NAME}
    rows, tagkeys = tables["up"]
    assert tagkeys == {"__name__", "job"}
    assert rows[0]["__name__"] == "up" and rows[0]["job"] == "api"
    assert rows[0]["value"] == 1.0
    assert rows[0]["time"].isoformat() == "2023-11-14T22:13:20"
    rows2, _ = tables[DEFAULT_PROM_TABLE_NAME]
    assert rows2[0]["time"].isoformat() == "1970-01-01T00:00:01"


def test_prometheus_engine_round_trip(eng):
    from cnosdb_spark.sources.prometheus import encode_write_request, snappy_compress

    payload = snappy_compress(
        encode_write_request(
            [
                {
                    "labels": {"__name__": "node_cpu", "host": "h1"},
                    "samples": [(0.5, 1700000000000), (0.7, 1700000060000)],
                },
                {
                    "labels": {"__name__": "node_cpu", "host": "h2"},
                    "samples": [(0.9, 1700000000000)],
                },
            ]
        )
    )
    n = eng.write_prometheus(payload)
    assert n == {"node_cpu": 3}
    rows = eng.sql(
        "SELECT host, value FROM node_cpu ORDER BY host, time"
    ).collect()
    assert [(r["host"], r["value"]) for r in rows] == [
        ("h1", 0.5), ("h1", 0.7), ("h2", 0.9)
    ]
    desc = {r["column_name"]: r["column_type"]
            for r in eng.sql("DESC TABLE node_cpu").collect()}
    assert desc["host"] == "TAG" and desc["value"] == "FIELD"


def test_prometheus_read_request_codec():
    """ReadRequest/ReadResponse protobuf round-trips (prometheus.rs
    ReadRequest.queries=1; Query start=1/end=2/matchers=3;
    LabelMatcher type=1/name=2/value=3)."""
    from cnosdb_spark.sources.prometheus import (
        MATCHER_EQ,
        MATCHER_NRE,
        MATCHER_RE,
        decode_read_request,
        decode_read_response,
        encode_read_request,
        encode_read_response,
    )

    queries = [
        {
            "start_ms": 1700000000000,
            "end_ms": 1700003600000,
            "matchers": [
                (MATCHER_EQ, "__name__", "node_cpu"),
                (MATCHER_RE, "host", "h[0-9]+"),
                (MATCHER_NRE, "dc", "eu-.*"),
            ],
        },
        {"start_ms": 0, "end_ms": 1, "matchers": [(MATCHER_EQ, "job", "api")]},
    ]
    assert decode_read_request(encode_read_request(queries)) == queries

    results = [
        [
            {
                "labels": [("__name__", "node_cpu"), ("host", "h1")],
                "samples": [(0.5, 1700000000000), (0.7, 1700000060000)],
            },
            {"labels": [("host", "h2")], "samples": [(0.9, -5)]},
        ],
        [],
    ]
    assert decode_read_response(encode_read_response(results)) == results


def test_prometheus_remote_read(eng):
    """End-to-end remote read (remote_server.rs:44-71): remote-write two
    metrics, then read back with EQ-name + tag matchers and a RE-name
    matcher; verify table selection, tag filtering, time-range bounds,
    and TimeSeries grouping."""
    from cnosdb_spark.sources.prometheus import (
        MATCHER_EQ,
        MATCHER_NEQ,
        MATCHER_RE,
        decode_read_response,
        encode_read_request,
        encode_write_request,
        snappy_compress,
        snappy_decompress,
    )

    eng.write_prometheus(
        snappy_compress(
            encode_write_request(
                [
                    {
                        "labels": {"__name__": "node_cpu", "host": "h1"},
                        "samples": [(0.5, 1_000_000), (0.7, 2_000_000),
                                    (0.9, 99_000_000)],
                    },
                    {
                        "labels": {"__name__": "node_cpu", "host": "h2"},
                        "samples": [(0.3, 1_500_000)],
                    },
                    {
                        "labels": {"__name__": "node_mem", "host": "h1"},
                        "samples": [(123.0, 1_000_000)],
                    },
                ]
            )
        )
    )

    # EQ name matcher + RE tag matcher + bounded time range: only node_cpu
    # rows in [0, 3e6) ms for hosts matching h[12]
    req = snappy_compress(
        encode_read_request(
            [
                {
                    "start_ms": 0,
                    "end_ms": 3_000_000,
                    "matchers": [
                        (MATCHER_EQ, "__name__", "node_cpu"),
                        (MATCHER_RE, "host", "h[12]"),
                    ],
                }
            ]
        )
    )
    results = decode_read_response(snappy_decompress(eng.read_prometheus(req)))
    assert len(results) == 1
    series = {dict(ts["labels"])["host"]: ts["samples"] for ts in results[0]}
    assert series["h1"] == [(0.5, 1_000_000), (0.7, 2_000_000)]  # 99e6 cut
    assert series["h2"] == [(0.3, 1_500_000)]
    # every label (incl. __name__) comes back, mirroring labels-as-tags
    assert all(dict(ts["labels"])["__name__"] == "node_cpu"
               for ts in results[0])

    # RE name matcher fans out over both tables; NEQ tag matcher filters
    req2 = snappy_compress(
        encode_read_request(
            [
                {
                    "start_ms": 0,
                    "end_ms": 100_000_000,
                    "matchers": [
                        (MATCHER_RE, "__name__", "node_.*"),
                        (MATCHER_NEQ, "host", "h2"),
                    ],
                }
            ]
        )
    )
    res2 = decode_read_response(snappy_decompress(eng.read_prometheus(req2)))
    names = sorted(dict(ts["labels"])["__name__"] for ts in res2[0])
    assert names == ["node_cpu", "node_mem"]

    # EQ name matcher on a missing table errors (remote_server.rs:288-293)
    import pytest as _pytest

    bad = snappy_compress(
        encode_read_request(
            [{"start_ms": 0, "end_ms": 1,
              "matchers": [(MATCHER_EQ, "__name__", "nope")]}]
        )
    )
    with _pytest.raises(ValueError, match="table not found"):
        eng.read_prometheus(bad)

    # response-size guard: a matcher selecting more rows than the limit
    # fails loudly BEFORE the driver collects anything
    orig = eng.PROM_READ_MAX_ROWS
    try:
        eng.PROM_READ_MAX_ROWS = 2
        wide = snappy_compress(
            encode_read_request(
                [{"start_ms": 0, "end_ms": 100_000_000,
                  "matchers": [(MATCHER_EQ, "__name__", "node_cpu")]}]
            )
        )
        with _pytest.raises(ValueError, match="more than 2 rows"):
            eng.read_prometheus(wide)
    finally:
        eng.PROM_READ_MAX_ROWS = orig


def _driver_and_bulk(spark, text_lines, nparts):
    """The same lines through the driver path (one request body) and the
    executor-side bulk path (``nparts`` shards)."""
    from cnosdb_spark.sources.line_protocol import (
        lines_to_tables,
        lines_to_tables_single_pass,
    )

    lines_df = spark.createDataFrame(
        [(ln,) for ln in text_lines], ["value"]
    ).repartition(nparts)
    return [
        ("driver", lines_to_tables(spark, "\n".join(text_lines))),
        ("single_pass", lines_to_tables_single_pass(spark, lines_df)),
    ]


def test_lines_to_tables_distributed_parity(spark):
    """The bulk executor-side parse must produce the same tables the
    driver-side helper does (same rows, tags, schema, column order) on a
    corpus without type conflicts."""
    text_lines = [
        'weather,city=sf,station=a temp=13.5,hum=71i 1700000000000000000',
        'weather,city=la temp=21.0 1700000000500000000',
        'weather,city=sf,station=b temp=12.25,ok=true 1700000001000000000',
        'cpu,host=h1 usage=0.55,label="idle" 1700000002000000000',
        'cpu,host=h2 usage=0.85 1700000002500000000',
        # sub-microsecond residue must survive the bulk path too
        'cpu,host=h3 usage=0.15 1700000002500000777',
        '# a comment line',
        '',
    ]
    (_, driver), (_, dist) = _driver_and_bulk(spark, text_lines, 4)

    assert set(driver) == set(dist) == {"weather", "cpu"}
    for m in driver:
        ddf, dtags = driver[m]
        xdf, xtags = dist[m]
        assert dtags == xtags
        assert ddf.dtypes == xdf.dtypes
        a = sorted(tuple(r) for r in ddf.collect())
        b = sorted(tuple(r) for r in xdf.collect())
        assert a == b


def test_distributed_schema_widens_across_shards(spark):
    """Type conflict between lines: int in one, float in another →
    widest-wins (float column), values coerced — in one request body and
    across shards alike, deterministic under any partitioning."""
    text_lines = ["m1 v=3i 1700000000000000000", "m1 v=4.5 1700000001000000000"]
    for label, tables in _driver_and_bulk(spark, text_lines, 2):
        (df, tags), = tables.values()
        assert dict(df.dtypes)["v"] == "double", label
        assert sorted(r["v"] for r in df.collect()) == [3.0, 4.5], label


def test_single_pass_parity_with_driver(spark, tmp_path):
    """The one-parse long-format bulk path must produce the same tables as
    the driver path — across multiple measurements, type conflicts
    (int/float, bool/int) and a tag/field role conflict — both in-memory
    and via the partitioned parquet staging variant."""
    from cnosdb_spark.sources.line_protocol import (
        lines_to_tables,
        lines_to_tables_single_pass,
    )

    text_lines = [
        'weather,city=sf temp=13.5,hum=71i 1700000000000000000',
        'weather,city=la temp=21i,ok=true 1700000000500000000',
        'weather,city=sf hum=3.25,ok=false 1700000001000000000',
        'cpu,host=h1 usage=0.55,label="idle" 1700000002000000000',
        'cpu,host=h2 usage=true 1700000002500000000',
        'cpu host=7i,usage=0.15 1700000002500000777',  # host: tag vs field
        'mem,host=h3 free=123456789i 1700000003000000000',
        '# comment',
        '',
    ]
    lines_df = spark.createDataFrame(
        [(ln,) for ln in text_lines], ["value"]
    ).repartition(3)
    driver = lines_to_tables(spark, "\n".join(text_lines))
    for staging in (None, str(tmp_path / "staging")):
        one = lines_to_tables_single_pass(
            spark, lines_df, staging_path=staging
        )
        assert set(driver) == set(one) == {"weather", "cpu", "mem"}
        for m in driver:
            ddf, dtags = driver[m]
            odf, otags = one[m]
            assert dtags == otags
            assert ddf.dtypes == odf.dtypes
            a = sorted(tuple(r) for r in ddf.collect())
            b = sorted(tuple(r) for r in odf.collect())
            assert a == b, f"measurement {m} diverged (staging={staging})"


def test_single_pass_staging_numeric_measurement_names(spark, tmp_path):
    """The staging variant reads the measurement back as a parquet
    PARTITION column — with type inference, numeric-looking names
    ('123', '01') come back as ints: the dict keys change type and
    '01'/'1' collide. The explicit-schema read must keep them distinct
    strings, identical to the in-memory path."""
    from cnosdb_spark.sources.line_protocol import lines_to_tables_single_pass

    text_lines = [
        '01,host=a value=1.5 1000000000',
        '1,host=b value=2.5 2000000000',
        '123,host=c value=3.5 3000000000',
    ]
    lines_df = spark.createDataFrame([(ln,) for ln in text_lines], ["value"])
    mem = lines_to_tables_single_pass(spark, lines_df)
    staged = lines_to_tables_single_pass(
        spark, lines_df, staging_path=str(tmp_path / "stage")
    )
    assert set(staged) == set(mem) == {"01", "1", "123"}
    assert all(isinstance(k, str) for k in staged)
    for m in mem:
        assert sorted(tuple(r) for r in staged[m][0].collect()) == sorted(
            tuple(r) for r in mem[m][0].collect()
        )


def test_distributed_schema_bool_conflicts(spark):
    """bool<int<float widening makes bool/int and bool/float conflicts
    reachable between lines; the bool values must coerce (Python bools
    into a LongType/DoubleType column can't rely on an implicit Arrow
    cast)."""
    text_lines = ["m1 v=true,w=false 1700000000000000000",
                  "m1 v=3i,w=2.5 1700000001000000000"]
    for label, tables in _driver_and_bulk(spark, text_lines, 2):
        (df, tags), = tables.values()
        types = dict(df.dtypes)
        assert types["v"] == "bigint" and types["w"] == "double", label
        rows = sorted((r["v"], r["w"]) for r in df.collect())
        assert rows == [(1, 0.0), (3, 2.5)], label


def test_distributed_schema_tag_field_conflict_tag_wins(spark):
    """A key seen as a tag in one line and a field in another resolves
    TAG-WINS deterministically (and the type widens to str, since tags
    are strings) — regardless of which line comes first or which shard's
    distinct rows arrive first."""
    text = ["m1,role=a v=1i 1700000000000000000",
            "m1 role=7i,v=2i 1700000001000000000"]
    for perm in (text, text[::-1]):
        for label, tables in _driver_and_bulk(spark, perm, 2):
            (df, tags), = tables.values()
            assert tags == {"role"}, label
            assert df.dtypes == [
                ("time", "timestamp"), ("role", "string"), ("v", "bigint")
            ], label
            assert sorted(r["role"] for r in df.collect()) == ["7", "a"], label
