"""Prometheus remote-write ingest.

Reference: /root/reference query_server/query/src/prom/remote_server.rs
(`remote_write` = snappy-decompress → protobuf `WriteRequest` decode →
`prom_write_request_to_lines`), constants in query/src/prom/mod.rs
(`__name__` label names the table, default ``prom_metric_not_specified``;
the single implicit field is ``value``), message layout in
common/protos/src/prompb/prometheus.rs (WriteRequest.timeseries=1;
TimeSeries.labels=1, samples=2; Label.name=1, value=2; Sample.value=1,
timestamp=2 in milliseconds — scaled ×1e6 to ns by the reference, µs
here, the engine's native precision).

No protobuf/snappy libraries are baked into this container, so both wire
formats are decoded with minimal pure-Python readers. That is the slow
path by design: ingest parsing is driver/edge work on kilobyte payloads;
the resulting rows land in Spark DataFrames for everything heavy.

Line conversion semantics (remote_server.rs:79-115):
- every label (INCLUDING ``__name__``) becomes a tag;
- the metric name (``__name__`` value) selects the table;
- each sample is one row with double field ``value``.
"""

from __future__ import annotations

from datetime import datetime, timedelta

METRIC_NAME_LABEL = "__name__"
METRIC_SAMPLE_COLUMN_NAME = "value"
DEFAULT_PROM_TABLE_NAME = "prom_metric_not_specified"


# ------------------------------------------------------------------ snappy
def snappy_decompress(data: bytes) -> bytes:
    """Raw (block-format) snappy decode: varint uncompressed-length
    preamble, then literal/copy elements (format_description.txt)."""
    n, pos = _read_uvarint(data, 0)
    out = bytearray()
    while pos < len(data):
        tag = data[pos]
        pos += 1
        kind = tag & 0x03
        if kind == 0:  # literal
            length = tag >> 2
            if length >= 60:
                nbytes = length - 59
                length = int.from_bytes(data[pos : pos + nbytes], "little")
                pos += nbytes
            length += 1
            out += data[pos : pos + length]
            pos += length
            continue
        if kind == 1:  # copy, 1-byte offset
            length = ((tag >> 2) & 0x07) + 4
            offset = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            length = (tag >> 2) + 1
            offset = int.from_bytes(data[pos : pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte offset
            length = (tag >> 2) + 1
            offset = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
        if offset == 0 or offset > len(out):
            raise ValueError("snappy: bad copy offset")
        start = len(out) - offset
        for i in range(length):  # may self-overlap; byte-at-a-time is correct
            out.append(out[start + i])
    if len(out) != n:
        raise ValueError(f"snappy: expected {n} bytes, got {len(out)}")
    return bytes(out)


def snappy_compress(data: bytes) -> bytes:
    """Spec-compliant compressor emitting only literal elements (a valid
    snappy stream need not contain copies) — used by tests and clients."""
    out = bytearray(_write_uvarint(len(data)))
    for pos in range(0, len(data), 65536):
        chunk = data[pos : pos + 65536]
        length = len(chunk) - 1
        if length < 60:
            out.append(length << 2)
        else:
            nbytes = (length.bit_length() + 7) // 8
            out.append((59 + nbytes) << 2)
            out += length.to_bytes(nbytes, "little")
        out += chunk
    return bytes(out)


def _read_uvarint(data: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("varint: truncated")
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint: too long")


def _write_uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


# ---------------------------------------------------------------- protobuf
def _iter_fields(data: bytes):
    """Yield (field_number, wire_type, value) over a serialized message.
    Handles varint (0), 64-bit (1), length-delimited (2), 32-bit (5)."""
    pos = 0
    while pos < len(data):
        key, pos = _read_uvarint(data, pos)
        field, wire = key >> 3, key & 0x07
        if wire == 0:
            val, pos = _read_uvarint(data, pos)
        elif wire == 1:
            val, pos = data[pos : pos + 8], pos + 8
        elif wire == 2:
            ln, pos = _read_uvarint(data, pos)
            val, pos = data[pos : pos + ln], pos + ln
        elif wire == 5:
            val, pos = data[pos : pos + 4], pos + 4
        else:
            raise ValueError(f"protobuf: unsupported wire type {wire}")
        yield field, wire, val


def decode_write_request(data: bytes) -> list[dict]:
    """prompb.WriteRequest → [{labels: {name: value}, samples:
    [(value, timestamp_ms)]}] (exemplars/histograms/metadata skipped,
    like the reference's line conversion)."""
    import struct

    series = []
    for field, _wire, val in _iter_fields(data):
        if field != 1:  # WriteRequest.timeseries = 1
            continue
        labels: dict[str, str] = {}
        samples: list[tuple[float, int]] = []
        for f2, _w2, v2 in _iter_fields(val):
            if f2 == 1:  # TimeSeries.labels
                name = value = ""
                for f3, _w3, v3 in _iter_fields(v2):
                    if f3 == 1:
                        name = v3.decode("utf-8")
                    elif f3 == 2:
                        value = v3.decode("utf-8")
                labels[name] = value
            elif f2 == 2:  # TimeSeries.samples
                sval, sts = 0.0, 0
                for f3, w3, v3 in _iter_fields(v2):
                    if f3 == 1 and w3 == 1:
                        sval = struct.unpack("<d", v3)[0]
                    elif f3 == 2:
                        sts = _zigzag_free_int64(v3)
                samples.append((sval, sts))
        series.append({"labels": labels, "samples": samples})
    return series


def _zigzag_free_int64(raw_varint: int) -> int:
    """prost int64 is plain two's-complement varint (not zigzag)."""
    return raw_varint - (1 << 64) if raw_varint >= (1 << 63) else raw_varint


def encode_write_request(series: list[dict]) -> bytes:
    """Inverse of decode_write_request — for tests and as a reference
    client encoder."""
    import struct

    def ld(field: int, payload: bytes) -> bytes:
        return _write_uvarint((field << 3) | 2) + _write_uvarint(len(payload)) + payload

    out = bytearray()
    for ts in series:
        body = bytearray()
        for name, value in ts["labels"].items():
            lab = ld(1, name.encode()) + ld(2, value.encode())
            body += ld(1, lab)
        for sval, sts in ts["samples"]:
            samp = (
                _write_uvarint((1 << 3) | 1)
                + struct.pack("<d", sval)
                + _write_uvarint((2 << 3) | 0)
                + _write_uvarint(sts & ((1 << 64) - 1))
            )
            body += ld(2, samp)
        out += ld(1, bytes(body))
    return bytes(out)


# ------------------------------------------------------------- remote read
# prompb message layout (common/protos/src/prompb/prometheus.rs):
#   ReadRequest.queries = 1 (repeated Query)
#   Query.start_timestamp_ms = 1, end_timestamp_ms = 2,
#         matchers = 3 (repeated LabelMatcher), hints = 4 (ignored, like
#         remote_server.rs:271 `hints: _`)
#   LabelMatcher.type = 1 (0=EQ 1=NEQ 2=RE 3=NRE), name = 2, value = 3
#   ReadResponse.results = 1 (repeated QueryResult)
#   QueryResult.timeseries = 1 (repeated TimeSeries)
MATCHER_EQ, MATCHER_NEQ, MATCHER_RE, MATCHER_NRE = 0, 1, 2, 3


def decode_read_request(data: bytes) -> list[dict]:
    """prompb.ReadRequest → [{start_ms, end_ms, matchers: [(type, name,
    value)]}] (accepted_response_types ignored — we always answer with
    sampled TimeSeries, the reference's only mode)."""
    queries = []
    for field, _wire, val in _iter_fields(data):
        if field != 1:  # ReadRequest.queries = 1
            continue
        q = {"start_ms": 0, "end_ms": 0, "matchers": []}
        for f2, _w2, v2 in _iter_fields(val):
            if f2 == 1:
                q["start_ms"] = _zigzag_free_int64(v2)
            elif f2 == 2:
                q["end_ms"] = _zigzag_free_int64(v2)
            elif f2 == 3:
                mtype, name, value = MATCHER_EQ, "", ""
                for f3, _w3, v3 in _iter_fields(v2):
                    if f3 == 1:
                        mtype = v3
                    elif f3 == 2:
                        name = v3.decode("utf-8")
                    elif f3 == 3:
                        value = v3.decode("utf-8")
                q["matchers"].append((mtype, name, value))
        queries.append(q)
    return queries


def _ld(field: int, payload: bytes) -> bytes:
    return _write_uvarint((field << 3) | 2) + _write_uvarint(len(payload)) + payload


def encode_read_request(queries: list[dict]) -> bytes:
    """Inverse of decode_read_request — reference client encoder + tests."""
    out = bytearray()
    for q in queries:
        body = bytearray()
        body += _write_uvarint((1 << 3) | 0) + _write_uvarint(q["start_ms"] & ((1 << 64) - 1))
        body += _write_uvarint((2 << 3) | 0) + _write_uvarint(q["end_ms"] & ((1 << 64) - 1))
        for mtype, name, value in q["matchers"]:
            m = bytearray()
            if mtype:
                m += _write_uvarint((1 << 3) | 0) + _write_uvarint(mtype)
            m += _ld(2, name.encode()) + _ld(3, value.encode())
            body += _ld(3, bytes(m))
        out += _ld(1, bytes(body))
    return bytes(out)


def _encode_timeseries(ts: dict) -> bytes:
    import struct

    body = bytearray()
    for name, value in ts["labels"]:
        body += _ld(1, _ld(1, name.encode()) + _ld(2, value.encode()))
    for sval, sts_ms in ts["samples"]:
        samp = (
            _write_uvarint((1 << 3) | 1)
            + struct.pack("<d", sval)
            + _write_uvarint((2 << 3) | 0)
            + _write_uvarint(sts_ms & ((1 << 64) - 1))
        )
        body += _ld(2, samp)
    return bytes(body)


def encode_read_response(results: list[list[dict]]) -> bytes:
    """[[{labels: [(name, value)], samples: [(value, ts_ms)]}]] →
    prompb.ReadResponse bytes (one inner list per request query)."""
    out = bytearray()
    for timeseries in results:
        qr = bytearray()
        for ts in timeseries:
            qr += _ld(1, _encode_timeseries(ts))
        out += _ld(1, bytes(qr))
    return bytes(out)


def decode_read_response(data: bytes) -> list[list[dict]]:
    """Inverse of encode_read_response — tests and reference clients."""
    import struct

    results = []
    for field, _w, val in _iter_fields(data):
        if field != 1:
            continue
        timeseries = []
        for f2, _w2, v2 in _iter_fields(val):
            if f2 != 1:
                continue
            labels, samples = [], []
            for f3, w3, v3 in _iter_fields(v2):
                if f3 == 1:
                    name = value = ""
                    for f4, _w4, v4 in _iter_fields(v3):
                        if f4 == 1:
                            name = v4.decode("utf-8")
                        elif f4 == 2:
                            value = v4.decode("utf-8")
                    labels.append((name, value))
                elif f3 == 2:
                    sval, sts = 0.0, 0
                    for f4, w4, v4 in _iter_fields(v3):
                        if f4 == 1 and w4 == 1:
                            sval = struct.unpack("<d", v4)[0]
                        elif f4 == 2:
                            sts = _zigzag_free_int64(v4)
                    samples.append((sval, sts))
            timeseries.append({"labels": labels, "samples": samples})
        results.append(timeseries)
    return results


def matcher_filters(matchers: list[tuple[int, str, str]]) -> list[str]:
    """Non-__name__ matchers → SQL predicates (remote_server.rs:333-347;
    the reference's ``~``/``!~`` become Spark's RLIKE)."""
    filters = []
    for mtype, name, value in matchers:
        if name == METRIC_NAME_LABEL:
            continue
        esc = value.replace("'", "''")
        if mtype == MATCHER_EQ:
            filters.append(f"`{name}` = '{esc}'")
        elif mtype == MATCHER_NEQ:
            filters.append(f"`{name}` != '{esc}'")
        elif mtype == MATCHER_RE:
            filters.append(f"`{name}` RLIKE '{esc}'")
        elif mtype == MATCHER_NRE:
            filters.append(f"`{name}` NOT RLIKE '{esc}'")
        else:
            raise ValueError(f"prometheus: unknown matcher type {mtype}")
    return filters


def df_to_timeseries(rows, tag_cols: list[str]) -> list[dict]:
    """Query result rows → TimeSeries list, grouping samples by their tag
    set (remote_server.rs transform_time_series + time_series/writer.rs).
    NULL tags are skipped from the label set, mirroring the writer's
    ``append_option`` behavior. Sample timestamps are emitted in ms."""
    series: dict[tuple, dict] = {}
    for row in rows:
        key = tuple((c, row[c]) for c in tag_cols if row[c] is not None)
        entry = series.setdefault(
            key, {"labels": list(key), "samples": []}
        )
        t = row["time"]
        ts_ms = int(
            (t - datetime(1970, 1, 1)).total_seconds() * 1000
        ) if isinstance(t, datetime) else int(t) // 1000
        entry["samples"].append((float(row[METRIC_SAMPLE_COLUMN_NAME]), ts_ms))
    return list(series.values())


# ------------------------------------------------------------------ ingest
def parse_remote_write(
    data: bytes, compressed: bool = True
) -> dict[str, tuple[list[dict], set[str]]]:
    """Snappy+protobuf payload → {table: (rows, tag_keys)}, the shared
    schemaless-write shape (same as line_protocol.parse_lines_meta)."""
    if compressed:
        data = snappy_decompress(data)
    out: dict[str, tuple[list[dict], set[str]]] = {}
    for ts in decode_write_request(data):
        labels = ts["labels"]
        table = labels.get(METRIC_NAME_LABEL, DEFAULT_PROM_TABLE_NAME)
        rows, tagkeys = out.setdefault(table, ([], set()))
        tagkeys.update(labels)
        for sval, sts_ms in ts["samples"]:
            row = dict(labels)
            row[METRIC_SAMPLE_COLUMN_NAME] = sval
            # sample timestamps are ms (prometheus.rs:77-80); reference
            # scales ×1e6 to ns, our native precision is µs
            row["time"] = datetime(1970, 1, 1) + timedelta(milliseconds=sts_ms)
            rows.append(row)
    return out
