"""OpenTSDB protocol ingest: telnet `put` lines and the HTTP write format.

Reference: /root/reference common/protocol_parser/src/open_tsdb/parser.rs
(`next_line` = `<metric> <timestamp> <value> <tag=v>...`, single implicit
field "value" as F64, parser.rs:36-108; `parse_tcp_opentsdb` = the same
tokens behind a case-sensitive `put` command, \r\n-framed,
parser.rs:110-140). HTTP endpoint main/src/http/http_service.rs:607.

Timestamps follow the OpenTSDB convention (epoch seconds or milliseconds,
distinguished by magnitude; larger values are taken as µs/ns) and are
normalized to µs — the engine's native precision.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

OPEN_TSDB_DEFAULT_FIELD = "value"


def _ts_to_micros(raw: int) -> int:
    """OpenTSDB accepts epoch seconds or milliseconds; values bigger than
    that are interpreted as µs then ns (magnitude heuristic)."""
    a = abs(raw)
    if a < 100_000_000_000:  # < 1e11 → seconds (covers dates past year 5138)
        return raw * 1_000_000
    if a < 100_000_000_000_000:  # < 1e14 → milliseconds
        return raw * 1_000
    if a < 100_000_000_000_000_000:  # < 1e17 → microseconds
        return raw
    return raw // 1_000  # nanoseconds


def parse_open_tsdb(
    text: str, default_time_us: int | None = None
) -> dict[str, tuple[list[dict], set[str]]]:
    """HTTP write format: one point per line. Returns the same
    {metric: (rows, tag_keys)} shape as line_protocol.parse_lines_meta."""
    out: dict[str, tuple[list[dict], set[str]]] = {}
    for lineno, line in enumerate(text.splitlines(), 1):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        _parse_point(line.split(), lineno, out, default_time_us)
    return out


def parse_open_tsdb_tcp(
    text: str, default_time_us: int | None = None
) -> dict[str, tuple[list[dict], set[str]]]:
    """Telnet format: `put <metric> <ts> <value> <tag=v>...`, \r\n framed.
    The command is case-sensitive (parser.rs:131-137, "verified in real
    OpenTSDB")."""
    out: dict[str, tuple[list[dict], set[str]]] = {}
    for lineno, raw in enumerate(text.split("\r\n"), 1):
        raw = raw.strip()
        if not raw:
            continue
        tokens = raw.split()
        if tokens[0] != "put":
            raise ValueError(f"line {lineno}: unknown command {tokens[0]!r}")
        if len(tokens) < 4:
            raise ValueError(
                f"line {lineno}: put needs metric, timestamp, value and ≥1 tag"
            )
        _parse_point(tokens[1:], lineno, out, default_time_us)
    return out


def _parse_point(tokens, lineno, out, default_time_us):
    if not tokens:
        return
    metric = tokens[0]
    pos = 1
    ts_us = default_time_us
    if pos < len(tokens) and not ("=" in tokens[pos]):
        try:
            ts_us = _ts_to_micros(int(tokens[pos]))
            pos += 1
        except ValueError as e:
            raise ValueError(f"line {lineno}: bad timestamp {tokens[pos]!r}") from e
    if pos >= len(tokens) or "=" in tokens[pos]:
        raise ValueError(f"line {lineno}: missing field 'value'")
    try:
        value = float(tokens[pos])
    except ValueError as e:
        raise ValueError(f"line {lineno}: bad value {tokens[pos]!r}") from e
    pos += 1
    row: dict = {OPEN_TSDB_DEFAULT_FIELD: value}
    rows, tagkeys = out.setdefault(metric, ([], set()))
    for tok in tokens[pos:]:
        k, eq, v = tok.partition("=")
        if not eq or not k or not v:
            raise ValueError(f"line {lineno}: bad tag {tok!r}")
        row[k] = v
        tagkeys.add(k)
    if ts_us is None:
        row["time"] = datetime.now(timezone.utc).replace(tzinfo=None)
    else:
        row["time"] = datetime(1970, 1, 1) + timedelta(microseconds=ts_us)
    rows.append(row)


def parse_open_tsdb_json(
    text: str,
) -> dict[str, tuple[list[dict], set[str]]]:
    """OpenTSDB HTTP JSON put format (api/v1/opentsdb/put; reference
    common/protocol_parser/src/open_tsdb/parser.rs JSON branch): a single
    point object or a list of {metric, timestamp, value, tags{}}.
    Timestamps go through the same magnitude heuristic as the text
    protocol."""
    data = json.loads(text)
    if isinstance(data, dict):
        data = [data]
    out: dict[str, tuple[list[dict], set[str]]] = {}
    for i, pt in enumerate(data):
        if not isinstance(pt, dict) or "metric" not in pt or "value" not in pt:
            raise ValueError(f"opentsdb json: bad point #{i}: {pt!r}")
        metric = pt["metric"]
        rows, tagkeys = out.setdefault(metric, ([], set()))
        tags = pt.get("tags") or {}
        tagkeys.update(tags)
        row = {k: str(v) for k, v in tags.items()}
        row[OPEN_TSDB_DEFAULT_FIELD] = float(pt["value"])
        ts_us = _ts_to_micros(int(pt["timestamp"]))
        row["time"] = datetime(1970, 1, 1) + timedelta(microseconds=ts_us)
        rows.append(row)
    return out
