"""JSON protocol ingest: Elasticsearch-bulk log pairs and ndjson.

Reference: /root/reference common/protocol_parser/src/json_protocol/
parser.rs — `flatten_json` (nested objects/arrays to dotted keys,
parser.rs:71-103), `parse_json_to_eslog` (alternating command/fields
lines, commands `index`/`create` with optional _index/_id,
parser.rs:105-145), `parse_json_to_ndjsonlog` (one flat object per line,
parser.rs:147-162). The Loki protobuf variant needs snappy+protobuf and is
out of scope. Endpoint main/src/http/http_service.rs:691.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone


def flatten_json(name: str, value) -> dict:
    """Nested objects/arrays → flat dotted keys (parser.rs:71-103: arrays
    flatten by element index)."""
    out: dict = {}
    if isinstance(value, dict):
        for k, v in value.items():
            for k2, v2 in flatten_json(k, v).items():
                out[k2 if not name else f"{name}.{k2}"] = v2
    elif isinstance(value, list):
        for idx, v in enumerate(value):
            for k2, v2 in flatten_json(str(idx), v).items():
                out[k2 if not name else f"{name}.{k2}"] = v2
    else:
        out[name] = value
    return out


def parse_es_log(text: str) -> list[dict]:
    """ES bulk pairs: `{"index": {"_index": ..., "_id": ...}}` then the
    fields object. Returns [{"_table": index-or-None, **flat_fields}]."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    if len(lines) % 2:
        raise ValueError("es log must be a pair of command and fields")
    logs = []
    for i in range(0, len(lines), 2):
        cmd = json.loads(lines[i])
        if not isinstance(cmd, dict) or not ({"index", "create"} & set(cmd)):
            raise ValueError(f"invalid es command: {lines[i][:60]!r}")
        info = cmd.get("index") or cmd.get("create") or {}
        fields = flatten_json("", json.loads(lines[i + 1]))
        fields["_table"] = info.get("_index")
        logs.append(fields)
    return logs


def parse_ndjson(text: str) -> list[dict]:
    return [
        flatten_json("", json.loads(ln))
        for ln in text.splitlines()
        if ln.strip()
    ]


def _coerce_time(v) -> datetime:
    if isinstance(v, (int, float)):
        # integer times are epoch ns in the reference's json path
        return datetime(1970, 1, 1) + timedelta(microseconds=int(v) // 1000)
    if isinstance(v, str):
        return datetime.fromisoformat(v.replace("Z", "+00:00")).astimezone(
            timezone.utc
        ).replace(tzinfo=None)
    raise ValueError(f"invalid time format: {v!r}")


def group_logs(
    logs: list[dict],
    default_table: str = "log",
    tag_keys: set[str] | None = None,
) -> dict[str, tuple[list[dict], set[str]]]:
    """Flattened logs → the shared {table: (rows, tag_keys)} point shape.
    Dotted keys become column names (schemaless, like line protocol); a
    log's ``_table`` (the ES ``_index``) names its table, else
    ``default_table``; keys listed in ``tag_keys`` become tags. A log
    without ``time`` is stamped with the current time."""
    tag_keys = set(tag_keys or ())
    out: dict[str, tuple[list[dict], set[str]]] = {}
    for log in logs:
        row = dict(log)
        table = row.pop("_table", None) or default_table
        row["time"] = (
            _coerce_time(row["time"]) if "time" in row
            else datetime.now(timezone.utc).replace(tzinfo=None)
        )
        out.setdefault(table, ([], tag_keys))[0].append(row)
    return out
