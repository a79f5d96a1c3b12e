"""Wire-protocol ingest (line protocol, OpenTSDB, ES bulk, ndjson,
Prometheus remote-write). Each protocol module only parses a request body
into the shared point shape ``{table: (rows, tag_keys)}`` — rows are dicts
of ``time`` (a datetime) plus tag and field values. :func:`points_to_tables`
is the one rows-to-frame step: it turns that shape into
``{table: (DataFrame, tag_keys)}`` for the engine's schemaless write path.
"""

from __future__ import annotations

from pyspark.sql import types as T

# batch_df slice size: rows per ingest task (see its docstring)
INGEST_ROWS_PER_SLICE = 4096

_KIND_ORDER = {"bool": 0, "int": 1, "float": 2, "str": 3}
_KIND_OF = {bool: "bool", int: "int", float: "float", str: "str"}
_PY_OF = {"bool": bool, "int": int, "float": float, "str": str}
_SPARK_TYPES = {
    bool: T.BooleanType(), int: T.LongType(),
    float: T.DoubleType(), str: T.StringType(),
}


def batch_df(spark, data, schema):
    """Build a DataFrame from a driver-local protocol batch at a slice
    count derived from the batch size, not ``defaultParallelism``.

    ``createDataFrame(list)`` parallelizes into defaultParallelism slices
    (32 here), so a 600-row ingest request became 32 near-empty partitions
    — and every downstream job over it (count/range guard, the partitioned
    data write, the series-index append) paid a 32-task stage, while the
    ``partitionBy(_tb)`` write sprayed up to slices x buckets tiny files
    that every later merge-on-read scan re-listed. Slicing to
    ``ceil(rows / INGEST_ROWS_PER_SLICE)`` keeps small request bodies at
    one fuller task and converges to the old behavior for genuinely large
    batches (cap: defaultParallelism).

    The slice count is set at ``parallelize`` time, NOT via
    ``.coalesce(n)`` on the 32-slice frame: a coalesced task re-runs each
    parent PythonRDD partition's compute serially — measured ~125 ms of
    Python-worker round-trip per parent slice, i.e. a flat ~4 s per
    action for coalesce(1) over 32 slices, versus 0.2 s when the data is
    one slice from the start. ``parallelize`` slices the list in order,
    so the parse order — the LWW within-batch tie-break — is unchanged.
    """
    target = min(
        spark.sparkContext.defaultParallelism,
        max(1, -(-len(data) // INGEST_ROWS_PER_SLICE)),
    )
    return spark.createDataFrame(
        spark.sparkContext.parallelize(list(data), target), schema
    )


def points_to_tables(spark, parsed: dict) -> dict:
    """``{table: (rows, tag_keys)}`` → ``{table: (DataFrame, tag_keys)}``,
    the schemaless rows-to-frame step of every wire protocol.

    Column types and roles come from :func:`_resolve_discovered` over all
    values of the batch (widest-wins, tag-wins), so the result does not
    depend on line order. Columns are in name order — time, tags, fields
    — as the reference creates a table from a write batch
    (sqlancer/repeat_write.slt:24-32: f0 precedes f1 although f1 arrived
    first). A key whose values are all None becomes a string column.
    Values are passed through ``_coerce_kind`` only in columns where some
    value is not already of the resolved type, so a batch without
    conflicts builds its tuples straight from the rows. The returned tag
    keys are the resolved ones (a key that was a tag in any row)."""
    out = {}
    for name, (rows, tagkeys) in parsed.items():
        kinds: dict[str, set] = {}
        for r in rows:
            for k, v in r.items():
                kinds.setdefault(k, set()).add(type(v))
        kinds.pop("time", None)
        for types in kinds.values():
            types.discard(type(None))
        keys, tags, py = _resolve_discovered(
            (name, k, k in tagkeys, _KIND_OF[t])
            for k, types in kinds.items()
            for t in types or {str}
        ).get(name, (["time"], set(), {}))
        mixed = {k for k in keys[1:] if kinds[k] - {py[k]}}
        if mixed:
            data = [
                tuple(_coerce_kind(r.get(k), py[k]) if k in mixed else r.get(k)
                      for k in keys)
                for r in rows
            ]
        else:
            data = [tuple(r.get(k) for k in keys) for r in rows]
        schema = T.StructType(
            [T.StructField("time", T.TimestampType(), False)]
            + [T.StructField(k, _SPARK_TYPES[py[k]], True) for k in keys[1:]]
        )
        out[name] = (batch_df(spark, data, schema), tags)
    return out


def _resolve_discovered(tuples):
    """The schemaless schema rule: fold (table, key, is_tag, kind)
    observations, kind one of bool/int/float/str, into
    ``{table: (ordered_keys, tag_keys, {key: python_type})}``.
    Type conflicts resolve widest-wins (bool < int < float < str); a key
    seen as a tag in one row and a field in another resolves tag-wins,
    and tags are strings, so its type widens to str. Deterministic under
    any observation order; ordered_keys is time, sorted tags, sorted
    fields."""
    schemas: dict = {}
    for m, key, is_tag, kind in tuples:
        keys = schemas.setdefault(m, {})
        prev = keys.get(key)
        if prev is not None:
            kind = max(prev[1], kind, key=_KIND_ORDER.__getitem__)
            is_tag = prev[0] or is_tag
        if is_tag:
            kind = "str"
        keys[key] = (is_tag, kind)
    out = {}
    for m, keys in schemas.items():
        tagk = {k for k, (is_tag, _) in keys.items() if is_tag}
        ordered = (
            ["time"]
            + sorted(k for k in keys if k in tagk)
            + sorted(k for k in keys if k not in tagk)
        )
        out[m] = (ordered, tagk, {k: _PY_OF[kind] for k, (_, kind) in keys.items()})
    return out


def _coerce_kind(v, py):
    """Widen a parsed value to its column's resolved type: bool → int or
    float (bool < int < float), int → float, anything → str when strings
    won (bools as true/false)."""
    if v is None:
        return v
    if isinstance(v, bool):
        if py is int:
            return int(v)
        if py is float:
            return float(v)
    if py is float and isinstance(v, int):
        return float(v)
    if py is str and not isinstance(v, str):
        return str(v).lower() if isinstance(v, bool) else str(v)
    return v
