"""InfluxDB line-protocol ingest adapter.

Reference: /root/reference common/protocol_parser/src/line_protocol/ (and
the api/v1/write endpoint main/src/http/http_service.rs:484). Schemaless
writes auto-create tables/columns; tags are strings, fields are
float/int/uint/bool/string, timestamp is an integer suffix.

Requests (HTTP bodies) parse on the driver: ``parse_lines_meta`` yields
the shared ``{measurement: (rows, tag_keys)}`` point shape and
``lines_to_tables`` turns it into one DataFrame per measurement through
``sources.points_to_tables`` — columns time + tags + fields, ready for
Catalog.insert (which performs the schema merge / auto-create). Bulk
backfills parse on executors (``lines_to_tables_single_pass``: raw text
never reaches the driver) under the same schema rule, so the driver path
is the parity reference for the bulk path.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession

from ..schema import NS_RESIDUE_COL
from . import _KIND_OF, _SPARK_TYPES, _resolve_discovered, points_to_tables

_UNESCAPE = re.compile(r"\\([ ,=])")


def _split_unescaped(s: str, sep: str) -> list[str]:
    """Split on unescaped ``sep`` characters outside double quotes."""
    parts: list[str] = []
    cur: list[str] = []
    in_quotes = False
    i = 0
    while i < len(s):
        ch = s[i]
        if ch == "\\" and i + 1 < len(s) and not in_quotes:
            cur.append(ch)
            cur.append(s[i + 1])
            i += 2
            continue
        if ch == '"':
            in_quotes = not in_quotes
            cur.append(ch)
        elif ch == sep and not in_quotes:
            if cur:
                parts.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        parts.append("".join(cur))
    return parts


def _unescape(s: str) -> str:
    return _UNESCAPE.sub(r"\1", s)


def _partition_unescaped(s: str, sep: str) -> tuple[str, str, str]:
    """str.partition at the first UNESCAPED ``sep`` — a plain partition
    splits tag/field keys containing ``\\=`` at the escape (found by the
    round-trip fuzzer, tests/test_fuzz_operators.py)."""
    i = 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            i += 2
            continue
        if s[i] == sep:
            return s[:i], sep, s[i + 1 :]
        i += 1
    return s, "", ""


def parse_field_value(raw: str):
    """Field value typing per the line-protocol spec: 10i → int, 10u → uint,
    "x" → string, t/true/f/false → bool, else float."""
    if raw.startswith('"') and raw.endswith('"') and len(raw) >= 2:
        return raw[1:-1].replace('\\"', '"'), "string"
    low = raw.lower()
    if low in ("t", "true"):
        return True, "boolean"
    if low in ("f", "false"):
        return False, "boolean"
    if raw.endswith("i"):
        return int(raw[:-1]), "bigint"
    if raw.endswith("u"):
        return int(raw[:-1]), "unsigned"
    return float(raw), "double"


def parse_lines(text: str, precision: str = "ns") -> dict[str, list[dict]]:
    """Parse line-protocol text → {measurement: [row dicts]}.

    Row dict: {"time": datetime, "<tag>": str..., "<field>": val...}.
    """
    return {k: v[0] for k, v in parse_lines_meta(text, precision).items()}


def parse_lines_meta(
    text: str, precision: str = "ns"
) -> dict[str, tuple[list[dict], set[str]]]:
    """Like parse_lines but also returns the set of tag keys per
    measurement (the parser knows which section a key came from — needed
    for schema auto-creation, where a string *field* must not become a tag)."""
    mult = {"s": 1_000_000_000, "ms": 1_000_000, "us": 1_000, "ns": 1}[precision]
    out: dict[str, tuple[list[dict], set[str]]] = {}
    for lineno, line in enumerate(text.splitlines(), 1):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = _split_unescaped(line, ' ')
        if len(parts) < 2:
            raise ValueError(f"line {lineno}: expected measurement+fields[+ts]: {line!r}")
        head = parts[0]
        fields_raw = parts[1]
        ts_raw = parts[2] if len(parts) > 2 else None

        head_parts = _split_unescaped(head, ',')
        measurement = _unescape(head_parts[0])
        row: dict = {}
        rows, tagkeys = out.setdefault(measurement, ([], set()))
        for tag_kv in head_parts[1:]:
            k, _, v = _partition_unescaped(tag_kv, "=")
            key = _unescape(k)
            row[key] = _unescape(v)
            tagkeys.add(key)
        for field_kv in _split_unescaped(fields_raw, ','):
            k, _, v = _partition_unescaped(field_kv, "=")
            val, _typ = parse_field_value(v)
            row[_unescape(k)] = val
        if ts_raw is not None:
            ns = int(ts_raw) * mult
            # integer µs arithmetic: float seconds would lose ns precision
            row["time"] = datetime(1970, 1, 1) + timedelta(microseconds=ns // 1000)
            if ns % 1000:
                # sub-µs residue rides along in the hidden storage column
                # so ns-distinct points stay distinct under the LWW merge
                # (the reference keys on raw i64 ns — sqlancer/
                # repeat_write.slt expects timestamps 1..3 ns as 3 rows)
                row[NS_RESIDUE_COL] = ns % 1000
        else:
            row["time"] = datetime.now(timezone.utc).replace(tzinfo=None)
        rows.append(row)
    return out


def lines_to_tables(
    spark: SparkSession, text: str, precision: str = "ns"
) -> dict[str, tuple[DataFrame, set[str]]]:
    """Line protocol → {measurement: (DataFrame, tag_keys)}, the driver
    path of ``Engine.write_lines`` (schemaless: the schema is the union of
    keys, typed by ``sources.points_to_tables``)."""
    return points_to_tables(spark, parse_lines_meta(text, precision))


# ----------------------------------------------------- distributed (bulk)
def lines_to_tables_single_pass(
    spark,
    lines,
    line_col: str = "value",
    precision: str = "ns",
    staging_path: str | None = None,
):
    """Bulk line-protocol ingest, fully distributed — the backfill path
    the driver-side ``lines_to_tables`` (HTTP request bodies) is not: raw
    lines stay on executors end to end. The text is parsed exactly ONCE
    into a long-format point table (uid, m, time, key, kind, is_tag,
    value_str) that is either persisted in memory or — with
    ``staging_path`` — written to parquet PARTITIONED BY measurement, so
    each measurement's wide table reads only its own partition (file
    pruning). Schema resolution is the schemaless rule of the driver path
    (``sources._resolve_discovered``: widest-wins, tag-wins) over the
    distinct (m, key, is_tag, kind) tuples; the wide pivot is one
    groupBy(uid) per measurement over already-parsed rows, and values are
    re-materialized with the semantics of ``sources._coerce_kind``
    (bool→int/float via CASE on the recorded kind, so 'true' never hits a
    lossy string→number cast).

    Returns the same {measurement: (DataFrame, tag_keys)} shape as
    ``lines_to_tables``; parity with it is pytest-pinned."""
    import pandas as pd

    from pyspark import TaskContext
    from pyspark.sql import functions as F, types as T

    long_schema = T.StructType(
        [
            T.StructField("_uid", T.StringType(), False),
            T.StructField("m", T.StringType(), False),
            T.StructField("time", T.TimestampType(), False),
            T.StructField("key", T.StringType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("is_tag", T.BooleanType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )

    def _parse_all(batches):
        pid = TaskContext.get().partitionId()
        seq = 0
        for pdf in batches:
            out = []
            for line in pdf[line_col]:
                line = (line or "").strip()
                if not line or line.startswith("#"):
                    continue
                for m, (rws, tagkeys) in parse_lines_meta(line, precision).items():
                    for r in rws:
                        uid = f"{pid}:{seq}"
                        seq += 1
                        t = r["time"]
                        for k, v in r.items():
                            if k == "time":
                                continue
                            kind = _KIND_OF[type(v)]
                            vs = (
                                ("true" if v else "false")
                                if isinstance(v, bool)
                                else str(v)
                            )
                            out.append((uid, m, t, k, kind, k in tagkeys, vs))
            yield pd.DataFrame(
                out,
                columns=["_uid", "m", "time", "key", "kind", "is_tag", "v"],
            )

    long = lines.mapInPandas(_parse_all, long_schema)
    if staging_path is not None:
        long.write.mode("overwrite").partitionBy("m").parquet(staging_path)
        # the measurement comes back as a PARTITION column — read with the
        # explicit schema so the declared string type wins over partition
        # type INFERENCE, or numeric-looking names ('123', '01') come back
        # as integers, changing the dict's key type and colliding '01'
        # with '1' (diverging from the in-memory and driver paths,
        # where m stays a string)
        long = spark.read.schema(long_schema).parquet(staging_path)
    else:
        long = long.persist()

    disc = (
        long.select("m", "key", "is_tag", "kind").distinct().collect()
    )
    schemas = _resolve_discovered(
        (r["m"], r["key"], bool(r["is_tag"]), r["kind"]) for r in disc
    )

    out = {}
    for m, (ordered, tagkeys, py) in schemas.items():
        sub = long.filter(F.col("m") == m)
        aggs = [F.first("time").alias("time")]
        for k in ordered[1:]:
            vk = F.when(F.col("key") == k, F.col("v"))
            kindk = F.when(F.col("key") == k, F.col("kind"))
            target = py[k]
            if target is bool:
                cast = vk.cast("boolean")
            elif target is int:
                # bool widened into an int column → 1/0, as _coerce_kind
                cast = (
                    F.when(kindk == "bool", (vk == "true").cast("long"))
                    .otherwise(vk.cast("long"))
                )
            elif target is float:
                cast = (
                    F.when(kindk == "bool", (vk == "true").cast("double"))
                    .otherwise(vk.cast("double"))
                )
            else:
                cast = vk  # bool/int/float were stringified at parse time
            aggs.append(F.max(cast).alias(k))
        wide = sub.groupBy("_uid").agg(*aggs).drop("_uid").select(
            F.col("time").cast(T.TimestampType()),
            *[F.col(k).cast(_SPARK_TYPES[py[k]]) for k in ordered[1:]],
        )
        out[m] = (wide, set(tagkeys))
    return out
