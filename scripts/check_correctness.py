"""Local mirror of the driver's correctness gate.

Runs every `queries()` entry at sf0.01 and compares row count, schema
(column names), and a value hash against the `oracle_sql()` DuckDB result
on the same parquet tables.  Columns are sorted by name before hashing,
values canonicalized (floats rounded, timestamps to isoformat) the way a
hash-stable compare needs.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from datetime import datetime, date

import duckdb

# the repo root, on this process's path and (through the environment the
# JVM and its Python workers inherit) on every worker's, whatever the cwd
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return f"{v:.6g}"
    if isinstance(v, (datetime, date)):
        return v.isoformat(sep=" ").replace("+00:00", "")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .appName("check-correctness")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    # data-derived oracles (pq_ivf_ann codebook literals) must train on
    # the SAME corpus the Spark side reads — resolve before import
    import os

    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    results = {}
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {}
        try:
            df = fn(spark, sf_dir)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
            rec["spark_rows"] = len(srows)
            if "op" in scols:
                # per-arm row-count manifest: multi-arm rows fold several
                # operator families behind one 'op' discriminator — a
                # silently-vanished arm shows up here as a missing key
                # even while rows/schema/hash stay green on what's left.
                oi = scols.index("op")
                arms: dict[str, int] = {}
                for r in srows:
                    arms[str(r[oi])] = arms.get(str(r[oi]), 0) + 1
                rec["arms"] = dict(sorted(arms.items()))
            if name in oracles:
                ores = con.execute(oracles[name])
                ocols = [d[0] for d in ores.description]
                orows = ores.fetchall()
                rec["oracle_rows"] = len(orows)
                rec["rows_match"] = len(srows) == len(orows)
                rec["schema_match"] = sorted(scols) == sorted(ocols)
                rec["hash_match"] = value_hash(scols, srows) == value_hash(ocols, orows)
                if not (rec["rows_match"] and rec["schema_match"] and rec["hash_match"]):
                    fails.append(name)
                    rec["spark_cols"] = scols
                    rec["oracle_cols"] = ocols
            else:
                rec["rows_match"] = rec["schema_match"] = rec["hash_match"] = None
        except Exception as exc:  # noqa: BLE001
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
            fails.append(name)
            import traceback

            traceback.print_exc()  # full engine/JVM stack, not the
            # 300-char summary — a Py4JJavaError's cause lives deep
        results[name] = rec
        status = "FAIL" if name in fails else "ok"
        print(f"{status:4s} {name}: {json.dumps({k: v for k, v in rec.items() if k != 'err'})}"
              + (f" ERR={rec.get('err')}" if "err" in rec else ""))

    print(f"\n{len(results) - len(fails)}/{len(results)} pass; fails: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
