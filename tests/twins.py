"""Expression-form and pandas twins of vectorized library operators.

Each one computes what a production kernel computes, the slow and obvious
way, and the parity tests pin the kernel against it:

- ``data_quality_pandas`` (grouped-map ``applyInPandas``) for
  ``functions.quality.data_quality`` (tests/test_functions.py);
- ``minhash_signatures_expr`` and ``simhash_expr`` (array
  ``transform``/``aggregate`` folds) for ``operators.dedup``'s
  ``minhash_signatures`` and ``simhash`` kernels;
- ``ivf_assign_expr`` and ``pq_encode_expr`` (Catalyst higher-order
  functions over literal centroids/codebooks) for
  ``operators.similarity``'s ``ivf_assign`` and ``pq_encode`` kernels
  (tests/test_operators_misc.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from cnosdb_spark.operators.dedup import (
    MINHASH_P,
    _minhash_coeffs,
    _simhash_hashes,
    word_ngrams,
)
from cnosdb_spark.operators.similarity import cosine_expr, norm_expr
from cnosdb_spark.operators.text import normalize, tokens


def _series_quality(ts: np.ndarray, vals: np.ndarray) -> dict[str, float]:
    order = np.argsort(ts, kind="stable")
    ts = ts[order].astype("float64")
    vals = vals[order].astype("float64")
    cnt = len(ts)
    special = int(np.isnan(vals).sum())
    if cnt < 2:
        return {
            "completeness": 1.0 if cnt and not special else 0.0 if special else 1.0,
            "consistency": 1.0,
            "timeliness": 1.0,
            "validity": 1.0 - (special / cnt if cnt else 0.0),
        }
    dt = np.diff(ts)
    pos = dt[dt > 0]
    med_dt = float(np.median(pos)) if len(pos) else 0.0
    mean_dt = float(dt.mean())
    std_dt = float(dt.std())
    redundancy = int((dt == 0).sum())
    big = dt > mean_dt + 3 * std_dt
    missing = int(sum(max(round(d / med_dt) - 1, 0) for d in dt[big])) if med_dt > 0 else 0
    late = int(((dt > 0) & (dt < med_dt / 2)).sum()) if med_dt > 0 else 0

    finite = vals[~np.isnan(vals)]
    if len(finite) >= 2:
        med_v = float(np.median(finite))
        mad = float(np.median(np.abs(finite - med_v)))
        sigma = 1.4826 * mad
        invalid = int((np.abs(finite - med_v) > 3 * sigma).sum()) if sigma > 0 else 0
    else:
        invalid = 0
    invalid += special

    return {
        "completeness": 1.0 - missing / (cnt + missing) if cnt + missing else 1.0,
        "consistency": 1.0 - redundancy / cnt,
        "timeliness": 1.0 - late / cnt,
        "validity": 1.0 - invalid / cnt,
    }


def data_quality_pandas(
    df: DataFrame,
    time_col: str,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group data-quality scores via grouped-map applyInPandas — the
    original implementation, kept as the sequential reference that
    :func:`data_quality` is differentially pinned against
    (tests/test_functions.py). Ships every row through the Python
    boundary; prefer :func:`data_quality` on query paths."""
    out_fields = [
        T.StructField(c, df.schema[c].dataType, True) for c in group_cols
    ] + [
        T.StructField(m, T.DoubleType(), True)
        for m in ("completeness", "consistency", "timeliness", "validity")
    ]
    schema = T.StructType(out_fields)

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ts = pdf[time_col].astype("int64").to_numpy()  # ns since epoch
        vals = pd.to_numeric(pdf[value_col], errors="coerce").to_numpy()
        m = _series_quality(ts.astype("float64") / 1e9, vals)
        row = dict(zip(group_cols, key))
        row.update(m)
        return pd.DataFrame([row])

    proj = df.select(*group_cols, time_col, value_col)
    return proj.groupBy(*group_cols).applyInPandas(fn, schema)


def minhash_signatures_expr(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Expression-form MinHash signatures (transform + array_min per
    permutation) — the arithmetic contract for the vectorized
    ``minhash_signatures`` kernel (integer arithmetic, exact equality,
    parity-pinned in tests)."""
    t = df.select(
        F.col(id_col).alias("_id"), tokens(normalize(F.col(text_col))).alias("_toks")
    )
    t = t.select("_id", word_ngrams(F.col("_toks"), n).alias("_sh"))
    hs = F.transform(
        F.col("_sh"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 10), 16, 10).cast("long"),
    )
    t = t.select("_id", hs.alias("_hs"))
    cols = [
        F.array_min(
            F.transform(
                F.col("_hs"), lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)
            )
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_minhash_coeffs(num_hashes))
    ]
    return t.select("_id", *cols)


def simhash_expr(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """Expression-form SimHash — ``bits`` array-``aggregate`` folds over
    the token-hash array, replicable in ANSI SQL (the DuckDB oracle
    computes the identical sums). Kept as the arithmetic contract for
    the vectorized ``simhash`` (integer arithmetic, so equality is
    EXACT); Catalyst interprets the folds at ~per-token-per-bit cost —
    use ``simhash`` in hot paths.

    Measured (r05): the per-bit folds beat a single fold accumulating an
    array of bit-counters (0.73 s vs 0.79-0.98 s min-of-3 at sf0.1,
    16 bits) — the single pass allocates a counter array per TOKEN, which
    costs more than re-walking the cached hash array per bit."""
    t = _simhash_hashes(df, text_col, id_col, bits)
    fp = None
    for b in range(bits):
        s = F.aggregate(
            F.col("_hs"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1),
        )
        bit = F.when(s > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return t.select("_id", fp.cast("long").alias("simhash"))


def ivf_assign_expr(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    out_col: str = "_cluster",
) -> DataFrame:
    """Expression-form nearest-centroid assignment (argmax cosine over
    literal centroid arrays) — the arithmetic-contract reference for the
    vectorized ``ivf_assign`` (parity-pinned in tests); Catalyst
    interprets the C x (dot + norms) HOFs per row, so use ``ivf_assign``
    in hot paths."""
    v = F.col(vec_col).cast("array<double>")
    sims = [
        cosine_expr(v, F.array(*[F.lit(float(x)) for x in c])) for c in centroids
    ]
    best = F.array_position(
        F.array(*sims), F.array_max(F.array(*sims))
    ) - 1  # 0-based cluster id
    return df.withColumn(out_col, best.cast("int"))


def _codebook_lit(book: list[list[float]]) -> Column:
    return F.array(*[F.array(*[F.lit(x) for x in c]) for c in book])


def pq_encode_expr(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    out_col: str = "pq_code",
) -> DataFrame:
    """Expression-form PQ encode (nearest codebook entry per subspace,
    squared-L2) — pure column expressions with the codebooks as literals.
    Kept as the arithmetic-contract reference for ``pq_encode``'s
    vectorized kernel (parity-pinned in tests): Catalyst interprets the
    nested HOFs, so this form costs ~m*k interpreted folds PER ROW —
    use ``pq_encode`` in any hot path."""
    m, sub = len(codebooks), len(codebooks[0][0])
    raw = F.col(vec_col).cast("array<double>")
    nrm = F.greatest(norm_expr(raw), F.lit(1e-12))
    v = F.transform(raw, lambda x: x / nrm)
    codes = []
    for i, book in enumerate(codebooks):
        s = F.slice(v, i * sub + 1, sub)
        d2 = F.transform(
            _codebook_lit(book),
            lambda c: F.aggregate(
                F.zip_with(s, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        codes.append((F.array_position(d2, F.array_min(d2)) - 1).cast("int"))
    return df.withColumn(out_col, F.array(*codes))
