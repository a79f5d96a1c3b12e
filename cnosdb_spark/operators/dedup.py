"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Training-data-pipeline operators added on top of the reference surface.
Design constraints honored everywhere:

- **Deterministic** hashing (md5-derived) — reproducible across runs and
  expressible in DuckDB for oracle checks.
- **No pairwise O(n²) at scale**: candidate generation goes through an
  inverted index (explode + equi-join on shingle / band / bucket), which
  Spark executes as a shuffle hash join keyed on the bucket — the classic
  LSH band-join. Exact-similarity verification runs only on candidates.
- JVM-side built-ins only (no Python UDF in the hot path).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from .text import normalize, tokens


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized-content hash; keeps the smallest id per
    group (deterministic winner)."""
    h = F.md5(normalize(F.col(text_col))).alias("_h")
    return (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("_h")
    )


def word_ngrams(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a *materialized* token-array
    column. Callers must pass a plain column (not a nested expression):
    ``slice``/``transform`` re-evaluate their input per output element, so an
    inline tokenizer expression would cost O(tokens²) per row."""
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    # texts shorter than n words shingle to the whole text
    grams = F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(grams)
    return F.array_distinct(grams)


def _shingle_table(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    from cnosdb_spark.session import spread_small_input

    # small-input spread before the tokenize→shingle→explode tower
    # (cookbook rule; no-op at production input sizes)
    df = spread_small_input(df.select(id_col, text_col), id_col)
    t = df.select(
        F.col(id_col).alias("_id"), tokens(normalize(F.col(text_col))).alias("_toks")
    )
    return t.select("_id", F.explode(word_ngrams(F.col("_toks"), n)).alias("_sh"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """All-pairs word-n-gram Jaccard similarity ≥ threshold.

    Inverted-index join: docs sharing ≥1 shingle become candidates;
    |A∩B| = count of shared shingles, |A∪B| = |A|+|B|−|A∩B|. The join is
    keyed on the shingle, so a stop-shingle shared by k docs would emit k²
    candidate rows — ``max_doc_freq`` drops shingles appearing in more than
    that many documents from the shingle sets BEFORE sizing and joining
    (standard stop-shingle filtering: a shingle that common carries no
    dedup signal, and the ceiling bounds the per-key join fan-out at
    max_doc_freq² regardless of corpus size). Jaccard is computed over the
    filtered sets (both |A∩B| and the sizes), keeping the measure
    internally consistent and oracle-reproducible.
    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    # One aggregation per shingle (collect the doc-id set), then in-bucket
    # pair expansion — NOT a self-join. The alias self-join evaluates the
    # expensive text→shingle pipeline once per alias (a, b, sizes,
    # doc_freq: 4 scans); here it runs exactly once, the stop-shingle
    # ceiling becomes a plain size() filter on the bucket (no doc_freq
    # join), and sizes/pairs both derive from the tiny kept-bucket table.
    sh = _shingle_table(df, text_col, id_col, n)
    buckets = sh.groupBy("_sh").agg(F.array_sort(F.collect_set("_id")).alias("_ids"))
    if max_doc_freq is not None:
        buckets = buckets.filter(F.size("_ids") <= max_doc_freq)
    sizes = (
        buckets.select(F.explode("_ids").alias("_id"))
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_sz"))
    )
    pair_expr = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("_ids"),
                    i + 2,
                    F.greatest(F.size(F.col("_ids")) - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        buckets.where(F.size("_ids") >= 2)
        .select(F.explode(pair_expr).alias("_p"))
        .groupBy(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_szb"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("_common") / (F.col("_sza") + F.col("_szb") - F.col("_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


# Universal-hash permutation constants for minhash: one md5 per shingle
# (not one per hash function) is the 40-bit base hash h; permutation i is
# (A[i]*h + B[i]) mod P. Deterministic LCG-derived literals so the DuckDB
# oracle can carry the identical arithmetic. A[i] < 2^20 and h < 2^40 keep
# A[i]*h + B[i] < 2^63 (no BIGINT overflow on either engine).
MINHASH_P = (1 << 61) - 1  # Mersenne prime 2^61-1


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    out, x = [], 88172645463325252
    for _ in range(num_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x >> 20) % ((1 << 20) - 1) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % MINHASH_P
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signature per doc: ONE md5 per shingle → 40-bit integer h
    (first 10 hex digits), then ``num_hashes`` universal-hash permutations
    hash_i = (A[i]*h + B[i]) mod 2^61-1 — the standard
    Carter-Wegman trick, ~num_hashes× cheaper than per-permutation md5 and
    still exactly reproducible in ANSI SQL / DuckDB for the oracle
    (min over the same multiset, whether per-row or grouped).
    Output: (_id, mh_0 ... mh_{k-1}) as BIGINT columns."""
    from cnosdb_spark.session import spread_small_input

    # small-input spread BEFORE the per-shingle md5 tower + Arrow kernel
    # (cookbook rule; no-op whenever the input already has >= default
    # parallelism partitions, i.e. always at production scale)
    df = spread_small_input(df.select(id_col, text_col), id_col)
    t = df.select(
        F.col(id_col).alias("_id"), tokens(normalize(F.col(text_col))).alias("_toks")
    )
    t = t.select("_id", word_ngrams(F.col("_toks"), n).alias("_sh"))
    # per-row array pipeline — NO explode, NO shuffle: the shingle table
    # never leaves its row. Shingling + md5 stay JVM-side (codegen'd
    # string ops, own projection so the transform evaluates once); the
    # num_hashes x shingles permutation-min folds run as ONE vectorized
    # Arrow kernel — Catalyst interprets transform/array_min, the same
    # per-row constant the ANN family paid. A[i] < 2^20 and h < 2^40
    # keep a*h+b < 2^62, so the numpy int64 arithmetic is EXACTLY the
    # expression arithmetic (parity-pinned against
    # ``minhash_signatures_expr`` in tests/twins.py; the SQL oracle holds).
    hs = F.transform(
        F.col("_sh"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 10), 16, 10).cast("long"),
    )
    t = t.select("_id", hs.alias("_hs"))

    import pyarrow as pa
    from pyspark.sql import types as T

    coeffs = _minhash_coeffs(num_hashes)
    id_type = t.schema["_id"].dataType
    out_schema = T.StructType(
        [T.StructField("_id", id_type)]
        + [T.StructField(f"mh_{i}", T.LongType()) for i in range(num_hashes)]
    )

    def _mins(batches):
        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            arr = batch.column(1)
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            # NULL shingle arrays (null text) behave like empty ones →
            # NULL signature entries, matching array_min over NULL/empty
            lens = pa.compute.fill_null(
                pa.compute.list_value_length(arr), 0
            ).to_numpy(zero_copy_only=False).astype(np.int64)
            vals = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            nz = lens > 0
            starts_nz = (np.cumsum(lens) - lens)[nz]
            arrays = [batch.column(0)]
            for a, b in coeffs:
                perm = (a * vals + b) % MINHASH_P
                mh = np.zeros(nrows, dtype=np.int64)
                if len(starts_nz):
                    # reduceat over non-empty rows only: consecutive
                    # non-empty starts bound each row's value span exactly
                    # (empty rows contribute no values in between)
                    mh[nz] = np.minimum.reduceat(perm, starts_nz)
                # empty shingle array → NULL, as array_min over empty
                arrays.append(pa.array(mh, type=pa.int64(), mask=~nz))
            yield pa.RecordBatch.from_arrays(
                arrays, names=[f.name for f in out_schema.fields]
            )

    return t.mapInArrow(_mins, out_schema)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup candidates.

    shingle → minhash signature → split into ``bands`` bands of
    ``num_hashes/bands`` rows → band-bucket key = md5(band || rows) →
    docs sharing any bucket are candidate pairs. The bucket join is an
    equi-join on the band key (shuffle hash join; no O(n²)).
    Output: distinct (id_a, id_b), id_a < id_b.

    ``max_bucket_size`` (default None = unbounded) is the same
    deterministic hot-bucket ceiling the simhash/fingerprint/sign-LSH
    paths carry: a band bucket holding more than that many docs is
    dropped BEFORE pair expansion, bounding per-bucket fan-out at
    max_bucket_size² on a boilerplate-heavy corpus — a >cap cluster of
    mutual near-dups loses its pairs from that bucket (usually caught in
    another band; set the cap to your plausible max duplicate-cluster
    size).
    """
    # buckets come from minhash_band_table — the ONE place the band-key
    # formula lives, so the persisted index, the incremental check, and
    # this monolithic path can never silently desynchronize
    buckets = minhash_band_table(
        df, text_col, id_col, n, num_hashes, bands
    ).select(F.col(id_col).alias("_id"), "_bucket")
    return _bucket_pairs(buckets, max_bucket_size)


def _bucket_pairs(
    buckets: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from an exploded
    (_id, _bucket) table.

    One aggregation per bucket, then an in-bucket combination expansion —
    NOT a self-join. A self-join re-executes the whole upstream pipeline
    (shingle→signature) for each side (Spark's exchange reuse does not
    fire across the alias boundary here: 4 parquet scans, 12 hash
    aggregates in the joined plan), doubling the dominant cost.
    Per-bucket expansion is the same O(k²)-per-bucket fan-out the
    equi-join has (both concentrate one bucket's pairs on one key), but
    the expensive upstream computation runs exactly once.
    ``max_bucket_size`` drops over-ceiling buckets before expansion."""
    ids = F.array_sort(F.collect_set("_id"))
    pair_expr = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("_ids"),
                    i + 2,
                    F.greatest(F.size(F.col("_ids")) - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    grouped = buckets.groupBy("_bucket").agg(ids.alias("_ids")).where(
        F.size("_ids") >= 2
    )
    if max_bucket_size is not None:
        grouped = grouped.where(F.size("_ids") <= max_bucket_size)
    return (
        grouped.select(F.explode(pair_expr).alias("_p"))
        .select(F.col("_p.id_a"), F.col("_p.id_b"))
        .distinct()
    )


def _simhash_hashes(df: DataFrame, text_col: str, id_col: str, bits: int) -> DataFrame:
    """Shared first half of both simhash forms: (_id, _hs) where _hs is
    the per-token md5-prefix hash array — tokenization and hashing stay
    JVM-side (whole-stage codegen'd string ops), so both fold variants
    consume identical inputs."""
    from cnosdb_spark.session import spread_small_input

    hexlen = bits // 4
    # small-input spread before the per-token md5 tower (cookbook rule)
    df = spread_small_input(df.select(id_col, text_col), id_col)
    t = df.select(
        F.col(id_col).alias("_id"), tokens(normalize(F.col(text_col))).alias("_toks")
    )
    # materialize the md5 hashes in their own projection so the bit
    # folds reference a computed array, not bits copies of the md5
    # transform (CollapseProject keeps non-cheap multi-referenced exprs
    # in their own stage)
    hs = F.transform(
        F.col("_toks"),
        lambda s: F.conv(F.substring(F.md5(s), 1, hexlen), 16, 10).cast("long"),
    )
    return t.select("_id", hs.alias("_hs"))


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint over whitespace tokens.

    Each token hashes to a ``bits``-bit integer (md5 prefix); bit b of
    the fingerprint is 1 iff the sum over tokens of ±1 (by token bit b)
    is > 0. Hybrid execution: tokenization + md5 hashing stay JVM-side
    (codegen'd), the ``bits`` sign-sum folds run as ONE vectorized Arrow
    kernel (cumsum-based segment sums over the flattened hash arrays) —
    Catalyst interprets array folds, and bits x tokens interpreted
    lambda steps per row is the same per-row constant the ANN family
    paid. Integer arithmetic end to end, so the result is EXACTLY equal
    to the expression-form twin ``simhash_expr`` (tests/twins.py,
    parity-pinned) and the SQL oracle.
    Output: (_id, simhash BIGINT); 32 bits keeps every intermediate in
    int64."""
    import pyarrow as pa
    from pyspark.sql import types as T

    t = _simhash_hashes(df, text_col, id_col, bits)
    id_type = t.schema["_id"].dataType
    out_schema = T.StructType(
        [T.StructField("_id", id_type), T.StructField("simhash", T.LongType())]
    )

    def _fold(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            arr = batch.column(1)
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            # NULL hash arrays (null text) fold like empty ones → fp 0,
            # matching the expression form; fill_null keeps the length
            # prefix aligned with flatten(), which skips null entries
            lens = pa.compute.fill_null(
                pa.compute.list_value_length(arr), 0
            ).to_numpy(zero_copy_only=False).astype(np.int64)
            ends = np.cumsum(lens)
            starts = ends - lens
            vals = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            fp = np.zeros(n, dtype=np.int64)
            for b in range(bits):
                sgn = (((vals >> b) & 1) << 1) - 1  # ±1 per token
                c = np.concatenate(([0], np.cumsum(sgn)))
                seg = c[ends] - c[starts]  # empty rows → 0, as the fold
                fp += np.where(seg > 0, 1 << b, 0).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(fp, type=pa.int64())],
                names=["_id", "simhash"],
            )

    return t.mapInArrow(_fold, out_schema)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup: band the fingerprint into ``bands`` chunks — two
    docs within hamming distance < bands must share ≥1 exact chunk
    (pigeonhole) — equi-join on chunks, then verify exact hamming ≤
    ``max_hamming`` via bit_count(xor). ``max_bucket_size`` is the
    hot-bucket ceiling (boilerplate-template corpora); see
    fingerprint_near_dup_pairs."""
    fps = simhash(df, text_col, id_col, bits)
    return fingerprint_near_dup_pairs(
        fps, "_id", "simhash", bits=bits, bands=bands, max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


def _fingerprint_chunks(
    fps: DataFrame, id_col: str, fp_col: str, bits: int, bands: int
) -> DataFrame:
    """Explode a ``bits``-bit integer fingerprint into its ``bands`` band
    chunks: (_id, simhash, _bucket) with _bucket = 'band:chunk_value'.
    Arithmetic shiftright + mask extracts chunks correctly for signed
    64-bit fingerprints (the mask makes sign-extension irrelevant)."""
    chunk = bits // bands
    mask = (1 << chunk) - 1
    fps = fps.select(
        F.col(id_col).alias("_id"), F.col(fp_col).cast("long").alias("simhash")
    )
    return fps.select(
        "_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(b)),
                        F.shiftright("simhash", b * chunk).bitwiseAND(F.lit(mask)).cast("string"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_bucket"),
    )


def fingerprint_band_stats(
    fps: DataFrame,
    id_col: str,
    fp_col: str,
    bits: int = 32,
    bands: int = 4,
) -> DataFrame:
    """Band-bucket size histogram for a fingerprint corpus: (bucket, n),
    one row per non-singleton chunk bucket. The sizing input for
    ``fingerprint_near_dup_pairs``'s ``max_bucket_size`` ceiling — and
    the evidence that a chosen ceiling is actually dropping the hot
    buckets it claims to."""
    return (
        _fingerprint_chunks(fps, id_col, fp_col, bits, bands)
        .groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select(F.col("_bucket").alias("bucket"), "n")
    )


def fingerprint_near_dup_pairs(
    fps: DataFrame,
    id_col: str,
    fp_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Generic hamming-banded near-dup over ANY integer fingerprint column
    (SimHash, image dHash, audio chromaprint-style hashes, ...): band the
    ``bits``-bit fingerprint into ``bands`` chunks — two fingerprints
    within hamming distance < bands must share ≥1 exact chunk
    (pigeonhole) — equi-join on chunks, then verify exact hamming ≤
    ``max_hamming`` via bit_count(xor). Arithmetic shiftright + mask
    extracts chunks correctly for signed 64-bit fingerprints too.

    ``max_bucket_size`` (default None = unbounded) drops chunk buckets
    holding more than that many fingerprints BEFORE pair expansion — the
    same deterministic hot-bucket ceiling as
    ``embedding_near_dup_pairs``: in-bucket expansion is quadratic in
    bucket size, and a template-heavy corpus (screenshots, near-identical
    thumbnails, silence-heavy audio) concentrates one chunk value so a
    single hot bucket dominates the whole job. Dropping a bucket weakens
    the pigeonhole guarantee for pairs ALL of whose shared chunks are
    hot (a cluster of >max_bucket_size mutual near-dups loses its
    pairs); pairs with any colder shared chunk still meet there. Set it
    to a few thousand at 100 TB."""
    keyed = _fingerprint_chunks(fps, id_col, fp_col, bits, bands)
    # per-bucket combination expansion instead of a self-join: the banded
    # self-join re-executes the 32-agg simhash pipeline for both sides
    # (no cross-alias exchange reuse); one groupBy computes it once, and
    # the (id, fingerprint) struct is 16 bytes so carrying it through the
    # bucket aggregation is free
    items = F.array_sort(F.collect_set(F.struct(F.col("_id"), F.col("simhash"))))
    pair_expr = F.flatten(
        F.transform(
            F.col("_items"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("_items"),
                    i + 2,
                    F.greatest(F.size(F.col("_items")) - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(
                    x["_id"].alias("id_a"),
                    y["_id"].alias("id_b"),
                    x["simhash"].alias("_fa"),
                    y["simhash"].alias("_fb"),
                ),
            ),
        )
    )
    buckets = (
        keyed.groupBy("_bucket")
        .agg(items.alias("_items"))
        .where(F.size("_items") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("_items") <= max_bucket_size)
    cand = (
        buckets.select(F.explode(pair_expr).alias("_p"))
        .select("_p.id_a", "_p.id_b", "_p._fa", "_p._fb")
        .distinct()
    )
    ham = F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    bands: int = 8,
    band_dims: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-banded (the 100 TB shape).

    Candidate generation: each vector's sign pattern is split into
    ``bands`` bands of ``band_dims`` dimensions; two vectors are candidates
    iff they agree on ALL signs of ≥1 band (sign-of-dimension LSH — the
    axis-aligned special case of random-hyperplane hashing, chosen because
    it is exactly reproducible in ANSI SQL for the oracle). The band join
    is an equi-join on (band, key) — a shuffle hash join, never a
    BroadcastNestedLoop all-pairs. Exact cosine runs on candidates only.

    Recall tuning: wider bands (band_dims↑) shrink buckets (fewer
    candidates, lower recall), more bands raise recall. Defaults 8×8 suit
    true near-dups (cosine ≥ 0.9, per-dim sign agreement ≈ 0.9 →
    recall ≈ 1-(1-0.9^8)^8 ≈ 0.99). For lower thresholds use narrower
    bands. Pairs never sharing a band are missed — standard LSH semantics.

    ``max_bucket_size`` (default None = unbounded) drops band buckets
    holding more than that many vectors BEFORE pair expansion — the same
    ceiling discipline as ``ngram_jaccard_pairs``'s stop-shingle filter.
    In-bucket expansion is quadratic in bucket size, so one hot bucket (a
    band whose sign pattern a large corpus fraction shares — measured 72×
    wall at 10× corpus for a 16-bucket demo config, BENCH_SCALE round 6)
    dominates the whole job; a bucket that crowded carries ~no dedup
    signal for the band anyway, and true near-dups still meet in their
    other, more selective bands.  Set it to a few thousand at 100 TB.
    Output: (id_a, id_b, cosine) with cosine ≥ threshold, id_a < id_b.
    """
    v = df.select(F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v"))
    band_keys = [
        F.concat(
            F.lit(f"{b}:"),
            *[
                # F.get is OOB-tolerant (NULL → '0'), so band layouts wider
                # than the vector degrade to constant suffix bits — the same
                # behavior as the SQL oracle's 1-based v[i] (NULL on OOB)
                F.when(F.get(F.col("_v"), b * band_dims + d) >= 0, "1").otherwise("0")
                for d in range(band_dims)
            ],
        )
        for b in range(bands)
    ]
    keyed = v.select("_id", F.explode(F.array(*band_keys)).alias("_bucket"))
    # candidate IDs via per-bucket combination expansion (single pass, no
    # self-join), THEN fetch vectors by id for the exact-cosine check. The
    # old join carried both full vectors through the candidate `distinct()`
    # — a shuffle of 2×dims doubles per candidate row; distinct-ing bare
    # (id_a, id_b) first keeps the wide rows out of the dedup exchange.
    ids = F.array_sort(F.collect_set("_id"))
    pair_expr = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("_ids"),
                    i + 2,
                    F.greatest(F.size(F.col("_ids")) - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    buckets = keyed.groupBy("_bucket").agg(ids.alias("_ids")).where(
        F.size("_ids") >= 2
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("_ids") <= max_bucket_size)
    cand = (
        buckets.select(F.explode(pair_expr).alias("_p"))
        .select("_p.id_a", "_p.id_b")
        .distinct()
    )
    va = v.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = v.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    from .similarity import cosine_score_arrow

    return (
        cosine_score_arrow(
            cand.join(va, "id_a").join(vb, "id_b"), "_va", "_vb", "cosine"
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def resolve_duplicate_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "_id",
    max_iterations: int = 12,
) -> DataFrame:
    """Resolve near-dup pairs into clusters: connected components by
    iterative min-label propagation (each node adopts the smallest label
    among itself and its neighbors until fixpoint).

    Convergence takes O(log(diameter)) rounds on typical dup clusters
    (small diameter) — bounded by ``max_iterations``. Each round is two
    shuffles (join + groupBy min) on the edge list; no driver-side
    iteration over rows. Output: (id, cluster_id, is_canonical) where
    cluster_id = min id in the component — the keep-one dedup decision.

    ``ids``: one column ``id_col``; ``pairs``: (id_a, id_b).
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        # reused every round — materialize once, truncate its lineage
        .localCheckpoint(eager=True)
    )
    labels = ids.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.dst, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "new_label"
                ),
                "label",
            )
            # Truncate the iterative lineage each round: without this the
            # plan grows by one join+agg per iteration and every action
            # (the changed-count below AND the next round's join) replays
            # the whole accumulated chain. On a real cluster swap for
            # reliable checkpointing if executor loss matters.
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("new_label") != F.col("label")).limit(1).count()
        labels = new_labels.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    return labels.select(
        F.col("id"),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).alias("is_canonical"),
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    keep_first: bool = True,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicate-SPAN detection (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499):
    find maximal token spans of length >= ``k`` whose content appears at
    least ``min_count`` times across the corpus — the within/cross-document
    boilerplate exact-document dedup misses (licence blocks, templated
    headers, copied passages).

    Method, Spark-first (the paper builds a suffix array; an inverted
    index over rolling k-token windows finds the identical span set for a
    fixed minimum length): tokenize once, explode every k-token window
    with stride 1, md5 the window, count occurrences per hash (map-side
    partial aggregation collapses in-partition repeats before the ONE
    vocabulary shuffle), join duplicated hashes back, and merge
    overlapping/adjacent duplicate windows per document into maximal
    spans with the sessionization cumsum trick.  ``keep_first`` excludes
    the globally first occurrence (min (id, pos)) of each window from
    removal, so one canonical copy of every duplicated passage survives.

    Output: (``id_col``, span_start, span_end, n_windows) — token
    positions, span = [span_start, span_end).

    Scale: the window table is O(total corpus tokens) rows — inherent to
    the algorithm (the paper's suffix array is the same magnitude); it
    shuffles twice (hash count + join-back), both keyed on the window
    hash, so it distributes evenly unless one span dominates the corpus,
    which the count ceiling of the join-back join's build side (only
    hashes with count >= min_count, a tiny fraction) keeps cheap.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    t = (
        df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
        .where(F.size("_toks") >= k)
    )
    # window table: materialized _toks (slice re-evaluates nested inputs
    # per element — see word_ngrams) → one row per window position
    w = t.select(
        "_id",
        F.explode(F.sequence(F.lit(0), F.size("_toks") - k)).alias("pos"),
        F.col("_toks"),
    ).select(
        "_id",
        "pos",
        # \x1f unit separator: cannot appear inside a whitespace token
        F.md5(F.concat_ws("\x1f", F.slice("_toks", F.col("pos") + 1, k))).alias("_h"),
    )
    dup = (
        w.groupBy("_h")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.min(F.struct("_id", "pos")).alias("_first"),
        )
        .where(F.col("_c") >= min_count)
    )
    hits = w.join(dup, "_h")
    if keep_first:
        hits = hits.where(
            (F.col("_id") != F.col("_first._id")) | (F.col("pos") != F.col("_first.pos"))
        )
    from pyspark.sql import Window as _W

    win = _W.partitionBy("_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        win.rowsBetween(_W.unboundedPreceding, -1)
    )
    grp = F.sum(
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    ).over(win)
    return (
        hits.select("_id", "pos", grp.alias("_grp"))
        .groupBy("_id", "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            F.col("_id").alias(id_col),
            "span_start",
            F.col("span_end").cast("long").alias("span_end"),
            F.col("n_windows").cast("long").alias("n_windows"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    keep_first: bool = True,
    min_count: int = 2,
) -> DataFrame:
    """Rewrite documents with their duplicate spans (``duplicate_spans``)
    cut out: tokens covered by any span are dropped, the rest re-join on
    single spaces.  Documents without duplicate spans pass through with
    their whitespace normalized (same token join), so output text is
    uniformly single-spaced.

    Output: all input columns with ``text_col`` replaced by the cleaned
    text, plus n_tokens_removed / n_spans_removed counters.

    Scale: one extra shuffle beyond duplicate_spans (the spans fold back
    per document); the rewrite itself is a narrow per-row array filter —
    NOT exists(span covering index i) via the index-aware ``F.filter``.
    """
    spans = duplicate_spans(df, text_col, id_col, k, keep_first, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("n_tokens_removed"),
        F.count(F.lit(1)).alias("n_spans_removed"),
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    out = df.join(per_doc, id_col, "left").withColumn("_toks", toks)
    kept = F.filter(
        F.col("_toks"),
        lambda x, i: ~F.exists(
            F.coalesce(F.col("_spans"), F.array()),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    return (
        out.withColumn(text_col, F.concat_ws(" ", kept))
        .withColumn(
            "n_tokens_removed", F.coalesce("n_tokens_removed", F.lit(0)).cast("long")
        )
        .withColumn(
            "n_spans_removed", F.coalesce("n_spans_removed", F.lit(0)).cast("long")
        )
        .drop("_toks", "_spans")
    )


def minhash_band_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The PERSISTABLE dedup index: (id, band bucket key) rows — the
    banded form of the MinHash signature, one row per (doc, band).

    Write this table once per corpus snapshot (ideally bucketed on
    ``_bucket``, operators/bucketing.py); ``dedup_against_index`` then
    checks any NEW batch against it without recomputing or rescanning the
    existing corpus — the production incremental-ingest shape at 100 TB,
    where re-dedupping the whole corpus per arriving shard is impossible.
    Keys are deterministic (Carter-Wegman over md5, minhash_signatures),
    so index rows built last month match signatures computed today.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
    band_cols = []
    for b in range(bands):
        parts = [F.lit(f"{b}:")] + [F.col(f"mh_{b * rows + r}") for r in range(rows)]
        band_cols.append(F.md5(F.concat_ws("|", *parts)).alias(f"band_{b}"))
    banded = sig.select("_id", *band_cols)
    return banded.select(
        F.col("_id").alias(id_col),
        F.explode(
            F.array(*[F.col(f"band_{b}") for b in range(bands)])
        ).alias("_bucket"),
    )


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    new_bands: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental near-dup check: candidates between a NEW batch and an
    existing corpus represented ONLY by its ``minhash_band_table`` index
    (the corpus text is never touched), plus near-dup pairs WITHIN the
    new batch.

    The new batch's band table joins the index on the bucket key — a
    shuffle (or, with a bucketed index, co-located) hash join whose left
    side is just the new batch.  The within-batch pairs derive from the
    SAME band table (the bucket keys are identical to
    ``minhash_lsh_pairs``'s), so the shingle→signature pipeline — the
    dominant cost — appears once in the plan, not once per check.
    Output: (id_new, id_match, source — 'index' for new-vs-corpus
    matches, 'batch' for new-vs-new; id_new < id_match within 'batch'
    rows).

    Parameters must match the ones the index was built with — bucket
    keys are parameter-dependent.  ``new_bands`` optionally supplies the
    batch's precomputed (persisted) band table so a caller that also
    appends it to the index (the streaming loop) computes it exactly
    once per tick.

    ``max_bucket_size`` is the hot-bucket ceiling: index buckets holding
    more than that many corpus docs are anti-joined away before the
    check (bounding the per-bucket join fan-out at batch_bucket ×
    max_bucket_size on a boilerplate-heavy corpus), and the within-batch
    expansion applies the same cap — the identical deterministic
    semantics the simhash/fingerprint/sign-LSH paths carry.
    """
    nb = (
        new_bands
        if new_bands is not None
        else minhash_band_table(new_docs, text_col, id_col, n, num_hashes, bands)
    )
    ix = index.select(F.col(id_col).alias("_ix_id"), "_bucket")
    if max_bucket_size is not None:
        # DISTINCT docs per bucket, not rows: replay-duplicated index
        # rows must never trip the cap (compaction stays result-neutral).
        # The cap costs one extra aggregation pass over the narrow index
        # per call — acceptable for a maintenance knob; cache/compact the
        # index if the cap is always-on in a tight streaming loop.
        hot = (
            ix.groupBy("_bucket")
            .agg(F.count_distinct(F.col("_ix_id")).alias("_n"))
            .where(F.col("_n") > max_bucket_size)
            .select("_bucket")
        )
        ix = ix.join(hot, "_bucket", "left_anti")
    vs_index = (
        nb.join(ix, "_bucket")
        # a doc id present on BOTH sides (e.g. a replayed streaming tick
        # whose band rows were already appended) must not match itself
        .where(F.col(id_col) != F.col("_ix_id"))
        .select(
            F.col(id_col).alias("id_new"),
            F.col("_ix_id").alias("id_match"),
            F.lit("index").alias("source"),
        )
        .distinct()
    )
    within = _bucket_pairs(
        nb.select(F.col(id_col).alias("_id"), "_bucket"), max_bucket_size
    ).select(
        F.col("id_a").alias("id_new"),
        F.col("id_b").alias("id_match"),
        F.lit("batch").alias("source"),
    )
    return vs_index.unionByName(within)


def dedup_stream_against_index(
    stream_df: DataFrame,
    index: DataFrame | None,
    out_path: str,
    checkpoint: str,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    update_index_path: str | None = None,
    max_bucket_size: int | None = None,
):
    """Always-on ingest dedup: near-dup-check every arriving micro-batch
    of a STREAMING DataFrame against the persisted ``minhash_band_table``
    index (and within itself), appending flagged pairs to ``out_path``.

    Shape: ``foreachBatch(dedup_against_index)`` — each micro-batch is a
    bounded static frame, so the full batch operator (including its
    ``distinct``) reuses verbatim with no unbounded streaming state. The
    flagged-pair output is written as a dynamic partition OVERWRITE of
    the ``_batch_id=<n>`` partition, so a checkpoint-replayed batch
    rewrites its own partition instead of appending duplicates —
    exactly-once output without a downstream dedup pass. The index side
    is static and (when bucketed on ``_bucket``) co-locates with each
    batch's band table — the corpus text is never rescanned, which is
    the property that keeps an always-on dedup feed viable at 100 TB
    corpus scale.

    With ``update_index_path`` set, each processed batch's band table is
    APPENDED to that parquet index after checking, so later ticks flag
    duplicates of earlier ticks' documents — the self-maintaining ingest
    loop; if the path does not exist yet, the first tick bootstraps an
    EMPTY index (within-batch pairs only) and creates it.  Replay is
    safe end-to-end: a replayed tick anti-joins its OWN doc ids out of
    the re-read index (its prior append must not relabel within-batch
    pairs as corpus matches — requires globally-unique doc ids across
    the stream), the candidate join never emits self-pairs, the
    double-appended band rows don't change flagged pairs (candidates
    pass through a ``distinct``) and don't trip the hot-bucket ceiling
    (it counts DISTINCT docs); the index still carries dead rows, so
    compact it offline (``compact_band_index``) if replays are
    frequent. Pass ``index=None`` then: the index is RE-READ
    per tick (a static DataFrame pins its file listing at creation and
    would never
    see the appends). Ticks never re-check against their own batch's
    index rows: the check runs before the append within the same
    foreachBatch call.

    Returns the configured ``DataStreamWriter`` — caller picks the
    trigger and calls ``.start()``.
    """
    if index is None and not update_index_path:
        raise ValueError("pass an index DataFrame or update_index_path")

    def _batch(batch_df, batch_id: int):
        spark = batch_df.sparkSession
        ix = index
        if ix is None:
            # explicit existence probe, NOT a broad except: a transient
            # read failure (compaction swap window, FS hiccup, typo'd
            # path that exists-check also misses) must fail the tick
            # loudly rather than silently run against an empty index and
            # commit a false-clean output partition
            jvm = spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(update_index_path)
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            if fs.exists(jpath):
                ix = spark.read.parquet(update_index_path)
                # a tick REPLAYED after its own index append must not see
                # its own band rows (they'd relabel within-batch pairs as
                # 'index' matches); the self-pair case is also excluded
                # inside dedup_against_index. Requires globally-unique
                # doc ids across the stream — the same contract the
                # output pairs already assume.
                ix = ix.join(
                    batch_df.select(F.col(id_col)).distinct(),
                    id_col,
                    "left_anti",
                )
            else:
                # first tick ever, no prior corpus: bootstrap with an
                # empty index of the batch's own band-table schema
                ix = minhash_band_table(
                    batch_df.limit(0), text_col, id_col, n, num_hashes, bands
                )
        # ONE signature pass per tick: the band table feeds both checks
        # and the index append (persisted — three actions consume it)
        nb = minhash_band_table(
            batch_df, text_col, id_col, n, num_hashes, bands
        ).persist()
        try:
            out = dedup_against_index(
                batch_df, ix, text_col, id_col, n, num_hashes, bands,
                new_bands=nb, max_bucket_size=max_bucket_size,
            )
            # dynamic overwrite of THIS batch's partition: a checkpoint
            # replay rewrites _batch_id=<n> instead of appending duplicates
            out.withColumn("_batch_id", F.lit(batch_id)).write.mode(
                "overwrite"
            ).option("partitionOverwriteMode", "dynamic").partitionBy(
                "_batch_id"
            ).parquet(out_path)
            if update_index_path:
                nb.write.mode("append").parquet(update_index_path)
        finally:
            nb.unpersist()

    return stream_df.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint
    )


def compact_band_index(spark, path: str, out_path: str | None = None) -> int:
    """Rewrite a ``minhash_band_table`` index with duplicate rows removed
    — the offline maintenance pass for a ``dedup_stream_against_index``
    self-updating index whose appends accumulated replayed band rows.

    Duplicate (id, bucket) rows never change flagged pairs (the
    candidate join is distinct) — compaction is purely a read-cost
    optimization, so it can run any time, including while ingest ticks
    keep appending: a tick that lands between read and swap is the ONLY
    data loss window, which is why the swap is a directory rename (the
    atomic unit on HDFS/local filesystems), not a file-by-file rewrite.

    With ``out_path`` the compacted snapshot is written there and the
    source is left untouched (the right shape on object stores, where
    rename is copy-and-delete — point the next reader at the snapshot).
    Without it, the compacted rows are staged in a ``<path>__compact``
    sibling and swapped in via two renames. Returns the compacted row
    count.
    """
    rows = spark.read.parquet(path).distinct()
    if out_path:
        rows.write.mode("overwrite").parquet(out_path)
        return spark.read.parquet(out_path).count()
    staged = path.rstrip("/") + "__compact"
    rows.write.mode("overwrite").parquet(staged)
    n = spark.read.parquet(staged).count()
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(p, old):
        raise IOError(f"compact_band_index: could not stage {path} aside")
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(staged), p):
        # roll back so the index is never left missing
        fs.rename(old, p)
        raise IOError(f"compact_band_index: could not swap in {staged}")
    fs.delete(old, True)
    return n
