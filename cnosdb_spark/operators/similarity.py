"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; an LSH (random hyperplane)
bucketed variant as the 100 TB scale path. Dot products stay JVM-side via
``F.zip_with`` + ``F.aggregate`` (no Python in the hot loop); hyperplanes
are deterministic (seeded numpy) and broadcast as literals.

PQ/ADC hot paths (encode, distance tables, candidate scoring) run as
vectorized ``mapInArrow`` kernels: Catalyst INTERPRETS higher-order
functions (transform/zip_with/aggregate are not codegen'd), so the
nested-HOF expression forms cost ~ms per row against m x k codebook
literals — measured 80-95 s per arm at a 5k-vector rehearsal corpus,
which at billions of candidates is the difference between a job and a
non-job. The numpy kernels reproduce the expression arithmetic
EXACTLY (same left-fold accumulation order, same first-min tie-breaks),
so the DuckDB differential oracles stay green; the expression forms
(``ivf_assign_expr``, ``pq_encode_expr``) live in tests/twins.py, where
the kernels are parity-pinned against them.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F


def _list_col_np(col, dtype):
    """Arrow list<primitive> column → dense (n, width) ndarray (flatten is
    offset-aware, so sliced batches convert correctly). Assumes
    fixed-width non-null lists — the ANN-family contract; NULL entries
    would silently misalign the flattened values against the row index,
    so they fail loudly here instead (ragged widths fail in the
    reshape)."""
    import pyarrow as pa

    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    if arr.null_count:
        raise ValueError(
            "NULL vector in Arrow-kernel input — the ANN/dedup kernels "
            "require non-null fixed-width arrays; filter nulls upstream"
        )
    vals = arr.flatten().to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    n = len(arr)
    return vals.reshape(n, -1) if n else vals.reshape(0, 0)


def _seq_normalize(X: np.ndarray) -> np.ndarray:
    """L2-normalize rows with the SAME accumulation order as the
    ``greatest(norm_expr(v), 1e-12)`` expression (sequential left fold
    over dimensions), so normalized values are bit-identical to the
    expression path's."""
    acc = np.zeros(len(X))
    for j in range(X.shape[1]):
        acc += X[:, j] * X[:, j]
    nrm = np.maximum(np.sqrt(acc), 1e-12)
    return X / nrm[:, None]


def _seq_dtab(Xn: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Per-row PQ distance tables dt[n, m, k] = ||x_sub - codebook[m][k]||²
    with the same sequential-over-j accumulation as the
    aggregate(zip_with(...)) expression form."""
    n = len(Xn)
    m, kk, sub = books.shape
    dt = np.zeros((n, m, kk))
    for i in range(m):
        for j in range(sub):
            diff = Xn[:, i * sub + j, None] - books[i, None, :, j]
            dt[:, i, :] += diff * diff
    return dt


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_score_arrow(
    df: DataFrame, a_col: str, b_col: str, out_col: str = "_cos"
) -> DataFrame:
    """Append cosine(a_col, b_col) as ``out_col`` and DROP the two vector
    columns — a vectorized Arrow kernel for candidate-scoring joins
    (bucket/cluster equi-joins carrying both vectors). Catalyst
    interprets the cosine_expr HOFs at ~ms per row; this kernel replays
    the same sequential fold order (dot and both norms accumulate
    dimension-by-dimension, no epsilon floor), so results are
    bit-identical to the expression form and differential oracles hold.
    Both columns must be equal-width non-null array<double>."""
    import pyarrow as pa
    from pyspark.sql import types as T

    keep = [f for f in df.schema.fields if f.name not in (a_col, b_col)]
    out_schema = T.StructType(list(keep) + [T.StructField(out_col, T.DoubleType())])
    names = [f.name for f in keep] + [out_col]
    cols = list(df.columns)
    ai, bi = cols.index(a_col), cols.index(b_col)
    keep_idx = [i for i, c in enumerate(cols) if c not in (a_col, b_col)]

    def _cos(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            A = _list_col_np(batch.column(ai), np.float64)
            B = _list_col_np(batch.column(bi), np.float64)
            dot = np.zeros(n)
            an2 = np.zeros(n)
            bn2 = np.zeros(n)
            for j in range(A.shape[1]):
                dot += A[:, j] * B[:, j]
                an2 += A[:, j] * A[:, j]
                bn2 += B[:, j] * B[:, j]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / (np.sqrt(an2) * np.sqrt(bn2))
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in keep_idx]
                + [pa.array(cos, type=pa.float64())],
                names=names,
            )

    return df.mapInArrow(_cos, out_schema)


BRUTE_FORCE_MAX_QUERIES = 8192
"""Ceiling on the query set ``brute_force_topk`` will collect driver-side.

The kernel embeds the (Q x d) query matrix in every task closure and loops
over queries per batch — O(Q) per batch — so an unbounded query table
would silently degrade into a driver bottleneck. Mirrors the engine's
serving-path row guards (ARROW_RESULT_MAX_ROWS); corpus-sized query
tables belong on ``ivf_pq_topk_distributed``, where nothing reaches the
driver."""


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_queries: int = BRUTE_FORCE_MAX_QUERIES,
) -> DataFrame:
    """Exact cosine top-k per query: the query set is small by contract
    (collected driver-side, like pq_topk's distance tables; enforced by
    ``max_queries`` — corpus-sized query tables belong on
    ``ivf_pq_topk_distributed``) and scored against the corpus in ONE
    vectorized Arrow scan with a per-batch partial top-k — each batch
    emits only its local best k per query under the same (cosine desc,
    id asc) order as the global rank, so the union provably contains
    the global top-k and the post-scan row count is
    batches x queries x k, not |corpus| x |queries|. The numpy
    arithmetic replays cosine_expr's sequential fold order, so results
    are bit-identical to the expression form (the DuckDB oracle
    contract).

    Kernel-vs-expression dispatch trade (measured r08, keep in mind
    before "fixing" either direction): the mapInArrow kernel pays a
    fixed ~0.3 s Python-worker round-trip per stage, so at TOY scale
    (sf0.1's 2k vectors) raw wall intentionally regressed +79% vs the
    old cross-join column-expression form — while at 10x data the
    kernel is 0.9x (wins), and the gap widens with corpus size because
    Catalyst interprets nested higher-order functions at ~ms/row. The
    kernel is the 100 TB design point; do not revert it for the toy
    number.

    Ties broken by corpus id asc for determinism.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    # single-action guard: fetch at most max_queries+1 rows, fail on overflow
    # (a separate count() would double-execute and race, like the sql_arrow
    # TOCTOU shape)
    q_rows = (
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(query_vec_col).cast("array<double>").alias("_qv"),
        )
        .limit(max_queries + 1)
        .collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"brute_force_topk: query set exceeds max_queries={max_queries}; "
            "the query matrix rides every task closure, so large query "
            "tables must use ivf_pq_topk_distributed (fully distributed, "
            "nothing collected) instead"
        )
    qvs = np.array([r["_qv"] for r in q_rows], dtype=np.float64)
    # per-query norms with norm_expr's sequential fold order
    qn2 = np.zeros(len(q_rows))
    for j in range(qvs.shape[1] if len(q_rows) else 0):
        qn2 += qvs[:, j] * qvs[:, j]
    qnorm = np.sqrt(qn2)

    spark = corpus.sparkSession
    qid_type = queries.schema[query_id_col].dataType
    qdf = spark.createDataFrame(
        [(i, r["_qid"]) for i, r in enumerate(q_rows)],
        T.StructType(
            [
                T.StructField("_qix", T.IntegerType()),
                T.StructField(query_id_col, qid_type),
            ]
        ),
    )
    cid_type = corpus.schema[id_col].dataType
    src = corpus.select(
        F.col(id_col).alias("_cid"), F.col(vec_col).cast("array<double>").alias("_cv")
    )
    out_fields = [
        T.StructField("_qix", T.IntegerType()),
        T.StructField("_cid", cid_type),
        T.StructField("_cos", T.DoubleType()),
    ]
    out_schema = T.StructType(out_fields)

    def _score(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0 or not len(qvs):
                continue
            CV = _list_col_np(batch.column(1), np.float64)
            cid = batch.column(0).to_numpy(zero_copy_only=False)
            cn2 = np.zeros(n)
            for j in range(CV.shape[1]):
                cn2 += CV[:, j] * CV[:, j]
            cnorm = np.sqrt(cn2)  # no epsilon floor, as cosine_expr
            qixs, tops, coss = [], [], []
            for qi in range(len(qvs)):
                dot = np.zeros(n)
                for j in range(CV.shape[1]):
                    dot += CV[:, j] * qvs[qi, j]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dot / (cnorm * qnorm[qi])
                # Spark sorts NaN FIRST under desc (NaN is greatest);
                # -inf keys reproduce that in the ascending lexsort
                key = np.where(np.isnan(cos), -np.inf, -cos)
                top = np.lexsort((cid, key))[:k]
                qixs.append(np.full(len(top), qi, dtype=np.int32))
                tops.append(top)
                coss.append(cos[top])
            take = pa.array(np.concatenate(tops), type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(qixs), type=pa.int32()),
                    batch.column(0).take(take),
                    pa.array(np.concatenate(coss), type=pa.float64()),
                ],
                names=[f.name for f in out_fields],
            )

    scored = src.mapInArrow(_score, out_schema).join(F.broadcast(qdf), "_qix")
    w = Window.partitionBy("_qix").orderBy(F.col("_cos").desc(), F.col("_cid").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col(query_id_col),
            F.col("_cid").alias(id_col),
            F.round("_cos", 6).alias("cosine"),
            F.col("_rn").cast("int").alias("rank"),
        )
    )


def _hyperplanes(
    dim: int, n_planes: int, seed: int = 42, axis_aligned: bool = False
) -> list[list[float]]:
    if axis_aligned:
        # unit-basis "hyperplanes": sign(v·e_i) = sign(v[i]). Slightly lower
        # quality than random planes on correlated dims, but exactly
        # reproducible in ANSI SQL — used when an oracle must replicate the
        # bucketing.
        return [[1.0 if j == i else 0.0 for j in range(dim)] for i in range(n_planes)]
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    out_col: str = "lsh_bucket",
    axis_aligned: bool = False,
) -> DataFrame:
    """Random-hyperplane LSH: bucket = bit-string of sign(v·plane_i).
    Vectors in the same bucket are cosine-close with high probability.
    Hyperplanes are literal arrays (deterministic, shipped in the plan)."""
    planes = _hyperplanes(dim, n_planes, seed, axis_aligned)
    v = F.col(vec_col).cast("array<double>")
    bits = [
        F.when(dot_expr(v, F.array(*[F.lit(float(x)) for x in p])) >= 0, "1").otherwise("0")
        for p in planes
    ]
    return df.withColumn(out_col, F.concat(*bits))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    axis_aligned: bool = False,
) -> DataFrame:
    """Approximate top-k: equi-join corpus and queries on the LSH bucket,
    exact cosine within the bucket only. At 100 TB the bucket join is a
    shuffle hash join on the bucket key — candidate count drops ~2^planes×
    versus brute force. Recall is tunable via n_planes (fewer planes =
    bigger buckets = higher recall, more compute)."""
    c = lsh_bucket(
        corpus.select(F.col(id_col).alias("_cid"), F.col(vec_col).cast("array<double>").alias("_cv")),
        "_cv",
        dim,
        n_planes,
        seed,
        axis_aligned=axis_aligned,
    )
    q = lsh_bucket(
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(query_vec_col).cast("array<double>").alias("_qv"),
        ),
        "_qv",
        dim,
        n_planes,
        seed,
        axis_aligned=axis_aligned,
    )
    scored = cosine_score_arrow(
        c.join(q, "lsh_bucket").select("_qid", "_cid", "_cv", "_qv"),
        "_cv", "_qv", "_cos",
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_cos").desc(), F.col("_cid").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_cid").alias(id_col),
            F.round("_cos", 6).alias("cosine"),
            F.col("_rn").cast("int").alias("rank"),
        )
    )


def ivf_centroids(
    corpus: DataFrame,
    vec_col: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    n_iter: int = 1,
) -> list[list[float]]:
    """Deterministic IVF centroid selection: md5-hash-ordered sample of
    corpus vectors (a uniform pseudo-random but reproducible draw), refined
    with ``n_iter`` Lloyd iterations computed distributed (groupBy assigned
    centroid → mean). Centroid count stays driver-side tiny; the corpus is
    never collected."""
    seed_rows = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v"))
        .withColumn("_h", F.md5(F.col("_id").cast("string")))
        .orderBy("_h")
        .limit(n_centroids)
        .collect()
    )
    cents = [r["_v"] for r in seed_rows]
    cents, _hist = refine_centroids(corpus, vec_col, cents, n_iter=n_iter, id_col=id_col)
    return cents


def refine_centroids(
    corpus: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    n_iter: int = 5,
    id_col: str = "vec_id",
    tol: float = 0.0,
) -> tuple[list[list[float]], list[float]]:
    """Distributed Lloyd (k-means) refinement of IVF centroids under the
    cosine assignment the index actually uses (spherical k-means: assign =
    argmax cosine, update = per-cluster elementwise mean — cosine ignores
    the mean's scale, so no renormalization is needed).

    Each iteration is two corpus passes, both fully distributed:
    assignment is a pure column expression over literal centroid arrays
    (operators/similarity.py ivf_assign — no join, no UDF) and the update
    is posexplode → groupBy(cluster, dim) avg (map-side partial agg; the
    shuffle is k·dim rows, not the corpus). Only the k·dim centroid table
    and one inertia scalar per iteration reach the driver — same
    documented contract as centroid selection. Empty clusters keep their
    previous centroid (the deterministic analogue of FAISS's
    empty-cluster reseed).

    Returns (centroids, inertia_history) where inertia is
    avg(1 - best_cosine) per iteration — non-increasing up to float
    reduction order; iteration stops early when it improves by ≤ ``tol``.
    """
    cents = [list(map(float, c)) for c in centroids]
    history: list[float] = []
    src = corpus.select(F.col(vec_col).cast("array<double>").alias("_v"))
    for _ in range(n_iter):
        # vectorized Arrow assignment (argmax cosine + winning sim in one
        # kernel pass) — bit-identical to the expression form it replaced
        assigned = ivf_assign(
            src, "_v", cents, out_col="_cluster", sim_col="_s"
        ).select("_cluster", "_s", "_v")
        stats = (
            assigned.select("_cluster", "_s", F.posexplode("_v").alias("_pos", "_x"))
            .groupBy("_cluster", "_pos")
            .agg(
                F.avg("_x").alias("_m"),
                F.avg(F.lit(1.0) - F.col("_s")).alias("_in"),
                # each member contributes exactly one row per pos, so the
                # per-(cluster,pos) row count IS the cluster's member count
                F.count(F.lit(1)).alias("_cnt"),
            )
            .groupBy("_cluster")
            .agg(
                F.array_sort(F.collect_list(F.struct("_pos", "_m"))).alias("_pairs"),
                F.first("_in").alias("_in"),
                F.first("_cnt").alias("_n"),
            )
            .select(
                "_cluster",
                F.transform("_pairs", lambda p: p["_m"]).alias("_centroid"),
                "_in",
                "_n",
            )
            .collect()
        )
        by_cluster = {r["_cluster"]: r["_centroid"] for r in stats}
        total = sum(r["_n"] for r in stats)
        inertia = (
            sum(r["_in"] * r["_n"] for r in stats) / total if total else 0.0
        )
        cents = [list(by_cluster.get(i, cents[i])) for i in range(len(cents))]
        if history and history[-1] - inertia <= tol:
            history.append(inertia)
            break
        history.append(inertia)
    return cents, history


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    out_col: str = "_cluster",
    sim_col: str | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (argmax cosine) — a
    vectorized Arrow kernel, bit-identical to its expression-form twin
    ``ivf_assign_expr`` (tests/twins.py; same
    sequential fold order for dot/norms, first-max tie-break).
    ``sim_col`` additionally emits the winning cosine (the spherical
    k-means inertia input — saves refine_centroids a second pass)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    cents = np.array(centroids, dtype=np.float64)
    # per-centroid norms: the expression folds the literal array once per
    # row — a constant; sequential order reproduced here
    cn = np.zeros(len(cents))
    for j in range(cents.shape[1]):
        cn += cents[:, j] * cents[:, j]
    cn = np.sqrt(cn)
    extra = [T.StructField(out_col, T.IntegerType())]
    if sim_col is not None:
        extra.append(T.StructField(sim_col, T.DoubleType()))
    out_schema = T.StructType(list(df.schema.fields) + extra)
    vec_idx = df.columns.index(vec_col)

    def _assign(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            X = _list_col_np(batch.column(vec_idx), np.float64)
            dot = np.zeros((n, len(cents)))
            vn2 = np.zeros(n)
            for j in range(X.shape[1]):
                dot += X[:, j, None] * cents[None, :, j]
                vn2 += X[:, j] * X[:, j]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = dot / (np.sqrt(vn2)[:, None] * cn[None, :])
            best = sims.argmax(axis=1).astype(np.int32)  # first-max ties
            arrays = list(batch.columns) + [pa.array(best, type=pa.int32())]
            if sim_col is not None:
                arrays.append(
                    pa.array(sims[np.arange(n), best], type=pa.float64())
                )
            yield pa.RecordBatch.from_arrays(
                arrays, names=[f.name for f in out_schema.fields]
            )

    return df.mapInArrow(_assign, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` nearest clusters per
    query, exact cosine only within probed clusters. The candidate join is
    an equi-join on cluster id — at 100 TB this cuts the scanned corpus to
    n_probe/n_centroids of the data per query, and the corpus side can be
    stored pre-partitioned by cluster."""
    c = ivf_assign(
        corpus.select(F.col(id_col).alias("_cid"), F.col(vec_col).cast("array<double>").alias("_cv")),
        "_cv",
        centroids,
        out_col="_cluster",
    )
    qv = F.col(query_vec_col).cast("array<double>")
    sims = [cosine_expr(qv, F.array(*[F.lit(float(x)) for x in cc])) for cc in centroids]
    ranked = F.array_sort(
        F.array(*[F.struct((-s).alias("d"), F.lit(i).alias("i")) for i, s in enumerate(sims)])
    )
    probes = F.slice(F.transform(ranked, lambda p: p["i"]), 1, n_probe)
    q = queries.select(
        F.col(query_id_col).alias("_qid"), qv.alias("_qv"), F.explode(probes).alias("_cluster")
    )
    scored = cosine_score_arrow(
        c.join(q, "_cluster").select("_qid", "_cid", "_cv", "_qv"),
        "_cv", "_qv", "_cos",
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_cos").desc(), F.col("_cid").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_cid").alias(id_col),
            F.round("_cos", 6).alias("cosine"),
            F.col("_rn").cast("int").alias("rank"),
        )
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings around fixed centroids, then
    inside each cluster drop every vector that has an earlier (lower-id)
    cluster-mate with cosine ≥ threshold.  Only within-cluster pairs are
    ever compared — the cross-cluster quadratic blowup of exact semantic
    dedup never materializes.

    ``centroids`` come from :func:`ivf_centroids` (deterministic md5-seeded
    sample + one Lloyd step), so the whole operator is reproducible and
    ANSI-SQL-expressible for the oracle.

    Output: one row per input vector — (vec_id, cluster, is_kept,
    dup_of) where dup_of is the smallest cluster-mate id that shadows a
    dropped vector (NULL when kept).

    Scale: assignment is a narrow map against literal centroids; the
    within-cluster comparison is a self-equi-join on cluster id (shuffle
    hash join — candidate volume is Σ cluster_size², bounded by choosing
    n_centroids ∝ √N as IVF practice dictates; the corpus can be stored
    pre-partitioned by cluster so the join is co-located).
    """
    c = ivf_assign(
        corpus.select(
            F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
        ),
        "_v",
        centroids,
        out_col="_cluster",
    )
    lo = c.select(
        F.col("_cluster"), F.col("_id").alias("_lo"), F.col("_v").alias("_lv")
    )
    hi = c.select(
        F.col("_cluster"), F.col("_id").alias("_hi"), F.col("_v").alias("_hv")
    )
    shadows = (
        cosine_score_arrow(
            lo.join(hi, "_cluster").filter(F.col("_lo") < F.col("_hi")),
            "_lv", "_hv", "_cos",
        )
        .filter(F.col("_cos") >= threshold)
        .groupBy("_hi")
        .agg(F.min("_lo").alias("dup_of"))
    )
    return (
        c.join(shadows, c["_id"] == shadows["_hi"], "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("_cluster").cast("int").alias("cluster"),
            F.col("dup_of").isNull().alias("is_kept"),
            F.col("dup_of"),
        )
    )


# ---------------------------------------------------------------------
# Product quantization (IVF-PQ style) — the memory-compression scale path
# ---------------------------------------------------------------------

def pq_codebooks(
    corpus: DataFrame,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    sample: int = 2048,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: split the vector into ``m``
    subspaces and pick ``k`` centroids per subspace from a DETERMINISTIC
    md5-ordered corpus sample refined with one distributed Lloyd step —
    the same discipline as ``ivf_centroids`` (reproducible across runs,
    no RNG state, corpus never collected beyond ``sample`` rows).

    Returns ``codebooks[m][k][sub_dim]`` (driver-side: m*k*sub_dim = k*dim
    floats — kilobytes, broadcastable as literals).

    At 100 TB: PQ codes compress float32 embeddings ~``4*dim/m``× (a
    768-dim vector becomes m bytes + the shared codebook), which is what
    lets a billion-vector index live in executor memory for ADC scans.

    Vectors are L2-normalized before quantization (here, in pq_encode,
    and in pq_topk's query tables): on unit vectors squared-L2 is
    monotone with cosine (||a-b||² = 2-2cos), so ADC ranking approximates
    the cosine ranking the rest of the similarity family uses.
    """
    rows = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v"))
        .withColumn("_h", F.md5(F.col("_id").cast("string")))
        .orderBy("_h")
        .limit(sample)
        .collect()
    )
    return _train_codebooks(np.array([r["_v"] for r in rows]), m, k)


def _train_codebooks(vecs, m: int, k: int) -> list[list[list[float]]]:
    """The pure-numpy half of ``pq_codebooks``: train on an ALREADY
    md5-order-sampled [n, dim] float64 array.  Split out so differential
    oracles can train the identical codebooks from the identical sample
    without a SparkSession (the numpy arithmetic is the determinism
    contract — any change here changes persisted codes)."""
    if len(vecs) < k:
        # silently training fewer than k centroids would narrow the code
        # range under callers (and persisted codes) keyed to k entries
        raise ValueError(
            f"pq_codebooks: corpus sample has {len(vecs)} rows < k={k} "
            "centroids per subspace — lower k or raise sample"
        )
    vecs = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    dim = vecs.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    books: list[list[list[float]]] = []
    for i in range(m):
        block = vecs[:, i * sub : (i + 1) * sub]
        cents = block[:k].copy()  # md5-ordered sample = pseudo-random draw
        # one Lloyd step, numpy over the (tiny) sample
        d2 = ((block[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        for c in range(len(cents)):
            mask = assign == c
            if mask.any():
                cents[c] = block[mask].mean(0)
        books.append([[float(x) for x in c] for c in cents])
    return books


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector as ``m`` small ints (nearest codebook entry per
    subspace, squared-L2) — a vectorized Arrow kernel (narrow map, no
    shuffle; codebooks ride the closure). Bit-identical to
    ``pq_encode_expr`` (tests/twins.py): same sequential
    normalize/accumulate order, same first-min tie-break (np.argmin ==
    array_position(array_min)).
    Output: input columns + ``out_col`` array<int> of length m."""
    import pyarrow as pa
    from pyspark.sql import types as T

    books = np.array(codebooks, dtype=np.float64)
    m = len(codebooks)
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.ArrayType(T.IntegerType()))]
    )
    vec_idx = df.columns.index(vec_col)

    def _enc(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            X = _list_col_np(batch.column(vec_idx), np.float64)
            dt = _seq_dtab(_seq_normalize(X), books)
            codes = dt.argmin(axis=2).astype(np.int32)  # first-min ties
            codes_pa = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * m),
                pa.array(codes.reshape(-1), type=pa.int32()),
            )
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [codes_pa],
                names=list(batch.schema.names) + [out_col],
            )

    return df.mapInArrow(_enc, out_schema)


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    refine: int | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, the
    distance table d[m][k] = ||q_sub - codebook[m][k]||² is computed
    DRIVER-side (m*k floats per query — the query set is small by
    contract, same as brute_force_topk) and broadcast as literals; each
    corpus code row scores as Σ_m d[m][code_m] — one corpus scan for all
    queries, per-query top-k via window rank.

    ``refine=N`` enables the production two-stage pattern: ADC shortlists
    the top N per query, then EXACT cosine (``vec_col`` must be present
    on ``codes``) re-ranks the shortlist to the final k.  The exact pass
    touches only Q*N rows, so the corpus-wide work stays in the compressed
    ADC domain — this is what recovers exact-search recall from the lossy
    codes.

    Output: (query_id, vec_id, adc_dist, rank) — rank 1..k by ascending
    ADC distance (or descending exact cosine when refining), ties broken
    by corpus id.

    The corpus scan scores candidates in a vectorized Arrow kernel with
    a per-batch partial top-k (each batch emits only its local best
    shortlist per query, ordered by the same (adc, id) key as the global
    rank — so the global top-k is provably inside the union), keeping
    both the per-row cost and the post-scan row count tiny.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    m = len(codebooks)
    books = np.array(codebooks)  # [m][k][sub]
    q_rows = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(query_vec_col).cast("array<double>").alias("_qv"),
    ).collect()
    sub = books.shape[2]
    dtab_rows = []
    for r in q_rows:
        qv = np.array(r["_qv"])
        qv = qv / max(float(np.linalg.norm(qv)), 1e-12)
        dt = [
            [float(((qv[i * sub : (i + 1) * sub] - c) ** 2).sum()) for c in books[i]]
            for i in range(m)
        ]
        dtab_rows.append((r["_qid"], dt, [float(x) for x in qv]))
    spark = codes.sparkSession

    qid_type = queries.schema[query_id_col].dataType
    qdf = spark.createDataFrame(
        [(i, qid, qv) for i, (qid, _, qv) in enumerate(dtab_rows)],
        T.StructType(
            [
                T.StructField("_qix", T.IntegerType()),
                T.StructField(query_id_col, qid_type),
                T.StructField("_qv", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    dtab_np = np.array([dt for _, dt, _ in dtab_rows])  # (Q, m, k)
    n_keep = int(refine or k)
    keep_vec = [F.col(vec_col).cast("array<double>").alias("_cv")] if refine else []
    # Carry the corpus id through at its ORIGINAL type (as brute_force_topk
    # does): a cast("long") under ANSI-off silently NULLs non-numeric ids
    # (e.g. string vec ids), corrupting output ids and tie-breaks.
    cid_type = codes.schema[id_col].dataType
    src = codes.select(F.col(id_col).alias("_cid"), code_col, *keep_vec)
    qvn_np = np.array([qv for _, _, qv in dtab_rows])  # (Q, d) normalized
    out_fields = [
        T.StructField("_qix", T.IntegerType()),
        T.StructField("_cid", cid_type),
        T.StructField("adc_dist", T.DoubleType()),
    ] + ([T.StructField("_cos", T.DoubleType())] if refine else [])
    out_schema = T.StructType(out_fields)

    def _score(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0 or not len(dtab_np):
                continue
            cid = batch.column(0).to_numpy(zero_copy_only=False)
            code = _list_col_np(batch.column(1), np.int64)
            if refine:
                CV = _list_col_np(batch.column(2), np.float64)
                cnorm2 = np.zeros(n)
                for j in range(CV.shape[1]):
                    cnorm2 += CV[:, j] * CV[:, j]
                cnorm = np.sqrt(cnorm2)  # no epsilon floor, as cosine_expr
            qixs, tops, dists, coss = [], [], [], []
            for qi in range(len(dtab_np)):
                # same left-fold order as the aggregate expression
                acc = np.zeros(n)
                for i in range(m):
                    acc += dtab_np[qi, i][code[:, i]]
                # batch-local shortlist under the GLOBAL (adc, cid) order
                # (lexsort handles object dtype, so string ids order too)
                top = np.lexsort((cid, acc))[:n_keep]
                qixs.append(np.full(len(top), qi, dtype=np.int32))
                tops.append(top)
                dists.append(acc[top])
                if refine:
                    qv = qvn_np[qi]
                    dot = np.zeros(len(top))
                    for j in range(CV.shape[1]):
                        dot += CV[top, j] * qv[j]
                    qn2 = 0.0
                    for j in range(len(qv)):
                        qn2 += qv[j] * qv[j]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        coss.append(dot / (cnorm[top] * np.sqrt(qn2)))
            take = pa.array(np.concatenate(tops), type=pa.int64())
            arrays = [
                pa.array(np.concatenate(qixs), type=pa.int32()),
                batch.column(0).take(take),
                pa.array(np.concatenate(dists), type=pa.float64()),
            ]
            if refine:
                arrays.append(pa.array(np.concatenate(coss), type=pa.float64()))
            yield pa.RecordBatch.from_arrays(
                arrays, names=[f.name for f in out_fields]
            )

    scored = src.mapInArrow(_score, out_schema).join(F.broadcast(qdf), "_qix")
    if not refine:
        scored = scored.select(query_id_col, "_cid", "adc_dist")
    w_adc = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col("_cid").asc()
    )
    if refine:
        short = scored.withColumn("_r", F.row_number().over(w_adc)).filter(
            F.col("_r") <= refine
        )
        # _cos precomputed in the kernel with cosine_expr's exact fold order
        w_exact = Window.partitionBy(query_id_col).orderBy(
            F.col("_cos").desc(), F.col("_cid").asc()
        )
        ranked = short.withColumn("rank", F.row_number().over(w_exact))
    else:
        ranked = scored.withColumn("rank", F.row_number().over(w_adc))
    return ranked.filter(F.col("rank") <= k).select(
        query_id_col,
        F.col("_cid").alias(id_col),
        F.round("adc_dist", 6).alias("adc_dist"),
        F.col("rank").cast("int").alias("rank"),
    )


def save_ann_index(
    path: str,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    params: dict | None = None,
) -> None:
    """Persist the driver-side half of an ANN index (IVF centroids, PQ
    codebooks, build parameters) as JSON next to the (caller-written)
    codes parquet.  PQ codes are meaningless without the exact codebook
    that produced them — persisting both together is what makes an
    encode-once / search-many index durable across jobs.  Floats
    round-trip exactly (json repr preserves doubles)."""
    import json
    import os

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            {
                "format": "cnosdb_spark.ann_index",
                "version": 1,
                "centroids": centroids,
                "codebooks": codebooks,
                "params": params or {},
            },
            f,
        )


def load_ann_index(path: str) -> dict:
    """Load a ``save_ann_index`` file; validates the format marker and
    codebook shape consistency so a stale or foreign file fails loudly
    instead of silently mis-decoding codes."""
    import json

    with open(path) as f:
        idx = json.load(f)
    if idx.get("format") != "cnosdb_spark.ann_index":
        raise ValueError(f"{path!r} is not a cnosdb_spark ANN index file")
    books = idx.get("codebooks")
    if books is not None:
        k0, sub0 = len(books[0]), len(books[0][0])
        if any(len(b) != k0 or any(len(c) != sub0 for c in b) for b in books):
            raise ValueError(f"{path!r}: ragged codebooks (corrupt index)")
    cents = idx.get("centroids")
    if cents is not None and len({len(c) for c in cents}) > 1:
        raise ValueError(f"{path!r}: ragged centroids (corrupt index)")
    return idx


def _adc_score_joined(joined, m, kk, qid_type, query_id_col, refine, cid_type=None):
    """Vectorized ADC scoring of candidate rows from a cluster equi-join.
    Expects columns in order (_cid, code, _dtab flat m*k, query_id,
    [_cv, _qv]); returns (_cid, query_id, adc_dist, [_cos]). Same
    left-fold accumulation as the aggregate-expression form; the refine
    cosine replays cosine_expr's fold order (sequential dot and norms,
    no epsilon floor). ``cid_type`` is the corpus id's ORIGINAL Spark
    type — the kernel passes the id column through untouched, so any
    orderable id type (string, long, ...) survives."""
    import pyarrow as pa
    from pyspark.sql import types as T

    s_fields = [
        T.StructField("_cid", cid_type or T.LongType()),
        T.StructField(query_id_col, qid_type),
        T.StructField("adc_dist", T.DoubleType()),
    ] + ([T.StructField("_cos", T.DoubleType())] if refine else [])
    s_schema = T.StructType(s_fields)

    def _adc(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            code = _list_col_np(batch.column(1), np.int64)
            dtab = _list_col_np(batch.column(2), np.float64)
            acc = np.zeros(n)
            rows = np.arange(n)
            for i in range(m):  # same left fold as the aggregate form
                acc += dtab[rows, i * kk + code[:, i]]
            arrays = [
                batch.column(0),
                batch.column(3),
                pa.array(acc, type=pa.float64()),
            ]
            if refine:
                CV = _list_col_np(batch.column(4), np.float64)
                QV = _list_col_np(batch.column(5), np.float64)
                dot = np.zeros(n)
                cn2 = np.zeros(n)
                qn2 = np.zeros(n)
                for j in range(CV.shape[1]):
                    dot += CV[:, j] * QV[:, j]
                    cn2 += CV[:, j] * CV[:, j]
                    qn2 += QV[:, j] * QV[:, j]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dot / (np.sqrt(cn2) * np.sqrt(qn2))
                arrays.append(pa.array(cos, type=pa.float64()))
            yield pa.RecordBatch.from_arrays(
                arrays, names=[f.name for f in s_fields]
            )

    return joined.mapInArrow(_adc, s_schema)


# salt width S of ivf_pq_topk_distributed's candidate join
IVFPQ_SALT = 8


def ivf_pq_topk_distributed(
    codes: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    cluster_col: str = "_cluster",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    refine: int | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ for CORPUS-SIZED query tables — the batch-scoring job
    ("embed a new crawl and find neighbors for every doc") that
    ``pq_topk``/``ivf_pq_topk`` cannot serve: those collect the query
    table driver-side (fine for a serving-style handful of queries,
    serializing for millions).  Here NOTHING reaches the driver:

    - the per-query ADC distance table d[m][k] is a pure column
      expression over the codebook LITERALS (the same fold/zip_with
      shapes ``pq_encode`` uses) — computed executor-side, in parallel
      over the query table's own partitions;
    - probed clusters per query come from the centroid-literal argsort
      expression (as in ``ivf_topk``), exploded into (query, cluster)
      rows;
    - candidates are an equi-JOIN of queries and codes on the cluster id
      — both sides can be arbitrarily large; Spark picks shuffle-hash /
      sort-merge from runtime stats (pre-partition the code table by
      cluster to make this co-located).  ADC then scores each candidate
      from the query row's own distance-table column.

    Skew note (round 11): the candidate join key has only ``n_centroids``
    distinct values, which caps the shuffle join's parallelism at
    n_centroids reducers AND defeats AQE's skew splitting (every
    partition is similarly huge, so nothing exceeds 5× the median — the
    splitter never fires). The join key is therefore SALTED: the code
    side carries a deterministic ``pmod(xxhash64(id), S)`` suffix (guide
    §2.5 — never rand(): retried map tasks must reproduce the same
    assignment), the query side explodes S ways, and each
    (query, candidate) pair still meets exactly once, so results are
    bit-identical (parity-pinned against the driver-side ivf_pq_topk).
    Reduce-side parallelism becomes n_centroids × S.
    ``IVFPQ_SALT`` (8) sizes S; at bench scale AQE
    broadcasts the exploded query side anyway, so the salt only matters
    exactly when the join shuffles — the corpus-sized case it exists for.

    Output: (query_id, vec_id, adc_dist, rank) — identical semantics to
    ``ivf_pq_topk`` (result-parity is pytest-pinned).

    Both per-row-heavy stages run as vectorized Arrow kernels (the
    codebooks/centroids ride the closure — same distribution story as
    the literal-expression form, which Catalyst INTERPRETS at ~ms/row):
    stage 1 computes each query's distance table + probed clusters;
    stage 2 scores each candidate of the cluster equi-join. The numpy
    arithmetic replays the expression form's exact fold order, so
    results are bit-identical.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    m, sub = len(codebooks), len(codebooks[0][0])
    kk = len(codebooks[0])
    books = np.array(codebooks, dtype=np.float64)
    cents_n = np.array(centroids, dtype="float64")
    cents_n = cents_n / np.maximum(
        np.linalg.norm(cents_n, axis=1, keepdims=True), 1e-12
    )
    n_c = len(cents_n)
    n_pr = min(int(n_probe), n_c)

    qid_type = queries.schema[query_id_col].dataType
    q_fields = [
        T.StructField(query_id_col, qid_type),
    ] + ([T.StructField("_qv", T.ArrayType(T.DoubleType()))] if refine else []) + [
        T.StructField("_dtab", T.ArrayType(T.DoubleType())),  # flat m*k
        T.StructField(cluster_col, T.IntegerType()),
    ]
    q_schema = T.StructType(q_fields)
    q_src = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).cast("array<double>").alias("_qvraw"),
    )

    def _prep(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            X = _list_col_np(batch.column(1), np.float64)
            Xn = _seq_normalize(X)
            dt = _seq_dtab(Xn, books).reshape(n, m * kk)
            # cosine to each normalized centroid, same left-fold order as
            # the dot_expr form; probes = argsort desc, ties → lower i
            # (matching array_sort over struct(-sim, i))
            S = np.zeros((n, n_c))
            for j in range(Xn.shape[1]):
                S += Xn[:, j, None] * cents_n[None, :, j]
            probes = np.argsort(-S, axis=1, kind="stable")[:, :n_pr]
            take = np.repeat(np.arange(n), n_pr)
            take_pa = pa.array(take, type=pa.int64())
            arrays = [batch.column(0).take(take_pa)]
            if refine:
                qv_pa = pa.ListArray.from_arrays(
                    pa.array(np.arange(n + 1, dtype=np.int64) * Xn.shape[1]),
                    pa.array(Xn.reshape(-1), type=pa.float64()),
                )
                arrays.append(qv_pa.take(take_pa))
            dtab_pa = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int64) * (m * kk)),
                pa.array(dt.reshape(-1), type=pa.float64()),
            )
            arrays.append(dtab_pa.take(take_pa))
            arrays.append(pa.array(probes.reshape(-1), type=pa.int32()))
            yield pa.RecordBatch.from_arrays(
                arrays, names=[f.name for f in q_fields]
            )

    q = q_src.mapInArrow(_prep, q_schema)

    keep_vec = [F.col(vec_col).cast("array<double>").alias("_cv")] if refine else []
    cid_type = codes.schema[id_col].dataType  # preserve id type (no NULLing cast)
    code_side = codes.select(
        F.col(id_col).alias("_cid"),
        F.col(cluster_col).cast("int").alias(cluster_col),
        code_col,
        *keep_vec,
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(IVFPQ_SALT)).cast("int").alias("_salt"),
    )
    q_side = q.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(IVFPQ_SALT - 1)))
    )
    joined = (
        code_side.join(q_side, [cluster_col, "_salt"])
        # column order pinned for the scoring kernel
        .select(
            "_cid", code_col, F.col("_dtab"), query_id_col,
            *(["_cv", "_qv"] if refine else []),
        )
    )
    scored = _adc_score_joined(
        joined, m, kk, qid_type, query_id_col, refine, cid_type
    )
    w_adc = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col("_cid").asc()
    )
    if refine:
        short = scored.withColumn("_r", F.row_number().over(w_adc)).filter(
            F.col("_r") <= refine
        )
        w_exact = Window.partitionBy(query_id_col).orderBy(
            F.col("_cos").desc(), F.col("_cid").asc()
        )
        ranked_out = short.withColumn("rank", F.row_number().over(w_exact))
    else:
        ranked_out = scored.withColumn("rank", F.row_number().over(w_adc))
    return ranked_out.filter(F.col("rank") <= k).select(
        query_id_col,
        F.col("_cid").alias(id_col),
        F.round("adc_dist", 6).alias("adc_dist"),
        F.col("rank").cast("int").alias("rank"),
    )


def ivf_pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    cluster_col: str = "_cluster",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    refine: int | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the billion-vector architecture — coarse IVF clusters prune
    the corpus (only ``n_probe`` clusters per query are touched), PQ/ADC
    scores the survivors from compressed codes, optional exact re-rank.

    ``codes`` must carry both the PQ code (``pq_encode``) and the IVF
    cluster id (``ivf_assign``) — at scale, store it PARTITIONED by the
    cluster so probing prunes whole files.

    Plan shape: per-query probed-cluster ids are found driver-side
    (|centroids| rows of math), exploded into a (query, cluster) table
    and broadcast; the corpus joins it with a broadcast HASH join on the
    cluster id — candidate generation is an equi-join, never a scan of
    unprobed clusters' rows past the join. ADC + top-k as in pq_topk.

    Output: (query_id, vec_id, adc_dist, rank).
    """
    import numpy as _np

    books = np.array(codebooks)
    cents = np.array(centroids, dtype="float64")
    cents_n = cents / _np.maximum(
        _np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
    )
    m, _, sub = books.shape
    q_rows = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(query_vec_col).cast("array<double>").alias("_qv"),
    ).collect()
    rows = []
    for r in q_rows:
        qv = _np.array(r["_qv"])
        qv = qv / max(float(_np.linalg.norm(qv)), 1e-12)
        probes = _np.argsort(-(cents_n @ qv))[:n_probe]
        dt = [
            [float(((qv[i * sub : (i + 1) * sub] - c) ** 2).sum()) for c in books[i]]
            for i in range(m)
        ]
        dt_flat = [x for row in dt for x in row]
        for p in probes:
            rows.append((r["_qid"], int(p), dt_flat, [float(x) for x in qv]))
    spark = codes.sparkSession
    from pyspark.sql import types as T

    m_, kk = len(codebooks), len(codebooks[0])
    qid_type = queries.schema[query_id_col].dataType
    qdf = spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField(query_id_col, qid_type),
                T.StructField(cluster_col, T.IntegerType()),
                T.StructField("_dtab", T.ArrayType(T.DoubleType())),
                T.StructField("_qv", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    keep_vec = [F.col(vec_col).cast("array<double>").alias("_cv")] if refine else []
    cid_type = codes.schema[id_col].dataType  # preserve id type (no NULLing cast)
    joined = (
        codes.select(
            F.col(id_col).alias("_cid"),
            F.col(cluster_col).cast("int").alias(cluster_col),
            code_col,
            *keep_vec,
        )
        .join(F.broadcast(qdf), cluster_col)
        .select(
            "_cid", code_col, F.col("_dtab"), query_id_col,
            *(["_cv", "_qv"] if refine else []),
        )
    )
    scored = _adc_score_joined(
        joined, m_, kk, qid_type, query_id_col, refine, cid_type
    )
    w_adc = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col("_cid").asc()
    )
    if refine:
        short = scored.withColumn("_r", F.row_number().over(w_adc)).filter(
            F.col("_r") <= refine
        )
        w_exact = Window.partitionBy(query_id_col).orderBy(
            F.col("_cos").desc(), F.col("_cid").asc()
        )
        ranked = short.withColumn("rank", F.row_number().over(w_exact))
    else:
        ranked = scored.withColumn("rank", F.row_number().over(w_adc))
    return ranked.filter(F.col("rank") <= k).select(
        query_id_col,
        F.col("_cid").alias(id_col),
        F.round("adc_dist", 6).alias("adc_dist"),
        F.col("rank").cast("int").alias("rank"),
    )
