"""Approximate nearest-neighbor search over embedding columns.

Two paths (the pattern every vector store uses):
* brute-force cosine top-k -- exact baseline; fine when the query set
  is small (broadcast queries, one scan of the corpus).
* hyperplane-LSH buckets -- scale path: 2^H buckets from sign bits of
  dot(v, h_i) against H fixed hyperplanes; candidates come from the
  query's bucket (optionally multi-probe neighbors at 1 bit flip),
  then exact cosine re-rank. Recall tunes with H and probes.

The hyperplanes are deterministic (seeded numpy) and inlined as
literal arrays -> broadcast to executors, dot products stay in
whole-stage codegen (zip_with/aggregate), no Python in the scan path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from conversation_analysis_tools_spark.functions.lits import matrix_lit
from conversation_analysis_tools_spark.functions.vector import cosine_expr, dot_expr

DEFAULT_N_PLANES = 8
_SEED = 42


def _hyperplanes(
    dim: int, n_planes: int = DEFAULT_N_PLANES, table_id: int = 0
) -> np.ndarray:
    rng = np.random.RandomState(_SEED + 1000 * table_id)
    return rng.standard_normal((n_planes, dim))


def hyperplane_bucket_expr(
    vec_col: str,
    dim: int,
    n_planes: int = DEFAULT_N_PLANES,
    table_id: int = 0,
):
    """Bucket id column: sum_i (dot(v, h_i) > 0) << i. ``table_id``
    seeds an independent plane set per LSH table."""
    planes = matrix_lit(_hyperplanes(dim, n_planes, table_id))
    # One transform over the plane matrix, which therefore appears
    # ONCE in the analyzed tree: n_planes separate dot-product folds
    # each re-inline their plane literal, and the analyzer walk over
    # that n_planes-times-larger tree costs whole seconds of driver
    # time per query build. Values are unchanged -- same left-to-right
    # zip_with/aggregate fold per plane, same sign test, same bit
    # weights -- so bucket ids (and every oracled consumer) are
    # bit-identical.
    bits = F.transform(
        planes,
        lambda h, i: F.when(
            dot_expr(F.col(vec_col), h) > 0,
            # the F.shiftleft wrapper only takes a Python-int shift;
            # the SQL function itself accepts a column
            F.call_function("shiftleft", F.lit(1), i),
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0), lambda a, b: a + b).cast("int")


def _ranked_topk(
    sims, k: int, id_col: str, query_id_col: str, dedup: bool = False
):
    """The top-k window tail every ANN search shares: one exchange on
    the query id, a (sim desc, id asc) sort, then row_number <= k.

    ``dedup=True`` removes replica candidates INSIDE the same window
    sort (soft-assigned IVF lists, multi-table/multiprobe LSH): the
    duplicate (query, vec) rows are value-identical -- same vectors,
    same rounded sim -- so they sort adjacent and a lag(id) != id
    filter drops replica runs with no extra exchange, where a
    pair-grain distinct would re-shuffle the candidate frame (the big
    frame at scale). The row_number after the filter reuses the same
    exchange and sort."""
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    if dedup:
        sims = sims.withColumn("_prev", F.lag(id_col).over(w)).where(
            F.col("_prev").isNull() | (F.col("_prev") != F.col(id_col))
        )
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(query_id_col, id_col, "sim", "rnk")
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    ``queries``: (query_id, embedding). Broadcast x scan; per-query
    top-k via window rank (TakeOrdered per partition would be better
    for one query; the window form generalizes to query batches).

    ``exclude_self`` drops candidates whose id equals the query id --
    ONLY meaningful when query ids live in the corpus id space
    (self-search); leave False for external queries, where a synthetic
    query id could silently shadow an unrelated corpus vector.
    """
    from conversation_analysis_tools_spark.functions.vector import (
        dot_expr,
        norm_expr,
    )

    # norms hoisted per ROW on each side (no CSE inside lambda bodies:
    # inline cosine_expr would re-fold both norms for every
    # corpus x query pair) -- same fold order, bit-identical sims
    pairs = emb.withColumn("_nv", norm_expr("embedding")).crossJoin(
        F.broadcast(
            queries.select(
                F.col("query_id"), F.col("embedding").alias("_qv")
            ).withColumn("_nq", norm_expr("_qv"))
        )
    )
    if exclude_self:
        pairs = pairs.where(F.col("vec_id") != F.col("query_id"))
    cos = F.when(
        (F.col("_nv") == 0) | (F.col("_nq") == 0), F.lit(0.0)
    ).otherwise(dot_expr("embedding", "_qv") / (F.col("_nv") * F.col("_nq")))
    sims = pairs.select(
        "query_id",
        "vec_id",
        F.round(cos, 6).alias("sim"),
    )
    return _ranked_topk(sims, k, "vec_id", "query_id")


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = DEFAULT_N_PLANES,
    exclude_self: bool = False,
    n_tables: int = 1,
) -> DataFrame:
    """LSH-bucketed approximate top-k: candidates from the query's
    bucket and its 1-bit-flip neighbor buckets (multiprobe), exact
    cosine re-rank within candidates.

    ``n_tables`` independent plane sets (the classic recall lever: a
    true neighbor is missed only if it splits from the query in EVERY
    table, so miss probability decays exponentially in L). One corpus
    scan computes all table buckets as an array -> posexplode; rows
    scale by L but the join stays a bucket equi-join on
    (table, bucket) -- still linear, never all-pairs.
    """
    table_buckets = F.array(
        *[
            hyperplane_bucket_expr("embedding", dim, n_planes, t)
            for t in range(n_tables)
        ]
    )
    bucketed = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        F.posexplode(table_buckets).alias("_tab", "bucket"),
    )
    qb = queries.select(
        F.col("query_id"),
        F.col("embedding").alias("_qv"),
        F.posexplode(
            F.array(
                *[
                    hyperplane_bucket_expr("embedding", dim, n_planes, t)
                    for t in range(n_tables)
                ]
            )
        ).alias("_tab", "qbucket"),
    )
    probes = F.array(
        F.col("qbucket"),
        *[
            F.col("qbucket").bitwiseXOR(F.lit(1 << i))
            for i in range(n_planes)
        ],
    )
    qb = qb.withColumn("bucket", F.explode(probes))
    cands = bucketed.join(F.broadcast(qb.drop("qbucket")), ["_tab", "bucket"])
    if exclude_self:  # only valid for self-search (shared id space)
        cands = cands.where(F.col("vec_id") != F.col("query_id"))
    sims = cands.select(
        "query_id", "vec_id", F.round(cosine_expr("embedding", "_qv"), 6).alias("sim")
    )
    return _ranked_topk(sims, k, "vec_id", "query_id", dedup=True)


# ---------------------------------------------------------------------------
# IVF (inverted-file index: k-means coarse quantizer + probed lists)
# ---------------------------------------------------------------------------


def kmeans_centroids(emb: DataFrame, n_centroids: int = 16) -> np.ndarray:
    """Coarse quantizer: k-means centroids (fixed seed) as a small
    (C x dim) matrix -- the only driver-side artifact of the index."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=_SEED, maxIter=20).fit(feats)
    return np.array(model.clusterCenters())


def _centroid_dist_array(vec_col, centroids: np.ndarray):
    """array<double> of squared-L2 distances to every centroid: one
    nested-HOF transform over the centroid matrix, so the matrix
    literal appears ONCE in the analyzed tree (C separate fold
    expressions re-inline it C times and analysis alone costs seconds
    of driver time per build). Fold order per centroid is unchanged,
    so distances are bit-identical to the per-centroid form."""
    mat = matrix_lit(centroids)
    return F.transform(
        mat,
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _nearest_centroid(centroids):
    """A function mapping a pandas Series of vectors to (centroid id,
    squared L2 distance) to the nearest row of ``centroids``, as
    nullable Int32 and float64 Series: the argmin of ||v||^2 + ||c||^2
    - 2 v.c with the cross term as one BLAS product, tiny negative
    residues clamped to 0. Ties take the FIRST centroid, like the
    expression path, and NULL vectors get NULL for both, like its null
    propagation. The centroid matrix and its squared norms are bound
    once, when the function is built."""
    import pandas as pd

    cents = np.asarray(centroids, dtype=np.float64)
    cnorm2 = (cents**2).sum(axis=1)

    def nearest(vecs):
        cid = pd.Series([pd.NA] * len(vecs), dtype="Int32")
        d2 = pd.Series([None] * len(vecs), dtype="float64")
        mask = vecs.notna().to_numpy()
        if mask.any():
            V = np.stack(vecs[mask].to_numpy()).astype(np.float64)
            d = (V**2).sum(axis=1)[:, None] + cnorm2[None, :] - 2.0 * (V @ cents.T)
            c = d.argmin(axis=1)
            cid[mask] = c.astype(np.int32)
            d2[mask] = np.maximum(d[np.arange(len(V)), c], 0.0)
        return cid, d2

    return nearest


def ivf_assign(
    emb: DataFrame,
    centroids: np.ndarray,
    n_assign: int = 1,
    vectorized: bool = False,
) -> DataFrame:
    """Attach ``centroid_id`` = argmin distance (the inverted-list
    key). Pure expression by default: C distance folds +
    array_position of the min -- no Python in the scan. At 100 TB,
    write the table partitioned/bucketed by centroid_id so each list
    is a contiguous scan unit.

    ``vectorized=True`` (round 7, n_assign=1 only) computes the same
    argmin as one numpy matmul per Arrow batch inside a pandas_udf --
    the HOF fold is interpreted, so its n*C*dim per-element ops
    dominate wall on large corpora (the semdedup lesson: 20k rows x
    C=157 cost ~30 s interpreted, ~0 vectorized). Both paths take
    the FIRST index achieving the minimum; they can disagree only on
    float near-ties (fold accumulation order vs the
    ||v||^2+||c||^2-2vc expansion), so the certified layout paths
    (ann_ivf_partitioned_parity / ann_ivf_batch_dpp), which compare
    a STAGED assignment against an inline one, stay on the
    expression path on both sides -- never mix paths across a
    staged/inline comparison.

    ``n_assign > 1`` is the soft-assignment (list replication) recall
    lever: each vector lands in its ``n_assign`` nearest lists, so a
    query's probe set misses a true neighbor only when the neighbor's
    EVERY replica sits outside the probed lists. Index size scales by
    ``n_assign``; search cost per probe does too -- the trade that
    wins when recall is list-miss-bound (measured on the isotropic
    corpus: n_assign=2 reaches at n_probe=6 the 0.9+ recall single
    assignment needs n_probe=10 for). ``ivf_topk`` collapses the
    duplicate candidates replicas produce before ranking, so results
    are replica-invariant."""
    if n_assign > 1 and vectorized:
        raise ValueError(
            "ivf_assign: vectorized=True supports n_assign=1 only -- "
            "soft assignment would silently fall back to the "
            "interpreted fold, the exact wall the flag exists to avoid"
        )
    if n_assign <= 1:
        if vectorized:
            import pandas as pd

            nearest = _nearest_centroid(centroids)

            @F.pandas_udf("int")
            def _assign(col: pd.Series) -> pd.Series:
                return nearest(col)[0]

            return emb.withColumn("centroid_id", _assign(F.col("embedding")))
        dists = _centroid_dist_array("embedding", centroids)
        cid = F.array_position(dists, F.array_min(dists)) - 1
        return emb.withColumn("centroid_id", cid.cast("int"))
    pairs = F.transform(
        _centroid_dist_array("embedding", centroids),
        lambda d, i: F.struct(d.alias("d"), i.alias("cid")),
    )
    return emb.withColumn(
        "centroid_id",
        F.explode(
            F.transform(
                F.slice(F.array_sort(pairs), 1, n_assign),
                lambda p: p["cid"].cast("int"),
            )
        ),
    )


def ivf_topk(
    emb_assigned: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    n_probe: int = 4,
    exclude_self: bool = False,
) -> DataFrame:
    """IVF search: each query probes its ``n_probe`` nearest centroid
    lists; candidates from those lists get the exact cosine re-rank.

    The probe-set computation is also JVM-side (sort an array of
    (dist, cid) structs, slice, explode), so the whole search is two
    narrow stages + one equi-join on centroid_id + the top-k window.
    Candidate fraction ~ n_probe / C; recall tunes with n_probe.
    """
    from conversation_analysis_tools_spark.functions.vector import cosine_expr

    pairs = F.transform(
        _centroid_dist_array("embedding", centroids),
        lambda d, i: F.struct(d.alias("d"), i.alias("cid")),
    )
    probes = (
        queries.select(
            F.col("query_id"),
            F.col("embedding").alias("_qv"),
            F.explode(F.slice(F.array_sort(pairs), 1, n_probe)).alias("p"),
        )
        .select("query_id", "_qv", F.col("p.cid").alias("centroid_id"))
    )
    cands = emb_assigned.join(F.broadcast(probes), "centroid_id")
    if exclude_self:  # only valid for self-search (shared id space)
        cands = cands.where(F.col("vec_id") != F.col("query_id"))
    sims = cands.select(
        "query_id",
        "vec_id",
        F.round(cosine_expr("embedding", "_qv"), 6).alias("sim"),
    )
    # replica-dedup (soft assignment): see _ranked_topk
    return _ranked_topk(sims, k, "vec_id", "query_id", dedup=True)


# ---------------------------------------------------------------------------
# int8 scalar quantization (the 4x storage path)
# ---------------------------------------------------------------------------


def quantize_vectors(emb: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x|/127,
    q_i = round(x_i/scale) in [-127, 127] stored as tinyint -- 4x
    smaller than float32 (16x vs float64), the standard first
    compression rung before PQ. At 100 TB the index table ships 1/4
    the shuffle/scan bytes; COSINE over quantized vectors needs no
    dequantization at all (the per-vector scales cancel in the
    ratio), so search is integer dot products."""
    mx = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x)))
    out = emb.withColumn("qscale", F.greatest(mx / F.lit(127.0), F.lit(1e-12)))
    return out.withColumn(
        "q",
        F.transform(
            F.col("embedding"), lambda x: F.round(x / F.col("qscale")).cast("tinyint")
        ),
    )


def _int_cosine(a, b):
    num = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    def nrm(v):
        return F.sqrt(
            F.aggregate(
                F.transform(v, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return num / (nrm(a) * nrm(b))


def int8_brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors: quantize both
    sides, rank by integer-arithmetic cosine. Same plan shape as
    brute_force_topk (broadcast queries x one scan) at 1/4 the scan
    bytes; recall loss is the quantization error only (tests measure
    >= 0.8 vs exact on the synthetic corpus)."""
    qemb = quantize_vectors(emb).select(
        F.col("vec_id"), F.col("q").alias("_cv")
    )
    qq = quantize_vectors(queries).select(
        F.col("query_id"), F.col("q").alias("_qv")
    )
    pairs = qemb.crossJoin(F.broadcast(qq))
    if exclude_self:
        pairs = pairs.where(F.col("vec_id") != F.col("query_id"))
    sims = pairs.select(
        "query_id", "vec_id", F.round(_int_cosine(F.col("_cv"), F.col("_qv")), 6).alias("sim")
    )
    return _ranked_topk(sims, k, "vec_id", "query_id")


# ---------------------------------------------------------------------------
# Product quantization (PQ: per-subspace codebooks + ADC search)
# ---------------------------------------------------------------------------

PQ_M = 8        # subspaces
PQ_K = 32       # codes per subspace -> 5 bits; ~5 bytes per 64-d vector (51x
                # vs float32).  Swept on the synthetic corpus: (m=8,k=32,
                # rerank=100) recall 0.96, rerank=200 -> 1.00; k=16 needs
                # rerank=200 for 0.96.
_PQ_SAMPLE = 2000
_LLOYD_ITERS = 25


def _lloyd(X: np.ndarray, k: int, seed: int = _SEED) -> np.ndarray:
    """Tiny driver-side k-means (Lloyd) for codebook training on a
    bounded sample -- numpy only, deterministic."""
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=k, replace=len(X) < k)]
    for _ in range(_LLOYD_ITERS):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(k):
            pts = X[assign == c]
            if len(pts):
                C[c] = pts.mean(0)
    return C


def pq_train(emb: DataFrame, dim: int) -> np.ndarray:
    """Codebooks (m, k, dim/m) trained on a bounded L2-normalized
    sample -- the only driver-side artifact (m*k*dim floats, KB-scale
    broadcast). At 100 TB: train on a sample exactly like this; the
    encode pass is a map-only expression over the full corpus."""
    sub = dim // PQ_M
    rows = (
        emb.select(F.col("embedding")).limit(_PQ_SAMPLE).collect()
    )
    X = np.array([r[0] for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    return np.stack(
        [_lloyd(X[:, s * sub : (s + 1) * sub], PQ_K, seed=_SEED + s) for s in range(PQ_M)]
    )


def pq_encode(emb: DataFrame, codebooks: np.ndarray) -> DataFrame:
    """Attach ``pq_code`` (array of m subspace code ids) via an
    Arrow-batched pandas UDF: per batch, one (n x sub) @ (sub x k)
    BLAS product per subspace, argmin over the k columns.  A pure
    column-expression encode (m*k fold-aggregates) was tried first
    and measured ~50x slower -- a 256-branch Catalyst tree is the
    wrong tool for dense vector math; this is the documented
    vectorized-UDF exception.  Map-only: no shuffle, codebooks ride
    the closure (KB-scale broadcast)."""
    from pyspark.sql.functions import pandas_udf

    m, k, sub = codebooks.shape
    cb = codebooks.astype(np.float64)
    c_norms = (cb**2).sum(-1)  # (m, k)

    @pandas_udf("array<int>")
    def _codes(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(X), m), dtype=np.int32)
        for s in range(m):
            Xs = X[:, s * sub : (s + 1) * sub]
            # argmin ||x-c||^2 == argmin ||c||^2 - 2 x.c  (||x|| const)
            out[:, s] = (c_norms[s][None, :] - 2.0 * (Xs @ cb[s].T)).argmin(1)
        return pd.Series(list(out))

    return emb.withColumn("pq_code", _codes(F.col("embedding")))


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    rerank: int = 50,
    exclude_self: bool = False,
) -> DataFrame:
    """PQ search with asymmetric distance (ADC) + exact re-rank, as
    ONE plan for the whole query batch: each query's per-subspace
    lookup tables ||q_s - C_s[c]||^2 are computed driver-side (m*k
    floats/query) and shipped as a tiny BROADCAST DataFrame (data,
    not literals -- an earlier per-query-plan variant was ~5x
    slower on plan overhead alone); the corpus scan crossjoins the
    broadcast tables and folds m table lookups by stored code (no
    float vector read on the wide scan), the top ``rerank`` PQ
    candidates per query get the exact cosine, and the top ``k`` of
    those are returned. The production shape: scan bytes ~ m
    bytes/vector, one scan for any query-batch size, exactness
    restored where it matters."""
    m, kk, sub = codebooks.shape
    qrows = queries.select("query_id", "embedding").collect()
    spark = encoded.sparkSession
    tab_rows = []
    for qr in qrows:
        qv = np.array(qr["embedding"], dtype=np.float64)
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        flat = []
        for s in range(m):
            qs = qv[s * sub : (s + 1) * sub]
            flat.extend(float(((qs - codebooks[s, c]) ** 2).sum()) for c in range(kk))
        tab_rows.append((int(qr["query_id"]), flat, [float(x) for x in qv]))
    qtab = spark.createDataFrame(
        tab_rows, "query_id bigint, _tbl array<double>, _qv array<double>"
    )
    # fold over subspaces: acc + tbl[s*kk + code_s]   (1-indexed element_at)
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.col("_tbl"),
            (s * kk + F.element_at(F.col("pq_code"), s + 1) + 1).cast("int"),
        ),
    )
    cand = encoded.crossJoin(F.broadcast(qtab)).withColumn("_adc", adc)
    if exclude_self:
        cand = cand.where(F.col("vec_id") != F.col("query_id"))
    wr = Window.partitionBy("query_id").orderBy(F.asc("_adc"), F.asc("vec_id"))
    sims = (
        cand.withColumn("_pqr", F.row_number().over(wr))
        .where(F.col("_pqr") <= rerank)
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_expr("embedding", "_qv"), 6).alias("sim"),
        )
    )
    return _ranked_topk(sims, k, "vec_id", "query_id")
