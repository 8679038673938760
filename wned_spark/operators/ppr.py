"""Batched personalized PageRank — semantic signatures (G3/G5/G6).

The reference computes one PPR per candidate entity, farmed out to 32
threads over a shared in-heap WebGraph
(``WeightedPersonalizedPageRank.java:42-110,233-266``). Here every walk
starts from a PREFERENCE VECTOR given as rows ``(seed, node, w)``: an
entity's signature from the indicator row ``(s, s, 1.0)``
(:func:`indicator_preference`), a document's from a vector uniform over
its confident entities (``ELUtils.java:59-94``). Weights are
sum-normalized per seed. All seeds run as one batch:

    ranks' = alpha * (ranks ⋈ P).groupBy(seed, dst).sum
             + pref(seed) * ((1 - alpha) + alpha * dangling(seed))

Dangling mass is returned to the preference vector —
``stronglyPreferential=true`` (``PersonalizedPageRank.java:30``).

Parameters pinned to the reference: alpha=0.85 and 3 iterations
(``PersonalizedPageRank.java:27-30``). The reference also stops early
at an L1 delta < 1e-5; 3 iterations come first in practice, so the
walk always runs exactly ``cfg.ppr_max_iter`` iterations.

Callers use :func:`personalized_pagerank_auto`, which picks one of two
kernels by edge count: the broadcast-CSR kernel
(:func:`personalized_pagerank_broadcast`) or the join kernel
(:func:`personalized_pagerank`, one shuffle-aggregate per iteration
with ``localCheckpoint`` truncating lineage). Signatures stay sparse
(3 iterations reach a bounded neighborhood), so their size is
O(seeds x avg 3-hop neighborhood), never O(seeds x |V|).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wned_spark.config import ERConfig


def normalize_transition(edges: DataFrame, max_degree: int | None = None) -> DataFrame:
    """Row-normalize edge weights: P(src→dst) = w / sum_w(src).
    (WeightedPersonalizedPageRank.java:161-184 weight handling; F8
    zero-weight arcs dropped.)

    ``max_degree`` keeps only the top-K outgoing edges per node by
    weight — the degree-threshold idea of the reference's subgraph
    expansion (SubGraphGenerator.java:30-31) applied to transition
    sparsity: hub surfaces otherwise blow the signature fan-out to
    O(hub_degree) rows per seed per iteration."""
    e = edges.filter(F.col("weight") > 0)
    if max_degree is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("src").orderBy(F.desc("weight"), F.asc("dst"))
        e = e.withColumn("_rk", F.row_number().over(w)).filter(
            F.col("_rk") <= max_degree
        ).drop("_rk")
    sums = e.groupBy("src").agg(F.sum("weight").alias("wsum"))
    return e.join(sums, "src").select(
        "src", "dst", (F.col("weight") / F.col("wsum")).alias("p")
    )


def indicator_preference(seeds: DataFrame) -> DataFrame:
    """(seed) → the indicator preference rows (seed, seed, 1.0) (G5)."""
    return seeds.selectExpr("seed", "seed AS node", "1.0D AS w")


def personalized_pagerank_auto(
    preference: DataFrame,
    edges: DataFrame,
    cfg: ERConfig = ERConfig(),
    n_edges: int | None = None,
) -> DataFrame:
    """Batched PPR, one walk per seed of ``preference`` (seed, node, w)
    over ``edges`` (src, dst, weight); returns signatures
    ``(seed, node, rank)``.

    Up to ``cfg.ppr_broadcast_max_edges`` edges the transition matrix
    is collected and broadcast as CSR arrays
    (:func:`personalized_pagerank_broadcast`: one Arrow collect + one
    shuffle-free mapInPandas job); above it, where the CSR no longer
    fits the driver, the join-based power iteration runs
    (:func:`personalized_pagerank`: ~2 shuffles per iteration). The two
    kernels are parity-pinned in tests/test_ppr_cc.py. ``n_edges``
    reuses a count the caller already has; otherwise one count job
    decides. ``edges`` is read, never cached or released here — its
    lifecycle stays with the caller."""
    if n_edges is None:
        n_edges = edges.count()
    if n_edges <= cfg.ppr_broadcast_max_edges:
        return personalized_pagerank_broadcast(preference, edges, cfg)
    return personalized_pagerank(preference, edges, cfg)


def personalized_pagerank(
    preference: DataFrame, edges: DataFrame, cfg: ERConfig = ERConfig()
) -> DataFrame:
    """Join kernel: every seed's walk as one long-form DataFrame,
    iterated as a single join-aggregate. ``w`` is sum-normalized per
    seed (the R14 stochastic-vector guard), so duplicate (seed, node)
    rows add up. The spread is a LEFT join: a rank on a node with no
    out-edge (dangling, or absent from the graph) lands under a null
    ``dst``, and that group is the seed's dangling mass, returned to its
    preference vector. A seed whose preference has no out-edge at all
    is therefore the fixed point of its own preference."""
    alpha = cfg.ppr_alpha
    trans = normalize_transition(edges, cfg.ppr_max_degree).persist()
    wsum = preference.groupBy("seed").agg(F.sum("w").alias("wsum"))
    pref = (
        preference.join(wsum, "seed")
        .select("seed", "node", (F.col("w") / F.col("wsum")).alias("w"))
        .persist()
    )
    # lazy checkpoints: lineage still truncates at materialization, but
    # no extra job barrier per iteration (3 fixed iterations keep the
    # un-truncated plan bounded anyway)
    ranks = pref.select("seed", "node", F.col("w").alias("rank")).localCheckpoint(
        eager=False
    )
    for _ in range(cfg.ppr_max_iter):
        moved = (
            ranks.join(trans, ranks["node"] == trans["src"], "left")
            .groupBy("seed", "dst")
            .agg(F.sum(F.col("rank") * F.coalesce(F.col("p"), F.lit(1.0))).alias("mass"))
        )
        spread = moved.filter(F.col("dst").isNotNull()).select(
            "seed", F.col("dst").alias("node"), (alpha * F.col("mass")).alias("rank")
        )
        dangling = moved.filter(F.col("dst").isNull()).select(
            "seed", F.col("mass").alias("dmass")
        )
        teleport = pref.join(dangling, "seed", "left").select(
            "seed",
            "node",
            (
                F.col("w")
                * ((1.0 - alpha) + alpha * F.coalesce(F.col("dmass"), F.lit(0.0)))
            ).alias("rank"),
        )
        ranks = (
            spread.union(teleport)
            .groupBy("seed", "node")
            .agg(F.sum("rank").alias("rank"))
            .localCheckpoint(eager=False)  # truncate lineage, no job barrier
        )
    # trans and pref stay persisted: with lazy checkpoints nothing has
    # materialized yet — unpersisting here would force 3 recomputes of
    # them when the caller finally acts on the ranks
    return ranks


def personalized_pagerank_broadcast(
    preference: DataFrame, edges: DataFrame, cfg: ERConfig = ERConfig()
) -> DataFrame:
    """CSR kernel: same semantics as :func:`personalized_pagerank`,
    computed by shipping the row-normalized transition matrix (CSR in
    plain numpy arrays) to every executor and running each seed's walk
    in numpy (:func:`_ppr_walks`) inside mapInPandas.

    This is the reference's own architecture — one shared in-heap graph,
    per-seed parallel walks (WeightedPersonalizedPageRank.java:233-266) —
    with Spark distributing the seeds. It is the right plan whenever the
    DICTIONARY graph fits executor memory (10^8 edges ~ 2.4 GB); zero
    shuffles after the one hash-partitioning of the preference rows by
    seed, so scaling is linear in cores.

    Driver memory is bounded by the numpy CSR arrays alone (~28 bytes
    per edge): the collect is Arrow-columnar (``toArrow`` → zero-copy
    numpy views, no Python row objects) and node ids are looked up by
    ``np.searchsorted`` over the sorted unique-id array — no Python dict
    of node ids is ever built."""
    import numpy as np
    import pandas as pd

    alpha, iters = cfg.ppr_alpha, cfg.ppr_max_iter
    sc = preference.sparkSession.sparkContext
    bc = sc.broadcast(_csr_collect(edges, cfg.ppr_max_degree))

    def frame(buf):
        return pd.DataFrame({
            "seed": np.repeat([s for s, _n, _r in buf], [len(n) for _s, n, _r in buf]),
            "node": np.concatenate([n for _s, n, _r in buf]),
            "rank": np.concatenate([r for _s, _n, r in buf]),
        })

    def run(batches):
        # the hash partitioning keeps a seed's rows in one partition,
        # but they may straddle Arrow batches: gather the partition's
        # preference rows first, then stream the signatures out
        cols = [
            (b["seed"].to_numpy(np.int64), b["node"].to_numpy(np.int64),
             b["w"].to_numpy(np.float64))
            for b in batches
        ]
        if not cols:
            return
        seed, node, w = (np.concatenate(c) for c in zip(*cols))
        buf, rows = [], 0
        for walk in _ppr_walks(bc.value, seed, node, w, alpha, iters):
            buf.append(walk)
            rows += len(walk[1])
            if rows >= 65536:
                yield frame(buf)
                buf, rows = [], 0
        if buf:
            yield frame(buf)

    # no column expressions here: each pyspark.sql.functions call costs
    # py4j round trips on the driver, and run() converts dtypes itself
    return preference.repartition(sc.defaultParallelism, "seed").mapInPandas(
        run, schema="seed long, node long, rank double"
    )


def _csr_collect(edges: DataFrame, max_degree: int | None):
    """Row-normalize, Arrow-collect and CSR-pack the transition matrix
    as driver numpy arrays: (n, indptr, dst, p, rev_ids). rev_ids is
    sorted — both the dense→original map and the searchsorted lookup
    table."""
    import numpy as np

    tarrow = normalize_transition(edges, max_degree=max_degree).toArrow()
    raw_src = tarrow.column("src").to_numpy().astype(np.int64, copy=False)
    raw_dst = tarrow.column("dst").to_numpy().astype(np.int64, copy=False)
    p = tarrow.column("p").to_numpy().astype(np.float64, copy=False)
    del tarrow
    uniq = np.unique(np.concatenate([raw_src, raw_dst]))
    n = len(uniq)
    src = np.searchsorted(uniq, raw_src)
    dst = np.searchsorted(uniq, raw_dst)
    order = np.argsort(src, kind="stable")
    src, dst, p = src[order], dst[order], p[order]
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.add.at(indptr, src + 1, 1)
    indptr = np.cumsum(indptr)
    return (n, indptr, dst, p, uniq)


def _ppr_walks(csr, seed, node, w, alpha: float, iters: int):
    """Yield ``(seed, nodes, ranks)`` for every seed of the flat
    preference rows ``seed, node, w`` (any order; duplicate (seed, node)
    rows add up), walking each seed's sparse power iteration against the
    :func:`_csr_collect` arrays. ``w`` is sum-normalized per seed. A
    preference node absent from the graph gets a virtual index >= n: a
    pure-dangling receiver of its own teleport mass. The accumulator
    stays sized by the frontier's nonzeros, never O(|V|)."""
    import numpy as np

    n_, indptr_, dst_, p_, rev_ = csr
    order = np.argsort(seed, kind="stable")
    seed, node, w = seed[order], node[order], w[order]
    seeds, starts = np.unique(seed, return_index=True)
    ends = np.append(starts[1:], len(seed))
    for s, lo, hi in zip(seeds.tolist(), starts.tolist(), ends.tolist()):
        nodes, inv = np.unique(node[lo:hi], return_inverse=True)
        pval = np.bincount(inv, weights=w[lo:hi])
        pval = pval / pval.sum()
        pos = np.searchsorted(rev_, nodes)
        present = pos < n_
        present[present] = rev_[pos[present]] == nodes[present]
        pidx = np.where(present, pos, n_ + np.arange(len(nodes)))
        idx, val = pidx, pval
        for _ in range(iters):
            real = idx < n_
            counts = np.zeros(len(idx), dtype=np.int64)
            counts[real] = indptr_[idx[real] + 1] - indptr_[idx[real]]
            dangling = float(val[counts == 0].sum())
            teleport = pval * ((1.0 - alpha) + alpha * dangling)
            nz = counts > 0
            if not nz.any():
                idx, val = pidx, teleport
                continue
            lens = counts[nz]
            ends_ = np.cumsum(lens)
            flat = np.arange(ends_[-1]) + np.repeat(indptr_[idx[nz]] - ends_ + lens, lens)
            idx, inv = np.unique(np.append(dst_[flat], pidx), return_inverse=True)
            val = np.bincount(
                inv, weights=np.append(np.repeat(val[nz], lens) * p_[flat] * alpha, teleport)
            )
        real = idx < n_
        out = np.empty(len(idx), dtype=np.int64)
        out[real] = rev_[idx[real]]
        out[~real] = nodes[idx[~real] - n_]
        yield s, out, val


def signature_cosine(pairs: DataFrame, signatures: DataFrame) -> DataFrame:
    """Pairwise cosine between two seeds' signatures (R6 long-form).

    pairs: (seed_a, seed_b); signatures: (seed, node, rank).
    dot = sum over shared nodes of rank_a*rank_b; norms precomputed per
    seed (one small agg) — the join-agg pattern replaces the
    reference's in-heap Map dot product (VectorSimilarity.java:22-43).
    """
    from wned_spark.functions.similarity import cosine_expr

    norms = signatures.groupBy("seed").agg(
        F.sqrt(F.sum(F.col("rank") * F.col("rank"))).alias("norm")
    )
    sa = signatures.select(
        F.col("seed").alias("seed_a"), "node", F.col("rank").alias("rank_a")
    )
    sb = signatures.select(
        F.col("seed").alias("seed_b"), "node", F.col("rank").alias("rank_b")
    )
    dots = (
        pairs.join(sa, "seed_a")
        .join(sb, ["seed_b", "node"])
        .groupBy("seed_a", "seed_b")
        .agg(F.sum(F.col("rank_a") * F.col("rank_b")).alias("dot"))
    )
    na = norms.select(F.col("seed").alias("seed_a"), F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("seed").alias("seed_b"), F.col("norm").alias("norm_b"))
    return (
        pairs.join(dots, ["seed_a", "seed_b"], "left")
        .na.fill({"dot": 0.0})
        .join(na, "seed_a")
        .join(nb, "seed_b")
        .select(
            "seed_a",
            "seed_b",
            cosine_expr(F.col("dot"), F.col("norm_a"), F.col("norm_b")).alias("sig_cosine"),
        )
    )


def _zero_kl_directed(pairs: DataFrame, signatures: DataFrame,
                      eps: float, gamma: float) -> DataFrame:
    """ZeroKL(sig_a || sig_b) per pair, relationally: signatures store
    only nonzero ranks, so every p-row contributes either
    p*log2(p/q) (q present and > eps) or p*gamma (q missing/tiny) —
    the exact VectorSimilarity.java:87-104 term structure as one
    left join + sum. Pairs whose seed_a has no signature rows get the
    all-mass-unmatched value gamma (sum(p)=1)."""
    sa = signatures.select(F.col("seed").alias("seed_a"), "node", F.col("rank").alias("p"))
    sb = signatures.select(F.col("seed").alias("seed_b"), "node", F.col("rank").alias("q"))
    terms = (
        pairs.join(sa, "seed_a")
        .join(sb, ["seed_b", "node"], "left")
        .select(
            "seed_a",
            "seed_b",
            F.when(
                F.coalesce(F.col("q"), F.lit(0.0)) <= eps, F.col("p") * gamma
            ).otherwise(F.col("p") * F.log2(F.col("p") / F.col("q"))).alias("term"),
        )
        .groupBy("seed_a", "seed_b")
        .agg(F.sum("term").alias("kl"))
    )
    return pairs.join(terms, ["seed_a", "seed_b"], "left").na.fill({"kl": gamma})


def signature_zero_kl(
    pairs: DataFrame,
    signatures: DataFrame,
    eps: float = 1e-6,
    gamma: float = 10.0,
) -> DataFrame:
    """Symmetrized ZeroKL semantic similarity between two seeds' PPR
    signatures (R7 — the reference's semSim, SemanticSignatureEL.java:806
    uses 1.0/ZeroKL(entity_sig, doc_sig); VectorSimilarity.java:87-104
    constants eps=1e-6, gamma=10).

    pairs: (seed_a, seed_b); signatures: (seed, node, rank).
    Returns (seed_a, seed_b, sig_kl) where sig_kl = 1/(1 + kl_sym),
    kl_sym = (KL(a||b) + KL(b||a)) / 2. Deviations from the reference,
    both deliberate: symmetrized (pair features have no preferred
    direction) and bounded to (0, 1] via 1/(1+kl) rather than the
    unbounded 1/kl (identical signatures would divide by zero); both
    are monotone transforms of the reference's score."""
    ab = _zero_kl_directed(pairs, signatures, eps, gamma)
    ba = _zero_kl_directed(
        pairs.select(F.col("seed_b").alias("seed_a"), F.col("seed_a").alias("seed_b")),
        signatures, eps, gamma,
    ).select(
        F.col("seed_b").alias("seed_a"), F.col("seed_a").alias("seed_b"),
        F.col("kl").alias("kl_ba"),
    )
    return (
        ab.join(ba, ["seed_a", "seed_b"])
        .select(
            "seed_a",
            "seed_b",
            (1.0 / (1.0 + (F.col("kl") + F.col("kl_ba")) / 2.0)).alias("sig_kl"),
        )
    )


def signature_features(
    rows: DataFrame,
    signatures: DataFrame,
    eps: float = 1e-6,
    gamma: float = 10.0,
) -> DataFrame:
    """Fused R6+R7: adds ``sig_cosine`` and symmetrized-ZeroKL
    ``sig_kl`` to pair rows ``(left_sid, right_sid, ...)``, from the
    signature vectors ``(sid, sig)`` (:func:`~wned_spark.functions.
    similarity.sparse_vectors` over the PPR rows, ``sig`` a map node →
    rank).

    Each row picks up its two vectors by one left join per side and
    scores them in place — cosine, norms and both directed ZeroKL sums
    (VectorSimilarity.java:22-43 + :87-104) over the two maps, every sum
    in node order — so there is no (pair × node) intermediate, no
    aggregate and no join back, and the result does not depend on the
    physical plan. The rows keep every column and their multiplicity; a
    duplicated pair is scored twice, identically.

    Semantics are those of composing the two long-form kernels
    (parity-pinned in tests/test_ppr_cc.py): a pair with a missing
    signature on either side gets cosine 0; a missing side's directed
    KL is gamma (all mass unmatched), so a pair missing both gets
    1/(1+gamma). ``signature_cosine`` and ``signature_zero_kl`` remain
    the long-form surface (the r7 registry row, the second pass)."""
    from wned_spark.functions.similarity import (
        sparse_cosine,
        sparse_zero_kl,
        with_pair_vectors,
    )

    a, b = F.col("sig_l"), F.col("sig_r")
    kl_ab = sparse_zero_kl(a, b, eps, gamma)
    kl_ba = sparse_zero_kl(b, a, eps, gamma)
    return (
        with_pair_vectors(rows, signatures, "sig")
        .withColumn("sig_cosine", sparse_cosine(a, b))
        .withColumn("sig_kl", 1.0 / (1.0 + (kl_ab + kl_ba) / 2.0))
        .drop("sig_l", "sig_r")
    )
