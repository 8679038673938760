"""Connected components — alternating large-star / small-star (G8).

The clustering stage the reference lacks (it assigns each mention
independently, ``SemanticSignatureEL.java:786-848``); the north rule
replaces the per-mention argmax with transitive closure over match
edges. Algorithm: Kiveris et al., "Connected Components in MapReduce
and Beyond" (SOCC'14) — alternate:

  large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
  small-star(u): S = {v ∈ N(u) : v < u}; m = min(S ∪ {u});
                 emit (v, m) for v ∈ S ∪ {u}, v ≠ m

until the edge set reaches a fixpoint (checked by a cheap
count+hash-sum checksum, not a full set-compare). Each round is two
groupBy shuffles; converges in O(log n) rounds; ``localCheckpoint``
per round truncates lineage. Min-id convention keeps results
deterministic across parallelism levels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    und = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        und.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient every edge larger→smaller, group by the larger end
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = oriented.join(mins, "u")
    relink = nbrs.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_link = mins.select(F.col("u"), F.col("m").alias("v"))
    return relink.union(self_link).filter(F.col("u") != F.col("v")).distinct()


def _checksum(edges: DataFrame) -> tuple:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).first()
    return (row["n"], row["h"])


def _union_find_local(spark, tbl) -> DataFrame:
    """Driver union-find over an Arrow-collected (u, v) edge table — the
    small-graph fast path of ``connected_components_auto``. Identical
    output contract (min-id component per node)."""
    import numpy as np

    u = tbl.column("u").to_numpy().astype(np.int64, copy=False)
    v = tbl.column("v").to_numpy().astype(np.int64, copy=False)
    uniq = np.unique(np.concatenate([u, v]))
    ui = np.searchsorted(uniq, u)
    vi = np.searchsorted(uniq, v)
    try:
        # C-speed path: scipy's union-find over a sparse adjacency
        from scipy.sparse import coo_matrix
        from scipy.sparse.csgraph import connected_components as _scc

        n_ = len(uniq)
        adj = coo_matrix(
            (np.ones(len(ui), dtype=np.int8), (ui, vi)), shape=(n_, n_)
        )
        _k, labels = _scc(adj, directed=False)
        # min original node id per label keeps the min-id convention
        min_per_label = np.full(_k, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(min_per_label, labels, uniq)
        comp = min_per_label[labels]
    except ImportError:
        parent = np.arange(len(uniq))

        def find(i):
            root = i
            while parent[root] != root:
                root = parent[root]
            while parent[i] != root:
                parent[i], i = root, parent[i]
            return root

        for a, b in zip(ui, vi):
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min original id keeps the min-id convention
                if uniq[ra] < uniq[rb]:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        comp = uniq[np.array([find(i) for i in range(len(uniq))])]
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"node": uniq, "component": comp}),
        "node long, component long",
    )


def connected_components_auto(
    edges: DataFrame, max_iter: int = 20, local_threshold: int = 500_000
) -> DataFrame:
    """CC with a size-gated physical strategy (same output either way):
    up to ``local_threshold`` edges, Arrow-collect and union-find on
    the driver — the surface MATCH graph is dictionary-sized (its node
    count is bounded by distinct surfaces, not corpus rows), so at
    10^12 turns it is still a small edge list (threshold sized for
    the pure-python union-find; with scipy present the C path handles
    millions) and the
    large-star/small-star rounds' ~10 job barriers dominate their own
    runtime. Above the threshold, the distributed alternating-star
    algorithm below. The same decision shape as AQE's broadcast-vs-
    shuffle join, applied to the iterative operator.

    ONE bounded collect, ``limit(local_threshold + 1)``, is both the
    gate and the fast path's input. The deduplicated edges stay persisted
    for the distributed branch and are released on return."""
    e = edges.select("u", "v").filter(F.col("u") != F.col("v")).distinct().persist()
    try:
        tbl = e.limit(local_threshold + 1).toArrow()
        if tbl.num_rows == 0:
            return e.sparkSession.createDataFrame([], "node long, component long")
        if tbl.num_rows <= local_threshold:
            return _union_find_local(e.sparkSession, tbl)
        # connected_components eagerly localCheckpoints its input up
        # front, so the persisted edge set is consumed before return
        return connected_components(e, max_iter)
    finally:
        e.unpersist()


def connected_components(
    edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """edges(u, v) undirected → components(node, component) where
    component = min node id of the component. Nodes absent from any
    edge are the caller's responsibility (left-join + coalesce self).
    """
    cur = edges.select("u", "v").filter(F.col("u") != F.col("v")).distinct().localCheckpoint()
    if cur.isEmpty():
        return cur.sparkSession.createDataFrame([], "node long, component long")
    prev_sum = None
    for _ in range(max_iter):
        # lazy checkpoint after large-star: the round's single job
        # barrier is the checksum, which materializes both stars
        cur = _large_star(cur).localCheckpoint(eager=False)
        cur = _small_star(cur).localCheckpoint(eager=False)
        s = _checksum(cur)
        if s == prev_sum:
            break
        prev_sum = s
    # converged star edges: u → root v
    leaves = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = (
        cur.select(F.col("v").alias("node"))
        .distinct()
        .join(cur.select(F.col("u").alias("node")).distinct(), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return leaves.union(roots).distinct()
