"""PPR vs a numpy power-iteration oracle; connected components vs a
pure-python union-find oracle (FIXTURES.md F6)."""

import random

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Row

from wned_spark.config import ERConfig
from wned_spark.operators.cc import connected_components
from wned_spark.operators.ppr import (
    indicator_preference,
    personalized_pagerank,
    personalized_pagerank_auto,
    personalized_pagerank_broadcast,
    signature_cosine,
)


def _numpy_ppr(edges, prefs, n_nodes, alpha=0.85, iters=3):
    """Oracle replicating the exact update rule, for preference vectors
    ``prefs = {seed: {node: w}}`` (w sum-normalized per seed):
    r' = alpha * P^T r + pref * ((1-alpha) + alpha * dangling_mass)."""
    P = np.zeros((n_nodes, n_nodes))
    for s, d, w in edges:
        P[s, d] = w
    row_sums = P.sum(axis=1)
    out = {}
    for seed, pv in prefs.items():
        pref = np.zeros(n_nodes)
        for node, w in pv.items():
            pref[node] += w
        pref /= pref.sum()
        r = pref.copy()
        for _ in range(iters):
            spread = np.zeros(n_nodes)
            dangling = 0.0
            for s in range(n_nodes):
                if row_sums[s] > 0:
                    spread += alpha * r[s] * P[s] / row_sums[s]
                else:
                    dangling += r[s]
            r = spread + pref * ((1 - alpha) + alpha * dangling)
        out[seed] = r
    return out


def test_ppr_matches_numpy_oracle(spark):
    rng = random.Random(4)
    n = 12
    edge_list = []
    seen = set()
    for _ in range(30):
        s, d = rng.randrange(n), rng.randrange(n)
        if s != d and (s, d) not in seen:
            seen.add((s, d))
            edge_list.append((s, d, float(rng.randint(1, 5))))
    # node 11 left dangling on purpose
    edge_list = [(s, d, w) for s, d, w in edge_list if s != 11]
    edges = spark.createDataFrame(
        [Row(src=s, dst=d, weight=w) for s, d, w in edge_list]
    )
    seeds = spark.createDataFrame([Row(seed=0), Row(seed=5), Row(seed=11)])
    cfg = ERConfig(ppr_max_iter=3)
    got = personalized_pagerank(indicator_preference(seeds), edges, cfg).collect()
    oracle = _numpy_ppr(edge_list, {s: {s: 1.0} for s in (0, 5, 11)}, n)
    for r in got:
        assert abs(r["rank"] - oracle[r["seed"]][r["node"]]) < 1e-9, (r, oracle[r["seed"]][r["node"]])
    # mass conservation: each signature sums to 1
    gm = {}
    for r in got:
        gm[r["seed"]] = gm.get(r["seed"], 0.0) + r["rank"]
    for seed, total in gm.items():
        assert abs(total - 1.0) < 1e-9


def test_signature_cosine_self_is_one(spark):
    sigs = spark.createDataFrame(
        [Row(seed=1, node=1, rank=0.5), Row(seed=1, node=2, rank=0.5),
         Row(seed=2, node=1, rank=0.5), Row(seed=2, node=2, rank=0.5),
         Row(seed=3, node=9, rank=1.0)]
    )
    pairs = spark.createDataFrame([Row(seed_a=1, seed_b=2), Row(seed_a=1, seed_b=3)])
    out = {(r["seed_a"], r["seed_b"]): r["sig_cosine"] for r in signature_cosine(pairs, sigs).collect()}
    assert abs(out[(1, 2)] - 1.0) < 1e-12
    assert out[(1, 3)] == 0.0


def _union_find_components(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    groups = {}
    for x in range(n):
        groups.setdefault(find(x), set()).add(x)
    return {frozenset(g) for g in groups.values() if len(g) > 1}


def test_connected_components_vs_union_find(spark):
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = 60
        edge_list = {(rng.randrange(n), rng.randrange(n)) for _ in range(45)}
        edge_list = [(u, v) for u, v in edge_list if u != v]
        df = spark.createDataFrame([Row(u=u, v=v) for u, v in edge_list])
        comp = connected_components(df).collect()
        groups = {}
        for r in comp:
            groups.setdefault(r["component"], set()).add(r["node"])
            groups[r["component"]].add(r["component"])
        got = {frozenset(g) for g in groups.values() if len(g) > 1}
        want = _union_find_components(n, edge_list)
        assert got == want, f"seed={seed}"


def test_connected_components_min_id_convention(spark):
    df = spark.createDataFrame([Row(u=5, v=3), Row(u=3, v=9), Row(u=100, v=50)])
    comp = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert comp[5] == 3 and comp[9] == 3 and comp[3] == 3
    assert comp[100] == 50 and comp[50] == 50


def test_ppr_broadcast_matches_join_based(spark):
    """The broadcast-graph PPR must agree with the join-based variant
    (and thus the numpy oracle) on random graphs, including dangling
    and isolated indicator seeds."""
    rng = random.Random(9)
    n = 20
    edge_list = []
    seen = set()
    for _ in range(50):
        s, d = rng.randrange(n), rng.randrange(n)
        if s != d and (s, d) not in seen:
            seen.add((s, d))
            edge_list.append((s, d, float(rng.randint(1, 5))))
    edge_list = [(s, d, w) for s, d, w in edge_list if s != 19]  # dangling 19
    edges = spark.createDataFrame(
        [Row(src=s, dst=d, weight=w) for s, d, w in edge_list]
    )
    seeds = spark.createDataFrame([Row(seed=i) for i in [0, 3, 19, 77]])  # 77 isolated
    pref = indicator_preference(seeds)
    cfg = ERConfig(ppr_max_iter=3)
    ref = {(r["seed"], r["node"]): r["rank"]
           for r in personalized_pagerank(pref, edges, cfg).collect()}
    got = {(r["seed"], r["node"]): r["rank"]
           for r in personalized_pagerank_broadcast(pref, edges, cfg).collect()}
    # broadcast variant treats a dangling SEED as a fixed point at
    # itself, which equals the strongly-preferential stationary rule
    # for a node with no out-edges
    assert set(got) >= {k for k in ref if abs(ref[k]) > 1e-12}
    for k, v in ref.items():
        if abs(v) > 1e-12:
            assert abs(got[k] - v) < 1e-9, (k, v, got.get(k))


def test_signature_zero_kl_matches_numpy(spark):
    """Relational ZeroKL (R7) vs a direct numpy transcription of
    VectorSimilarity.java:87-104 (eps=1e-6, gamma=10, base-2 log)."""
    from wned_spark.operators.ppr import signature_zero_kl

    eps, gamma = 1e-6, 10.0
    sigs = {
        1: {10: 0.6, 11: 0.3, 12: 0.1},
        2: {10: 0.5, 11: 0.5},
        3: {12: 1.0},
    }

    def np_kl(p, q):
        out = 0.0
        for node, pv in p.items():
            qv = q.get(node, 0.0)
            out += pv * gamma if qv <= eps else pv * np.log2(pv / qv)
        return out

    rows = [Row(seed=s, node=n_, rank=r)
            for s, d in sigs.items() for n_, r in d.items()]
    pair_rows = [Row(seed_a=1, seed_b=2), Row(seed_a=1, seed_b=3), Row(seed_a=2, seed_b=3)]
    got = {
        (r["seed_a"], r["seed_b"]): r["sig_kl"]
        for r in signature_zero_kl(
            spark.createDataFrame(pair_rows), spark.createDataFrame(rows),
            eps=eps, gamma=gamma,
        ).collect()
    }
    for a, b in [(1, 2), (1, 3), (2, 3)]:
        expected = 1.0 / (1.0 + (np_kl(sigs[a], sigs[b]) + np_kl(sigs[b], sigs[a])) / 2.0)
        assert abs(got[(a, b)] - expected) < 1e-12, (a, b)


def test_signature_zero_kl_identical_is_one(spark):
    from wned_spark.operators.ppr import signature_zero_kl

    rows = [Row(seed=s, node=n_, rank=r)
            for s in (1, 2) for n_, r in [(10, 0.7), (11, 0.3)]]
    out = signature_zero_kl(
        spark.createDataFrame([Row(seed_a=1, seed_b=2)]),
        spark.createDataFrame(rows),
    ).first()
    assert abs(out["sig_kl"] - 1.0) < 1e-12


def _sig_vectors(sigs):
    """Long signatures (seed, node, rank) → the (sid, sig) vector table."""
    from wned_spark.functions.similarity import sparse_vectors

    return sparse_vectors(sigs.withColumnRenamed("seed", "sid"), "sid", "node", "rank", "sig")


def test_signature_features_matches_single_kernels(spark):
    """The row-wise kernel over signature vectors (sig_cosine + sig_kl
    together) must equal composing the long-form signature_cosine and
    signature_zero_kl on random signatures — including pairs missing
    one or both signatures, the cases where the single kernels'
    fill/drop semantics differ most."""
    from wned_spark.operators.ppr import (
        signature_cosine,
        signature_features,
        signature_zero_kl,
    )

    rng = random.Random(17)
    n_seeds, n_nodes = 12, 15
    rows = []
    for s in range(n_seeds - 2):  # seeds 10, 11 have NO signature
        nodes = rng.sample(range(n_nodes), rng.randint(1, 6))
        ws = [rng.random() for _ in nodes]
        tot = sum(ws)
        rows += [Row(seed=s, node=n_, rank=w / tot) for n_, w in zip(nodes, ws)]
    pair_rows = [
        Row(seed_a=a, seed_b=b)
        for a in range(n_seeds)
        for b in range(n_seeds)
        if a < b and rng.random() < 0.5
    ]
    # force the degenerate corners into the sample
    pair_rows += [Row(seed_a=0, seed_b=10), Row(seed_a=10, seed_b=1),
                  Row(seed_a=10, seed_b=11)]
    sigs = spark.createDataFrame(rows)
    pairs = spark.createDataFrame(pair_rows).distinct()

    # the kernel adds its columns to the rows it is given: other columns
    # ride along, and a duplicated row is scored twice, identically
    gated = pairs.select(
        F.col("seed_a").alias("left_sid"), F.col("seed_b").alias("right_sid"),
        F.lit("x").alias("tag"),
    )
    gated = gated.union(gated.filter((F.col("left_sid") == 0) & (F.col("right_sid") == 10)))
    out = signature_features(gated, _sig_vectors(sigs)).collect()
    assert len(out) == gated.count() and {r["tag"] for r in out} == {"x"}
    fused = {}
    for r in out:
        key, val = (r["left_sid"], r["right_sid"]), (r["sig_cosine"], r["sig_kl"])
        assert fused.setdefault(key, val) == val, key
    cos = {
        (r["seed_a"], r["seed_b"]): r["sig_cosine"]
        for r in signature_cosine(pairs, sigs).collect()
    }
    kl = {
        (r["seed_a"], r["seed_b"]): r["sig_kl"]
        for r in signature_zero_kl(pairs, sigs).collect()
    }
    assert set(fused) == {(r["seed_a"], r["seed_b"]) for r in pair_rows}
    for key, (c_f, k_f) in fused.items():
        # cosine: the standalone kernel DROPS pairs with a missing-side
        # norm; the pipeline refills them with 0.0 — fused emits the 0
        assert abs(c_f - cos.get(key, 0.0)) < 1e-9, key
        assert abs(k_f - kl[key]) < 1e-9, key
    # both signatures missing: cosine 0, each directed KL gamma
    assert fused[(10, 11)] == (0.0, 1.0 / 11.0)


def test_surface_context_weights_and_cosine(spark):
    """ctx feature source: two surfaces sharing context terms score
    higher than two that don't; weights match the Lucene tf-idf form."""
    from wned_spark.functions.similarity import sparse_vectors
    from wned_spark.operators.tfidf import pairwise_cosine, surface_context_weights

    transcripts = spark.createDataFrame(
        [
            ("c1", 0, "alpha beta invoice shipment"),
            ("c1", 1, "alpha beta contract renewal"),
            ("c2", 0, "gamma delta warehouse pallet"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    mentions = spark.createDataFrame(
        [
            ("c1", 0, "s one"),
            ("c1", 1, "s two"),
            ("c2", 0, "s three"),
        ],
        "conv_id string, turn_idx int, surface_norm string",
    )
    weights = surface_context_weights(mentions, transcripts, window_turns=1)
    long = {}
    for r in weights.collect():
        long.setdefault(r["sid"], {})[r["term"]] = r["tfidf"]
    sid = {r["sn"]: r["sid"] for r in mentions.select(
        F.col("surface_norm").alias("sn"),
        F.xxhash64("surface_norm").alias("sid")).distinct().collect()}
    no_ctx = 12345  # a surface with no context vector
    pairs = spark.createDataFrame(
        [Row(left_sid=sid["s one"], right_sid=sid["s two"]),
         Row(left_sid=sid["s one"], right_sid=sid["s three"]),
         Row(left_sid=no_ctx, right_sid=sid["s two"])],
    )
    vectors = sparse_vectors(weights, "sid", "term", "tfidf", "ctx")
    got = {(r["left_sid"], r["right_sid"]): r["ctx_cosine"]
           for r in pairwise_cosine(pairs, vectors).collect()}
    for (a, b), c in got.items():
        va, vb = long.get(a, {}), long.get(b, {})
        dot = sum(x * vb.get(t, 0.0) for t, x in va.items())
        na = sum(x * x for x in va.values()) ** 0.5
        nb = sum(x * x for x in vb.values()) ** 0.5
        assert abs(c - (dot / (na * nb) if na and nb else 0.0)) < 1e-9, (a, b)
    assert got[(no_ctx, sid["s two"])] == 0.0
    same_conv = got[(sid["s one"], sid["s two"])]
    diff_conv = got[(sid["s one"], sid["s three"])]
    assert same_conv > 0.5
    assert diff_conv == 0.0


def test_expand_subgraph_with_keep_connected_fallback(spark):
    """G1 pinned semantics (SubGraphGenerator.java:105-188): neighbors
    pass a degree floor; a seed none of whose neighbors passed keeps ALL
    its neighbors (lines 160-175); induced edges need both ends member
    and a seed on at least one end (lines 176-188).

    Hand oracle: undirected graph 1-2, 1-3, 2-4, 2-3, 10-11 (degrees
    1:2, 2:3, 3:2, 4:1, 10:1, 11:1), seeds {1, 10}, floor 2.
    Seed 1's neighbors {2, 3} both pass; seed 10's neighbor 11 fails
    the floor -> keep-connected rescue adds it anyway. Induced edges:
    1-2, 1-3, 10-11 (2-3 has no seed end; 2-4 leaves the member set).
    """
    from wned_spark.operators.graph import expand_subgraph

    und = [(1, 2), (1, 3), (2, 4), (2, 3), (10, 11)]
    edges = spark.createDataFrame(
        [(a, b, 1.0) for a, b in und] + [(b, a, 1.0) for a, b in und],
        "src long, dst long, weight double",
    )
    seeds = spark.createDataFrame([(1,), (10,)], "nid long")
    got = sorted(
        (r["src"], r["dst"])
        for r in expand_subgraph(seeds, edges, levels=1, degree_floor=2).collect()
    )
    expected = sorted(
        [(1, 2), (2, 1), (1, 3), (3, 1), (10, 11), (11, 10)]
    )
    assert got == expected


def test_pref_ppr_broadcast_matches_join_based(spark):
    """The CSR kernel ≡ the join kernel ≡ the numpy oracle on the one
    input shape (seed, node, w): indicator seeds, a dangling seed, a
    seed absent from the graph, a duplicated (seed, node) row and a
    preference node absent from the graph (pure-dangling holder). Two
    rows per Arrow batch, so a seed's rows straddle batches inside the
    CSR kernel's partition."""
    rng = random.Random(11)
    n = 12
    und = set()
    while len(und) < 25:
        a, b = rng.randrange(n - 1), rng.randrange(n - 1)
        if a != b:
            und.add((min(a, b), max(a, b)))
    rows = [(a, b, float(1 + rng.randrange(3))) for a, b in und]
    rows += [(b, a, w) for a, b, w in rows] + [(0, n - 1, 2.0)]  # n-1 dangling
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    pref_rows = [
        (0, 0, 1.0), (3, 3, 1.0),  # indicator seeds
        (n - 1, n - 1, 1.0),  # dangling seed
        (30, 30, 1.0),  # seed absent from the graph
        (100, 0, 1.0), (100, 3, 1.0), (100, 7, 2.0), (100, 3, 0.5),  # dup (100, 3)
        (200, 5, 1.0), (200, 25, 1.0),  # 25 absent from the graph
    ]
    pref = spark.createDataFrame(pref_rows, "seed long, node long, w double")
    prefs = {}
    for seed, node, w in pref_rows:
        prefs.setdefault(seed, {})
        prefs[seed][node] = prefs[seed].get(node, 0.0) + w
    oracle = _numpy_ppr(rows, prefs, 32)
    cfg = ERConfig()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        a = {
            (r["seed"], r["node"]): r["rank"]
            for r in personalized_pagerank(pref, edges, cfg).collect()
        }
        b_rows = personalized_pagerank_broadcast(pref, edges, cfg).collect()
    finally:
        spark.conf.set(key, prev)
    b = {(r["seed"], r["node"]): r["rank"] for r in b_rows}
    assert len(b) == len(b_rows)  # one row per (seed, node)
    assert set(a) == set(b)
    assert {s for s, _n in a} == set(prefs)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-9, k
        assert abs(a[k] - oracle[k[0]][k[1]]) < 1e-9, k
    for seed in prefs:
        assert abs(sum(v for (s, _n), v in a.items() if s == seed) - 1.0) < 1e-9
    # a seed whose walk cannot leave it is the fixed point {seed: 1.0}
    assert b[(n - 1, n - 1)] == b[(30, 30)] == 1.0


def test_connected_components_auto_matches_distributed(spark):
    from wned_spark.operators.cc import connected_components, connected_components_auto

    rng = random.Random(13)
    edges = []
    for _ in range(60):
        a, b = rng.randrange(40), rng.randrange(40)
        if a != b:
            edges.append((a, b))
    df = spark.createDataFrame(edges, "u long, v long")
    d1 = {r["node"]: r["component"] for r in connected_components(df).collect()}
    d2 = {r["node"]: r["component"] for r in connected_components_auto(df).collect()}
    assert d1 == d2


def test_connected_components_auto_gate_boundary(spark, monkeypatch):
    """The bounded collect that gates the driver path: with
    ``local_threshold`` at n-1 (distributed), n and n+1 (driver) for n
    deduplicated edges the components are identical, an empty edge set
    gives no rows, and the persisted edge set is released after each
    call."""
    from pyspark import StorageLevel

    from wned_spark.operators import cc

    rng = random.Random(7)
    edges = sorted({(rng.randrange(30), rng.randrange(30)) for _ in range(40)})
    n = sum(1 for a, b in edges if a != b)
    df = spark.createDataFrame(edges + edges[:3], "u long, v long")
    distributed = []
    real = cc.connected_components
    monkeypatch.setattr(
        cc, "connected_components", lambda e, it: distributed.append(1) or real(e, it)
    )

    def released(d):
        e = d.select("u", "v").filter(F.col("u") != F.col("v")).distinct()
        return e.storageLevel == StorageLevel.NONE

    comps = []
    for threshold, on_driver in ((n - 1, False), (n, True), (n + 1, True)):
        distributed.clear()
        out = cc.connected_components_auto(df, local_threshold=threshold)
        comps.append({r["node"]: r["component"] for r in out.collect()})
        assert bool(distributed) != on_driver, threshold
        assert released(df)
    assert comps[0] == comps[1] == comps[2]
    for empty in ([], [(3, 3)]):
        e = spark.createDataFrame(empty, "u long, v long")
        out = cc.connected_components_auto(e, local_threshold=0)
        assert out.count() == 0 and out.columns == ["node", "component"]
        assert released(e)


def test_ppr_auto_matches_join_on_g3_graph(spark):
    """The g3 registry row routes through ``personalized_pagerank_auto``.
    Pin its broadcast-CSR branch (default gate) against its join branch
    (``ppr_broadcast_max_edges=0``) on the EXACT registry graph (the
    nation co-membership clique — identical at every SF) with the row's
    own config and rounding (9 dp), as full row-set equality."""
    import dataclasses

    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    a, b = n.alias("a"), n.alias("b")
    edges = a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") != F.col("b.n_nationkey")),
    ).select(
        F.col("a.n_nationkey").cast("long").alias("src"),
        F.col("b.n_nationkey").cast("long").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    seeds = (
        n.groupBy("n_regionkey")
        .agg(F.min("n_nationkey").cast("long").alias("seed"))
        .select("seed")
    )
    pref = indicator_preference(seeds)
    cfg = ERConfig(ppr_max_iter=3, ppr_max_degree=None)

    def rows(df):
        return {
            (r["seed"], r["node"]): round(r["rank"], 9) for r in df.collect()
        }

    got = rows(personalized_pagerank_auto(pref, edges, cfg))
    ref = rows(personalized_pagerank_auto(
        pref, edges, dataclasses.replace(cfg, ppr_broadcast_max_edges=0)
    ))
    assert len(got) == 25
    assert got == ref


def test_ppr_auto_leaves_caller_edges_cached(spark):
    """``edges`` belongs to the caller: a cache the caller made must
    survive the call on either branch of the size gate, through the
    evaluation of the lazily returned signatures."""
    import dataclasses

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 1.0), (3, 2, 1.0)],
        "src long, dst long, weight double",
    ).persist()
    pref = indicator_preference(spark.createDataFrame([(1,), (3,)], "seed long"))
    try:
        edges.count()
        for gate in (10, 0):  # broadcast branch, then join branch
            cfg = dataclasses.replace(ERConfig(), ppr_broadcast_max_edges=gate)
            sigs = personalized_pagerank_auto(pref, edges, cfg)
            assert edges.is_cached, gate
            assert sigs.count() == 6, gate
            assert edges.is_cached, gate
    finally:
        edges.unpersist()


def _pair_features(spark, weights, sigs, pairs) -> dict:
    """name_soft, ctx_cosine, sig_cosine and sig_kl per pair, from pair
    rows (left_sid, right_sid, left_norm, right_norm), long-form context
    weights (sid, term, tfidf) and signatures (seed, node, rank)."""
    from wned_spark.functions.similarity import sparse_vectors
    from wned_spark.operators.ppr import signature_features
    from wned_spark.operators.scoring import soft_tfidf_feature
    from wned_spark.operators.tfidf import pairwise_cosine

    ctx = sparse_vectors(weights, "sid", "term", "tfidf", "ctx")
    rows = soft_tfidf_feature(pairs)
    out = pairwise_cosine(signature_features(rows, _sig_vectors(sigs)), ctx)
    return {
        (r["left_sid"], r["right_sid"]):
            (r["name_soft"], r["ctx_cosine"], r["sig_cosine"], r["sig_kl"])
        for r in out.collect()
    }


def test_pair_features_bit_equal_across_plans(spark):
    """name_soft, ctx_cosine, sig_cosine and sig_kl are the same bits
    under two physical plans of the same input: broadcast joins against
    shuffle joins (autoBroadcastJoinThreshold=-1), one input partition
    in key order against several in shuffled order. Every sum runs in
    vector key order or token order, so no float sum depends on the
    order rows arrive in."""
    rng = random.Random(29)
    n_docs, n_terms = 24, 300
    weights, sigs = [], []
    for d in range(n_docs):
        # magnitudes spread over six decades, so reordering a sum
        # changes its last bits
        for t in rng.sample(range(n_terms), rng.randint(20, 120)):
            weights.append((d, f"t{t}", 10 ** rng.uniform(-3, 3)))
        for n_ in rng.sample(range(n_terms), rng.randint(20, 120)):
            sigs.append((d, n_, 10 ** rng.uniform(-6, 0)))
    # surface names over a small vocabulary with near-miss spellings and
    # initials, so tokens recur (idf varies) and JW crosses theta
    vocab = ["gardenbar", "gardenbra", "vergarbar", "acme", "acmee", "widgets",
             "systems", "quinn", "zhu", "g.", "v", "q."]
    names = {d: " ".join(rng.choices(vocab, k=rng.randint(1, 4))) for d in range(n_docs + 2)}
    pairs = [(a, b, names[a], names[b])
             for a in range(n_docs + 2) for b in range(n_docs + 2) if a != b]

    def frames(rows_w, rows_s, rows_p, parts):
        return (
            spark.createDataFrame(rows_w, "sid long, term string, tfidf double").repartition(parts),
            spark.createDataFrame(rows_s, "seed long, node long, rank double").repartition(parts),
            spark.createDataFrame(
                rows_p, "left_sid long, right_sid long, left_norm string, right_norm string"
            ).repartition(parts),
        )

    base = _pair_features(spark, *frames(sorted(weights), sorted(sigs), pairs, 1))
    shuffled = [list(x) for x in (weights, sigs, pairs)]
    for x in shuffled:
        rng.shuffle(x)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        other = _pair_features(spark, *frames(*shuffled, 5))
    finally:
        spark.conf.set(key, prev)
    assert len(base) == len(pairs)
    assert any(0.0 < v[0] < 1.0 for v in base.values())  # partial alignments
    assert base == other
