"""Graph construction + doc-local subgraph expansion (A1, A10, G1, J9/R13).

The reference materializes Wikipedia link/co-occurrence graphs as TSV
edge lists dedup-counted by an external disk merge-sort
(``sort.py`` + ``aggregate.py``) and compressed to WebGraph form
(``graph/DirectedGraph.java:47-112``). Here the whole path is:

    mention pairs within a conversation window → groupBy(src,dst).count()

one shuffle, columnar parquet storage, no compression machinery (A1/K4).
Nodes are normalized surface forms hashed to stable 64-bit ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wned_spark.config import ERConfig


def node_id(col) -> F.Column:
    """Stable 64-bit node id for a surface string (replaces the
    reference's sequential name→id relabel, SubGraphGenerator.java:50-103;
    a hash id needs no global counter → no driver bottleneck)."""
    return F.xxhash64(col)


def build_cooccurrence_edges(
    mentions: DataFrame, cfg: ERConfig = ERConfig()
) -> DataFrame:
    """Undirected weighted co-occurrence graph over normalized surfaces.

    Two mentions co-occur when they share a conversation and are within
    ``cooccur_window_turns`` turns — the transcript analog of the
    reference's <=1000-chars-apart rule (WikiGraphExtractor.java:70-77).
    Self-links dropped (aggregate.py:26-36, F8). Weight = pair count
    (A1). Emits BOTH orientations so downstream adjacency joins are a
    single equi-join on src (D1 convention: max/count per unordered
    pair, then mirror).

    SCALE DESIGN — the join key is (conv_id, turn-bucket), not conv_id
    alone: bucketing turns at the window width and exploding one side
    into bucket±1 makes the window predicate prune INSIDE the join, so
    a pathological long conversation (10k mentions) enumerates
    O(n·window) candidate pairs instead of O(n²) pre-filter. Every
    in-window pair lands in exactly one (bucket_b ∈ {bucket_a-1,
    bucket_a, bucket_a+1}) match, so no dedup is needed; the |Δt| ≤ w
    filter still applies exactly as before.
    """
    key_col = "canon_norm" if "canon_norm" in mentions.columns else "surface_norm"
    m = mentions.select(
        "conv_id",
        F.col("turn_idx").alias("t"),
        node_id(F.col(key_col)).alias("nid"),
        F.col(key_col).alias("name"),
    )
    w = cfg.cooccur_window_turns
    bw = max(w, 1)  # bucket width ≥ 1 so w=0 (same-turn-only) still buckets
    bkt = F.floor(F.col("t") / F.lit(bw))
    a = m.withColumn(
        "bkt", F.explode(F.array(bkt - 1, bkt, bkt + 1))
    ).alias("a")
    b = m.withColumn("bkt", bkt).alias("b")
    pairs = (
        a.join(b, ["conv_id", "bkt"])
        .filter(
            (F.col("a.nid") < F.col("b.nid"))  # WikiGraphExtractor.java:71-72 guard
            & (F.abs(F.col("a.t") - F.col("b.t")) <= w)
        )
        .select(F.col("a.nid").alias("src"), F.col("b.nid").alias("dst"))
    )
    und = pairs.groupBy("src", "dst").agg(F.count("*").alias("weight"))
    return und.union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )


def degrees(edges: DataFrame) -> DataFrame:
    """A10: out-degree per node, materialized once
    (DirectedGraph.java:147-170)."""
    return edges.groupBy("src").agg(
        F.count("*").alias("degree"), F.sum("weight").alias("weight_sum")
    )


def expand_subgraph(
    seeds: DataFrame,
    edges: DataFrame,
    levels: int = 1,
    degree_floor: int = 0,
) -> DataFrame:
    """G1: doc-local subgraph expansion (SubGraphGenerator.java:105-188).

    From a seed node set, ``levels`` times add neighbors whose degree
    passes the floor (200 directed / 600 undirected on Wikipedia scale,
    SubGraphGenerator.java:30-31); a seed that gained no neighbor keeps
    ALL its neighbors (the keep-connected fallback, lines 160-175).
    Returns the induced edge set: edges whose BOTH ends are members and
    at least one end is a seed (lines 176-188 semantics).

    seeds: (nid); edges: (src, dst, weight) both orientations.

    SCALE NOTE: the plan references ``edges`` ~8× per level (degrees,
    frontier/gained/rescue joins, the induced-edge filter), so callers
    expanding over a large graph should ``persist()`` it first —
    otherwise each reference re-scans the source (harmless on a pruned
    columnar scan at test scale, a real cost at 100 TB).
    """
    deg = degrees(edges)
    members = seeds.select("nid").distinct()
    frontier = members
    for _ in range(levels):
        nbrs = (
            frontier.join(edges, frontier["nid"] == edges["src"])
            .join(deg.withColumnRenamed("src", "dnid"), F.col("dst") == F.col("dnid"))
            .filter(F.col("degree") >= degree_floor)
            .select(F.col("dst").alias("nid"))
            .distinct()
        )
        # keep-connected fallback: seeds none of whose neighbors passed
        # the floor get all their neighbors anyway
        gained = (
            frontier.join(edges, frontier["nid"] == edges["src"])
            .join(nbrs.withColumnRenamed("nid", "gn"), F.col("dst") == F.col("gn"), "left_semi")
            .select("nid")
            .distinct()
        )
        lonely = frontier.join(gained, "nid", "left_anti")
        rescue = (
            lonely.join(edges, lonely["nid"] == edges["src"])
            .select(F.col("dst").alias("nid"))
            .distinct()
        )
        frontier = nbrs.union(rescue).distinct()
        members = members.union(frontier).distinct()

    mem = members.withColumnRenamed("nid", "mnid")
    seed_set = seeds.select("nid").distinct().withColumnRenamed("nid", "snid")
    return (
        edges.join(mem, edges["src"] == F.col("mnid"), "left_semi")
        .join(mem, edges["dst"] == F.col("mnid"), "left_semi")
        .join(
            seed_set,
            (edges["src"] == F.col("snid")) | (edges["dst"] == F.col("snid")),
            "left_semi",
        )
    )


def milne_witten_relatedness(edges: DataFrame, pairs: DataFrame) -> DataFrame:
    """J9 + R13: common-neighbor Milne-Witten relatedness for node pairs.

    pairs: (src_a, src_b). Common neighbors via links⋈links on the
    neighbor id (RelatednessMeasureWebGraph.java:116-141 set-intersect
    as a join+count), degrees from A10, N = |vertices|.
    """
    from wned_spark.functions.similarity import milne_witten

    # N as a one-row broadcast aggregate, not a driver count (guide §5):
    # the count forced an extra full job at plan-build time
    n_df = edges.select("src").distinct().agg(
        F.count("*").alias("n_nodes")
    )
    links = edges.select("src", "dst")
    common = (
        pairs.join(links.alias("la"), F.col("src_a") == F.col("la.src"))
        .join(
            links.alias("lb"),
            (F.col("src_b") == F.col("lb.src")) & (F.col("la.dst") == F.col("lb.dst")),
        )
        .groupBy("src_a", "src_b")
        .agg(F.countDistinct("la.dst").alias("common"))
    )
    deg = degrees(edges).select("src", "degree")
    return (
        pairs.join(common, ["src_a", "src_b"], "left")
        .na.fill({"common": 0})
        .join(deg.withColumnRenamed("src", "src_a").withColumnRenamed("degree", "deg_a"), "src_a")
        .join(deg.withColumnRenamed("src", "src_b").withColumnRenamed("degree", "deg_b"), "src_b")
        .crossJoin(F.broadcast(n_df))
        .select(
            "src_a",
            "src_b",
            milne_witten(
                F.col("common"), F.col("deg_a"), F.col("deg_b"), F.col("n_nodes")
            ).alias("relatedness"),
        )
    )
