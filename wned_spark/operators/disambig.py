"""Mention-level second pass for AMBIGUOUS surfaces (G6 + W5-style
argmax): the acronym case where one surface form names different
entities in different conversations, which surface-level clustering
cannot split by construction.

Mirrors the reference's document-signature disambiguation:
- a CONVERSATION SIGNATURE is a PPR walk from a preference vector
  uniform over the conversation's confident (non-ambiguous) surfaces
  (``ELUtils.java:59-94``);
- each candidate entity is represented by its best non-ambiguous
  surface present in the corpus (max prior — the alias-dict analog of
  the entity's canonical page) with its own indicator-seed signature;
- each ambiguous mention is assigned to the candidate entity whose
  representative signature is most similar to its conversation's
  signature (cosine argmax — ``SemanticSignatureEL.java:786-848``'s
  per-mention decision recast), and inherits that representative
  surface's first-pass cluster.

SCALE: everything here is sized by the AMBIGUOUS slice, not the
corpus — ambiguous surfaces are the alias-dictionary rows with >1
candidate entity (a tiny dictionary subset); only conversations
containing them get signatures; the second PPR batch has one seed per
such conversation plus one per candidate representative. At 10^12
turns this remains a small side-pipeline joined back by mention_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wned_spark.config import ERConfig
from wned_spark.operators import ppr


def entity_rep_surfaces(cands: DataFrame) -> DataFrame:
    """Every candidate row (sid, entity_id, source, prior) of
    candidates.select_candidates with two columns: ``ambiguous``, true
    when the row's surface has >1 candidate entity, and ``rep_sid``, the
    entity's highest-prior NON-ambiguous surface present in the corpus
    (deterministic tiebreak on sid), null when every surface of the
    entity is ambiguous. Two windows and no join: the flag is min != max
    over the surface's rows, and non-ambiguous rows sort first in the
    entity's window, so its first non-null sid is the representative."""
    by_sid = Window.partitionBy("sid")
    by_ent = Window.partitionBy("entity_id").orderBy("ambiguous", F.desc("prior"), F.asc("sid"))
    return cands.withColumn(
        "ambiguous", F.min("entity_id").over(by_sid) != F.max("entity_id").over(by_sid)
    ).withColumn(
        "rep_sid", F.first(F.when(~F.col("ambiguous"), F.col("sid")), ignorenulls=True).over(by_ent)
    )


def ambiguous_surfaces(reps: DataFrame) -> DataFrame:
    """Surfaces whose candidate set spans >1 entity: (sid), from the
    rows of ``entity_rep_surfaces``."""
    return reps.filter(F.col("ambiguous")).select("sid").distinct()


def second_pass_overrides(
    mentions: DataFrame,
    cands: DataFrame,
    edges: DataFrame,
    surface_clusters: DataFrame,
    cfg: ERConfig = ERConfig(),
    n_edges: int | None = None,
    reps: DataFrame | None = None,
) -> DataFrame:
    """(mention_id, cluster_id) overrides for mentions of ambiguous
    surfaces. Mentions with no resolvable signal (no confident
    co-mentions in the conversation, or no representative signature
    overlap) are left out — callers coalesce with the first-pass
    assignment. ``n_edges`` and ``reps`` (``entity_rep_surfaces`` of
    ``cands``) let the caller reuse what it already computed; each is
    computed here when absent."""
    key_col = "canon_norm" if "canon_norm" in mentions.columns else "surface_norm"
    m = mentions.select(
        "mention_id",
        "conv_id",
        F.xxhash64(F.col(key_col)).alias("sid"),
    )
    if reps is None:
        reps = entity_rep_surfaces(cands)
    if reps.filter(F.col("ambiguous")).isEmpty():
        # no surface has >1 candidate entity: decide from the
        # DICTIONARY alone, before any corpus-sized work — the
        # amb_mentions probe below would join the full mentions table
        # just to learn the same thing. On unambiguous corpora this
        # makes the whole second pass dictionary-sized.
        return mentions.sparkSession.createDataFrame(
            [], "mention_id long, cluster_id long"
        )

    amb = ambiguous_surfaces(reps)
    amb_mentions = m.join(amb, "sid", "left_semi").persist()
    try:
        if amb_mentions.isEmpty():
            # ambiguous dictionary rows exist but none occur in the
            # corpus: skip the side-pipeline (otherwise the CSR
            # broadcast of the full edge set is built for nothing)
            return amb_mentions.sparkSession.createDataFrame(
                [], "mention_id long, cluster_id long"
            )
        out = _second_pass_body(
            m, amb, amb_mentions, reps, edges, surface_clusters, cfg,
            n_edges=n_edges,
        )
        # materialize the (tiny — one row per re-pointed mention)
        # override table before the finally releases the caches it
        # reads, so they never outlive the call and repeated pipeline
        # runs in one session don't accumulate executor cache
        out = out.localCheckpoint(eager=False)
        out.count()
        return out
    finally:
        amb_mentions.unpersist()


def _second_pass_best_local(spark, edges, pref_tbl, trial_tbl, cfg):
    """Driver-numpy computation of the per-(conversation, surface)
    best representative — semantics identical to the distributed path:
    conversation and representative signatures from the same per-seed
    walks the CSR kernel runs on executors (``ppr._ppr_walks``), cosine
    over shared nodes, argmax gated on cosine > 0 with (desc cosine,
    asc entity_id) tiebreak."""
    import numpy as np

    csr = ppr._csr_collect(edges, cfg.ppr_max_degree)
    t_conv = trial_tbl.column("conv_id").to_pylist()
    t_seed = trial_tbl.column("seed_a").to_numpy().astype(np.int64, copy=False)
    t_sid = trial_tbl.column("sid").to_numpy().astype(np.int64, copy=False)
    t_ent = trial_tbl.column("entity_id").to_numpy().astype(np.int64, copy=False)
    t_rep = trial_tbl.column("rep_sid").to_numpy().astype(np.int64, copy=False)

    # conversation preference rows + one indicator row per representative
    reps = np.unique(t_rep)
    seed = np.concatenate([pref_tbl.column("seed").to_numpy(), reps]).astype(np.int64)
    node = np.concatenate([pref_tbl.column("node").to_numpy(), reps]).astype(np.int64)
    w = np.concatenate([pref_tbl.column("w").to_numpy(), np.ones(len(reps))])
    sigs: dict = {}
    for s, nodes, ranks in ppr._ppr_walks(
        csr, seed, node, w, cfg.ppr_alpha, cfg.ppr_max_iter
    ):
        order = np.argsort(nodes)
        sigs[s] = (nodes[order], ranks[order])

    def _cos(a, b):
        ia, va = sigs.get(a, (np.empty(0, np.int64), np.empty(0)))
        ib, vb = sigs.get(b, (np.empty(0, np.int64), np.empty(0)))
        if not len(ia) or not len(ib):
            return 0.0
        _common, ca, cb = np.intersect1d(ia, ib, assume_unique=True, return_indices=True)
        if not len(ca):
            return 0.0
        na = float(np.sqrt((va * va).sum()))
        nb = float(np.sqrt((vb * vb).sum()))
        if na == 0.0 or nb == 0.0:
            return 0.0
        return float((va[ca] * vb[cb]).sum()) / (na * nb)

    # argmax per (conv_id, sid): cosine > 0, desc cosine / asc entity_id
    best: dict = {}
    for i in range(len(t_conv)):
        c = _cos(int(t_seed[i]), int(t_rep[i]))
        if c <= 0.0:
            continue
        key = (t_conv[i], int(t_sid[i]))
        cur = best.get(key)
        cand = (-c, int(t_ent[i]), int(t_rep[i]))
        if cur is None or cand < cur:
            best[key] = cand
    rows = [(k[0], k[1], v[2]) for k, v in best.items()]
    return spark.createDataFrame(rows, "conv_id string, sid long, rep_sid long")


def _second_pass_body(
    m, amb, amb_mentions, reps, edges, surface_clusters, cfg, n_edges=None
):
    # conversations that need a signature
    convs = amb_mentions.select("conv_id").distinct()
    # confident co-mentions: non-ambiguous surfaces in those conversations
    confident = (
        m.join(convs, "conv_id", "left_semi")
        .join(amb, "sid", "left_anti")
        .select("conv_id", "sid")
        .distinct()
    )
    preference = confident.select(
        F.xxhash64("conv_id").alias("seed"), F.col("sid").alias("node"), F.lit(1.0).alias("w")
    )

    # candidate (conversation, entity-rep) pairs per ambiguous mention
    # (a candidate repeats once per source of its alias; distinct folds them)
    trial = (
        amb_mentions.join(
            reps.filter(F.col("ambiguous") & F.col("rep_sid").isNotNull()).select(
                "sid", "entity_id", "rep_sid"
            ),
            "sid",
        )
        .select("conv_id", "sid", "entity_id", "rep_sid")
        .distinct()
        .withColumn("seed_a", F.xxhash64("conv_id"))
    )
    if n_edges is None:
        n_edges = edges.count()

    # DRIVER FAST PATH: the ambiguous slice is usually dictionary-sized
    # (tens of conversations × a handful of surfaces), yet the
    # distributed plan is a chain of small stages (the PPR batch, a
    # three-way cosine join, two windows) — ~15 s of pure stage
    # orchestration for a 17-row override table at 720k turns. When the
    # graph fits the broadcast cap AND the preference/trial tables are
    # small, compute `best` entirely in numpy with the SAME kernels the
    # executors run (_csr_collect + _ppr_walks) — parity-pinned against
    # the distributed path.
    cap = cfg.second_pass_local_max_rows
    # the size gate must run BEFORE any collect: limit(cap+1).count()
    # is one cheap bounded job, so a multi-million-row preference/
    # trial table is never shipped to the driver just to be rejected
    if (
        cap > 0
        and n_edges <= cfg.ppr_broadcast_max_edges
        and preference.limit(cap + 1).count() <= cap
        and trial.limit(cap + 1).count() <= cap
    ):
        best = _second_pass_best_local(
            amb_mentions.sparkSession, edges, preference.toArrow(), trial.toArrow(), cfg
        )
    else:
        # ONE batched PPR over the conversation preference vectors and
        # the representative indicator seeds: one transition-matrix
        # build (one CSR collect below the size gate) serves both
        rep_seeds = trial.select(F.col("rep_sid").alias("seed")).distinct()
        sigs = ppr.personalized_pagerank_auto(
            preference.union(ppr.indicator_preference(rep_seeds)), edges, cfg,
            n_edges=n_edges,
        )
        cos = ppr.signature_cosine(
            trial.select(F.col("seed_a"), F.col("rep_sid").alias("seed_b")).distinct(),
            sigs,
        )
        scored = trial.join(
            cos,
            (trial["seed_a"] == cos["seed_a"]) & (trial["rep_sid"] == cos["seed_b"]),
        ).select("conv_id", "sid", "entity_id", "rep_sid", "sig_cosine")
        # argmax candidate per (conversation, ambiguous surface); zero
        # similarity everywhere -> no override (no signal)
        w = Window.partitionBy("conv_id", "sid").orderBy(
            F.desc("sig_cosine"), F.asc("entity_id")
        )
        best = (
            scored.filter(F.col("sig_cosine") > 0)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("conv_id", "sid", "rep_sid")
        )
    return (
        amb_mentions.join(best, ["conv_id", "sid"])
        .join(
            surface_clusters.select(F.col("sid").alias("rep_sid"), "cluster_id"),
            "rep_sid",
        )
        .select("mention_id", "cluster_id")
    )
