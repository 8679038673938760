"""End-to-end entity-resolution pipeline (§3 lifecycle, Spark-first).

Stage graph (each stage a committed snapshot, resumable):

  transcripts ─→ mentions ─→ coref ─→ DISTINCT SURFACES
                     │                     │
                     │               block keys → surface pairs
                     │                     │
                     └→ co-occur edges ─→ PPR signatures ──┐
                                           │               │
  alias_dict ─→ surface candidates (priors)│               │
                          │                │               │
                 surface-pair features (string ⊕ sig ⊕ prior)
                          │
               score → gate → match edges ∪ dictionary edges (surface graph)
                          │
               connected components → surface clusters
                          │
               mentions ⋈ surface cluster → mention clusters

THE SCALE DECISION: every quadratic step — blocking self-join, string
scoring, signature similarity, clustering — runs over DISTINCT
NORMALIZED SURFACES (the name dictionary), never over mention
occurrences. A 10^12-turn corpus has ~10^6-10^7 distinct surfaces;
mention assignment back to clusters is one broadcast-able equi-join.
This mirrors the reference, whose candidate selection probes the alias
dictionary by surface form (``CandidateSelectionLucene.java:90-117``) —
occurrences never enter its quadratic machinery either.

(When surface-level identity is insufficient — ambiguous acronyms that
need per-mention context — a second, mention-level disambiguation pass
over ONLY the ambiguous surfaces applies; that set is tiny by
construction. Per-mention context features live in operators/tfidf.py.)

Replaces the reference's per-document in-heap loop
(``SemanticSignatureEL.java:576-723``) with set-at-a-time dataflow; the
iterative confident-decision feedback becomes transitive closure
(G7→G8 recast, per the north rule).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wned_spark.config import ERConfig
from wned_spark.functions.similarity import sparse_vectors
from wned_spark.operators import blocking, candidates as cand_ops, cc, disambig, graph, mentions as mention_ops, ppr, scoring
from wned_spark.plans.catalog import Catalog


@dataclass
class PipelineResult:
    mentions: DataFrame
    pairs: DataFrame        # surface-level scored pair inputs
    scored: DataFrame       # surface pairs + features + score
    surface_clusters: DataFrame
    clusters: DataFrame     # mention-level assignment


def run_er_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    alias_raw: DataFrame | None = None,
    cfg: ERConfig = ERConfig(),
    catalog: Catalog | None = None,
    use_signatures: bool = True,
    ranker=None,
    nil_model=None,
) -> PipelineResult:
    """Run the full ER pipeline. With a ``catalog``, every stage is a
    committed resumable snapshot; without, stages persist in memory.

    ``use_signatures=False`` is an ablation (no PPR signature features),
    not a supported configuration: the PPR features carry the precision.
    On perfbench's ``er_small`` corpus, over every gold mention pair
    (``evaluate.contingency_prf``), it scores F1 0.965 (precision 0.932,
    16,558 false-positive pairs; recall 1.0), below the 0.99 gate the
    default configuration passes at 1.0."""

    @contextmanager
    def described(name: str):
        """Tag the jobs this thread submits meanwhile with ``name``."""
        sc = spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.job.description", prev)

    def stage(name: str, fn, keep: str = "hub") -> DataFrame:
        # Every job submitted while a stage is built carries its name
        # (spark.job.description: UI, event log, listeners). Catalog
        # mode commits each stage as a parquet snapshot; in memory,
        # ``keep`` picks how the stage is held:
        # - "hub" (read by several later stages): a LAZY LOCAL
        #   CHECKPOINT, which also truncates the LOGICAL plan to a flat
        #   LogicalRDD. With plain persist() Catalyst re-analyzes the
        #   full upstream tree on every downstream action and AQE
        #   re-plans per shuffle stage (measured: signature cosine over
        #   31 cached rows took 58s deep vs 0.3s flat). Under AQE even
        #   an eager=False localCheckpoint runs its shuffles at
        #   construction, so a hub is also a barrier.
        # - "pinned" (read more than once or by concurrent actions, and
        #   must not be a barrier): persist() only.
        # - "lazy" (ONE consumer: the SoftTFIDF, string, signature and
        #   context features): no cache, which would only be an extra
        #   write. Their plans stay shallow because every input they
        #   read is a hub or a pinned table, and they fold into the
        #   consumer's action: the SoftTFIDF and string features' shuffle
        #   stages run there CONCURRENTLY across cores, and the signature
        #   and context features are columns computed row by row on the
        #   survivor rows after one join per side with a vector table.
        with described(name):
            if catalog is not None:
                return catalog.run_stage(name, fn)
            d = fn()
            if keep == "hub":
                return d.localCheckpoint(eager=False)
            return d.persist() if keep == "pinned" else d

    # ---- CONCURRENT independent hub chains ----
    # cooccur_edges, the ctx-tfidf weight table, and the alias-dict
    # candidate chain all depend only on already-materialized hubs
    # (mentions / surfaces) and raw inputs. Hub stages execute their
    # shuffles at construction (AQE + lazy localCheckpoint), so
    # building them on one driver thread serializes independent jobs —
    # submit each on a worker thread and join the future right before
    # first use. Inputs are materialized hubs at submit time, so no
    # cold-lineage race (concurrent actions over a cold persist each
    # recompute it — measured round 3). Spark job submission is
    # thread-safe; catalog mode stays sequential (snapshot ordering).
    _pool = None
    if catalog is None:
        from concurrent.futures import ThreadPoolExecutor

        _pool = ThreadPoolExecutor(max_workers=3)

    # worker threads must not keep doing WORK past the call on ANY
    # exit: shutdown(cancel_futures=True) drops queued stages, and
    # every worker stage runs under a dedicated job group (thread-local
    # under PySpark's pinned-thread mode) that the finally cancels — a
    # stage already executing when an exception propagates has its
    # in-flight Spark jobs killed rather than left to drain. The
    # worker THREAD itself may briefly outlive the call while its
    # cancelled job raises, but it submits nothing further. On the
    # happy path every future is already resolved, so shutdown is
    # instant and the group is not cancelled (Spark warns when asked to
    # cancel a group with no active jobs).
    _JOB_GROUP = "wned-hub-pool"
    _futures = []
    try:
        def _submit(name: str, fn, keep: str = "hub"):
            """Run a stage on a worker thread (materialized on return);
            sequential fallback in catalog mode. Returns a 0-arg resolver."""
            if _pool is None:
                d = stage(name, fn, keep)
                return lambda: d

            def _build():
                with described(name):
                    spark.sparkContext.setJobGroup(_JOB_GROUP, name, interruptOnCancel=False)
                    d = stage(name, fn, keep)
                    if keep == "pinned":
                        d.count()  # force the persist on THIS thread
                return d

            fut = _pool.submit(_build)
            _futures.append(fut)
            return fut.result

        # ---- mention extraction + doc-local coref + W8 expansion
        # (N1/J6/W8). The intermediate boundaries MUST be persisted:
        # coref self-joins its input (2 references) and abbreviation
        # expansion references the coref output 3× — composing them
        # un-cached re-executes the extraction UDF up to 6× through the
        # self-join branches (measured 134s vs 37s at 2.9M turns). pinning
        # breaks the recomputation without the serialized
        # checkpoint barrier; only the final result is a hub checkpoint
        # (it feeds surfaces / edges / ctx / eval / clusters). ----
        m_ex = stage("mentions_extract", lambda: mention_ops.extract_mentions(transcripts),
                     "pinned")
        m_co = stage("mentions_coref", lambda: mention_ops.resolve_coref(m_ex), "pinned")
        if cfg.use_abbrev_expansion:
            # parenthetical pattern-def mining reads ONLY the raw
            # transcripts (materialized by the caller), so it rides the
            # worker pool and overlaps the coref cache fill below (r07
            # — it previously sat serially on the critical path)
            pattern_defs_res = (
                _submit(
                    "pattern_defs",
                    lambda: mention_ops.mine_parenthetical_definitions(transcripts),
                    "pinned",
                )
                if cfg.use_pattern_defs
                else None
            )
            # Fill the extraction/coref caches with ONE sequential pass
            # before the expansion fans out: expand_abbreviations probes
            # its exact-miss set (an action) whose plan scans m_co three
            # ways (acr / defs / final join). When the persisted lineage is
            # still cold, the DAG scheduler runs those scans as CONCURRENT
            # stages that each recompute the extraction UDF (a persist
            # cache only serves hits AFTER a partition completes) — on an
            # 8-executor cluster this tripled the most expensive UDF stage
            # (measured 143 stage-seconds of probe vs 16 after this count).
            if catalog is None:
                m_co.count()
            # acronyms defined in-conversation resolve to their
            # definition surface before anything downstream sees them;
            # parenthetical pattern rows mined from turn text cover long
            # forms that never appear as standalone mentions (R10,
            # MentionExpansion.java:961-1066)
            pattern_defs = pattern_defs_res() if pattern_defs_res is not None else None
            mentions = stage(
                "mentions",
                lambda: mention_ops.expand_abbreviations(
                    m_co, cfg.abbrev_threshold, pattern_defs=pattern_defs
                ),
            )
        else:
            mentions = stage("mentions", lambda: m_co)

        edges_res = None
        if use_signatures:
            edges_res = _submit(
                "cooccur_edges", lambda: graph.build_cooccurrence_edges(mentions, cfg)
            )

        # the context vectors (sid, ctx: a map term -> tfidf) need only
        # mentions + transcripts — their ~20% of pipeline compute
        # overlaps the whole blocking chain
        ctx_v_res = None
        if cfg.use_ctx_feature:
            from wned_spark.operators import tfidf as tfidf_ops

            ctx_v_res = _submit(
                "ctx_tfidf",
                lambda: sparse_vectors(
                    tfidf_ops.surface_context_weights(
                        mentions, transcripts, window_turns=cfg.ctx_window_turns
                    ),
                    "sid", "term", "tfidf", "ctx",
                ),
                "pinned",
            )

        # ---- distinct surfaces + blocked surface pairs (J2) ----
        surfaces = stage("surfaces", lambda: blocking.surfaces_of(mentions))

        # alias dictionary + per-surface candidates (dictionary-sized)
        # overlap the pair/soft chain; both feed the pre-gate shared_prior
        cands_res = None
        if alias_raw is not None:
            def _cands():
                alias_dict = cand_ops.build_alias_dict(alias_raw).persist()
                return cand_ops.select_candidates(
                    surfaces, alias_dict, cfg, id_col="sid", key_col="sn"
                )

            cands_res = _submit("surface_candidates", _cands, "pinned")

        pairs = stage(
            "surface_pairs", lambda: blocking.candidate_surface_pairs(surfaces, cfg)
        )

        # ---- SoftTFIDF (the gate feature) over ALL blocked pairs ----
        # a lazy branch: its only consumer is the gated_pairs build, so
        # a barrier would only serialize — folded into the gated action
        # its shuffles co-schedule with shared_prior's. name_soft is
        # added as a column on the pair rows themselves (r07): pairs is
        # distinct on (left_sid, right_sid) by construction and
        # sid == xxhash64(norm), so the rows are already the distinct
        # norm pairs — a distinct projection plus a join back was two
        # pure extra exchanges (the pipeline equates surfaces by sid
        # everywhere, so a 64-bit hash collision would already merge
        # those surfaces upstream). Every later pair table is a row-wise
        # extension or a projection of these rows, so stays distinct.
        feats = stage(
            "surface_soft", lambda: scoring.soft_tfidf_feature(pairs, cfg), "lazy"
        )

        # ---- prior feature via alias dictionary at surface level (J1/A2) ----
        # computed BEFORE the cascade gate: in the reference, two surfaces
        # that the alias dictionary maps to the same KB entity link through
        # the DICTIONARY, with no string-similarity precondition at all
        # (AliasLuceneIndex exact lookup → shared winner entity). "Acme
        # Group" vs "Acme International" share only the head token — the
        # soft gate alone would drop them — but the dictionary carries
        # them. The candidate table is dictionary-sized (≤ top_k rows per
        # surface), so this is a broadcast-scale join over blocked pairs,
        # far cheaper than the signature stages the gate protects.
        shared = None
        if alias_raw is not None:
            cands = cands_res()
            cl = cands.select(F.col("sid").alias("left_sid"), "entity_id", F.col("prior").alias("p_l"))
            cr = cands.select(F.col("sid").alias("right_sid"), "entity_id", F.col("prior").alias("p_r"))
            shared = (
                pairs.select("left_sid", "right_sid")
                .join(cl, "left_sid")
                .join(cr, ["right_sid", "entity_id"])
                .groupBy("left_sid", "right_sid")
                .agg(F.max(F.least("p_l", "p_r")).alias("shared_prior"))
            )
            feats = feats.join(shared, ["left_sid", "right_sid"], "left").na.fill(
                {"shared_prior": 0.0}
            )

        # ---- CASCADE GATE ----
        # a pair can produce a match edge only through (a) discriminative
        # token alignment (name_soft >= soft_gate — the reference's
        # JW >= 0.8 fuzzy-candidate gate, CSUtils.java:53-78, strengthened
        # to SoftTFIDF) or (b) decisive dictionary evidence (shared_prior
        # >= prior_gate — the exact-lookup path, where both surfaces alias
        # the same entity with high prior). This is a DELIBERATE recall
        # trade, not a lossless prune: under the LINEAR weights a pair
        # just below both bars could still combine to a passing score,
        # but such pairs are overwhelmingly non-matches — the e2e F1
        # gates (both corpus regimes, tests/test_pipeline_e2e.py) pin
        # that the prune costs nothing measurable, and it runs BEFORE
        # the expensive signature joins AND the remaining string
        # features. At scale this drops ~95% of blocked pairs, and the
        # PPR seed set shrinks to the surfaces that still matter.
        gate_pred = F.col("name_soft") >= cfg.soft_gate
        if shared is not None:
            gate_pred = gate_pred | (F.col("shared_prior") >= cfg.prior_gate)
        gated = stage("gated_pairs", lambda: feats.filter(gate_pred))

        # ---- remaining string features (R2-R4/R15) on gate SURVIVORS ----
        # only name_soft feeds the gate, so the JW UDF (the one Python
        # feature) runs on ~5% of the blocked pairs — measured 59s → ~4s
        # for the hottest stage at 2.7M blocked pairs on 8 cores
        survivors = stage(
            "surface_features", lambda: scoring.string_features(gated, cfg), "lazy"
        )

        # ---- PPR semantic signatures (G1/G3/G5, J7/J8) ----
        # the seeds come from the gated hub; the signature and context
        # features are columns added row-wise to the survivor rows, each
        # from a per-surface vector table joined to both sides
        n_edges = None
        edges = None
        if use_signatures:
            edges = edges_res()
            # the edge count gates THREE strategy choices (signature kernel,
            # second-pass kernel, and the fast-path collect) — one probe job
            # on the materialized hub, reused everywhere
            n_edges = edges.count()

            def _sigs():
                seeds = (
                    gated.select(F.col("left_sid").alias("seed"))
                    .union(gated.select(F.col("right_sid").alias("seed")))
                    .distinct()
                )
                ranks = ppr.personalized_pagerank_auto(
                    ppr.indicator_preference(seeds), edges, cfg, n_edges=n_edges
                )
                return sparse_vectors(
                    ranks.withColumnRenamed("seed", "sid"), "sid", "node", "rank", "sig"
                )

            # one (sid, sig) row per seed: a map node -> rank
            sigs = stage("ppr_signatures", _sigs)
            # R6 cosine + R7 semSim (1/ZeroKL over signatures,
            # SemanticSignatureEL.java:806) carried as TWO features,
            # scored row-wise on the survivor rows from their two
            # signature vectors
            survivors = stage(
                "sig_features",
                lambda: ppr.signature_features(
                    survivors, sigs, eps=cfg.kl_eps, gamma=cfg.kl_gamma
                ),
                "lazy",
            )

        # ---- "local" context feature (WNED's 4-feature family: prior /
        # local / semSim / nameSim — utils/Feature.java:20-38): tf-idf
        # cosine between the surfaces' conversation contexts
        # (TFIDF3x.java:197-228, MentionContext.java:32-91) ----
        if cfg.use_ctx_feature:
            ctx_v = ctx_v_res()
            survivors = stage(
                "ctx_similarity",
                lambda: tfidf_ops.pairwise_cosine(survivors, ctx_v),
                "lazy",
            )

        # (shared_prior already rides on the gated pairs — computed on all
        # blocked pairs before the cascade gate, which it co-determines)

        # ---- combine + gate (R1 / N5) ----
        # with a trained ranker: GBT margin scoring (the north rule's
        # learning-to-rank margin, L2RPredictor.java:31-83 recast);
        # without: LINEAR hand-weight combination (the reference's shipped
        # default, WNEDConfig.java:175)
        if ranker is not None:
            from wned_spark.operators import l2r

            scored = stage("scored_pairs", lambda: l2r.score_with_model(survivors, ranker, cfg))
        else:
            scored = stage("scored_pairs", lambda: scoring.combine_scores(survivors, cfg))

        # ---- dictionary edges (J1): link what the alias dictionary links ----
        # a surface whose candidate set is exactly ONE entity, with prior
        # >= prior_gate, joins that entity's representative surface (its
        # max-prior non-ambiguous surface) — the reference links a mention
        # by exact alias lookup with no string-similarity precondition
        # (CandidateSelectionLucene.java:90-117), so an acronym or a
        # nickname sharing no block key with its entity's other surfaces
        # still links. Surfaces with several candidates are left to the
        # second pass: one such edge per candidate would chain the
        # entities together under connected components. The flagged
        # candidate rows are dictionary-sized and shared with the second
        # pass; no cache, which would add a job per consumer.
        reps = disambig.entity_rep_surfaces(cands) if alias_raw is not None else None

        # ---- match edges → connected components on the surface graph (G8) ----
        def _surface_clusters():
            # (the cascade admitted each pair via name_soft OR
            # shared_prior; the score threshold below is the only
            # match bar at this point)
            if nil_model is not None:
                # N6 trained gate (NILPredictor.java:24-62 recast): the
                # logistic head's P(match) >= 0.5 boundary replaces the
                # fixed threshold — see l2r.train_nil_head
                from wned_spark.operators import l2r as _l2r

                kept = _l2r.apply_nil_head(scored, nil_model)
            else:
                kept = scored.filter(F.col("score") >= cfg.match_threshold)
            edges_m = kept.select(
                F.col("left_sid").alias("u"), F.col("right_sid").alias("v")
            )
            if reps is not None:
                edges_m = edges_m.union(
                    reps.filter(~F.col("ambiguous") & (F.col("prior") >= cfg.prior_gate))
                    .select(F.col("sid").alias("u"), F.col("rep_sid").alias("v"))
                )
            comp = cc.connected_components_auto(edges_m, cfg.cc_max_iter)
            return (
                surfaces.select(F.col("sid").alias("node"), "sn")
                .join(comp, "node", "left")
                .select(
                    F.col("node").alias("sid"),
                    "sn",
                    F.coalesce(F.col("component"), F.col("node")).alias("cluster_id"),
                )
            )

        surface_clusters = stage("surface_clusters", _surface_clusters)

        # ---- mention-level second pass over AMBIGUOUS surfaces (G6) ----
        # a surface whose candidate set spans several entities (the planted
        # acronym case) cannot be split at surface level; its mentions are
        # re-assigned per conversation by signature argmax. Sized by the
        # ambiguous slice only — see operators/disambig.py.
        overrides = None
        if use_signatures and alias_raw is not None and cfg.use_second_pass:
            overrides = stage(
                "ambiguity_overrides",
                lambda: disambig.second_pass_overrides(
                    mentions, cands, edges, surface_clusters, cfg,
                    n_edges=n_edges, reps=reps,
                ),
            )

        # ---- mention assignment: one equi-join on the surface key ----
        def _clusters():
            key_col = "canon_norm" if "canon_norm" in mentions.columns else "surface_norm"
            # no broadcast hint: the dictionary usually fits (AQE broadcasts
            # it automatically below the threshold) but at 10^7+ surfaces a
            # sort-merge join is the right plan and the hint would force a
            # driver OOM instead
            base = mentions.select(
                "mention_id", F.xxhash64(F.col(key_col)).alias("sid")
            ).join(
                surface_clusters.select("sid", "cluster_id"), "sid"
            ).select("mention_id", "cluster_id")
            if overrides is None:
                return base
            ov = overrides.select(
                "mention_id", F.col("cluster_id").alias("cluster_override")
            )
            return (
                base.join(ov, "mention_id", "left")
                .select(
                    "mention_id",
                    F.coalesce(F.col("cluster_override"), F.col("cluster_id")).alias(
                        "cluster_id"
                    ),
                )
            )

        clusters = stage("clusters", _clusters)

        return PipelineResult(
            mentions=mentions,
            pairs=pairs,
            scored=scored,
            surface_clusters=surface_clusters,
            clusters=clusters,
        )
    finally:
        if _pool is not None:
            # read before shutdown, which marks queued futures done
            pending = any(not f.done() for f in _futures)
            _pool.shutdown(wait=False, cancel_futures=True)
            # kill any worker stage still executing
            if pending:
                spark.sparkContext.cancelJobGroup(_JOB_GROUP)
