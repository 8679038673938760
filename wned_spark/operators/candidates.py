"""Candidate selection: alias dictionary join + priors + top-K pruning.

Replaces the Lucene alias-index probe path
(``cs/CandidateSelectionLucene.java:90-151``) with declarative joins:

- J1: mentions ⋈ alias_dict equi-join on the normalized surface.
  AQE picks the physical strategy from runtime stats: broadcast while
  the dictionary fits (alias universes are usually millions of rows,
  not billions), sort-merge with skew-split beyond that — no forced
  hint, so neither regime OOMs.
- A2: prior = freq / sum(freq) per alias (``CandidateSelectionLucene.java:119-124``).
- F4: per-source prior thresholds (link: 0.005, other: 0.001,
  ``CandidateSelectionLucene.java:38,128-131``).
- W1: top-20 candidates per mention by prior, deterministic tiebreak
  on entity_id (``CandidateSelectionLucene.java:42,134-151`` — the Rank
  comparator is descending, ``utils/Rank.java:28-36``).
- F5: post-prune prior floor 2e-5 (``utils/CSUtils.java:190-199``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wned_spark.config import ERConfig
from wned_spark.functions.normalize import norm_surface


def build_alias_dict(alias_raw: DataFrame) -> DataFrame:
    """alias_raw(entity_id, alias, source, freq) →
    alias_dict(alias_norm, entity_id, source, freq, prior).

    Duplicate (alias, entity, source) rows are freq-summed first (the
    A1 sort|uniq-c the reference runs between KBExtractor and the index
    build — SURVEY.md §3.3 note), then priors normalized per alias (A2).
    """
    agg = (
        alias_raw.withColumn("alias_norm", norm_surface(F.col("alias")))
        .groupBy("alias_norm", "entity_id", "source")
        .agg(F.sum("freq").alias("freq"))
    )
    w = Window.partitionBy("alias_norm")
    return agg.withColumn("prior", F.col("freq") / F.sum("freq").over(w))


def select_candidates(
    mentions: DataFrame,
    alias_dict: DataFrame,
    cfg: ERConfig = ERConfig(),
    id_col: str = "mention_id",
    key_col: str | None = None,
) -> DataFrame:
    """rows(id_col, surface key) ⋈ alias_dict →
    candidates(id_col, entity_id, source, prior) with F4/W1/F5 pruning.
    Works at mention level (id=mention_id) or surface level (id=sid) —
    the reference's candidate machinery is surface-level too.
    """
    key = key_col or ("canon_norm" if "canon_norm" in mentions.columns else "surface_norm")
    # no broadcast hint: AQE broadcasts the dictionary automatically
    # when it fits under the threshold; a forced hint on a 10^8-row
    # alias table would OOM the driver instead of degrading to a
    # (AQE-skew-split) sort-merge join
    joined = mentions.join(
        alias_dict,
        mentions[key] == alias_dict["alias_norm"],
        "inner",
    )
    # F4: per-source thresholds
    gated = joined.filter(
        F.when(F.col("source") == "link", F.col("prior") > cfg.prior_threshold_link)
        .otherwise(F.col("prior") > cfg.prior_threshold_other)
    )
    # W1: top-K by prior, descending, deterministic tiebreak
    w = Window.partitionBy(id_col).orderBy(
        F.desc("prior"), F.asc("entity_id"), F.asc("source")
    )
    ranked = gated.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= cfg.top_k_candidates
    )
    # F5: prior floor
    return (
        ranked.filter(F.col("prior") >= cfg.prior_floor)
        .select(id_col, "entity_id", "source", "prior")
    )


def filter_candidates_by_type(
    cands: DataFrame, entities: DataFrame, allowed_types: list[str]
) -> DataFrame:
    """F2: entity-type compatibility filter — drop candidates whose KB
    type is outside the allowed set (the reference restricts candidate
    sets to NER-compatible entity pages; its page-type filters live in
    ``kb/KBExtractor.java`` and the candidate gate in
    ``utils/CSUtils.java``). entities: (entity_id, ..., type)."""
    ok = entities.filter(F.col("type").isin(allowed_types)).select("entity_id")
    return cands.join(ok, "entity_id", "left_semi")


def merge_candidate_sets(
    cand_sets: list[DataFrame],
    id_col: str = "mention_id",
    cfg: ERConfig = ERConfig(),
) -> DataFrame:
    """U3: union candidate sets from several sources with
    probability-sum and per-mention renormalization, then the post-merge
    prior floor (``utils/CSUtils.java:34,190-199``: exact + fuzzy
    candidate lists merge by summing weights before the floor).

    Each input: (id_col, entity_id, prior). Output: same shape, priors
    renormalized to sum 1 per id, floored at ``cfg.prior_floor``."""
    u = cand_sets[0].select(id_col, "entity_id", "prior")
    for d in cand_sets[1:]:
        u = u.union(d.select(id_col, "entity_id", "prior"))
    summed = u.groupBy(id_col, "entity_id").agg(F.sum("prior").alias("p"))
    w = Window.partitionBy(id_col)
    return (
        summed.withColumn("prior", F.col("p") / F.sum("p").over(w))
        .filter(F.col("prior") >= cfg.prior_floor)
        .select(id_col, "entity_id", "prior")
    )


def prior_argmax_linking(
    mentions: DataFrame, alias_dict: DataFrame, cfg: ERConfig = ERConfig()
) -> DataFrame:
    """The PriorProbEL baseline (``experiment/PriorProbEL.java:72-174``):
    link every mention to its max-prior candidate. The minimum
    end-to-end slice — everything downstream improves on this."""
    cands = select_candidates(mentions, alias_dict, cfg)
    w = Window.partitionBy("mention_id").orderBy(F.desc("prior"), F.asc("entity_id"))
    return (
        cands.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("mention_id", F.col("entity_id").alias("linked_entity_id"), "prior")
    )
