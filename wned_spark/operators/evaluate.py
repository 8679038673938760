"""Evaluation (A8): pairwise precision / recall / F1 of a clustering,
per-document macro accuracy, and N4 gold-offset reconciliation.

The reference's harness scores every gold mention against gold XML
(``experiment/Evaluation.java:57-161``). ``contingency_prf`` does the
same for a clustering: over ALL gold mention pairs, predicted-match =
same cluster and gold-match = same gold entity, micro-counted as
TP/FP/FN (``Evaluation.java:154-160``'s correct/found/query arithmetic).
It counts from the cluster x entity contingency table, so it is linear
in the number of mentions and sees splits and merges across blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def reconcile_gold_offsets(mentions: DataFrame, gold_mentions: DataFrame) -> DataFrame:
    """N4: mention-offset reconciliation (``utils/DocumentUtils.java:66-143``):
    gold rows match extracted mentions by the exact (conv, turn, start)
    key first; the remainder falls back to SPAN CONTAINMENT within the
    same turn (the gold span inside the extracted span — the
    reference's containment walk over annotation offsets), choosing the
    tightest containing mention deterministically.

    Returns (mention_id, entity_id)."""
    from pyspark.sql import Window

    m = mentions.select(
        "mention_id", "conv_id", "turn_idx",
        F.col("start").alias("m_start"), F.col("end").alias("m_end"),
    )
    exact_key = F.xxhash64("conv_id", "turn_idx", "start")
    gold = gold_mentions.select(
        "conv_id", "turn_idx", "start", "end", "entity_id",
        exact_key.alias("gkey"),
    )
    exact = gold.join(
        m.withColumn("gkey", F.xxhash64("conv_id", "turn_idx", F.col("m_start"))),
        "gkey",
    ).select("mention_id", "entity_id")

    missed = gold.join(
        m.withColumn("gkey", F.xxhash64("conv_id", "turn_idx", F.col("m_start"))),
        "gkey",
        "left_anti",
    )
    contained = (
        missed.join(m, ["conv_id", "turn_idx"])
        .filter((F.col("m_start") <= F.col("start")) & (F.col("end") <= F.col("m_end")))
    )
    w = Window.partitionBy("conv_id", "turn_idx", "start", "end").orderBy(
        F.asc(F.col("m_end") - F.col("m_start")), F.asc("mention_id")
    )
    fallback = (
        contained.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("mention_id", "entity_id")
    )
    return exact.union(fallback)


def macro_accuracy(
    labeled: DataFrame,
    group_col: str = "conv_id",
    predicted_col: str = "predicted",
    gold_col: str = "is_match",
) -> DataFrame:
    """A8 macro variant (``experiment/Evaluation.java:86-153``): the
    reference logs per-document accuracy (``correct/query`` per doc)
    and macro-averages across documents; here each group of
    ``group_col`` is one document.

    Returns per-group rows (doc, queries, correct, accuracy_ppm) with
    the macro average attached as ``macro_accuracy_ppm`` (identical on
    every row). Accuracies are exact INTEGER parts-per-million — the
    same cross-engine determinism trick as the pairwise harness.
    The macro scalar rides a one-row broadcast crossJoin (the repo's
    standard pattern for global-stat attachment, cf. tfidf.py), not a
    global window, so no single-partition sort appears at scale."""
    per = (
        labeled.groupBy(F.col(group_col).alias("doc"))
        .agg(
            F.count("*").alias("queries"),
            F.sum(
                F.when(F.col(predicted_col) == F.col(gold_col), 1).otherwise(0)
            ).alias("correct"),
        )
        .withColumn("accuracy_ppm", F.expr("div(correct * 1000000, queries)"))
    )
    macro = per.agg(
        F.expr("div(sum(accuracy_ppm), count(1))").alias("macro_accuracy_ppm")
    )
    return per.crossJoin(F.broadcast(macro))


def contingency_prf(clusters: DataFrame, gold_mentions: DataFrame) -> dict:
    """Pairwise P/R/F1 of ``clusters(mention_id, cluster_id)`` against
    ``gold_mentions(conv_id, turn_idx, start, entity_id)``, over every
    gold mention pair.

    Gold is keyed ``xxhash64(conv_id, turn_idx, start)``, the id
    ``extract_mentions`` gives a mention. With n_ij the gold mentions of
    cluster i and entity j, tp = sum C(n_ij, 2); predicted pairs and
    gold pairs are the same sum over the cluster and the entity totals.
    One ``cube`` over (cluster, entity) yields all three in one action.
    A gold mention with no cluster is a singleton and counts in
    ``missing``. Returns {precision, recall, f1, tp, fp, fn, missing},
    with fp = predicted pairs - tp and fn = gold pairs - tp."""
    gold = gold_mentions.select(
        F.xxhash64("conv_id", "turn_idx", "start").alias("mention_id"), "entity_id"
    ).distinct()
    cells = gold.join(clusters.select("mention_id", "cluster_id"), "mention_id", "left").select(
        # a missing mention is a cluster of its own
        F.struct("cluster_id", F.when(F.col("cluster_id").isNull(), F.col("mention_id"))).alias("cluster"),
        "entity_id",
    )
    # grouping id 0: (cluster, entity) cells; 1: clusters; 2: entities;
    # a rolled-up cluster reads null, so only the cells count ``missing``
    by_g = {
        r["g"]: r
        for r in cells.cube("cluster", "entity_id")
        .agg(F.grouping_id().alias("g"), F.count("*").alias("n"))
        .groupBy("g")
        .agg(
            F.sum(F.expr("n * (n - 1) div 2")).alias("pairs"),
            F.sum(F.when(F.col("cluster.cluster_id").isNull(), F.col("n"))).alias("missing"),
        )
        .collect()
    }
    tp, pred, true = (by_g[g]["pairs"] if g in by_g else 0 for g in (0, 1, 2))
    p = tp / pred if pred else 1.0
    r = tp / true if true else 1.0
    return {
        "precision": p,
        "recall": r,
        "f1": 2 * p * r / (p + r) if p + r else 0.0,
        "tp": tp,
        "fp": pred - tp,
        "fn": true - tp,
        "missing": (by_g[0]["missing"] or 0) if 0 in by_g else 0,
    }
