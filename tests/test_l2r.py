"""L2R margin ranker (N5/K6/N7): training-data sink, GBT training
determinism, and the model-scored pipeline holding the F1 gate on a
held-out corpus."""

import pyspark.sql.functions as F

from wned_spark.config import ERConfig
from wned_spark.datagen import generate_corpus
from wned_spark.operators import l2r
from wned_spark.operators.evaluate import contingency_prf
from wned_spark.pipeline import run_er_pipeline
from wned_spark.plans.catalog import Catalog


def _corpus(spark, seed, n_conversations=30):
    c = generate_corpus(
        spark, n_conversations=n_conversations, turns_per_conv=10,
        n_entities=24, community_size=8, seed=seed,
    )
    c["transcripts"] = c["transcripts"].cache()
    c["gold_mentions"] = c["gold_mentions"].cache()
    return c


def test_l2r_end_to_end_holds_f1_gate(spark):
    """Train on one corpus (seed 7), score a DIFFERENT corpus (seed 11)
    with the model — the pairwise F1 >= 0.99 gate must hold with the
    GBT margin replacing the LINEAR hand weights."""
    cfg = ERConfig()
    train = _corpus(spark, seed=7)
    model, training = l2r.train_l2r_from_gold(
        spark, train["transcripts"], train["alias_raw"], train["gold_mentions"], cfg=cfg
    )
    # the dump has both classes and all features
    labels = [r["label"] for r in training.select("label").distinct().collect()]
    assert sorted(labels) == [0, 1]
    for c in l2r.FEATURE_COLS:
        assert c in training.columns, c

    test = _corpus(spark, seed=11)
    res = run_er_pipeline(
        spark, test["transcripts"], alias_raw=test["alias_raw"], cfg=cfg, ranker=model,
    )
    assert "l2r_margin" in res.scored.columns
    prf = contingency_prf(res.clusters, test["gold_mentions"])
    assert prf["f1"] >= 0.99, prf


def test_l2r_training_deterministic(spark):
    """Same corpus, two fits → identical margins (fixed seed, no
    subsampling, distributive tree stats)."""
    cfg = ERConfig()
    c = _corpus(spark, seed=7, n_conversations=16)
    res = run_er_pipeline(spark, c["transcripts"], alias_raw=c["alias_raw"], cfg=cfg)
    labels = l2r.surface_gold_labels(res.mentions, c["gold_mentions"])
    training = l2r.pair_training_data(res.scored, labels).cache()
    m1 = l2r.train_ranker(training)
    m2 = l2r.train_ranker(training)
    s1 = l2r.score_with_model(training, m1).select("left_sid", "right_sid", "l2r_margin")
    s2 = l2r.score_with_model(training, m2).select("left_sid", "right_sid", "l2r_margin")
    diff = (
        s1.withColumnRenamed("l2r_margin", "m1")
        .join(s2.withColumnRenamed("l2r_margin", "m2"), ["left_sid", "right_sid"])
        .filter(F.abs(F.col("m1") - F.col("m2")) > 1e-12)
    )
    assert diff.count() == 0


def test_l2r_training_features_sink_committed(spark, tmp_warehouse):
    """K6: with a catalog the labeled feature dump is a committed,
    resumable snapshot."""
    cfg = ERConfig()
    c = _corpus(spark, seed=7, n_conversations=12)
    cat = Catalog(spark, tmp_warehouse)
    _model, training = l2r.train_l2r_from_gold(
        spark, c["transcripts"], c["alias_raw"], c["gold_mentions"],
        cfg=cfg, catalog=cat,
    )
    assert cat.is_committed("training_features")
    back = cat.read("training_features")
    assert back.count() == training.count()
    assert "label" in back.columns


def test_nil_head_gate_holds_f1_and_is_deterministic(spark):
    """N6 (NILPredictor.java:24-62 recast): a logistic head trained on
    the labeled pair features, used as the match gate instead of the
    fixed threshold, must (a) keep the pairwise F1 gate, (b) make the
    same keep/reject decisions across two trainings, and (c) actually
    reject the negatives the threshold rejects on held-out pairs."""
    c = _corpus(spark, seed=11, n_conversations=24)
    _model, training = l2r.train_l2r_from_gold(
        spark, c["transcripts"], c["alias_raw"], c["gold_mentions"], cfg=ERConfig(),
    )
    head1 = l2r.train_nil_head(training)
    head2 = l2r.train_nil_head(training)
    k1 = set(
        (r["left_sid"], r["right_sid"])
        for r in l2r.apply_nil_head(training, head1).collect()
    )
    k2 = set(
        (r["left_sid"], r["right_sid"])
        for r in l2r.apply_nil_head(training, head2).collect()
    )
    assert k1 == k2
    # decisions agree with gold labels almost everywhere
    lab = {(r["left_sid"], r["right_sid"]): r["label"] for r in training.collect()}
    tp = sum(1 for k, v in lab.items() if v == 1 and k in k1)
    fp = sum(1 for k in k1 if lab[k] == 0)
    fn = sum(1 for k, v in lab.items() if v == 1 and k not in k1)
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, (tp, fp, fn)

    # config-selectable in the pipeline: nil_model replaces the threshold
    res = run_er_pipeline(
        spark, c["transcripts"], alias_raw=c["alias_raw"], cfg=ERConfig(), nil_model=head1,
    )
    prf = contingency_prf(res.clusters, c["gold_mentions"])
    assert prf["f1"] >= 0.99, prf
