"""Pinned tests for the long-tail operators: A6 per-group feature
normalization, N4 offset reconciliation, F2 entity-type filter,
U3 candidate-set merge."""

from wned_spark.config import ERConfig


def test_a6_sum_normalize_per_group(spark):
    from wned_spark.operators.scoring import sum_normalize_per_group

    df = spark.createDataFrame(
        [(1, 2.0, 0.0), (1, 6.0, 0.0), (2, 5.0, 3.0)],
        "mention_id int, f1 double, f2 double",
    )
    out = {
        (r["mention_id"], r["f1"], r["f2"])
        for r in sum_normalize_per_group(df, ["mention_id"], ["f1", "f2"]).collect()
    }
    # group 1: f1 sums to 8 -> 0.25/0.75; f2 sums to 0 -> untouched
    # group 2: single row -> 1.0 / 1.0
    assert out == {(1, 0.25, 0.0), (1, 0.75, 0.0), (2, 1.0, 1.0)}


def test_n4_offset_containment_fallback(spark):
    from wned_spark.operators.evaluate import reconcile_gold_offsets

    mentions = spark.createDataFrame(
        [
            ("c1", 0, 100, 10, 30),   # mention span [10, 30)
            ("c1", 0, 101, 40, 50),
            ("c1", 1, 102, 0, 20),
        ],
        "conv_id string, turn_idx int, mention_id long, start int, end int",
    )
    gold = spark.createDataFrame(
        [
            ("c1", 0, 10, 30, 7),   # exact-start match -> mention 100
            ("c1", 0, 42, 48, 8),   # contained in [40,50) -> mention 101
            ("c1", 1, 25, 30, 9),   # outside every span -> dropped
        ],
        "conv_id string, turn_idx int, start int, end int, entity_id long",
    )
    got = {
        (r["mention_id"], r["entity_id"])
        for r in reconcile_gold_offsets(mentions, gold).collect()
    }
    assert got == {(100, 7), (101, 8)}


def test_f2_entity_type_filter(spark):
    from wned_spark.operators.candidates import filter_candidates_by_type

    cands = spark.createDataFrame(
        [(1, 10, 0.6), (1, 11, 0.4), (2, 12, 1.0)],
        "mention_id int, entity_id int, prior double",
    )
    entities = spark.createDataFrame(
        [(10, "PER"), (11, "ORG"), (12, "PER")], "entity_id int, type string"
    )
    out = {
        (r["mention_id"], r["entity_id"])
        for r in filter_candidates_by_type(cands, entities, ["PER"]).collect()
    }
    assert out == {(1, 10), (2, 12)}


def test_u3_merge_candidate_sets(spark):
    from wned_spark.operators.candidates import merge_candidate_sets

    a = spark.createDataFrame(
        [(1, 10, 0.6), (1, 11, 0.4)], "mention_id int, entity_id int, prior double"
    )
    b = spark.createDataFrame(
        [(1, 10, 0.2), (1, 12, 0.8)], "mention_id int, entity_id int, prior double"
    )
    out = {
        (r["entity_id"], round(r["prior"], 6))
        for r in merge_candidate_sets([a, b], cfg=ERConfig()).collect()
    }
    # sums: 10 -> 0.8, 11 -> 0.4, 12 -> 0.8; total 2.0 -> renormalized
    assert out == {(10, 0.4), (11, 0.2), (12, 0.4)}


def test_u3_merge_applies_prior_floor(spark):
    import dataclasses

    from wned_spark.operators.candidates import merge_candidate_sets

    a = spark.createDataFrame(
        [(1, 10, 0.999), (1, 11, 0.001)], "mention_id int, entity_id int, prior double"
    )
    cfg = dataclasses.replace(ERConfig(), prior_floor=0.01)
    out = merge_candidate_sets([a], cfg=cfg)
    assert [r["entity_id"] for r in out.collect()] == [10]
