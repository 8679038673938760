"""Physical-plan quality gates: predicate pushdown reaches the parquet
scan, column pruning trims ReadSchema, small dims broadcast, and
aggregations keep their map-side partial step. These pin the plans we
WANT, so a refactor that silently de-optimizes a scan fails a test
rather than a 100 TB run."""

import wned_spark.entry_queries as EQ

SF_DIR = "/root/testdata/sf0.001"


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_with_scan(df) -> str:
    # executedPlan keeps scan details (PushedFilters / ReadSchema)
    return _physical_plan(df)


def test_f1_filter_pushed_to_parquet_scan(spark):
    df = EQ.queries()["f1_filter_project"](spark, SF_DIR)
    plan = _physical_plan(df)
    assert "PushedFilters" in plan
    # the shipdate range predicate must reach the scan, not sit in a
    # post-scan Filter only
    assert "LessThan(l_shipdate" in plan or "LessThan(l_discount" in plan, plan


def test_f1_column_pruning_trims_readschema(spark):
    df = EQ.queries()["f1_filter_project"](spark, SF_DIR)
    plan = _physical_plan(df)
    start = plan.index("ReadSchema")
    schema_line = plan[start:start + 400]
    # only the referenced columns are read — a scan that reads
    # l_comment for a 3-column projection is wrong
    assert "l_comment" not in schema_line
    assert "l_orderkey" in schema_line


def test_j1_small_dims_broadcast(spark):
    df = EQ.queries()["j1_dimension_join"](spark, SF_DIR)
    plan = _physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_q1_keeps_partial_aggregation(spark):
    df = EQ.queries()["agg_tpch_q1"](spark, SF_DIR)
    plan = _physical_plan(df)
    # map-side combine: HashAggregate appears for both partial and
    # final steps around the exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_semi_join_stays_semi(spark):
    df = EQ.queries()["j5_semi_join"](spark, SF_DIR)
    plan = _physical_plan(df)
    assert "LeftSemi" in plan, plan


def test_pair_feature_kernels_plan_shape(spark):
    """The signature and context features are scored row-wise from
    per-surface vector tables: the pair rows only join the vector table
    once per side. With the vectors pinned (as the pipeline's hub and
    pooled stage are), the plan holds no full-outer join, no cartesian
    product and no aggregate at all — so nothing is aggregated after
    the pair join, and no (pair × node) intermediate exists."""
    import re

    from pyspark.sql import Row

    from wned_spark.functions.similarity import sparse_vectors
    from wned_spark.operators.ppr import signature_features
    from wned_spark.operators.tfidf import pairwise_cosine

    sigs = sparse_vectors(
        spark.createDataFrame(
            [Row(sid=1, node=1, rank=0.6), Row(sid=1, node=2, rank=0.4),
             Row(sid=2, node=2, rank=1.0)]
        ),
        "sid", "node", "rank", "sig",
    ).localCheckpoint()
    ctx = sparse_vectors(
        spark.createDataFrame(
            [Row(sid=1, term="a", tfidf=1.5), Row(sid=2, term="a", tfidf=0.5)]
        ),
        "sid", "term", "tfidf", "ctx",
    ).localCheckpoint()
    rows = spark.createDataFrame([Row(left_sid=1, right_sid=2)])
    for df in (signature_features(rows, sigs), pairwise_cosine(rows, ctx)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "FullOuter" not in plan, plan
        assert not re.findall(r"HashAggregate|SortAggregate|ObjectHashAggregate", plan), plan
        assert plan.count("LeftOuter") == 2, plan
