"""Plan-shape pins for the round-12 keeps (the same pattern as the
round-10/11 plan-shape tests: pin the MEASURED-better physical form
so a refactor can't silently regress it)."""

from __future__ import annotations

from etl_data_ingestion_spark.plans import registry

from tests.helpers import executed_plan

registry.load_all()


def test_assortativity_moments_come_from_degree_table(spark, sf_dir):
    """The r12 algebraic collapse reads n2/s2/s3 off the degree
    table in one aggregation (sum(d), sum(d*d), sum(d*d*d)); the
    old form aggregated j/k moments over a 2|E|-row oriented union.
    Pin the degree-moment aggregate and the broadcast endpoint
    joins."""
    plan = executed_plan(spark, "graph_assortativity", sf_dir)
    assert "sum((d#" in plan.replace(" ", "").replace("*", "") or (
        "sum((d" in plan
    ), plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]
    # the rejected oriented form carried TWO shuffle joins of the
    # degree table; the kept form broadcasts both endpoint lookups
    assert "SortMergeJoin" not in plan.split("InMemoryRelation")[0], (
        plan[:3000]
    )
    spark.catalog.clearCache()


def test_modularity_aggregates_contingency_not_edges(spark, sf_dir):
    """The r12 fusion rolls m/intra/degrees off the (c1,c2)
    contingency table: the persisted relation must be the tiny
    groupBy(c1,c2) count, and the edge build must remain a join
    (AQE picks the physical form), not a basket collect_set."""
    plan = executed_plan(spark, "graph_community_modularity", sf_dir)
    assert "collect_set" not in plan, plan[:2000]
    assert "InMemoryTableScan" in plan, plan[:2000]
    spark.catalog.clearCache()


def test_loo_and_ratio_margin_construct_without_collect(spark, sf_dir):
    """The advisor fix: building the LOO / ratio-margin DataFrames
    must not collect the corpus to the driver — the pyarrow read
    lives inside the mapInPandas closure. Pin it by poisoning
    DataFrame.collect during construction."""
    from pyspark.sql import DataFrame

    orig = DataFrame.collect

    def _poisoned(self, *a, **kw):  # pragma: no cover
        raise AssertionError(
            "DataFrame.collect called during plan construction"
        )

    DataFrame.collect = _poisoned
    try:
        for name in (
            "ml_loo_1nn_embedding_accuracy",
            "similarity_ratio_margin",
        ):
            df = registry.QUERIES[name](spark, sf_dir)
            assert "MapInPandas" in (
                df._jdf.queryExecution().executedPlan().toString()
            )
    finally:
        DataFrame.collect = orig
