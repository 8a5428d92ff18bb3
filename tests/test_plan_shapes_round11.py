"""Plan-shape regression tests for the round-11 fixes: pin the
structural property each change delivered (broadcast vs shuffle join,
scan counts, gate hygiene, eager materialization), so a refactor that
silently reintroduces the waste fails a test, not a benchmark read."""

from __future__ import annotations

from etl_data_ingestion_spark.plans import registry

from tests.helpers import distinct_filescans, executed_plan

registry.load_all()


def test_repeated_lines_boilerplate_join_broadcasts(spark, sf_dir):
    """The r11 rewrite replaced the line-keyed corpus shuffle join
    with a broadcast of the (>=3-doc) boilerplate set: the executed
    plan must carry a BroadcastHashJoin and NO SortMergeJoin — a
    regression to the shuffle join re-adds a corpus Exchange."""
    plan = executed_plan(spark, "dedup_repeated_lines_corpus", sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    spark.catalog.clearCache()


def test_naive_bayes_scans_documents_once(spark, sf_dir):
    """The r11 restructure folded the two union branches and the
    prior rollup into ONE documents scan (split once, spam suffix as
    a literal token array; prior from the scalar collect). The final
    accuracy plan reads the doc-level cache — at most one distinct
    FileScan subtree may survive anywhere in it."""
    plan = executed_plan(spark, "pipeline_naive_bayes_spam", sf_dir)
    assert len(distinct_filescans(plan)) <= 1, plan[:3000]
    assert "InMemoryTableScan" in plan, plan[:2000]
    spark.catalog.clearCache()


def test_naive_bayes_has_no_window_argmax(spark, sf_dir):
    """The 2-row-per-doc ROW_NUMBER argmax was replaced by a
    conditional-sum pivot inside the doc-keyed aggregation — no
    Window operator may appear in the executed plan."""
    plan = executed_plan(spark, "pipeline_naive_bayes_spam", sf_dir)
    assert "Window" not in plan, plan[:3000]
    spark.catalog.clearCache()


def test_item_cf_returns_materialized_top20(spark, sf_dir):
    """ml_item_item_cf's returned top-20 plan reads its persisted
    baskets (an InMemoryRelation), and building it on the small-fact
    gate's child session leaves the caller's AQE conf as it was."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    plan = executed_plan(spark, "ml_item_item_cf", sf_dir)
    assert "InMemoryTableScan" in plan, plan[:2000]
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    spark.catalog.clearCache()


def test_kcore_gate_restores_conf_and_materializes(spark, sf_dir):
    """graph_kcore_peel fuses its four per-level counts into one union
    built on the small-fact gate's child session; the caller's conf is
    unchanged after construction and the result is 4 deterministic
    rows."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = registry.QUERIES["graph_kcore_peel"](spark, sf_dir)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    rows = df.collect()
    assert [r.iteration for r in rows] == [0, 1, 2, 3]
    spark.catalog.clearCache()


def test_audit_flips_do_not_fan_out(spark, sf_dir):
    """Spot-pin three audit DROPs (kruskal's r10 precedent plus two
    r11 flips): constructing the query must NOT insert the
    single-row-group RoundRobin fan-out repartition."""
    for name in (
        "agg_cramers_v",
        "timeseries_runs_test",
        "events_churn_rate_weekly",
    ):
        plan = executed_plan(spark, name, sf_dir)
        assert "RoundRobinPartitioning" not in plan, (name, plan[:2000])
    spark.catalog.clearCache()


def test_audit_keeps_still_fan_out(spark, sf_dir):
    """And the KEEPs must still opt in (the per-row-CPU family the
    fan-out exists for): text_lang_bigram_score is 1.1s with it and
    15.0s without at sf0.1."""
    plan = executed_plan(spark, "text_lang_bigram_score", sf_dir)
    assert "RoundRobinPartitioning" in plan, plan[:2000]
    spark.catalog.clearCache()


def test_loo_1nn_uses_gemm_not_fold(spark, sf_dir):
    """The wave-35 rewrite replaced the interpreted all-pairs
    zip_with cosine fold (83s at sf0.1) with one GEMM per Arrow
    batch: the plan must carry a Python map stage (MapInPandas /
    ArrowEvalPython) and must NOT contain the broadcast
    nested-loop self-join + aggregate-fold shape the old form
    compiled to."""
    from etl_data_ingestion_spark.plans import registry as reg

    df = reg.QUERIES["ml_loo_1nn_embedding_accuracy"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "zip_with" not in plan, plan[:2000]
