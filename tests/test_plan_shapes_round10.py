"""Plan-shape regression tests for the round-10 floor fixes: these
pin the STRUCTURAL property each fix delivered (scan counts, join
strategies, conf hygiene), so a future refactor that silently
reintroduces the waste fails a test rather than a benchmark read."""

from __future__ import annotations

from etl_data_ingestion_spark.plans import registry

from tests.helpers import distinct_filescans, executed_plan

registry.load_all()


def test_item_cf_has_no_fact_self_join(spark, sf_dir):
    """The basket self-join was replaced by map-side pair expansion.
    NOTE: the explain string re-renders a cached relation's child
    per InMemoryTableScan reference, so counting 'lineitem.parquet'
    substrings overcounts; the structural signals are (a) the
    grouped baskets ARE cached and shared (InMemoryTableScan
    present) and (b) no raw-column self-join condition
    'l_partkey < l_partkey' survives anywhere in the plan."""
    import re

    plan = executed_plan(spark, "ml_item_item_cf", sf_dir)
    assert "InMemoryTableScan" in plan, plan[:2000]
    assert not re.search(r"l_partkey#\d+L? < l_partkey#", plan), plan[:2000]
    spark.catalog.clearCache()


def test_kruskal_scans_orders_once(spark, sf_dir):
    """The round-10 window-form restructure: gv is referenced once,
    so exactly ONE fact scan subtree exists (the earlier join-back
    form compiled gv twice with fresh expression ids that
    ReusedExchange could not deduplicate — two real scans)."""
    plan = executed_plan(spark, "agg_kruskal_wallis", sf_dir)
    assert len(distinct_filescans(plan)) == 1, plan[:2000]


def test_repeated_lines_scans_documents_once(spark, sf_dir):
    """The tot-table re-scan was folded into the single doc-keyed
    aggregation; the persisted explode is the only text consumer, so
    only one DISTINCT scan subtree may exist."""
    plan = executed_plan(spark, "dedup_repeated_lines_corpus", sf_dir)
    assert len(distinct_filescans(plan)) == 1, plan[:2000]
    # clean up the persist the operator leaves behind
    spark.catalog.clearCache()


def test_kcore_restores_aqe_conf(spark, sf_dir):
    """The small-graph AQE gate leaves the caller's conf as it found
    it: the static plan runs on its own child session."""
    before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    rows = registry.QUERIES["graph_kcore_peel"](spark, sf_dir).collect()
    after = spark.conf.get("spark.sql.adaptive.enabled", "true")
    assert after == before
    assert len(rows) == 4 and [r.iteration for r in rows] == [0, 1, 2, 3]
    # peel is monotone: node/edge counts never increase
    for a, b in zip(rows, rows[1:]):
        assert b.n_nodes <= a.n_nodes and b.n_edges <= a.n_edges
    spark.catalog.clearCache()


def test_naive_bayes_single_token_explosion(spark, sf_dir):
    """The token explosion and the count table are persisted and
    shared (the pre-fix plan re-derived the train explosion three
    times); assert the caches are actually IN the executed plan and
    that the distinct scan subtrees are bounded by the design: the
    doubled-corpus union reads documents once per label branch, for
    both the cached token explosion and the doc-count prior
    (<= 4 distinct scans; the pre-fix plan compiled more)."""
    plan = executed_plan(spark, "pipeline_naive_bayes_spam", sf_dir)
    assert "InMemoryTableScan" in plan, plan[:2000]
    assert len(distinct_filescans(plan)) <= 4, sorted(
        distinct_filescans(plan)
    )
    spark.catalog.clearCache()
