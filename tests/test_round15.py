"""Plan-shape pins + device tests for the round-15 keeps (same
pattern as the round-10..14 plan-shape tests: pin the MEASURED-better
physical form so a refactor can't silently regress it)."""

from __future__ import annotations

import re
from operator import methodcaller

import pyspark.sql.functions as F
import pytest

from etl_data_ingestion_spark.plans import registry

from tests.helpers import executed_plan

registry.load_all()


def test_pair_expr_expands_ordered_pairs(spark):
    """Device test for functions.arrays.ordered_pairs, the in-row
    ordered-pair expansion that replaced the per-customer/per-gram/
    per-token/per-bucket self-joins (wedge edge build, vocab jaccard,
    threshold curve, minhash buckets): over a sorted array it must
    emit exactly the (x, y) pairs with x < y, in-order, and nothing
    for arrays shorter than 2 — struct elements included."""
    from etl_data_ingestion_spark.functions.arrays import ordered_pairs

    df = spark.createDataFrame(
        [(1, [3, 5, 9]), (2, [7]), (3, [])], "k int, ss array<int>"
    )
    rows = sorted(
        tuple(r)
        for r in df.select(
            "k", F.explode(ordered_pairs("ss", "u", "v")).alias("p")
        )
        .select("k", "p.u", "p.v")
        .collect()
    )
    assert rows == [(1, 3, 5), (1, 3, 9), (1, 5, 9)], rows

    # the dedup_minhash_lsh bucket shape: (doc_id, sig) structs
    items = spark.createDataFrame(
        [([(2, [1, 2]), (4, [3, 4]), (8, [5, 6])],)],
        "items array<struct<doc_id:bigint, sig:array<int>>>",
    )
    rows = sorted(
        (r.doc_a, list(r.sig_a), r.doc_b, list(r.sig_b))
        for r in items.select(
            F.explode(ordered_pairs("items", "a", "b")).alias("p")
        )
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.a.sig").alias("sig_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.b.sig").alias("sig_b"),
        )
        .collect()
    )
    assert rows == [
        (2, [1, 2], 4, [3, 4]),
        (2, [1, 2], 8, [5, 6]),
        (4, [3, 4], 8, [5, 6]),
    ], rows


def test_corr_matrix_has_no_literal_relation_or_crossjoin(spark, sf_dir):
    """The r15 keep (−39% sf0.1 / −37% sf1): the 10-row pair table is
    no longer a driver-side createDataFrame literal crossJoined
    against the broadcast moments row — the pair structs explode
    directly from the one-row aggregate. Exactly one parquet scan,
    no join operator of any kind in the plan."""
    plan = executed_plan(spark, "agg_corr_matrix_daily", sf_dir)
    assert plan.count("Scan parquet") == 1, plan[:3000]
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert bad not in plan, (bad, plan[:3000])


def test_vocab_jaccard_single_corpus_pass(spark, sf_dir):
    """The r15 keep (−21% sf0.1): the distinct (source,tok) grid +
    token self-join (4 scan+explode branches, 3 corpus exchanges) is
    replaced by ONE groupBy(tok) collect_set pass; everything after
    the localCheckpoint is |vocab|-sized, so the executed plan must
    carry no parquet re-scan and no sort-merge/shuffled-hash join
    (the sizes attach as broadcasts)."""
    plan = executed_plan(spark, "text_source_vocab_jaccard", sf_dir)
    assert "Scan parquet" not in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "ShuffledHashJoin" not in plan, plan[:3000]
    spark.catalog.clearCache()


def test_threshold_curve_gram_join_gone(spark, sf_dir):
    """The r15 keep (−51% sf0.1 / −59% sf1): the gram-keyed pair
    self-join and the keep-broadcast join are fused into the per-gram
    collect_set aggregation; after the gsets localCheckpoint the only
    joins left are the sizes/lens broadcasts. The 15 coalesce-to-zero
    wrappers (r14 advisor) must still be present."""
    df = registry.QUERIES["pipeline_dedup_threshold_curve"](spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("coalesce") >= 15, opt[:3000]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "ShuffledHashJoin" not in plan, plan[:3000]
    spark.catalog.clearCache()


def test_pq_rerank_shortlist_is_map_side(spark, sf_dir):
    """The r15 keep: the ADC shortlist is computed INSIDE the encode
    mapInPandas pass (local top-SHORTLIST per query per task), so the
    executed plan must carry a MapInPandas node and no posexplode of
    a |corpus| x n_q score array."""
    plan = executed_plan(spark, "similarity_pq_rerank", sf_dir)
    assert "MapInPandas" in plan, plan[:3000]
    assert "posexplode" not in plan, plan[:3000]
    spark.catalog.clearCache()


def _plan_joins(plan):
    return sum(plan.count(j) for j in
               ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_wedge_edge_build_is_one_aggregation(spark, sf_dir, monkeypatch):
    """The shared wedge edge build: the capped per-customer posting
    list is one groupBy(c) collect_set aggregation over the
    orders-lineitem join — no row_number cap window, no cs self-join.
    Pinned on graph.posting_lists itself and on the subplan
    graph.edge_build checkpoints (the registered queries' plans start
    at that localCheckpoint, which hides the edge build). Above the
    (u, v) pair count, one Exchange SinglePartition carries the p90
    cut and both degree windows: no broadcast or cartesian cut, and
    no further exchange."""
    from etl_data_ingestion_spark.operators import graph

    plan = graph.posting_lists(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "collect_set" in plan, plan[:3000]
    assert "row_number" not in plan, plan[:3000]
    assert "Window" not in plan, plan[:3000]
    # the only join is the orders-lineitem fact join
    assert _plan_joins(plan) == 1, plan[:3000]

    checkpointed = []
    df_class = type(spark.range(1))
    real_checkpoint = df_class.localCheckpoint

    def spy(df, *args, **kwargs):
        checkpointed.append(
            df._jdf.queryExecution().executedPlan().toString()
        )
        return real_checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(df_class, "localCheckpoint", spy)
    graph.edge_build(spark, sf_dir)
    assert len(checkpointed) == 1, len(checkpointed)
    (plan,) = checkpointed
    assert "row_number" not in plan, plan[:3000]
    # the plan prints top-down: what follows an operator is below it
    agg = plan.index("functions=[collect_set(")
    assert "Window" not in plan[agg:], plan[:3000]
    count = re.search(
        r"HashAggregate\(keys=\[u#\d+L?, v#\d+L?\], functions=\[count\(1\)\]",
        plan,
    )
    assert count, plan[:3000]
    above = plan[: count.start()]
    assert plan.count("Exchange SinglePartition") == 1, plan[:3000]
    assert "Exchange SinglePartition" in above, plan[:3000]
    assert above.count("Exchange") == 1, plan[:3000]
    (cut,) = [line for line in above.splitlines() if "percentile_disc" in line]
    # a keyed window: a window with no key logs "No Partition Defined"
    assert "windowspecdefinition(specifiedwindowframe" not in cut, cut
    for bad in ("BroadcastExchange", "BroadcastNestedLoopJoin",
                "CartesianProduct"):
        assert bad not in above, (bad, plan[:3000])
    # the fact join is the only equi-join
    assert plan.count("functions=[collect_set(") == 1, plan[:3000]
    assert _plan_joins(plan) == 1, plan[:3000]


def test_ktruss_cumulative_window_is_keyed(spark, sf_dir):
    """k-truss's descending cumulative count runs over one partition,
    keyed on the partition id like edge_build's cut: a window with no
    key logs "No Partition Defined" on every run."""
    plan = executed_plan(spark, "graph_ktruss_edge_support", sf_dir)
    (win,) = [ln for ln in plan.splitlines() if "Window [sum(n_edges" in ln]
    # Window [functions], [partition spec], [order spec]
    assert re.search(r"\], \[[^\]]+\], \[[^\]]+\]$", win), win
    assert plan.count("Exchange SinglePartition") == 1, plan[:3000]


WEDGE_QUERIES = {
    "graph_triangle_count": "edge_build",
    "graph_link_prediction": "edge_build",
    "graph_local_clustering_coeff": "edge_build",
    "graph_adamic_adar_topk": "edge_build",
    "graph_label_propagation_2round": "edge_build",
    "graph_ktruss_edge_support": "edge_build",
    "graph_hits_fixed_iter": "posting_lists",
}


def test_wedge_queries_use_the_shared_edge_build(spark, sf_dir, monkeypatch):
    """Every wedge-family query builds its graph through exactly one
    call of graph.edge_build (or, for HITS, graph.posting_lists) —
    a private copy of the edge build in any caller fails here."""
    from etl_data_ingestion_spark.operators import graph

    calls = []
    for name in ("edge_build", "posting_lists"):
        real = getattr(graph, name)

        def counting(*args, _name=name, _real=real, **kwargs):
            calls.append(_name)
            return _real(*args, **kwargs)

        monkeypatch.setattr(graph, name, counting)
    for query, helper in WEDGE_QUERIES.items():
        calls.clear()
        registry.QUERIES[query](spark, sf_dir)
        # edge_build reads the posting lists once itself
        expected = (
            ["edge_build", "posting_lists"]
            if helper == "edge_build"
            else ["posting_lists"]
        )
        assert calls == expected, (query, calls)


# Spark jobs per run at sf0.001 (second run, so first-read jobs are
# not counted). At sf0.001 the registry plans each query statically on
# one partition (catalog.small_input_session), so a chain of stages
# runs as one job; the edge_build checkpoint is one eager job of each.
WEDGE_JOBS = {
    "graph_triangle_count": 5,
    "graph_link_prediction": 5,
    "graph_local_clustering_coeff": 3,
    "graph_adamic_adar_topk": 5,
    "graph_label_propagation_2round": 5,
    "graph_ktruss_edge_support": 4,
}


@pytest.mark.usefixtures("no_persisted")
def test_wedge_jobs_per_query(spark, sf_dir):
    """Each edge_build caller runs a fixed number of Spark jobs, counted
    by registry.run on its second run (the first reads schemas): an
    eager job that slips into the edge build or a caller, or a planned
    broadcast that turns back into a shuffle join, changes a count and
    fails here."""
    jobs = {}
    for query in WEDGE_JOBS:
        registry.run(spark, query, sf_dir, methodcaller("collect"))
        jobs[query] = registry.run(spark, query, sf_dir, methodcaller("collect")).jobs
    assert jobs == WEDGE_JOBS


KMEANS_QUERIES = {
    "similarity_ivf_topk": "float32",
    "similarity_index_persist_reuse": "float32",
    "dedup_semantic_clusters": "float64",
}


def test_kmeans_queries_use_the_shared_lloyd_and_assignment_udf(
    spark, sf_dir, monkeypatch
):
    """Every driver-side k-means query trains through exactly one call
    of similarity.lloyd and assigns through exactly one
    similarity.nearest_centroid_udf, with centroids in the dtype its
    corpus is assigned in — a private copy in any caller fails here."""
    import numpy as np

    from etl_data_ingestion_spark.operators import similarity

    calls = []
    real_lloyd = similarity.lloyd
    real_udf = similarity.nearest_centroid_udf

    def lloyd(*args, **kwargs):
        calls.append("lloyd")
        return real_lloyd(*args, **kwargs)

    def nearest_centroid_udf(cents):
        calls.append(("nearest_centroid_udf", cents.dtype))
        return real_udf(cents)

    monkeypatch.setattr(similarity, "lloyd", lloyd)
    monkeypatch.setattr(similarity, "nearest_centroid_udf", nearest_centroid_udf)
    for query, dtype in KMEANS_QUERIES.items():
        calls.clear()
        registry.QUERIES[query](spark, sf_dir)
        expected = ["lloyd", ("nearest_centroid_udf", np.dtype(dtype))]
        assert calls == expected, (query, calls)
