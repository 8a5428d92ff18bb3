"""Invariant tests for the north-star extension operators (dedup,
similarity, curation) at sf0.001 — semantic properties the DuckDB
oracle can't express (the driver records rows-only checks for these)."""

from __future__ import annotations

from etl_data_ingestion_spark.plans import registry

from tests.helpers import q

registry.load_all()


def test_minhash_finds_all_injected_near_dups(spark, sf_dir):
    """Every injected perturbed copy (doc_id+1000000, ' tiny edit')
    must surface as a candidate pair with its original — recall=1.0 on
    the planted set is the property that makes LSH dedup trustworthy."""
    pairs = {
        (r.doc_a, r.doc_b)
        for r in q("dedup_minhash_lsh", spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = {
        (r.doc_id, r.doc_id + 1000000)
        for r in docs.filter("doc_id % 10 = 0 AND length(trim(text)) >= 5").collect()
    }
    assert planted, "fixture must plant dups"
    missing = planted - pairs
    assert not missing, f"LSH missed planted near-dups: {sorted(missing)[:5]}"


def test_exact_dedup_conserves_corpus(spark, sf_dir):
    """Σ(group_size × n_groups) == |corpus| — the histogram accounts
    for every row exactly once."""
    hist = q("dedup_exact_documents", spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus_size = docs.count() + docs.filter("doc_id % 10 = 0").count()
    assert sum(r.text_group_size * r.n_groups for r in hist) == corpus_size


def test_bruteforce_topk_shape_and_order(spark, sf_dir):
    rows = q("similarity_topk_bruteforce", spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q_id, rs in by_q.items():
        rnks = [r.rnk for r in rs]
        assert rnks == list(range(1, len(rs) + 1))
        sims = [r.cos_sim for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0 <= s <= 1.0 for s in sims)
        assert all(r.vec_id != q_id for r in rs)  # self excluded


def test_cluster_components_transitive(spark, sf_dir):
    """Cluster representative must be ≤ every pair endpoint it covers,
    and cluster sizes must be ≥ 2 (singletons filtered)."""
    clusters = q("dedup_cluster_components", spark, sf_dir).collect()
    for r in clusters:
        assert r.cluster_size >= 2
    pairs = q("dedup_minhash_lsh", spark, sf_dir).collect()
    reps = {r.cluster_rep for r in clusters}
    nodes_in_pairs = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    assert reps <= nodes_in_pairs


def test_curation_keeps_subset(spark, sf_dir):
    row = q("pipeline_training_data_curation", spark, sf_dir).collect()[0]
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert 0 < row.docs_kept <= n_docs
    assert row.total_tokens >= row.docs_kept * 20  # length gate floor


def test_connected_components_converges_past_fixed_cap(spark):
    """The label-propagation loop is convergence-checked, not
    iteration-capped: a diameter-8 chain (longer than the old 4-round
    cap) must still collapse to one component with the min-node label."""
    import pyspark.sql.functions as F

    from etl_data_ingestion_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 108)], "doc_a long, doc_b long"
    )
    labels = connected_components(chain)
    got = {(r.node, r.label) for r in labels.collect()}
    assert got == {(n, 100) for n in range(100, 109)}

    # two disjoint cliques stay separate
    cliques = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11)], "doc_a long, doc_b long"
    )
    by_label = (
        connected_components(cliques)
        .groupBy("label")
        .agg(F.collect_set("node").alias("nodes"))
        .collect()
    )
    comp = {r.label: sorted(r.nodes) for r in by_label}
    assert comp == {1: [1, 2, 3], 10: [10, 11]}


def test_simhash_banded_recovers_perturbed_copies(spark, sf_dir):
    """The banded multi-probe tier must recover planted 1-token
    perturbations (hamming <= 4 here) above the 97% contract floor —
    the recall the exact-bucket variant cannot provide for nonzero
    hamming."""
    row = q("dedup_simhash_banded", spark, sf_dir).collect()[0]
    assert row.planted_total > 0
    assert row.recall_floor_ok
