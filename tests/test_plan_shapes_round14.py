"""Plan-shape pins for the round-14 keeps (same pattern as the
round-10..13 plan-shape tests: pin the MEASURED-better physical form
so a refactor can't silently regress it)."""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from etl_data_ingestion_spark.plans import registry

from tests.helpers import executed_plan

registry.load_all()


def test_fd_profile_uses_single_exchange_collect_set(spark, sf_dir):
    """The r14 keep: each of the four FDs profiles via
    size(collect_set(RHS)) — ONE LHS-keyed exchange with map-side
    partial sets — not count_distinct's two-level rewrite (an extra
    (LHS,RHS)-keyed exchange per FD; measured sf1 3.29 vs 1.94s,
    interleaved A/B)."""
    plan = executed_plan(
        spark, "quality_functional_dependencies", sf_dir
    )
    assert plan.count("collect_set") >= 4, plan[:3000]
    assert "count(distinct" not in plan.lower(), plan[:3000]


def test_item_cf_plan_carries_packed_key_guard(spark, sf_dir):
    """The r14 advisor fix: the packed pair key's 2^31 bound is
    ENFORCED in-plan via raise_error (an out-of-range corpus fails
    the job instead of silently corrupting co-occurrence counts).
    The guard must survive optimization into the executed plan."""
    plan = executed_plan(spark, "ml_item_item_cf", sf_dir)
    assert "raise_error" in plan, plan[:3000]
    spark.catalog.clearCache()


def test_threshold_curve_aggs_coalesce_to_zero(spark, sf_dir):
    """The r14 advisor fix: the two conditional aggregations over
    the scored pair relation coalesce to 0 (a global agg over an
    EMPTY relation yields NULL sums; the oracle emits 0). All 15
    aggregate outputs must carry the coalesce (pinned on the
    OPTIMIZED plan — the executed-plan printer elides aggregate
    expression trees)."""
    df = registry.QUERIES["pipeline_dedup_threshold_curve"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("coalesce") >= 15, plan[:3000]
    spark.catalog.clearCache()


def test_simhash_expr_form_plan_equals_column_form(spark, sf_dir):
    """The r14 construction keep: the F.expr-string build of the
    64-bit simhash core must produce the SAME optimized plan as the
    Column-API tree it replaced (IDs normalized) — the conversion
    is construction-cost-only by definition, and this pin is what
    makes 'values identical' a structural fact rather than a
    fixture accident."""
    from etl_data_ingestion_spark.catalog import load_table
    from etl_data_ingestion_spark.operators.dedup import (
        _simhash_fingerprints,
    )

    corpus = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    new = _simhash_fingerprints(corpus)
    toks = corpus.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    fp = None
    for i in range(64):
        bit = (
            F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseXOR(term)
    old = votes.select("doc_id", fp.alias("simhash"))

    def norm(df):
        s = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+", "#x", s)

    assert norm(new) == norm(old)


def test_mmd_divisor_is_sequential(spark):
    """The r14 advisor fix: the MMD drift chain divides by
    (n_all - n) twice SEQUENTIALLY, matching the oracle's chain
    ulp-for-ulp; the product form ((n_all-n)*(n_all-n)) can differ
    in the last ulp and flip the 1e-6 snap."""
    import inspect

    from etl_data_ingestion_spark.operators import similarity as sim

    src = inspect.getsource(sim.similarity_label_mmd_drift)
    assert "/ (n_all_d - n_d)\n" in src or src.count(
        "/ (n_all_d - n_d)"
    ) >= 2, "sequential division chain missing"
    assert "(n_all_d - n_d) * (n_all_d - n_d)" not in src
