"""Round-14 device tests for the advisor fixes and the FD-profile
rework.

- pipeline_dedup_threshold_curve on a corpus whose scored-pair
  relation is EMPTY must return five rows of ZEROS, not NULLs (the
  r13 fusion dropped the oracle's coalesce-to-zero; a global agg
  over an empty relation yields one row of NULL sums).
- ml_item_item_cf's packed pair key (shiftleft(pa,32)+pb) now FAILS
  LOUDLY on a partkey outside [0, 2^31) instead of silently bleeding
  pb's overflow into pa's bits and returning wrong co-occurrence
  counts.
- quality_functional_dependencies' collect_set form agrees with the
  count_distinct form it replaced (same groups/violations/variants
  on the fixture).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_data_ingestion_spark.plans import registry

registry.load_all()


def _write_documents(spark, out_dir, rows):
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(out_dir / "documents.parquet")
    )


def test_threshold_curve_empty_pairs_yields_zeros(spark, tmp_path):
    # two docs with no shared 3-grams -> pair relation (and the
    # persisted scored relation) is empty; every threshold row must
    # carry 0, matching the oracle's COALESCE(..., 0)
    _write_documents(
        spark,
        tmp_path,
        [
            (1, "web", "alpha beta gamma delta epsilon zeta"),
            (2, "web", "one two three four five six seven"),
        ],
    )
    rows = registry.QUERIES["pipeline_dedup_threshold_curve"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_pairs == 0, r
        assert r.n_docs_removed == 0, r
        assert r.chars_saved == 0, r


def test_item_cf_packed_key_guard_raises(spark, tmp_path):
    # a partkey at 2^31 would bleed into pa's bits under the 64-bit
    # pack; the raise_error guard must fail the job loudly
    li = spark.createDataFrame(
        [
            (1, 1, 2147483648, 1),
            (1, 2, 7, 1),
            (2, 1, 2147483648, 1),
            (2, 2, 7, 1),
        ],
        "l_orderkey long, l_linenumber long, l_partkey long, l_suppkey long",
    )
    li.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    with pytest.raises(Exception, match="l_partkey outside"):
        registry.QUERIES["ml_item_item_cf"](spark, str(tmp_path)).collect()


def test_item_cf_guard_passes_in_range(spark, sf_dir):
    # fixture partkeys are in range: the guarded plan still answers
    rows = registry.QUERIES["ml_item_item_cf"](spark, sf_dir).collect()
    assert len(rows) > 0


def test_simhash_expr_form_matches_column_api(spark, sf_dir):
    # r14 construction-cost conversion: the F.expr-string form of
    # _simhash_fingerprints must produce bit-identical fingerprints
    # to the original Column-API tree (same SQL semantics)
    from etl_data_ingestion_spark.catalog import load_table
    from etl_data_ingestion_spark.operators.dedup import (
        _simhash_fingerprints,
    )

    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = {
        r.doc_id: r.simhash
        for r in _simhash_fingerprints(corpus).collect()
    }
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
    want = {
        r.doc_id: r.simhash
        for r in votes.select("doc_id", fp.alias("simhash")).collect()
    }
    assert got == want


def test_fd_profile_collect_set_matches_count_distinct(spark, sf_dir):
    from etl_data_ingestion_spark.catalog import load_table

    got = {
        r.fd: (r.n_groups, r.n_violations, r.max_rhs_variants, r.holds)
        for r in registry.QUERIES["quality_functional_dependencies"](
            spark, sf_dir
        ).collect()
    }
    assert len(got) == 4
    for name, (tbl, lhs, rhs) in {
        "o_orderkey->o_custkey": ("orders", ["o_orderkey"], "o_custkey"),
        "l_orderkey->l_suppkey": ("lineitem", ["l_orderkey"], "l_suppkey"),
        "o_custkey->o_orderpriority": (
            "orders", ["o_custkey"], "o_orderpriority",
        ),
        "l_orderkey,l_linenumber->l_partkey": (
            "lineitem", ["l_orderkey", "l_linenumber"], "l_partkey",
        ),
    }.items():
        df = load_table(spark, sf_dir, tbl)
        ref = (
            df.groupBy(*lhs)
            .agg(F.count_distinct(F.col(rhs)).alias("v"))
            .agg(
                F.count(F.lit(1)).alias("g"),
                F.sum(F.when(F.col("v") > 1, 1).otherwise(0)).alias("viol"),
                F.max("v").alias("mx"),
            )
            .collect()[0]
        )
        assert got[name][0] == ref.g, name
        assert got[name][1] == ref.viol, name
        assert got[name][2] == ref.mx, name
        assert got[name][3] == (1 if ref.viol == 0 else 0), name
