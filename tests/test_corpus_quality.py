"""Discrimination tests for the corpus-quality batch: corpus-level
repeated-line removal, Zipf fit sanity, PSI drift sensitivity, and
URL canonicalization collapse rules."""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_repeated_lines_drops_cross_doc_boilerplate(spark):
    # Re-run the operator's own pipeline pieces on a planted corpus:
    # the 3-token line "nav foo bar" appears in 3 docs (dropped), the
    # line "rare one two" in 2 docs (kept).
    import etl_data_ingestion_spark.operators.corpus as corpus_mod

    docs = spark.createDataFrame(
        [
            (1, "nav foo bar aaa bbb ccc"),
            (2, "nav foo bar ddd eee fff"),
            (3, "nav foo bar rare one two"),
            (4, "rare one two ggg hhh iii"),
        ],
        "doc_id long, text string",
    )

    # monkeypatch-free: call the registered query against a temp dir
    # by recreating its logic on the planted frame
    ts = F.split(F.trim(F.col("text")), r"\s+")
    n_lines = F.ceil(F.size(ts) / F.lit(3.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(ts, i * 3 + 1, 3), " "),
    )
    ex = docs.select("doc_id", F.posexplode(lines).alias("idx", "line"))
    cnt = ex.groupBy("line").agg(F.count_distinct("doc_id").alias("ndocs"))
    kept = ex.join(cnt, "line").filter(F.col("ndocs") < 3)
    kept_lines = {(r.doc_id, r.line) for r in kept.collect()}
    assert (1, "nav foo bar") not in kept_lines
    assert (3, "rare one two") in kept_lines
    assert (4, "rare one two") in kept_lines


def test_zipf_slope_fixture(spark, sf_dir):
    row = registry.QUERIES["text_zipf_slope"](spark, sf_dir).collect()[0]
    assert row.n_terms <= 30 and row.n_terms > 0
    assert row.zipf_slope < 0  # frequency decreases with rank
    assert 0.0 <= row.fit_r2 <= 1.0


def test_psi_drift_fixture_and_flag_semantics(spark, sf_dir):
    rows = registry.QUERIES["quality_psi_drift"](spark, sf_dir).collect()
    assert rows, "no event types"
    for r in rows:
        # PSI is nonnegative by construction (sum of (p-q)ln(p/q))
        assert r.psi >= 0
        assert r.drift_flag == (r.psi > 0.2)


def test_url_canonical_collapses_variants(spark, sf_dir):
    df = registry.QUERIES["dedup_url_canonical"](spark, sf_dir)
    rows = df.collect()
    assert rows, "no duplicate groups found"
    for r in rows:
        u = r.canonical_url
        assert "utm_" not in u
        assert "#" not in u
        assert "://www." not in u
        assert ":443" not in u
        assert u == u.lower()
        assert r.n_variants > 1
