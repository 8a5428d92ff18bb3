"""Round-3 operator tests: Gopher quality rules, repetition stats,
semantic dedup, ORC roundtrip, and the q9/q11/q17 TPC-H additions —
exact Python recomputation where the semantics are per-document, shape
and contract invariants elsewhere."""

from __future__ import annotations

import re

from etl_data_ingestion_spark.plans import registry

from tests.helpers import q, round4

registry.load_all()


STOPWORDS = {"the", "a", "of", "and", "to", "in"}


def _gopher_metrics(text: str):
    ts = re.split(r"\s+", text.strip())
    n = len(ts)
    mean_wl = round4(len(text.replace(" ", "")) / n)
    n_stop = sum(t in STOPWORDS for t in ts)
    alpha = round4(sum(bool(re.fullmatch("[a-z]+", t)) for t in ts) / n)
    return n, mean_wl, n_stop, alpha


def test_gopher_rules_match_python_recompute(spark, sf_dir):
    """Every emitted metric and the final gate must equal a direct
    Python recomputation of the published rule definitions."""
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    rows = q("text_gopher_quality_rules", spark, sf_dir).collect()
    assert len(rows) == len(docs)
    for r in rows:
        n, mean_wl, n_stop, alpha = _gopher_metrics(docs[r.doc_id])
        assert (r.n_words, r.n_stop) == (n, n_stop)
        assert abs(r.mean_word_len - mean_wl) < 1e-9
        assert abs(r.alpha_word_frac - alpha) < 1e-9
        expect = (
            20 <= n <= 1000
            and 2.0 <= mean_wl <= 10.0
            and n_stop >= 2
            and alpha >= 0.8
        )
        assert r.gopher_pass == expect, r


def test_repetition_stats_match_python_recompute(spark, sf_dir):
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    rows = q("text_repetition_stats", spark, sf_dir).collect()
    checked = 0
    for r in rows:
        ts = re.split(r"\s+", docs[r.doc_id].strip())
        if len(ts) < 2:
            continue
        top = max(ts.count(t) for t in set(ts))
        grams = [f"{ts[i]} {ts[i+1]}" for i in range(len(ts) - 1)]
        assert abs(r.top_word_frac - round4(top / len(ts))) < 1e-9
        assert (
            abs(r.dup_2gram_frac - round4(1 - len(set(grams)) / len(grams)))
            < 1e-9
        )
        checked += 1
    assert checked == len(rows) > 0


def test_semantic_dedup_contract_holds(spark, sf_dir):
    """Planted perturbed copies must be recalled through the cluster
    bound and the keep-min rule must never drop a source."""
    row = q("dedup_semantic_clusters", spark, sf_dir).collect()[0]
    assert row.planted_total > 0
    assert row.recall_floor_ok
    assert row.keep_one_per_pair


def test_orc_roundtrip_matches_parquet(spark, sf_dir):
    """The ORC write/read must preserve every value the aggregate
    sees — compare against the same aggregate straight off parquet."""
    import pyspark.sql.functions as F

    got = {
        r.s_nationkey: (r.n_suppliers, r.total_bal)
        for r in q("scan_orc_roundtrip", spark, sf_dir).collect()
    }
    want = {
        r.s_nationkey: (r.n, round(r.bal, 2))
        for r in spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("s_acctbal"), 2).alias("bal"),
        )
        .collect()
    }
    assert got == want


def test_q11_descending_and_above_threshold(spark, sf_dir):
    rows = q("tpch_q11_important_stock", spark, sf_dir).collect()
    assert rows, "q11 must return at least one important part"
    vals = [r.part_value for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_q17_returns_single_scalar(spark, sf_dir):
    rows = q("tpch_q17_small_qty_revenue", spark, sf_dir).collect()
    assert len(rows) == 1
    assert rows[0].avg_yearly is None or rows[0].avg_yearly >= 0


def test_q9_year_is_long_and_sum_is_double(spark, sf_dir):
    """The round-3 dtype contract: o_year bigint (not int32), and the
    decimal-exact profit sum cast back to double — both must survive
    refactors or the driver's value-hash fails on dtype alone."""
    df = q("tpch_q9_product_type_profit", spark, sf_dir)
    dt = dict(df.dtypes)
    assert dt["o_year"] == "bigint"
    assert dt["sum_profit"] == "double"


def test_domain_mixture_weights_normalize(spark, sf_dir):
    """Weights and natural fractions each sum to ~1; sqrt scaling must
    up-weight below-average domains and down-weight above-average
    ones (upsample_factor crosses 1.0 in the right direction)."""
    rows = q("pipeline_domain_mixture_weights", spark, sf_dir).collect()
    assert len(rows) >= 2
    assert abs(sum(r.natural_frac for r in rows) - 1.0) < 0.01
    assert abs(sum(r.mixture_weight for r in rows) - 1.0) < 0.01
    mean_frac = 1.0 / len(rows)
    for r in rows:
        if r.natural_frac < mean_frac * 0.9:
            assert r.upsample_factor > 1.0, r
        if r.natural_frac > mean_frac * 1.1:
            assert r.upsample_factor < 1.0, r


def test_byte_entropy_matches_python(spark, sf_dir):
    """Entropy recomputed from the raw utf-8 bytes with math.log2
    must match to rounding, and bounds must hold:
    0 <= H <= log2(distinct bytes)."""
    import math
    from collections import Counter

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    rows = q("multimodal_byte_entropy", spark, sf_dir).collect()
    assert len(rows) == len(docs)
    for r in rows:
        data = docs[r.doc_id].encode("utf-8")
        counts = Counter(data)
        n = len(data)
        ent = -sum((c / n) * math.log2(c / n) for c in counts.values())
        assert r.n_bytes == n
        assert r.n_distinct_bytes == len(counts)
        assert abs(r.entropy_bits - round4(ent)) < 1e-9, r
        assert 0.0 <= r.entropy_bits <= math.log2(max(len(counts), 2))
        assert not r.looks_compressed  # ascii text sits near 4 bits


def test_late_data_accounting_counts_planted_stragglers(spark, sf_dir):
    """Only the planted end-of-stream stragglers can be late, and at
    least some must be (their event time is far behind the high-water
    mark when they arrive)."""
    rows = q("stream_late_data_accounting", spark, sf_dir).collect()
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    planted = events.filter("event_id % 97 = 0").count()
    total_late = sum(r.n_late for r in rows)
    assert 0 < total_late <= planted
    for r in rows:
        assert 0.0 <= r.late_frac < 0.05


def test_incremental_dedup_flags_exactly_planted(spark, sf_dir):
    """Every planted copy (doc_id + 2000000, identical text) must flag
    dup_of_index=True; every organic new doc must not (fixture texts
    are unique)."""
    rows = q("dedup_incremental_new_docs", spark, sf_dir).collect()
    flagged = {r.doc_id for r in rows if r.dup_of_index}
    planted = {r.doc_id for r in rows if r.doc_id >= 2000000}
    assert planted and flagged == planted


def test_multiset_setops_match_counter_arithmetic(spark, sf_dir):
    """intersectAll keeps min(count_l, count_r) per key; exceptAll
    keeps count_l - count_r (right side is a subset of the left by
    construction) — recompute both from raw Counters."""
    from collections import Counter

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    low = Counter(r.l_suppkey for r in li.filter("l_quantity < 10").collect())
    ret = Counter(r.l_suppkey for r in li.filter("l_returnflag = 'R'").collect())
    low_ret = Counter(
        r.l_suppkey
        for r in li.filter("l_quantity < 10 AND l_returnflag = 'R'").collect()
    )

    got_i = {
        r.l_suppkey: r.multiplicity
        for r in q("setop_intersect_all", spark, sf_dir).collect()
    }
    want_i = {
        k: min(low[k], ret[k]) for k in low if k in ret and min(low[k], ret[k]) > 0
    }
    assert got_i == want_i

    got_e = {
        r.l_suppkey: r.multiplicity
        for r in q("setop_except_all", spark, sf_dir).collect()
    }
    want_e = {k: low[k] - low_ret[k] for k in low if low[k] - low_ret[k] > 0}
    assert got_e == want_e
