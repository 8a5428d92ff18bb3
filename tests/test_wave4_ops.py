"""Wave-4 operator tests: pure-Python third opinions (the wave-3
pattern) for Kneser-Ney scoring, Bollinger bands, ABC classes,
source-cap sampling, k-core peeling, and ECE.
"""

from __future__ import annotations

import math
import re
from collections import Counter

from etl_data_ingestion_spark.plans import registry

from tests.helpers import q

registry.load_all()


def test_kneser_ney_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr("doc_id", "text")
        .where("length(trim(text)) > 0")
        .collect()
    )
    c2: Counter = Counter()
    doc_bigrams = {}
    for r in rows:
        ts = re.split(r"\s+", r.text.strip())
        bgs = list(zip(ts, ts[1:]))
        if bgs:
            doc_bigrams[r.doc_id] = bgs
            c2.update(bgs)
    c1: Counter = Counter()
    t1: Counter = Counter()
    t2: Counter = Counter()
    for (w1, w2), c in c2.items():
        c1[w1] += c
        t1[w1] += 1
        t2[w2] += 1
    bb = len(c2)
    got = {r.doc_id: r for r in q("text_kneser_ney_bigram", spark, sf_dir).collect()}
    assert set(got) == set(doc_bigrams)
    for doc, bgs in doc_bigrams.items():
        total = 0
        for w1, w2 in bgs:
            p = max(c2[(w1, w2)] - 0.75, 0.0) / c1[w1] + (
                0.75 * t1[w1] / c1[w1]
            ) * (t2[w2] / bb)
            total += math.floor(-math.log2(p) * 1e6 + 0.5)
        g = got[doc]
        assert g.n_bigrams == len(bgs)
        assert abs(g.avg_neg_log2_kn - total / len(bgs) / 1e6) < 2e-6
    # KN must not blow up on rare continuations the way add-one does:
    # every probability is strictly positive and <= 1
    assert all(g.avg_neg_log2_kn > 0 for g in got.values())


def _daily_avg_cents(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_orderdate AS d", "o_totalprice AS p")
        .collect()
    )
    daily = {}
    for r in rows:
        n, cents = daily.get(r.d, (0, 0))
        daily[r.d] = (n + 1, cents + math.floor(r.p * 100 + 0.5))
    return {d: math.floor(c / n + 0.5) for d, (n, c) in daily.items()}


def test_bollinger_matches_python(spark, sf_dir):
    day_val = _daily_avg_cents(spark, sf_dir)
    days = sorted(day_val)
    vals = [day_val[d] for d in days]
    got = {r.day: r for r in q("timeseries_bollinger_bands", spark, sf_dir).collect()}
    assert len(got) == len(days) - 20
    for i in range(20, len(days)):
        w = vals[i - 20 : i + 1]
        mid = sum(w) / 21
        sd = math.sqrt(sum(v * v for v in w) / 21 - mid * mid)
        key = days[i].strftime("%Y-%m-%d")
        g = got[key]
        assert g.day_cents == vals[i]
        assert abs(g.mid - mid) < 0.011
        assert abs(g.upper_band - (mid + 2 * sd)) < 0.011
        band = (
            "above" if vals[i] > mid + 2 * sd
            else "below" if vals[i] < mid - 2 * sd
            else "inside"
        )
        assert g.band == band


def test_abc_classes_are_consistent(spark, sf_dir):
    rows = q("agg_abc_classification", spark, sf_dir).collect()
    tot = sum(r.rev_cents for r in rows)
    cum = 0
    for r in rows:  # already sorted desc
        cum += r.rev_cents
        share = cum / tot
        assert abs(r.cum_share - share) < 2e-6
        expect = "A" if share <= 0.70 else "B" if share <= 0.90 else "C"
        assert r.abc_class == expect
    assert abs(cum / tot - 1.0) < 1e-12


def test_source_cap_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr("source", "n_chars", "doc_id")
        .collect()
    )
    total = len(rows)
    cap = math.floor((total + 19) / 20.0)
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append((-r.n_chars, r.doc_id))
    got = {r.source: r for r in q("pipeline_source_cap_sample", spark, sf_dir).collect()}
    assert set(got) == set(by_src)
    for src, docs in by_src.items():
        docs.sort()
        kept = docs[:cap]
        g = got[src]
        assert g.cap == cap
        assert g.n_docs == len(docs)
        assert g.n_kept == min(len(docs), cap)
        assert g.min_kept_chars == min(-neg for neg, _ in kept)


def test_kcore_peel_matches_python(spark, sf_dir):
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr("l_orderkey", "l_suppkey")
        .collect()
    )
    cust = {
        r.o_orderkey: r.o_custkey
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_orderkey", "o_custkey")
        .collect()
    }
    edges = {
        (cust[r.l_orderkey], -r.l_suppkey) for r in li if r.l_orderkey in cust
    }
    got = {r.iteration: r for r in q("graph_kcore_peel", spark, sf_dir).collect()}

    def deg(es):
        d: Counter = Counter()
        for u, v in es:
            d[u] += 1
            d[v] += 1
        return d

    d = deg(edges)
    assert (got[0].n_nodes, got[0].n_edges) == (len(d), len(edges))
    e = edges
    for it in (1, 2, 3):
        active = {n for n, k in d.items() if k >= 3}
        e = {(u, v) for u, v in e if u in active and v in active}
        assert (got[it].n_nodes, got[it].n_edges) == (len(active), len(e))
        d = deg(e)
    # peeling must be monotone
    assert got[0].n_edges >= got[1].n_edges >= got[2].n_edges >= got[3].n_edges


def test_ece_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("event_type", "value")
        .collect()
    )
    bins: dict = {}
    for r in rows:
        p = 1.0 / (1.0 + math.exp(-(r.value - 250.0) / 50.0))
        pm = math.floor(p * 1e6 + 0.5)
        b = min(pm // 100000, 9)
        n, sp, sy = bins.get(b, (0, 0, 0))
        bins[b] = (n + 1, sp + pm, sy + (r.event_type == "purchase"))
    nn = sum(n for n, _, _ in bins.values())
    ece_nano = 0
    max_gap = 0
    for n, sp, sy in bins.values():
        gap = abs(sp / n / 1e6 - sy / n)
        ece_nano += math.floor((n / nn) * gap * 1e9 + 0.5)
        max_gap = max(max_gap, math.floor(gap * 1e6 + 0.5))
    got = q("ml_expected_calibration_error", spark, sf_dir).collect()[0]
    assert got.n_bins_used == len(bins)
    assert abs(got.ece - ece_nano / 1e9) < 2e-6
    assert abs(got.max_bin_gap - max_gap / 1e6) < 2e-6
