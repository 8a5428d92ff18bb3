"""Wave-3 operator tests: independent pure-Python/numpy
recomputation of each new statistic on collected fixture data — the
third opinion on top of the DuckDB parity gate (two SQL engines can
share a misreading of the spec; a from-scratch Python implementation
cannot share their plan).
"""

from __future__ import annotations

import math
import re

from etl_data_ingestion_spark.plans import registry

from tests.helpers import q

registry.load_all()


def test_mcnemar_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("event_type", "value", "hour(ts) AS h")
        .collect()
    )
    b = c = 0
    for r in rows:
        y = r.event_type == "purchase"
        pa = r.value >= 50
        pb = r.h >= 12
        if pa == y and pb != y:
            b += 1
        if pa != y and pb == y:
            c += 1
    got = q("ml_mcnemar_test", spark, sf_dir).collect()[0]
    assert got.a_only_ok == b and got.b_only_ok == c
    expect = (abs(b - c) - 1.0) ** 2 / (b + c)
    assert abs(got.mcnemar_chi2 - expect) < 2e-6


def test_log_loss_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("event_type", "value")
        .where("value IS NOT NULL AND value >= 0")
        .collect()
    )
    total = 0
    for r in rows:
        p = r.value / (r.value + 50.0)
        y = r.event_type == "purchase"
        loss = -math.log(max(p, 1e-6)) if y else -math.log(max(1 - p, 1e-6))
        total += math.floor(loss * 1e6 + 0.5)
    got = q("ml_log_loss", spark, sf_dir).collect()[0]
    assert got.n_rows == len(rows)
    assert abs(got.mean_log_loss - total / len(rows) / 1e6) < 2e-6


def test_kendall_tau_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_orderdate AS d", "o_totalprice AS p")
        .collect()
    )
    daily = {}
    for r in rows:
        n, cents = daily.get(r.d, (0, 0))
        daily[r.d] = (n + 1, cents + math.floor(r.p * 100 + 0.5))
    vals = [daily[k] for k in sorted(daily)]
    n = len(vals)
    conc = disc = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = vals[i][0] - vals[j][0]
            dy = vals[i][1] - vals[j][1]
            if dx * dy > 0:
                conc += 1
            elif dx * dy < 0:
                disc += 1
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
    n0 = n * (n - 1) // 2
    got = q("ml_kendall_tau_daily", spark, sf_dir).collect()[0]
    assert (got.concordant, got.discordant) == (conc, disc)
    assert (got.ties_x, got.ties_y) == (tx, ty)
    expect = (conc - disc) / math.sqrt((n0 - tx) * (n0 - ty))
    assert abs(got.kendall_tau_b - expect) < 2e-6


def test_mutual_information_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_orderpriority AS x", "o_orderstatus AS y")
        .collect()
    )
    from collections import Counter

    joint = Counter((r.x, r.y) for r in rows)
    mx = Counter(r.x for r in rows)
    my = Counter(r.y for r in rows)
    n = len(rows)
    mi = sum(
        math.floor(
            (c / n) * math.log(c * n / (mx[x] * my[y])) * 1e8 + 0.5
        )
        for (x, y), c in joint.items()
    )
    hx = sum(
        math.floor(-(c / n) * math.log(c / n) * 1e8 + 0.5) for c in mx.values()
    )
    got = q("agg_mutual_information", spark, sf_dir).collect()[0]
    assert got.n_cells == len(joint)
    assert abs(got.mutual_info_nats - mi / 1e8) < 2e-6
    assert abs(got.entropy_priority - hx / 1e8) < 2e-6
    # MI is bounded by both marginal entropies
    assert 0 <= got.normalized_mi <= 1.0 + 1e-9


def test_flesch_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr("source", "text")
        .where("length(trim(text)) > 0")
        .collect()
    )
    agg = {}
    for r in rows:
        w = len(re.split(r"\s+", r.text.strip()))
        s = max(len(re.findall(r"[.!?]+", r.text)), 1)
        y = len(re.findall(r"[aeiouy]+", r.text.lower()))
        d, tw, ts, tsy = agg.get(r.source, (0, 0, 0, 0))
        agg[r.source] = (d + 1, tw + w, ts + s, tsy + y)
    got = {r.source: r for r in q("text_readability_flesch", spark, sf_dir).collect()}
    assert set(got) == set(agg)
    for src, (d, tw, ts, tsy) in agg.items():
        g = got[src]
        assert (g.n_docs, g.total_words, g.total_syllables) == (d, tw, tsy)
        expect = 206.835 - 1.015 * (tw / ts) - 84.6 * (tsy / tw)
        assert abs(g.flesch_reading_ease - expect) < 2e-4


def test_rake_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr("text")
        .where("length(trim(text)) > 0")
        .collect()
    )
    stop = (
        "the|a|of|and|to|in|is|it|for|on|with|as|by|at|or|be|this|that|are|was"
    )
    occ = []
    for r in rows:
        s = re.sub(r"[^a-z]+", " ", r.text.lower())
        s = re.sub(rf"\b({stop})\b", "|", s)
        for p in s.split("|"):
            p = p.strip()
            if p and 1 <= len(re.split(r" +", p)) <= 3:
                occ.append(p)
    from collections import Counter

    freq: Counter = Counter()
    degree: Counter = Counter()
    for p in occ:
        ws = re.split(r" +", p)
        for w in ws:
            freq[w] += 1
            degree[w] += len(ws)
    score = {w: math.floor(degree[w] * 1e6 / freq[w]) for w in freq}
    n_occ = Counter(occ)
    pscore = {
        p: sum(score[w] for w in re.split(r" +", p)) for p in n_occ
    }
    top = sorted(
        pscore, key=lambda p: (-pscore[p], -n_occ[p], p)
    )[:15]
    got = q("text_rake_keywords", spark, sf_dir).collect()
    assert [r.phrase for r in got] == top
    for r in got:
        assert r.score_micro == pscore[r.phrase]
        assert r.n_occ == n_occ[r.phrase]


def test_sax_matches_python(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr(
            "dayofyear(o_orderdate) AS doy", "o_totalprice AS p"
        )
        .where("year(o_orderdate) = 1996")
        .collect()
    )
    daily = {}
    for r in rows:
        n, cents = daily.get(r.doy, (0, 0))
        daily[r.doy] = (n + 1, cents + math.floor(r.p * 100 + 0.5))
    day_val = {
        doy: math.floor(cents / n + 0.5) for doy, (n, cents) in daily.items()
    }
    seg: dict = {}
    for doy, v in day_val.items():
        s = (doy - 1) // 7
        seg.setdefault(s, []).append(v)
    segv = {s: math.floor(sum(vs) / len(vs) + 0.5) for s, vs in seg.items()}
    vals = list(segv.values())
    n = len(vals)
    mean = sum(vals) / n
    sd = math.sqrt(sum(v * v for v in vals) / n - mean * mean)
    got = {r.segment: r for r in q("timeseries_sax_symbols", spark, sf_dir).collect()}
    assert set(got) == set(segv)
    for s, v in segv.items():
        g = got[s]
        assert g.seg_avg_cents == v
        z = (v - mean) / sd
        assert abs(g.z_score - z) < 2e-4
        sym = "a" if z < -0.6745 else "b" if z < 0 else "c" if z < 0.6745 else "d"
        assert g.sax_symbol == sym


def test_bitwise_matches_python(spark, sf_dir):
    got = q("scalar_bitwise_funcs", spark, sf_dir).collect()
    assert got, "predicate o_orderkey <= 2048 matched no rows"
    for r in got[:200]:
        k = r.o_orderkey
        assert r.low_byte == k & 255
        assert r.with_flag == k | 4096
        assert r.shifted_left == (k & 15) << 2
        assert r.shifted_right == k >> 3
        assert r.popcount == bin(k).count("1")
        assert r.clear_lowest == k & (k - 1)


def test_degree_distribution_matches_python(spark, sf_dir):
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr("l_orderkey", "l_suppkey")
        .collect()
    )
    orders = {
        r.o_orderkey: r.o_custkey
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_orderkey", "o_custkey")
        .collect()
    }
    edges = {(orders[r.l_orderkey], r.l_suppkey) for r in li if r.l_orderkey in orders}
    from collections import Counter

    deg = Counter(c for c, _ in edges)
    hist = Counter(deg.values())
    got = {r.degree: r.n_customers for r in q("graph_degree_distribution", spark, sf_dir).collect()}
    assert got == dict(hist)
