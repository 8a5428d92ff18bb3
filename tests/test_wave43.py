"""Device tests for the wave-43 operators: independent brute-force
recomputation on the sf0.001 fixture."""

from __future__ import annotations

import math
from collections import defaultdict

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def _daily_weekend(spark, sf_dir):
    import datetime

    events = load_table(spark, sf_dir, "events").select("ts", "value").collect()
    day = defaultdict(float)
    for r in events:
        day[r.ts.date()] += r.value
    out = []
    for d, v in day.items():
        we = 1 if d.weekday() >= 5 else 0
        out.append((we, math.floor(v * 100 + 0.5)))
    return out


def test_cohens_d_matches_bruteforce(spark, sf_dir):
    daily = _daily_weekend(spark, sf_dir)
    g0 = [y for we, y in daily if we == 0]
    g1 = [y for we, y in daily if we == 1]
    n0, n1 = len(g0), len(g1)
    m0, m1 = sum(g0) / n0, sum(g1) / n1
    ss0 = sum(y * y for y in g0) - sum(g0) ** 2 / n0
    ss1 = sum(y * y for y in g1) - sum(g1) ** 2 / n1
    d = (m1 - m0) / math.sqrt((ss0 + ss1) / (n0 + n1 - 2))
    g = d * (1.0 - 3.0 / (4.0 * (n0 + n1) - 9.0))
    row = registry.QUERIES["agg_cohens_d_weekend"](spark, sf_dir).collect()[0]
    assert row.n_weekday == n0 and row.n_weekend == n1
    assert abs(row.cohens_d - math.floor(d * 1e6 + 0.5) / 1e6) < 2e-6
    assert abs(row.hedges_g - math.floor(g * 1e6 + 0.5) / 1e6) < 2e-6


def test_chow_matches_bruteforce(spark, sf_dir):
    import datetime

    events = load_table(spark, sf_dir, "events").select("ts", "value").collect()
    day = defaultdict(float)
    for r in events:
        day[r.ts.date()] += r.value
    ys = [math.floor(v * 100 + 0.5) for _, v in sorted(day.items())]
    k = len(ys)
    pts = [(t + 1, y) for t, y in enumerate(ys)]

    def ssr(seg):
        n = len(seg)
        st = sum(t for t, _ in seg)
        sy = sum(y for _, y in seg)
        stt = sum(t * t for t, _ in seg)
        sty = sum(t * y for t, y in seg)
        syy = sum(y * y for _, y in seg)
        sty_c = sty - st * sy / n
        return (syy - sy * sy / n) - sty_c * sty_c / (stt - st * st / n)

    pre = [p for p in pts if p[0] * 2 <= k]
    post = [p for p in pts if p[0] * 2 > k]
    s01 = ssr(pre) + ssr(post)
    f = ((ssr(pts) - s01) / 2) / (s01 / (k - 4))
    row = registry.QUERIES["agg_chow_break_daily"](spark, sf_dir).collect()[0]
    assert row.n_pre == len(pre) and row.n_post == len(post)
    assert abs(row.chow_f - math.floor(f * 1e6 + 0.5) / 1e6) < 2e-6


def test_breusch_pagan_matches_bruteforce(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).collect()
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey").collect()
    cnt = defaultdict(int)
    for r in li:
        cnt[r.l_orderkey] += 1
    xy = [
        (cnt[r.o_orderkey], math.floor(r.o_totalprice * 100 + 0.5))
        for r in orders
        if r.o_orderkey in cnt
    ]
    n = len(xy)
    sx = sum(x for x, _ in xy)
    sy = sum(y for _, y in xy)
    sxx = sum(x * x for x, _ in xy)
    sxy = sum(x * y for x, y in xy)
    b = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    a = sy / n - b * (sx / n)
    e2s = [(x, math.floor((y - a - b * x) ** 2 + 0.5)) for x, y in xy]
    se2 = sum(e for _, e in e2s)
    sxe2 = sum(x * e for x, e in e2s)
    se2e2 = sum(e * e for _, e in e2s)
    c = sxe2 - sx * se2 / n
    lm = c * c / ((sxx - sx * sx / n) * (se2e2 - se2 * se2 / n)) * n
    row = registry.QUERIES["agg_breusch_pagan_order_size"](
        spark, sf_dir
    ).collect()[0]
    assert row.n_orders == n
    assert abs(row.lm_koenker - math.floor(lm * 1e6 + 0.5) / 1e6) < 2e-6


def test_ngram_diversity_matches_bruteforce(spark, sf_dir):
    import re

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "text"
    ).collect()
    tot = defaultdict(int)
    dis = defaultdict(set)
    for r in docs:
        toks = re.split(r"\s+", r.text.strip())
        if not r.text.strip():
            continue
        for t in toks:
            tot[(r.source, 1)] += 1
            dis[(r.source, 1)].add(t)
        for i in range(len(toks) - 1):
            g = toks[i] + " " + toks[i + 1]
            tot[(r.source, 2)] += 1
            dis[(r.source, 2)].add(g)
    out = registry.QUERIES["text_distinct_ngram_diversity"](
        spark, sf_dir
    ).collect()
    assert len(out) == len(tot)
    for row in out:
        key = (row.source, row.ngram_n)
        assert row.total_ngrams == tot[key], key
        assert row.distinct_ngrams == len(dis[key]), key
        want = math.floor(len(dis[key]) / tot[key] * 1e6 + 0.5) / 1e6
        assert abs(row.diversity - want) < 1e-9, key
