"""Device tests for the wave-32 operators: independent brute-force
recomputation on the sf0.001 fixture."""

from __future__ import annotations

import math
from collections import Counter

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.functions.numeric import snap
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_kpss_matches_bruteforce(spark, sf_dir):
    """n-scaled demeaning, exact partial-sum squares, Bartlett q=3
    long-run variance via the multiplied-through integer identity."""
    out = registry.QUERIES["timeseries_kpss_stationarity"](
        spark, sf_dir
    ).collect()[0]
    ev = load_table(spark, sf_dir, "events").collect()
    daily = Counter()
    for r in ev:
        daily[r.ts.date()] += r.value
    ys = [
        math.floor(v * 100 + 0.5) for _, v in sorted(daily.items())
    ]
    n, sy = len(ys), sum(ys)
    u = [n * y - sy for y in ys]
    s = []
    acc = 0
    for v in u:
        acc += v
        s.append(acc)
    ss2 = sum(v * v for v in s)
    g = [
        sum(u[t] * u[t - j] for t in range(j, n)) for j in range(4)
    ]
    eta = 4.0 * ss2 / (n * (4.0 * g[0] + 2.0 * (3.0 * g[1] + 2.0 * g[2] + g[3])))
    assert out.n_days == n
    assert abs(out.kpss_eta - snap(eta, 6, math.floor)) < 1e-9
    # sanity: the demeaned partial sums telescope to zero
    assert s[-1] == 0


def test_loo_1nn_matches_bruteforce(spark, sf_dir):
    """Every vector's nearest other vector by cosine (smaller-id tie
    break) votes; per-label accuracy matches the direct count."""
    rows = registry.QUERIES["ml_loo_1nn_embedding_accuracy"](
        spark, sf_dir
    ).collect()
    emb = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r.vec_id: (list(r.embedding), r.label) for r in emb}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    correct, total = Counter(), Counter()
    for i, (va, la) in vecs.items():
        best = None
        for j, (vb, lb) in vecs.items():
            if i == j:
                continue
            c = cos(va, vb)
            if best is None or (-c, j) < best[:2]:
                best = (-c, j, lb)
        total[la] += 1
        if best[2] == la:
            correct[la] += 1
    got = {r.label: r for r in rows}
    assert set(got) == set(total)
    for lab in total:
        assert got[lab].n_vectors == total[lab]
        assert got[lab].n_correct == correct[lab]
        acc = math.floor(correct[lab] / total[lab] * 1e4 + 0.5) / 1e4
        assert abs(got[lab].loo_accuracy - acc) < 1e-9


def test_eb_shrinkage_pulls_toward_prior_mean(spark, sf_dir):
    """The moment-fit prior and the shrinkage identity: every shrunk
    rate lies strictly between its raw rate and the prior mean (or
    equals both when they coincide), and small-n brands move more."""
    rows = registry.QUERIES["ml_empirical_bayes_shrinkage"](
        spark, sf_dir
    ).collect()
    li = load_table(spark, sf_dir, "lineitem").collect()
    pt = {
        r.p_partkey: r.p_brand
        for r in load_table(spark, sf_dir, "part").collect()
    }
    n, pos = Counter(), Counter()
    for r in li:
        b = pt[r.l_partkey]
        n[b] += 1
        pos[b] += 1 if r.l_returnflag == "R" else 0
    r9 = {b: math.floor(pos[b] / n[b] * 1e9 + 0.5) for b in n}
    k = len(r9)
    s1 = sum(r9.values())
    s2 = sum(v * v for v in r9.values())
    m = (s1 / k) / 1e9
    v = (s2 / k - (s1 / k) ** 2) / 1e9 / 1e9
    ab = m * (1 - m) / v - 1
    assert ab > 0  # the prior is proper on this fixture
    for r in rows:
        raw = pos[r.brand] / n[r.brand]
        shrunk = (pos[r.brand] + ab * m) / (n[r.brand] + ab)
        assert abs(r.raw_rate - snap(raw, 6, math.floor)) < 1e-9
        assert abs(r.shrunk_rate - snap(shrunk, 6, math.floor)) < 1e-9
        lo, hi = sorted((raw, m))
        assert lo - 1e-9 <= shrunk <= hi + 1e-9


def test_conformal_order_statistic_and_coverage(spark, sf_dir):
    """The radius is exactly the ceil((n+1)*0.75)-th smallest snapped
    calibration residual, and coverage counts eval days inside it."""
    rows = registry.QUERIES["ml_conformal_interval_coverage"](
        spark, sf_dir
    ).collect()
    ev = load_table(spark, sf_dir, "events").collect()
    cnt = Counter()
    days = set()
    for r in ev:
        d = r.ts.date()
        days.add(d)
        cnt[(r.event_type, d)] += 1
    types = sorted({t for t, _ in cnt})
    assert [r.event_type for r in rows] == types
    for r in rows:
        mu = (
            sum(
                cnt.get((r.event_type, d), 0)
                for d in days
                if d.day <= 15
            )
            / 15.0
        )
        assert abs(r.mu_daily - snap(mu, 6, math.floor)) < 1e-9
        cal = sorted(
            (
                math.floor(
                    abs(cnt.get((r.event_type, d), 0) - mu) * 1e6 + 0.5
                ),
                d,
            )
            for d in days
            if 16 <= d.day <= 23
        )
        kth = math.ceil((len(cal) + 1) * 0.75)
        q6 = cal[kth - 1][0]
        assert abs(r.conformal_radius - snap(q6 / 1e6, 6, math.floor)) < 1e-9
        ev_days = [d for d in days if d.day >= 24]
        cov = sum(
            1
            for d in ev_days
            if math.floor(
                abs(cnt.get((r.event_type, d), 0) - mu) * 1e6 + 0.5
            )
            <= q6
        )
        assert r.n_eval_days == len(ev_days)
        assert r.n_covered == cov
