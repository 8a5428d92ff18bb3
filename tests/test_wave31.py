"""Device tests for the wave-31 operators: independent brute-force
recomputation on the sf0.001 fixture."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.functions.numeric import snap
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_engle_granger_matches_bruteforce(spark, sf_dir):
    """OLS on the cumulative levels, snapped residuals, exact-integer
    ADF sums, and the expanded error-sum identity."""
    out = registry.QUERIES["timeseries_engle_granger_coint"](
        spark, sf_dir
    ).collect()[0]
    ev = load_table(spark, sf_dir, "events").collect()
    dv, dp = Counter(), Counter()
    for r in ev:
        d = r.ts.date()
        if r.event_type == "view":
            dv[d] += 1
        elif r.event_type == "purchase":
            dp[d] += 1
    days = sorted(set(dv) | set(dp) | {r.ts.date() for r in ev})
    x = y = 0
    xs, ys = [], []
    for d in days:
        x += dv.get(d, 0)
        y += dp.get(d, 0)
        xs.append(x)
        ys.append(y)
    n = len(days)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(v * v for v in xs)
    sxy = sum(a * b for a, b in zip(xs, ys))
    beta = (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)
    alpha = sy * 1.0 / n - beta * (sx * 1.0 / n)
    e6 = [
        math.floor((b - alpha - beta * a) * 1e6 + 0.5)
        for a, b in zip(xs, ys)
    ]
    el = e6[:-1]
    de = [e6[i + 1] - e6[i] for i in range(n - 1)]
    s_eld = sum(a * b for a, b in zip(el, de))
    s_el2 = sum(a * a for a in el)
    s_de2 = sum(b * b for b in de)
    m = n - 1
    rho = s_eld * 1.0 / s_el2
    t = rho / math.sqrt(
        ((s_de2 * 1.0 - rho * s_eld) / (m - 1)) / s_el2
    )
    assert out.n_days == n
    assert abs(out.beta - snap(beta, 6, math.floor)) < 1e-9
    assert abs(out.rho - snap(rho, 6, math.floor)) < 1e-9
    assert abs(out.adf_t - math.floor(t * 1e4 + 0.5) / 1e4) < 1e-9
    # cointegration direction: rho must be a mean-reverting pull
    assert out.rho < 0


def test_jackknife_ratio_matches_bruteforce(spark, sf_dir):
    """Every delete-1 replicate in closed form; the centered-integer
    variance equals the direct sum of squared deviations."""
    out = registry.QUERIES["ml_jackknife_ratio_variance"](
        spark, sf_dir
    ).collect()[0]
    li = load_table(spark, sf_dir, "lineitem").collect()
    revs = [
        math.floor(r.l_extendedprice * (1 - r.l_discount) * 100 + 0.5)
        for r in li
    ]
    qtys = [int(r.l_quantity) for r in li]
    n, A, B = len(revs), sum(revs), sum(qtys)
    c = math.floor(A / B * 1e6 + 0.5) / 1e6
    d9 = [
        math.floor(((A - a) / (B - b) - c) * 1e9 + 0.5)
        for a, b in zip(revs, qtys)
    ]
    sd, sd2 = sum(d9), sum(v * v for v in d9)
    se = math.sqrt((n - 1.0) / n * (sd2 * 1.0 - (sd * 1.0 / n) * sd)) / 1e9
    assert out.n_items == n
    assert abs(out.theta_ratio - c) < 1e-9
    assert abs(out.jackknife_se - se) < 1e-6
    # sanity: the jackknife SE is positive and far below theta
    assert 0 < out.jackknife_se < out.theta_ratio


def test_chapman_matches_bruteforce(spark, sf_dir):
    """Presence flags, the Chapman point estimate and its SE; the
    estimator should land within a few SE of the observable truth."""
    out = registry.QUERIES["agg_capture_recapture_chapman"](
        spark, sf_dir
    ).collect()[0]
    ev = load_table(spark, sf_dir, "events").collect()
    first, second = set(), set()
    for r in ev:
        if r.ts.day <= 15:
            first.add(r.user_id)
        else:
            second.add(r.user_id)
    n1, n2, m = len(first), len(second), len(first & second)
    assert (out.n_first, out.n_second, out.n_both) == (n1, n2, m)
    assert out.n_true_distinct == len(first | second)
    n_hat = (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0
    assert abs(out.n_hat_chapman - math.floor(n_hat * 100 + 0.5) / 100) < 1e-9
    se = math.sqrt(
        (n1 + 1.0) * (n2 + 1.0) * (n1 - m) * (n2 - m)
        / ((m + 1.0) ** 2 * (m + 2.0))
    )
    assert abs(out.se_chapman - math.floor(se * 100 + 0.5) / 100) < 1e-9
    assert abs(n_hat - out.n_true_distinct) < 5 * se + 1


def test_poisson_deviance_dense_grid(spark, sf_dir):
    """mu from the fixed 20-day train window; the eval grid must be
    dense (5 types x eval days) with y=0 terms contributing 2*mu."""
    rows = registry.QUERIES["ml_poisson_deviance"](spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").collect()
    cnt = Counter()
    eval_days = set()
    for r in ev:
        d = r.ts.date()
        cnt[(r.event_type, d)] += 1
        if d.day >= 21:
            eval_days.add(d)
    types = sorted({t for t, _ in cnt})
    assert [r.event_type for r in rows] == types
    for r in rows:
        mu = (
            sum(v for (t, d), v in cnt.items()
                if t == r.event_type and d.day <= 20)
            / 20.0
        )
        assert abs(r.mu_daily - snap(mu, 6, math.floor)) < 1e-9
        assert r.n_eval_days == len(eval_days)
        dev = 0
        for d in eval_days:
            yv = cnt.get((r.event_type, d), 0)
            term = (
                2.0 * (yv * math.log(yv / mu) - (yv - mu))
                if yv > 0
                else 2.0 * mu
            )
            dev += math.floor(term * 1e9 + 0.5)
        assert abs(r.poisson_deviance - snap(dev / 1e9, 6, math.floor)) < 1e-9


def test_burrows_delta_matches_bruteforce(spark, sf_dir):
    """Dense source x top-30-word grid, snapped frequencies and
    z-deltas, smallest-delta pairs first."""
    import re

    rows = registry.QUERIES["text_burrows_delta"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").collect()
    toks = defaultdict(list)
    for r in docs:
        toks[r.source].extend(re.findall(r"[a-z]+", r.text.lower()))
    allc = Counter()
    for ws in toks.values():
        allc.update(ws)
    top = [
        w for w, _ in sorted(allc.items(), key=lambda kv: (-kv[1], kv[0]))
    ][:30]
    sources = sorted(toks)
    f9 = {}
    for s in sources:
        c = Counter(toks[s])
        tot = len(toks[s])
        for w in top:
            f9[(s, w)] = math.floor(c.get(w, 0) / tot * 1e9 + 0.5)
    z = {}
    ns = len(sources)
    for w in top:
        vals = [f9[(s, w)] for s in sources]
        mu = sum(vals) / ns
        sig = math.sqrt(sum(v * v for v in vals) / ns - mu * mu)
        for s in sources:
            z[(s, w)] = (f9[(s, w)] - mu) / sig
    deltas = []
    for i, s1 in enumerate(sources):
        for s2 in sources[i + 1:]:
            d9 = sum(
                math.floor(abs(z[(s1, w)] - z[(s2, w)]) * 1e9 + 0.5)
                for w in top
            )
            deltas.append((snap(d9 / 30 / 1e9, 6, math.floor), s1, s2))
    deltas.sort()
    assert len(rows) == 10
    for r, (d, s1, s2) in zip(rows, deltas[:10]):
        assert (r.source_a, r.source_b) == (s1, s2)
        assert abs(r.burrows_delta - d) < 1e-9
