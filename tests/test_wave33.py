"""Device tests for the wave-33 operators: independent brute-force
recomputation on the sf0.001 fixture."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.functions.numeric import snap
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_logrank_matches_bruteforce(spark, sf_dir):
    """Censored lifetimes, dense at-risk suffix sums, snapped E/V
    terms, and the O-E chi-square."""
    out = registry.QUERIES["ml_logrank_test"](spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events").collect()
    first, firstp = {}, {}
    mx = max(r.ts.date() for r in ev)
    for r in ev:
        d = r.ts.date()
        u = r.user_id
        first[u] = min(first.get(u, d), d)
        if r.event_type == "purchase":
            firstp[u] = min(firstp.get(u, d), d)
    lives = []
    for u, f in first.items():
        if u in firstp:
            lives.append((u % 2, (firstp[u] - f).days, 1))
        else:
            lives.append((u % 2, (mx - f).days, 0))
    assert out.n_users == len(lives)
    o1 = e1_9 = v_9 = 0
    tmax = max(t for _, t, _ in lives)
    for t in range(tmax + 1):
        n1 = sum(1 for g, tt, _ in lives if g == 1 and tt >= t)
        n0 = sum(1 for g, tt, _ in lives if g == 0 and tt >= t)
        d1 = sum(1 for g, tt, e in lives if g == 1 and tt == t and e)
        d0 = sum(1 for g, tt, e in lives if g == 0 and tt == t and e)
        dt, nt = d1 + d0, n1 + n0
        if dt == 0:
            continue
        o1 += d1
        e1_9 += math.floor(dt * 1.0 * n1 / nt * 1e9 + 0.5)
        if nt > 1:
            v_9 += math.floor(
                dt * 1.0 * n1 * (nt - n1) * (nt - dt)
                / (nt * 1.0 * nt * (nt - 1)) * 1e9 + 0.5
            )
    assert out.observed_g1 == o1
    assert abs(out.expected_g1 - snap(e1_9 / 1e9, 6, math.floor)) < 1e-9
    chi2 = (o1 - e1_9 / 1e9) ** 2 / (v_9 / 1e9)
    assert abs(out.chi2_logrank - math.floor(chi2 * 1e4 + 0.5) / 1e4) < 1e-9


def _daily(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").collect()
    d = defaultdict(float)
    for r in ev:
        d[r.ts.date()] += r.value
    return {k: math.floor(v * 100 + 0.5) for k, v in d.items()}


def test_energy_distance_matches_bruteforce(spark, sf_dir):
    """V-statistic pair sums over the day domain, and D^2 >= 0."""
    out = registry.QUERIES["agg_energy_distance_weekend"](
        spark, sf_dir
    ).collect()[0]
    daily = _daily(spark, sf_dir)
    xs = [y for d, y in daily.items() if d.isoweekday() <= 5]
    ys = [y for d, y in daily.items() if d.isoweekday() >= 6]
    n1, n2 = len(xs), len(ys)
    assert (out.n_weekday, out.n_weekend) == (n1, n2)
    sxy = sum(abs(x - y) for x in xs for y in ys)
    sxx = sum(abs(a - b) for a in xs for b in xs)
    syy = sum(abs(a - b) for a in ys for b in ys)
    d2 = 2.0 * sxy / (n1 * n2) - sxx * 1.0 / (n1 * n1) - syy * 1.0 / (n2 * n2)
    assert d2 >= 0
    assert abs(out.energy_dist_dollars
               - math.floor(d2 / 100 * 1e4 + 0.5) / 1e4) < 1e-9
    t = n1 * 1.0 * n2 / (n1 + n2) * d2
    assert abs(out.energy_test_stat_dollars
               - math.floor(t / 100 * 1e4 + 0.5) / 1e4) < 1e-9


def test_circular_stats_matches_bruteforce(spark, sf_dir):
    """Minute-binned snapped trig sums; mean hour wraps correctly
    and R lands in [0, 1]."""
    out = registry.QUERIES["agg_circular_hour_stats"](spark, sf_dir).collect()[
        0
    ]
    ev = load_table(spark, sf_dir, "events").collect()
    mins = Counter()
    for r in ev:
        sod = (
            r.ts.hour * 3600 + r.ts.minute * 60 + r.ts.second
        )
        mins[sod // 60] += 1
    n = sum(mins.values())
    cc = ss = 0
    for m, cnt in mins.items():
        th = 2 * math.pi * m / 1440.0
        cc += cnt * math.floor(math.cos(th) * 1e6 + 0.5)
        ss += cnt * math.floor(math.sin(th) * 1e6 + 0.5)
    a = math.atan2(ss * 1.0, cc * 1.0)
    r = math.sqrt(cc * 1.0 * cc + ss * 1.0 * ss) / (n * 1e6)
    hour = (a + (2 * math.pi if a < 0 else 0)) / (2 * math.pi) * 24
    assert out.n_events == n
    assert abs(out.mean_hour - math.floor(hour * 1e4 + 0.5) / 1e4) < 1e-9
    assert abs(out.resultant_r - snap(r, 6, math.floor)) < 1e-9
    assert 0.0 <= out.resultant_r <= 1.0
    assert abs(out.rayleigh_z - math.floor(n * r * r * 100 + 0.5) / 100) < 1e-9


def test_post_stratified_lift_matches_bruteforce(spark, sf_dir):
    """Tercile cutoffs as exact order statistics, per-stratum snapped
    terms, and the weight identity sum(w_s) == 1."""
    out = registry.QUERIES["events_post_stratified_lift"](
        spark, sf_dir
    ).collect()[0]
    ev = load_table(spark, sf_dir, "events").collect()
    n_ev, conv = Counter(), Counter()
    for r in ev:
        n_ev[r.user_id] += 1
        if r.event_type == "purchase":
            conv[r.user_id] = 1
    users = sorted(n_ev)
    counts = sorted(n_ev.values())
    nn = len(counts)

    def pdisc(p):
        # smallest value whose cume_dist >= p
        k = math.ceil(p * nn)
        return counts[k - 1]

    q1, q2 = pdisc(1 / 3), pdisc(2 / 3)
    cells = defaultdict(lambda: [0, 0, 0, 0])  # n1 x1 n0 x0
    for u in users:
        s = 0 if n_ev[u] <= q1 else (1 if n_ev[u] <= q2 else 2)
        g = u % 2
        c = conv.get(u, 0)
        if g == 1:
            cells[s][0] += 1
            cells[s][1] += c
        else:
            cells[s][2] += 1
            cells[s][3] += c
    l12 = v12 = 0
    tn1 = tx1 = tn0 = tx0 = 0
    for s, (n1, x1, n0, x0) in cells.items():
        ns = n1 + n0
        w = ns / nn
        p1, p0 = x1 / n1, x0 / n0
        l12 += math.floor(w * (p1 - p0) * 1e12 + 0.5)
        v12 += math.floor(
            w * w * (p1 * (1 - p1) / n1 + p0 * (1 - p0) / n0) * 1e12 + 0.5
        )
        tn1 += n1
        tx1 += x1
        tn0 += n0
        tx0 += x0
    assert out.n_users == nn
    naive = tx1 / tn1 - tx0 / tn0
    assert abs(out.naive_lift - snap(naive, 6, math.floor)) < 1e-9
    assert abs(out.stratified_lift - snap(l12 / 1e12, 6, math.floor)) < 1e-9
    assert abs(out.stratified_se - snap(math.sqrt(v12 / 1e12), 6, math.floor)) < 1e-9
    assert sum((c[0] + c[2]) / nn for c in cells.values()) == 1.0
