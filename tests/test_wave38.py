"""Device tests for the wave-38 operators: independent brute-force
recomputation on the sf0.001 fixture (definitions, not the
operators' algebraic identities — the wave-36 /n lesson)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def _daily_by_we(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").collect()
    d = defaultdict(float)
    for r in ev:
        d[r.ts.date()] += r.value
    xs, ys = [], []
    for day in sorted(d):
        cents = math.floor(d[day] * 100 + 0.5)
        (ys if day.weekday() >= 5 else xs).append(cents)
    return xs, ys


def test_wasserstein_matches_bruteforce(spark, sf_dir):
    """W1 = integral |F1-F2| dv over the pooled value axis, computed
    here the slow direct way (per-segment CDF gap x gap width)."""
    xs, ys = _daily_by_we(spark, sf_dir)
    vals = sorted(set(xs) | set(ys))
    n1, n2 = len(xs), len(ys)
    w1 = 0.0
    for a, b in zip(vals, vals[1:]):
        f1 = sum(1 for v in xs if v <= a) / n1
        f2 = sum(1 for v in ys if v <= a) / n2
        w1 += abs(f1 - f2) * (b - a)
    out = registry.QUERIES["agg_wasserstein_weekend"](spark, sf_dir).collect()[0]
    assert out.n_weekday == n1 and out.n_weekend == n2
    assert abs(out.wasserstein_dollars
               - math.floor(w1 / 100 * 1e4 + 0.5) / 1e4) < 1e-9


def test_cvm_matches_bruteforce(spark, sf_dir):
    """Anderson's two-sample T from first principles: sorted own
    samples, tie-averaged pooled ranks, U-sum, T chain."""
    xs, ys = _daily_by_we(spark, sf_dir)
    pooled = sorted(xs + ys)
    n, m = len(xs), len(ys)
    big_n = n + m

    def avg_rank(v):
        lo = sum(1 for p in pooled if p < v)
        t = sum(1 for p in pooled if p == v)
        return lo + (t + 1) / 2.0

    u = n * sum(
        (avg_rank(v) - (i + 1)) ** 2 for i, v in enumerate(sorted(xs))
    ) + m * sum(
        (avg_rank(v) - (j + 1)) ** 2 for j, v in enumerate(sorted(ys))
    )
    t_stat = u / (big_n * n * m) - (4.0 * m * n - 1) / (6.0 * big_n)
    out = registry.QUERIES["agg_cramer_von_mises_weekend"](
        spark, sf_dir
    ).collect()[0]
    assert out.n_weekday == n and out.n_weekend == m
    assert abs(out.cvm_t - math.floor(t_stat * 1e6 + 0.5) / 1e6) < 2e-6


def test_durbin_watson_matches_bruteforce(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").collect()
    d = defaultdict(float)
    for r in ev:
        d[r.ts.date()] += r.value
    ys = [math.floor(d[k] * 100 + 0.5) for k in sorted(d)]
    n = len(ys)
    ts = list(range(n))
    st, sy = sum(ts), sum(ys)
    stt = sum(t * t for t in ts)
    sty = sum(t * y for t, y in zip(ts, ys))
    b = (n * 1.0 * sty - st * 1.0 * sy) / (n * 1.0 * stt - st * 1.0 * st)
    a = (sy - b * st) / n
    es = [math.floor((y - a - b * t) * 1000 + 0.5) for t, y in zip(ts, ys)]
    dw = sum((e1 - e0) ** 2 for e0, e1 in zip(es, es[1:])) / sum(
        e * e for e in es
    )
    out = registry.QUERIES["agg_durbin_watson_daily"](spark, sf_dir).collect()[0]
    assert out.n_days == n
    assert abs(out.dw_stat - math.floor(dw * 1e6 + 0.5) / 1e6) < 1e-9
    assert 0.0 <= out.dw_stat <= 4.0


def test_good_turing_matches_bruteforce(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").collect()
    counts = Counter()
    for r in docs:
        ws = r.text.strip().split()
        counts.update(
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        )
    fof = Counter(counts.values())
    n_tokens = sum(counts.values())
    rows = registry.QUERIES["text_good_turing_estimates"](
        spark, sf_dir
    ).collect()
    assert rows, "r<=8 frequency classes must exist on this fixture"
    for row in rows:
        r = row.r
        assert row.n_types == fof[r]
        assert row.tokens_at_r == r * fof[r]
        if fof.get(r + 1):
            rstar = (r + 1) * fof[r + 1] / fof[r]
            assert abs(row.turing_rstar
                       - math.floor(rstar * 1e6 + 0.5) / 1e6) < 1e-9
            p = rstar / n_tokens
            assert abs(row.smoothed_prob
                       - math.floor(p * 1e9 + 0.5) / 1e9) < 1e-12
        else:
            assert row.turing_rstar is None


def test_km_curve_matches_bruteforce(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").collect()
    per = {}
    for r in orders:
        f, l = per.get(r.o_custkey, (r.o_orderdate, r.o_orderdate))
        per[r.o_custkey] = (min(f, r.o_orderdate), max(l, r.o_orderdate))
    mx = max(l for _, l in per.values())
    life = [
        ((l - f).days, 1 if (mx - l).days > 90 else 0)
        for f, l in per.values()
    ]
    cells = defaultdict(lambda: [0, 0])  # t -> [deaths, all]
    for t, ev in life:
        cells[t][0] += ev
        cells[t][1] += 1
    surv, rows_exp = 1.0, []
    at_risk = len(life)
    for t in sorted(cells):
        d, a = cells[t]
        if d > 0:
            # mirror the operator's snapped-log product device
            if d >= at_risk:
                lterm = -100000000000
            else:
                lterm = math.floor(
                    math.log(1.0 - d / at_risk) * 1e9 + 0.5
                )
            rows_exp.append((t, at_risk, d, lterm))
        at_risk -= a
    out = registry.QUERIES["ml_km_survival_curve"](spark, sf_dir).collect()
    assert len(out) == min(30, len(rows_exp))
    cum = 0
    for row, (t, nr, d, lterm) in zip(out, rows_exp):
        cum += lterm
        assert (row.t_days, row.n_at_risk, row.d_events) == (t, nr, d)
        s = math.exp(cum / 1e9)
        assert abs(row.survival - math.floor(s * 1e6 + 0.5) / 1e6) < 2e-6
    # survival is a [0,1] non-increasing step function
    ss = [r.survival for r in out]
    assert all(0.0 <= s <= 1.0 for s in ss)
    assert all(a >= b for a, b in zip(ss, ss[1:]))
