"""Device tests for the wave-30 operators: independent brute-force
recomputation of each statistic on the sf0.001 fixture."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.functions.numeric import snap
from etl_data_ingestion_spark.plans import registry

from tests.helpers import daily_cents_rows

registry.load_all()


GAMMA = 0.5772156649015329


def test_gumbel_fit_matches_bruteforce(spark, sf_dir):
    """Weekly maxima, sample variance, method-of-moments mu/beta,
    and the fitted exceedance of the historical worst."""
    out = registry.QUERIES["agg_gumbel_block_maxima"](spark, sf_dir).collect()[0]
    daily = daily_cents_rows(spark, sf_dir)
    mx = defaultdict(int)
    for d, y in daily:
        wk = d.isocalendar()[:2]
        mx[wk] = max(mx[wk], y)
    vals = list(mx.values())
    n = len(vals)
    assert out.n_weeks == n and n >= 3
    mean = sum(vals) / n
    s = math.sqrt((sum(v * v for v in vals) - mean * sum(vals)) / (n - 1))
    beta = s * math.sqrt(6.0) / math.pi
    mu = mean - GAMMA * beta
    assert abs(out.mu_cents - math.floor(mu + 0.5)) <= 1
    assert abs(out.beta_cents - math.floor(beta + 0.5)) <= 1
    p = 1.0 - math.exp(-math.exp(-(max(vals) - mu) / beta))
    assert abs(out.p_exceed_worst - p) < 1e-4


def test_cochran_q_matches_bruteforce(spark, sf_dir):
    """Fraction-free integer Q over per-customer indicator triples."""
    out = registry.QUERIES["agg_cochran_q_test"](spark, sf_dir).collect()[0]
    od = load_table(spark, sf_dir, "orders").collect()
    resp = defaultdict(lambda: [0, 0, 0])
    idx = {"O": 0, "F": 1, "P": 2}
    for r in od:
        resp[r.o_custkey][idx[r.o_orderstatus]] = 1
    rows = list(resp.values())
    c = [sum(x[j] for x in rows) for j in range(3)]
    t = sum(c)
    sr2 = sum(sum(x) ** 2 for x in rows)
    q = 2.0 * (3 * sum(ci * ci for ci in c) - t * t) / (3 * t - sr2)
    assert out.n_blocks == len(rows)
    assert out.t_total == t
    assert abs(out.q_stat - snap(q, 6, math.floor)) < 1e-9


def test_fisher_lda_direction_and_separation(spark, sf_dir):
    """The closed-form w must solve cov_pooled @ w = d exactly, the
    published direction is unit-norm, and the Mahalanobis value is
    d . w."""
    out = registry.QUERIES["ml_fisher_lda_closed_form"](spark, sf_dir).collect()[
        0
    ]
    od = load_table(spark, sf_dir, "orders").collect()
    li = load_table(spark, sf_dir, "lineitem").collect()
    lc = Counter(r.l_orderkey for r in li)
    feats = {0: [], 1: []}
    for r in od:
        if r.o_orderkey not in lc:
            continue
        y = 1 if r.o_orderpriority in ("1-URGENT", "2-HIGH") else 0
        f1 = math.floor(r.o_totalprice * 100 + 0.5)
        feats[y].append((f1, lc[r.o_orderkey]))
    assert out.n_class0 == len(feats[0])
    assert out.n_class1 == len(feats[1])
    n = len(feats[0]) + len(feats[1])

    def moments(fs):
        n_ = len(fs)
        s1 = sum(f[0] for f in fs)
        s2 = sum(f[1] for f in fs)
        return (
            n_,
            s1 / n_,
            s2 / n_,
            sum(f[0] * f[0] for f in fs) - s1 * s1 / n_,
            sum(f[1] * f[1] for f in fs) - s2 * s2 / n_,
            sum(f[0] * f[1] for f in fs) - s1 * s2 / n_,
        )

    m0, m1 = moments(feats[0]), moments(feats[1])
    c11 = (m0[3] + m1[3]) / (n - 2)
    c22 = (m0[4] + m1[4]) / (n - 2)
    c12 = (m0[5] + m1[5]) / (n - 2)
    d1, d2 = m1[1] - m0[1], m1[2] - m0[2]
    det = c11 * c22 - c12 * c12
    w1 = (c22 * d1 - c12 * d2) / det
    w2 = (c11 * d2 - c12 * d1) / det
    norm = math.hypot(w1, w2)
    assert abs(out.unit_w1 - w1 / norm) < 1e-4
    assert abs(out.unit_w2 - w2 / norm) < 1e-4
    assert abs(out.mahalanobis_sq - (d1 * w1 + d2 * w2)) < 1e-3
    # unit vector really is unit
    assert abs(out.unit_w1**2 + out.unit_w2**2 - 1.0) < 1e-4


def test_sample_entropy_matches_bruteforce(spark, sf_dir):
    """Richman-Moorman counts with the exact same r threshold."""
    out = registry.QUERIES["timeseries_sample_entropy"](spark, sf_dir).collect()[
        0
    ]
    ys = [y for _, y in daily_cents_rows(spark, sf_dir)]
    n = len(ys)
    mean = sum(ys) / n
    r = 0.2 * math.sqrt(sum(y * y for y in ys) / n - mean * mean)
    tpl = [(ys[i], ys[i + 1], ys[i + 2]) for i in range(n - 2)]
    b_cnt = a_cnt = 0
    for i in range(len(tpl)):
        for j in range(i + 1, len(tpl)):
            if (
                abs(tpl[i][0] - tpl[j][0]) <= r
                and abs(tpl[i][1] - tpl[j][1]) <= r
            ):
                b_cnt += 1
                if abs(tpl[i][2] - tpl[j][2]) <= r:
                    a_cnt += 1
    assert out.n_days == n
    assert out.b_matches == b_cnt
    assert out.a_matches == a_cnt
    if a_cnt and b_cnt:
        assert abs(out.sampen - snap(-math.log(a_cnt / b_cnt), 6, math.floor)) < 1e-9
    else:
        assert out.sampen is None


def test_fd_profile_truth_table(spark, sf_dir):
    """The one true key holds with singleton RHS everywhere; the
    violated FDs (including the composite that would be a key in
    real TPC-H but is not in this synthetic fixture) report the
    exact brute-force violation counts."""
    rows = {
        r.fd: r
        for r in registry.QUERIES["quality_functional_dependencies"](
            spark, sf_dir
        ).collect()
    }
    assert rows["o_orderkey->o_custkey"].holds == 1
    assert rows["o_orderkey->o_custkey"].max_rhs_variants == 1
    li = load_table(spark, sf_dir, "lineitem").collect()
    comp = defaultdict(set)
    for r in li:
        comp[(r.l_orderkey, r.l_linenumber)].add(r.l_partkey)
    fd4 = rows["l_orderkey,l_linenumber->l_partkey"]
    assert fd4.n_groups == len(comp)
    assert fd4.n_violations == sum(
        1 for s_ in comp.values() if len(s_) > 1
    )
    assert fd4.holds == (1 if fd4.n_violations == 0 else 0)
    by_ord = defaultdict(set)
    for r in li:
        by_ord[r.l_orderkey].add(r.l_suppkey)
    viol = sum(1 for s in by_ord.values() if len(s) > 1)
    fd2 = rows["l_orderkey->l_suppkey"]
    assert fd2.n_groups == len(by_ord)
    assert fd2.n_violations == viol
    assert fd2.max_rhs_variants == max(len(s) for s in by_ord.values())
    assert fd2.holds == (1 if viol == 0 else 0)
