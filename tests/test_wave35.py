"""Device tests for the wave-35 operators: independent brute-force
recomputation on the sf0.001 fixture."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.functions.numeric import snap
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_cuped_matches_bruteforce_and_reduces_variance(spark, sf_dir):
    """theta from exact moments, the lift identity, and the defining
    property: residual variance <= raw variance."""
    out = registry.QUERIES["events_cuped_adjusted_lift"](
        spark, sf_dir
    ).collect()[0]
    ev = load_table(spark, sf_dir, "events").collect()
    xs, ys = Counter(), Counter()
    users = set()
    for r in ev:
        users.add(r.user_id)
        if r.ts.day <= 15:
            xs[r.user_id] += 1
        elif r.event_type == "purchase":
            ys[r.user_id] += 1
    n = len(users)
    X = {u: xs.get(u, 0) for u in users}
    Y = {u: ys.get(u, 0) for u in users}
    sx, sy = sum(X.values()), sum(Y.values())
    sxx = sum(v * v for v in X.values())
    sxy = sum(X[u] * Y[u] for u in users)
    syy = sum(v * v for v in Y.values())
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    g1 = [u for u in users if u % 2 == 1]
    g0 = [u for u in users if u % 2 == 0]
    naive = sum(Y[u] for u in g1) / len(g1) - sum(Y[u] for u in g0) / len(g0)
    xgap = sum(X[u] for u in g1) / len(g1) - sum(X[u] for u in g0) / len(g0)
    assert out.n_users == n
    assert abs(out.theta - snap(theta, 6, math.floor)) < 1e-9
    assert abs(out.naive_lift - snap(naive, 6, math.floor)) < 1e-9
    assert abs(out.cuped_lift - snap(naive - theta * xgap, 6, math.floor)) < 1e-9
    assert 0.0 <= out.var_reduction_pct <= 100.0


def test_lmoments_match_bruteforce_and_bounds(spark, sf_dir):
    """b_k from sorted ranks, the lambda ladder, and the L-ratio
    bounds |tau3| < 1, tau4 in (-0.25, 1)."""
    out = registry.QUERIES["agg_lmoments_daily"](spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events").collect()
    daily = defaultdict(float)
    for r in ev:
        daily[r.ts.date()] += r.value
    ys = sorted(math.floor(v * 100 + 0.5) for v in daily.values())
    n = len(ys)
    s0 = sum(ys)
    s1 = sum((r - 1) * y for r, y in enumerate(ys, 1))
    s2 = sum((r - 1) * (r - 2) * y for r, y in enumerate(ys, 1))
    s3 = sum((r - 1) * (r - 2) * (r - 3) * y for r, y in enumerate(ys, 1))
    b0 = s0 / n
    b1 = s1 / (n * (n - 1))
    b2 = s2 / (n * (n - 1) * (n - 2))
    b3 = s3 / (n * (n - 1) * (n - 2) * (n - 3))
    l1, l2 = b0, 2 * b1 - b0
    l3 = 6 * b2 - 6 * b1 + b0
    l4 = 20 * b3 - 30 * b2 + 12 * b1 - b0
    assert out.n_days == n
    assert abs(out.l1_dollars - math.floor(l1 + 0.5) / 100) < 1e-9
    assert abs(out.l2_dollars - math.floor(l2 + 0.5) / 100) < 1e-9
    assert abs(out.l_cv - snap(l2 / l1, 6, math.floor)) < 1e-9
    assert abs(out.l_skewness - snap(l3 / l2, 6, math.floor)) < 1e-9
    assert abs(out.l_kurtosis - snap(l4 / l2, 6, math.floor)) < 1e-9
    assert abs(out.l_skewness) < 1.0
    assert -0.25 < out.l_kurtosis < 1.0


def test_threshold_curve_monotone_and_matches_single_threshold(
    spark, sf_dir
):
    """The curve is monotone non-increasing in t, and its 0.5 row
    agrees with a direct brute-force pair count at that threshold."""
    rows = {
        r.threshold: r
        for r in registry.QUERIES["pipeline_dedup_threshold_curve"](
            spark, sf_dir
        ).collect()
    }
    assert sorted(rows) == [0.3, 0.5, 0.7, 0.8, 0.9]
    pair_counts = [rows[t].n_pairs for t in sorted(rows)]
    assert pair_counts == sorted(pair_counts, reverse=True)
    removed = [rows[t].n_docs_removed for t in sorted(rows)]
    assert removed == sorted(removed, reverse=True)
    # brute force at t=0.5 on the same synthetic corpus
    docs = load_table(spark, sf_dir, "documents").collect()
    corpus = {}
    for r in docs:
        if r.doc_id < 150:
            corpus[r.doc_id] = r.text
            if r.doc_id % 10 == 0:
                corpus[r.doc_id + 1000000] = (
                    r.text + " appended tail marker words"
                )
    grams = {}
    df = Counter()
    for did, text in corpus.items():
        toks = re.split(r"\s+", text.strip())
        if len(toks) < 3:
            continue
        g = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        grams[did] = g
        for x in g:
            df[x] += 1
    grams = {
        d: {x for x in g if df[x] <= 50} for d, g in grams.items()
    }
    ids = sorted(grams)
    n_pairs = 0
    removed_set = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(grams[a] & grams[b])
            if inter == 0:
                continue
            j = inter / (len(grams[a]) + len(grams[b]) - inter)
            if j >= 0.5:
                n_pairs += 1
                removed_set.add(b)
    assert rows[0.5].n_pairs == n_pairs
    assert rows[0.5].n_docs_removed == len(removed_set)
    assert rows[0.5].chars_saved == sum(
        len(corpus[d]) for d in removed_set
    )
