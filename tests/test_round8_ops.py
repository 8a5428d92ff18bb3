"""Round-8 operator wave: independent Python recomputation of the
new statistics on collected fixture data — redundancy on top of the
DuckDB parity gate (two engines can share a misreading of the spec;
numpy/pure-Python is a third opinion).
"""

from __future__ import annotations

import math

import numpy as np

from etl_data_ingestion_spark.plans import registry

from tests.helpers import q

registry.load_all()


def _daily_cents(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("date_trunc('day', ts) AS d", "value")
        .collect()
    )
    by_day: dict = {}
    for r in rows:
        by_day[r.d] = by_day.get(r.d, 0.0) + r.value
    return np.array(
        [math.floor(v * 100 + 0.5) for _, v in sorted(by_day.items())],
        dtype=np.int64,
    )


def test_acf_matches_numpy(spark, sf_dir):
    y = _daily_cents(spark, sf_dir).astype(float)
    n = len(y)
    ybar = y.sum() / n
    den = (y * y).sum() - n * ybar * ybar
    got = {r.lag: r for r in q("timeseries_acf_lags", spark, sf_dir).collect()}
    assert set(got) == set(range(1, 8))
    for k in range(1, 8):
        num = ((y[:-k] - ybar) * (y[k:] - ybar)).sum()
        assert got[k].n_pairs == n - k
        assert abs(got[k].acf - num / den) < 5e-6


def test_theil_sen_matches_numpy(spark, sf_dir):
    y = _daily_cents(spark, sf_dir)
    n = len(y)
    slopes = sorted(
        (y[j] - y[i]) / (j - i) for i in range(n) for j in range(i + 1, n)
    )
    m = len(slopes)
    mid = (
        slopes[(m - 1) // 2]
        if m % 2
        else (slopes[m // 2 - 1] + slopes[m // 2]) / 2
    )
    row = q("timeseries_theil_sen", spark, sf_dir).collect()[0]
    assert row.n_days == n and row.n_pairs == m
    assert abs(row.slope_dollars_per_day - mid / 100.0) < 5e-6


def test_cohen_kappa_matches_recompute(spark, sf_dir):
    import re

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    yy = yn = ny = nn = 0
    for r in docs:
        a = r.n_chars >= 300
        b = len(re.split(r"\s+", r.text.strip())) >= 50
        yy += a and b
        yn += a and not b
        ny += (not a) and b
        nn += (not a) and (not b)
    n = yy + yn + ny + nn
    po = (yy + nn) / n
    pe = ((yy + yn) * (yy + ny) + (ny + nn) * (yn + nn)) / (n * n)
    row = q("ml_cohen_kappa", spark, sf_dir).collect()[0]
    assert (row.both_pos, row.a_only, row.b_only, row.both_neg) == (
        yy,
        yn,
        ny,
        nn,
    )
    assert abs(row.kappa - (po - pe) / (1 - pe)) < 5e-6


def test_ztest_matches_recompute(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    n_a = sum(1 for r in ev if r.user_id % 2 == 0)
    x_a = sum(
        1 for r in ev if r.user_id % 2 == 0 and r.event_type == "purchase"
    )
    n_b = len(ev) - n_a
    x_b = sum(
        1 for r in ev if r.user_id % 2 == 1 and r.event_type == "purchase"
    )
    p = (x_a + x_b) / (n_a + n_b)
    z = (x_a / n_a - x_b / n_b) / math.sqrt(
        p * (1 - p) * (1 / n_a + 1 / n_b)
    )
    row = q("agg_ab_test_ztest", spark, sf_dir).collect()[0]
    assert (row.n_a, row.x_a, row.n_b, row.x_b) == (n_a, x_a, n_b, x_b)
    assert abs(row.z_score - z) < 5e-4


def test_survival_curve_monotone_and_anchored(spark, sf_dir):
    rows = sorted(
        q("events_survival_curve", spark, sf_dir).collect(),
        key=lambda r: r.t,
    )
    assert [r.t for r in rows] == list(range(15))
    assert rows[0].survival_frac == 1.0  # everyone survives >= 0 days
    fracs = [r.survival_frac for r in rows]
    assert all(a >= b for a, b in zip(fracs, fracs[1:]))
    ns = [r.n_surviving for r in rows]
    assert all(a >= b for a, b in zip(ns, ns[1:]))


def test_gain_lift_anchors(spark, sf_dir):
    rows = sorted(
        q("ml_gain_lift_deciles", spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(10))
    # final decile: gain reaches 1, lift reaches 1 (all rows included)
    assert rows[-1].cum_gain == 1.0 and rows[-1].cum_lift == 1.0
    gains = [r.cum_gain for r in rows]
    assert all(a <= b for a, b in zip(gains, gains[1:]))


def test_spearman_matches_scipy_free_recompute(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    import pandas as pd

    df = pd.DataFrame(
        {
            "x": [r.o_totalprice for r in orders],
            "y": [r.o_orderdate.date() for r in orders],
        }
    )
    rx = df["x"].rank(method="average")
    ry = df["y"].rank(method="average")
    rho = np.corrcoef(rx, ry)[0, 1]
    row = q("agg_spearman_rank_corr", spark, sf_dir).collect()[0]
    assert row.n_orders == len(df)
    assert abs(row.spearman_rho - rho) < 5e-4


def test_hapax_counts_match_python(spark, sf_dir):
    import re
    from collections import Counter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    per_source: dict[str, Counter] = {}
    for r in docs:
        c = per_source.setdefault(r.source, Counter())
        c.update(t.lower() for t in re.split(r"\s+", r.text.strip()))
    got = {
        r.source: r for r in q("text_hapax_legomena", spark, sf_dir).collect()
    }
    assert set(got) == set(per_source)
    for src, c in per_source.items():
        r = got[src]
        hap = sum(1 for v in c.values() if v == 1)
        assert (r.n_tokens, r.n_types, r.n_hapax) == (
            sum(c.values()),
            len(c),
            hap,
        )


def test_session_gap_counts_match_python(spark, sf_dir):
    from collections import Counter, defaultdict

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.ts, r.event_id))
    counts: Counter = Counter()
    for evs in by_user.values():
        evs.sort()
        for (a, _), (b, _) in zip(evs, evs[1:]):
            us = int(b.timestamp() * 1_000_000) - int(
                a.timestamp() * 1_000_000
            )
            gap = us // 1_000_000
            bucket = -1 if gap <= 0 else math.floor(math.log2(gap + 0.5))
            counts[bucket] += 1
    got = {
        r.bucket: r.n_gaps
        for r in q("events_session_gap_histogram", spark, sf_dir).collect()
    }
    assert got == dict(counts)


def test_markov_entropy_rate_recompute(spark, sf_dir):
    from collections import Counter, defaultdict

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    trans: Counter = Counter()
    for evs in by_user.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            trans[(a, b)] += 1
    row_tot = Counter()
    for (f, _), n in trans.items():
        row_tot[f] += n
    p = {(f, t): n / row_tot[f] for (f, t), n in trans.items()}
    states = sorted(row_tot)
    v = {s: 1 / len(states) for s in states}
    for _ in range(4):
        nxt: dict = {}
        for (f, t), pr in sorted(p.items()):
            if f in v:
                nxt[t] = nxt.get(t, 0.0) + v[f] * pr
        v = nxt
    rowh = {
        f: -sum(pr * math.log2(pr) for (ff, _), pr in p.items() if ff == f)
        for f in row_tot
    }
    hr = sum(v[s] * rowh[s] for s in sorted(v))
    got = {
        r.event_type: r
        for r in q("events_markov_entropy_rate", spark, sf_dir).collect()
    }
    assert set(got) == set(v)
    for s_, r in got.items():
        assert abs(r.stationary_prob - v[s_]) < 5e-6
        assert abs(r.row_entropy_bits - rowh[s_]) < 5e-6
        assert abs(r.entropy_rate_bits - hr) < 5e-6


def test_brier_decomposition_identity(spark, sf_dir):
    """brier == reliability - resolution + uncertainty + within_bin_gap
    by construction; REL/RES are non-negative sums of squares; UNC is
    ybar(1-ybar) <= 1/4; the gap (WithinVar(p) - 2*WithinCov(p,y)) is
    sign-indefinite but bounded by the bin width scale."""
    r = q("ml_brier_decomposition", spark, sf_dir).collect()[0]
    assert r.reliability >= 0 and r.resolution >= 0
    assert 0 <= r.uncertainty <= 0.25 + 1e-9
    assert abs(r.within_bin_gap) < 0.05  # within-bin terms ~ (bin width)^2
    lhs = r.brier
    rhs = r.reliability - r.resolution + r.uncertainty + r.within_bin_gap
    assert abs(lhs - rhs) < 5e-6


def test_ngram_novelty_planted(spark, sf_dir, tmp_path):
    """First doc: all grams novel (frac 1.0); exact copy later: zero
    novel; doc sharing nothing: fully novel."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i j"),
            (3, "q r s t u v w x y z"),
        ],
        "doc_id long, text string",
    )
    p = str(tmp_path / "nv")
    docs.write.parquet(f"{p}/documents.parquet")
    out = {r.doc_id: r for r in q("text_ngram_novelty", spark, p).collect()}
    assert out[1].novelty_frac == 1.0 and out[1].n_grams == 3
    assert out[2].n_novel == 0 and out[2].novelty_frac == 0.0
    assert out[3].novelty_frac == 1.0


def test_source_jaccard_recompute(spark, sf_dir):
    import re
    from collections import defaultdict
    from itertools import combinations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    vocab = defaultdict(set)
    for r in docs:
        vocab[r.source].update(
            t.lower() for t in re.split(r"\s+", r.text.strip())
        )
    got = {
        (r.src_a, r.src_b): r
        for r in q("text_source_vocab_jaccard", spark, sf_dir).collect()
    }
    expect_pairs = {
        (a, b) for a, b in combinations(sorted(vocab), 2)
        if vocab[a] & vocab[b]
    }
    assert set(got) == expect_pairs
    for (a, b), r in got.items():
        inter = len(vocab[a] & vocab[b])
        union = len(vocab[a] | vocab[b])
        assert (r.n_inter, r.n_union) == (inter, union)
        assert abs(r.jaccard - inter / union) < 1e-3
