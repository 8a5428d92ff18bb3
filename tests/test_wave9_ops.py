"""Wave-9 tests: pure-Python third opinions for the one-pass corr
matrix, the Granger lag-1 probe, positional phrase search, and the
Matryoshka truncation-agreement operator."""

from __future__ import annotations

import math
from collections import Counter

from etl_data_ingestion_spark.plans import registry

from tests.helpers import daily_event_counts

registry.load_all()


KINDS = ["view", "click", "purchase", "signup", "error"]


def test_corr_matrix_matches_python(spark, sf_dir):
    daily = daily_event_counts(spark, sf_dir)
    series = {k: [daily[d][k] for d in sorted(daily)] for k in KINDS}
    n = len(daily)
    expect = []
    for i, a in enumerate(KINDS):
        for b in KINDS[i + 1 :]:
            x, y = series[a], series[b]
            sx, sy = sum(x), sum(y)
            sxx = sum(v * v for v in x)
            syy = sum(v * v for v in y)
            sxy = sum(u * v for u, v in zip(x, y))
            c = (n * sxy - sx * sy) / math.sqrt(
                (n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)
            )
            expect.append((a, b, math.floor(c * 1e6 + 0.5) / 1e6))
    expect.sort()
    got = sorted(
        (r.metric_a, r.metric_b, r.corr)
        for r in registry.QUERIES["agg_corr_matrix_daily"](
            spark, sf_dir
        ).collect()
    )
    assert got == expect


def test_granger_lag1_matches_python(spark, sf_dir):
    daily = daily_event_counts(spark, sf_dir)
    days = sorted(daily)
    trip = [
        (daily[days[i - 1]]["purchase"], daily[days[i - 1]]["view"],
         daily[days[i]]["purchase"])
        for i in range(1, len(days))
    ]
    n = len(trip)
    sx1 = sum(t[0] for t in trip)
    sx2 = sum(t[1] for t in trip)
    sy = sum(t[2] for t in trip)
    s11 = float(n * sum(t[0] * t[0] for t in trip) - sx1 * sx1)
    s22 = float(n * sum(t[1] * t[1] for t in trip) - sx2 * sx2)
    s12 = float(n * sum(t[0] * t[1] for t in trip) - sx1 * sx2)
    s1y = float(n * sum(t[0] * t[2] for t in trip) - sx1 * sy)
    s2y = float(n * sum(t[1] * t[2] for t in trip) - sx2 * sy)
    sy2 = float(n * sum(t[2] * t[2] for t in trip) - sy * sy)
    r2a = s1y * s1y / (s11 * sy2)
    r2b = (s1y * (s22 * s1y - s12 * s2y) + s2y * (s11 * s2y - s12 * s1y)) / (
        (s11 * s22 - s12 * s12) * sy2
    )
    snap = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
    [row] = registry.QUERIES["timeseries_granger_lag1"](
        spark, sf_dir
    ).collect()
    assert (row.n_pairs, row.r2_ar1, row.r2_with_views, row.delta_r2) == (
        n, snap(r2a), snap(r2b), snap(r2b - r2a),
    )
    # the AR(1)-only fit can never beat the 2-regressor fit
    assert row.delta_r2 >= 0


def test_phrase_search_matches_python(spark, sf_dir):
    rows = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    toks = {
        r.doc_id: r.text.strip().split() for r in rows if r.text.strip()
    }
    big: Counter = Counter()
    for ts in toks.values():
        for i in range(len(ts) - 1):
            big[(ts[i], ts[i + 1])] += 1
    (w1, w2), _ = min(big.items(), key=lambda kv: (-kv[1], kv[0]))
    occ: Counter = Counter()
    for doc, ts in toks.items():
        for i in range(len(ts) - 1):
            if ts[i] == w1 and ts[i + 1] == w2:
                occ[doc] += 1
    expect = sorted(
        ((w1, w2, d, c) for d, c in occ.items()),
        key=lambda t: (-t[3], t[2]),
    )[:15]
    got = [
        (r.phrase_w1, r.phrase_w2, r.doc_id, r.n_occurrences)
        for r in registry.QUERIES["text_inverted_index_phrase"](
            spark, sf_dir
        ).collect()
    ]
    assert got == expect


def test_matryoshka_agreement_matches_python(spark, sf_dir):
    vecs = {
        r.vec_id: [float(c) for c in r.embedding]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def norm(a):
        acc = 0.0
        for x in a:
            acc = acc + x * x
        return math.sqrt(acc)

    def top5(q, dims):
        qv = vecs[q][:dims] if dims else vecs[q]
        qn = norm(qv)
        scored = []
        for vid, v in vecs.items():
            if vid == q:
                continue
            vv = v[:dims] if dims else v
            c = fold_dot(qv, vv) / (qn * norm(vv))
            scored.append((math.floor(c * 1e6 + 0.5) / 1e6, vid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        return {vid for _, vid in scored[:5]}

    expect = [
        (q, len(top5(q, 0) & top5(q, 16))) for q in sorted(vecs) if q < 5
    ]
    got = [
        (r.q_id, r.overlap_at_5)
        for r in registry.QUERIES["embedding_matryoshka_agreement"](
            spark, sf_dir
        ).collect()
    ]
    assert got == expect
    # sanity: prefix retrieval agrees on at least one neighbor somewhere
    assert any(o > 0 for _, o in got)
