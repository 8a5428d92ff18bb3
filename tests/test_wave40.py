"""Device tests for the wave-40 operators: independent brute-force
recomputation on the sf0.001 fixture."""

from __future__ import annotations

import math
from collections import defaultdict

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_jonckheere_matches_bruteforce(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").collect()
    groups = defaultdict(list)
    for r in orders:
        groups[int(r.o_orderpriority[0])].append(
            math.floor(r.o_totalprice * 100 + 0.5)
        )
    ks = sorted(groups)
    jt2 = 0
    for ii in range(len(ks)):
        for jj in range(ii + 1, len(ks)):
            for x in groups[ks[ii]]:
                for y in groups[ks[jj]]:
                    if x < y:
                        jt2 += 2
                    elif x == y:
                        jt2 += 1
    ns = [len(groups[k]) for k in ks]
    n = sum(ns)
    mean = (n * n - sum(x * x for x in ns)) / 4
    var = (
        n * n * (2 * n + 3) - sum(x * x * (2 * x + 3) for x in ns)
    ) / 72
    z = (jt2 / 2 - mean) / math.sqrt(var)
    out = registry.QUERIES["agg_jonckheere_terpstra"](spark, sf_dir).collect()[0]
    assert out.n_orders == n
    assert out.jt2_stat == jt2
    assert abs(out.jt_z - math.floor(z * 1e6 + 0.5) / 1e6) < 2e-6


def test_cmh_matches_bruteforce(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").collect()
    orders = load_table(spark, sf_dir, "orders").collect()
    urgent = {r.o_custkey for r in orders
              if r.o_orderpriority == "1-URGENT"}
    strata = defaultdict(lambda: [0, 0, 0, 0])  # a, r1, k1, n
    for c in cust:
        e = 1 if c.c_acctbal > 0 else 0
        o = 1 if c.c_custkey in urgent else 0
        s = strata[c.c_nationkey]
        s[0] += e and o
        s[1] += e
        s[2] += o
        s[3] += 1
    num9 = v9 = 0
    n_strata = 0
    for a, r1, k1, n in strata.values():
        if n < 2:
            continue
        n_strata += 1
        num9 += math.floor((a - r1 * k1 / n) * 1e9 + 0.5)
        v9 += math.floor(
            r1 * (n - r1) * k1 * (n - k1) / (n * n * (n - 1)) * 1e9 + 0.5
        )
    chi2 = (num9 / 1e9) ** 2 / (v9 / 1e9)
    out = registry.QUERIES["agg_cmh_stratified_test"](spark, sf_dir).collect()[0]
    assert out.n_strata == n_strata
    assert abs(out.cmh_chi2 - math.floor(chi2 * 1e6 + 0.5) / 1e6) < 2e-6


def test_mood_median_matches_bruteforce(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").collect()
    vals = sorted(math.floor(r.o_totalprice * 100 + 0.5) for r in orders)
    med = vals[math.ceil(len(vals) / 2) - 1]
    groups = defaultdict(list)
    for r in orders:
        groups[int(r.o_orderpriority[0])].append(
            math.floor(r.o_totalprice * 100 + 0.5)
        )
    nn = len(vals)
    ta = sum(1 for v in vals if v > med)
    chi2 = 0.0
    for g, vs in groups.items():
        ng = len(vs)
        ab = sum(1 for v in vs if v > med)
        e1 = ng * ta / nn
        e0 = ng * (nn - ta) / nn
        chi2 += (ab - e1) ** 2 / e1 + ((ng - ab) - e0) ** 2 / e0
    out = registry.QUERIES["agg_mood_median_test"](spark, sf_dir).collect()[0]
    assert out.n_groups == len(groups)
    assert out.n_above_total == ta
    assert abs(out.mood_chi2 - math.floor(chi2 * 1e6 + 0.5) / 1e6) < 2e-6


def test_ratio_margin_matches_bruteforce(spark, sf_dir):
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r.vec_id for r in emb])
    order = np.argsort(ids)
    ids = ids[order]
    labels = np.array([r.label for r in emb])[order]
    M = np.stack(
        [np.array(r.embedding, dtype=np.float64) for r in emb]
    )[order]
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = np.floor(Mn @ Mn.T * 1e9 + 0.5)
    np.fill_diagonal(S, -np.inf)
    per_label = defaultdict(list)
    for i in range(len(ids)):
        row = np.sort(S[i])
        per_label[int(labels[i])].append(int(row[-1] - row[-2]))
    rows = registry.QUERIES["similarity_ratio_margin"](spark, sf_dir).collect()
    assert len(rows) == len(per_label)
    for row in rows:
        ms = per_label[row.label]
        assert row.n_vectors == len(ms)
        mean = sum(ms) / len(ms) / 1e9
        assert abs(row.mean_margin
                   - math.floor(mean * 1e6 + 0.5) / 1e6) < 1e-9
        assert abs(row.min_margin
                   - math.floor(min(ms) / 1e9 * 1e6 + 0.5) / 1e6) < 1e-9
        assert row.min_margin >= 0.0


def test_ess_matches_bruteforce(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").collect()
    toks = sorted(
        ((len(r.text.strip().split()), r.doc_id) for r in docs),
        key=lambda p: (-p[0], p[1]),
    )
    ws = [t for t, _ in toks]
    s, ss = sum(ws), sum(w * w for w in ws)
    ess = s * s / ss
    out = registry.QUERIES["pipeline_length_weight_ess"](
        spark, sf_dir
    ).collect()[0]
    assert out.n_docs == len(ws) and out.total_tokens == s
    assert abs(out.ess - math.floor(ess * 1e4 + 0.5) / 1e4) < 1e-9
    assert abs(out.ess_ratio
               - math.floor(ess / len(ws) * 1e6 + 0.5) / 1e6) < 1e-9
    assert abs(out.max_doc_share
               - math.floor(max(ws) / s * 1e6 + 0.5) / 1e6) < 1e-9
    t10 = sum(ws[:10])
    assert abs(out.top10_share
               - math.floor(t10 / s * 1e6 + 0.5) / 1e6) < 1e-9
    assert out.ess <= out.n_docs + 1e-9
