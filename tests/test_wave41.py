"""Device tests for the wave-41 operators: independent brute-force
recomputation on the sf0.001 fixture."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_yule_k_matches_bruteforce(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").collect()
    freq = defaultdict(Counter)
    for r in docs:
        t = r.text.strip()
        if t:
            freq[r.source].update(t.split())
    out = {
        r.source: r
        for r in registry.QUERIES["text_yule_k_characteristic"](
            spark, sf_dir
        ).collect()
    }
    assert set(out) == set(freq)
    for src, c in freq.items():
        s1 = sum(c.values())
        s2 = sum(v * v for v in c.values())
        k = 1e4 * (s2 - s1) / (s1 * s1)
        assert out[src].n_tokens == s1
        assert out[src].n_types == len(c)
        assert abs(out[src].yule_k - math.floor(k * 1e6 + 0.5) / 1e6) < 2e-6


def _polyhash(s: str) -> int:
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % 2147483647
    return acc


def test_priority_sample_matches_bruteforce(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").collect()
    keyed = []
    for r in docs:
        t = r.text.strip()
        if not t:
            continue
        w = len(t.split())
        u = (_polyhash(str(r.doc_id)) + 1) / 2147483648.0
        p9 = math.floor(u ** (1.0 / w) * 1e9 + 0.5)
        keyed.append((-p9, r.doc_id, r.source, w))
    keyed.sort()
    want = keyed[:20]
    out = registry.QUERIES["pipeline_weighted_priority_sample"](
        spark, sf_dir
    ).collect()
    assert len(out) == 20
    for row, (negp, did, src, w) in zip(out, want):
        assert row.doc_id == did
        assert row.source == src
        assert row.n_tokens == w
        assert row.priority9 == -negp


def test_bh_fdr_matches_bruteforce(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").collect()
    by_src = defaultdict(lambda: [0] * 16)
    for r in docs:
        by_src[r.source][min(15, r.n_chars // 256)] += 1
    nn = sum(sum(v) for v in by_src.values())
    m = len(by_src)
    stats = {}
    for src, hist in by_src.items():
        n_s = sum(hist)
        cum_s = 0
        cum_all = 0
        d_num = 0
        for bkt in range(16):
            cum_s += hist[bkt]
            cum_all += sum(by_src[s][bkt] for s in by_src)
            d_num = max(
                d_num, abs(cum_s * (nn - n_s) - (cum_all - cum_s) * n_s)
            )
        neff_denom = n_s * (nn - n_s)
        p = min(
            1.0,
            2.0
            * math.exp(
                -2.0 * d_num * d_num / neff_denom / neff_denom
                * (neff_denom / nn)
            ),
        )
        stats[src] = (n_s, d_num, math.floor(p * 1e9 + 0.5))
    ranked = sorted(stats.items(), key=lambda kv: (kv[1][2], kv[0]))
    k = 0
    for i, (src, (n_s, d_num, p9)) in enumerate(ranked, 1):
        if p9 <= math.floor(i * 0.10 / m * 1e9 + 0.5):
            k = i
    out = {
        r.source: r
        for r in registry.QUERIES["agg_bh_fdr_source_drift"](
            spark, sf_dir
        ).collect()
    }
    assert set(out) == set(stats)
    for i, (src, (n_s, d_num, p9)) in enumerate(ranked, 1):
        r = out[src]
        assert r.n_docs == n_s
        assert r.bh_rank == i
        assert abs(r.p_value - math.floor(p9 / 1e9 * 1e6 + 0.5) / 1e6) < 2e-6
        assert r.rejected == (i <= k)


def test_mmd_drift_matches_bruteforce(spark, sf_dir):
    import pyarrow.parquet as pq

    tbl = pq.read_table(sf_dir + "/embeddings.parquet").to_pydict()
    by_label = defaultdict(list)
    for lab, vec in zip(tbl["label"], tbl["embedding"]):
        by_label[lab].append(
            [math.floor(float(v) * 1e7 + 0.5) for v in vec]
        )
    dims = len(next(iter(by_label.values()))[0])
    tot = [0] * dims
    nn = 0
    for vecs in by_label.values():
        nn += len(vecs)
        for v in vecs:
            for d in range(dims):
                tot[d] += v[d]
    out = {
        r.label: r
        for r in registry.QUERIES["similarity_label_mmd_drift"](
            spark, sf_dir
        ).collect()
    }
    assert set(out) == set(by_label)
    for lab, vecs in by_label.items():
        n = len(vecs)
        ssq = 0
        for d in range(dims):
            s = sum(v[d] for v in vecs)
            nm = s * (nn - n) - (tot[d] - s) * n
            ssq += nm * nm
        mmd2 = ssq / (n * n) / ((nn - n) * (nn - n)) / 1e14
        r = out[lab]
        assert r.n_vectors == n
        assert abs(
            r.mmd2_linear - math.floor(mmd2 * 1e6 + 0.5) / 1e6
        ) < 2e-6
