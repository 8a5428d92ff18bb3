"""BPE merge-training tests: the registered query's merge list must
equal a pure-Python reference trainer (left-to-right greedy merge,
count-desc/pair-asc tie-break) run on the same word counts — proving
the 3-pass space-guarded replace algebra is exact on this corpus, not
just engine-consistent. Plus spectrogram bin exactness and mean-pool
math on a constructed group."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyspark.sql.functions as F

from etl_data_ingestion_spark.plans import registry

registry.load_all()


def _reference_bpe(word_freq: dict[str, int], k: int):
    seqs = {w: list(w) for w in word_freq}
    merges = []
    for _ in range(k):
        pc = Counter()
        for w, s in seqs.items():
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += word_freq[w]
        if not pc:
            break
        best = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        (a, b), cnt = best
        merges.append((a, b, a + b, cnt))
        for w, s in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges


def test_bpe_merges_match_reference_trainer(spark, sf_dir):
    rows = (
        registry.QUERIES["text_bpe_train_merges"](spark, sf_dir)
        .orderBy("round")
        .collect()
    )
    assert len(rows) == 8
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wf = {
        r.word: r.cnt
        for r in docs.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    # round-7: the trainer prunes hapax words (BPE_MIN_FREQ) before
    # training — the production floor that keeps the collected vocab
    # RAM-bounded; the reference trainer sees the same pruned table
    from etl_data_ingestion_spark.operators.corpus import BPE_MIN_FREQ

    wf = {w: c for w, c in wf.items() if c >= BPE_MIN_FREQ}
    ref = _reference_bpe(wf, 8)
    got = [(r.merge_left, r.merge_right, r.merged, r.cnt) for r in rows]
    assert got == ref


def test_spectrogram_bins_exact(spark, sf_dir):
    rows = registry.QUERIES["multimodal_spectrogram_real"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        d = r.doc_id
        assert r.dominant_bin == 1 + (d + r.frame_idx) % 20
        amp = 0.5 + (d % 5) / 10.0
        assert abs(r.peak_mag - amp * 32) < 1e-3
        assert abs(r.frame_power - amp * amp * 32) < 1e-3


def test_mean_pool_matches_numpy(spark, sf_dir):
    pooled = {
        r.doc_id: r
        for r in registry.QUERIES["embedding_chunk_mean_pool"](
            spark, sf_dir
        ).collect()
    }
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    groups = {}
    for r in emb:
        groups.setdefault(r.vec_id // 4, []).append(r.embedding)
    for doc_id, vecs in list(groups.items())[:10]:
        m = np.mean(np.array(vecs, dtype=np.float64), axis=0)
        p = pooled[doc_id]
        assert p.n_vecs == len(vecs)
        assert abs(p.pooled_d0 - round(float(m[0]), 5)) <= 1e-5
        assert abs(p.pooled_norm - round(float(np.sqrt((m * m).sum())), 5)) <= 1e-5
