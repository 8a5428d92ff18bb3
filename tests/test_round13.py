"""Round-13 device tests: the shared bounded-corpus GEMM candidate
path (similarity._top2_other_stream) that feeds both
ml_loo_1nn_embedding_accuracy and similarity_ratio_margin.

Two things are pinned here:
- the exact path (corpus <= GEMM_EXACT_MAX_ROWS, every fixture and
  sweep scale) is unchanged by the round-13 refactor — its answers
  still match a brute-force numpy recomputation;
- the IVF candidate path is REAL CODE, not prose: forcing the cap
  below the fixture corpus size rebuilds both plans onto the coarse
  index, they run end-to-end, and the approximation stays within a
  measured recall band of the exact answer (deterministic index —
  no RNG — so the band is a stable pin, not a flaky tolerance).
"""

from __future__ import annotations

import numpy as np

from etl_data_ingestion_spark.operators import similarity as sim
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def _exact_top2(sf_dir):
    """Brute-force snapped top-2 OTHER neighbors for every corpus
    vector, straight from parquet via the helper's own loader."""
    from etl_data_ingestion_spark.catalog import table_path

    qids, Qn = sim._corpus_matrix(table_path(sf_dir, "embeddings"))
    S = np.floor(Qn @ Qn.T * 1e9 + 0.5)
    np.fill_diagonal(S, -np.inf)
    best = S.argmax(axis=1)
    part = np.partition(S, S.shape[1] - 2, axis=1)
    return qids, qids[best], part[:, -1], part[:, -2]


def test_exact_path_matches_bruteforce(spark, sf_dir):
    qids, nbr, top1, top2 = _exact_top2(sf_dir)
    rows = registry.QUERIES["similarity_ratio_margin"](spark, sf_dir).collect()
    margins = (top1 - top2).astype(np.int64)
    # recompute the per-label rollup brute-force
    import pyarrow.parquet as pq

    labels = pq.read_table(
        sf_dir + "/embeddings.parquet", columns=["vec_id", "label"]
    ).to_pydict()
    lab = dict(zip(labels["vec_id"], labels["label"]))
    by_label = {}
    for vid, m in zip(qids, margins):
        by_label.setdefault(lab[int(vid)], []).append(int(m))
    for r in rows:
        ms = by_label[r.label]
        assert r.n_vectors == len(ms)
        want_mean = np.floor(sum(ms) / len(ms) / 1e9 * 1e6 + 0.5) / 1e6
        assert abs(r.mean_margin - want_mean) < 1e-9
        want_min = np.floor(min(ms) / 1e9 * 1e6 + 0.5) / 1e6
        assert abs(r.min_margin - want_min) < 1e-9


def test_ivf_path_runs_and_tracks_exact(spark, monkeypatch, sf_dir):
    """Force the IVF candidate path on the 500-vector fixture and pin
    its agreement with the exact path. The cap is read at plan-BUILD
    time (driver side) and serialized into the closure, so the
    monkeypatch takes effect without touching workers."""
    qids, nbr_exact, top1, top2 = _exact_top2(sf_dir)
    monkeypatch.setattr(sim, "GEMM_EXACT_MAX_ROWS", 64)

    loo = registry.QUERIES["ml_loo_1nn_embedding_accuracy"](spark, sf_dir)
    rows = loo.collect()
    assert [f.name for f in loo.schema.fields] == [
        "label",
        "n_vectors",
        "n_correct",
        "loo_accuracy",
    ]
    assert sum(r.n_vectors for r in rows) == len(qids)

    # exact LOO accuracy for comparison
    import pyarrow.parquet as pq

    labels = pq.read_table(
        sf_dir + "/embeddings.parquet", columns=["vec_id", "label"]
    ).to_pydict()
    lab = dict(zip(labels["vec_id"], labels["label"]))
    exact_correct = sum(
        1 for v, b in zip(qids, nbr_exact) if lab[int(v)] == lab[int(b)]
    )
    ivf_correct = sum(r.n_correct for r in rows)
    # deterministic index -> stable pin: the probe must recover the
    # bulk of the exact vote (clustered fixture labels make top-1
    # neighbors mostly intra-cluster, which IVF probing preserves)
    assert ivf_correct >= 0.8 * exact_correct

    margins = registry.QUERIES["similarity_ratio_margin"](spark, sf_dir)
    mrows = margins.collect()
    assert sum(r.n_vectors for r in mrows) == len(qids)
    # IVF margins are >= exact margins per label on average is NOT
    # guaranteed (missing a true top-2 inflates a margin; missing a
    # true top-1 deflates it) — pin the aggregate band instead
    exact_mean = float(np.mean((top1 - top2))) / 1e9
    ivf_mean = sum(r.mean_margin * r.n_vectors for r in mrows) / len(qids)
    assert abs(ivf_mean - exact_mean) <= 0.5 * exact_mean + 1e-6


def test_degenerate_corpus_fails_loudly(tmp_path):
    """< 3 corpus vectors must raise, not silently diverge (r12
    advisor item)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    t = pa.table(
        {
            "vec_id": [1, 2],
            "embedding": [[1.0, 0.0], [0.0, 1.0]],
        }
    )
    p = str(tmp_path / "embeddings.parquet")
    pq.write_table(t, p)
    with pytest.raises(ValueError, match=">= 3 corpus vectors"):
        sim._corpus_matrix(p)
