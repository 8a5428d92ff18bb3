"""Round-7 regression tests: markov keyset mirrors the oracle's inner
join (source-only states drop out), BPE OOV char-fallback, sequence
packing at window boundaries."""

from __future__ import annotations

import datetime as dt

import pytest

from etl_data_ingestion_spark.plans import parity, registry

registry.load_all()


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    from etl_data_ingestion_spark.catalog import drop_plan_cache

    drop_plan_cache(spark)


def test_markov_drops_source_only_states(spark, tmp_path):
    """A state with no INCOMING transitions must not appear in the
    stationary output (the oracle's GROUP BY p.t inner-join chain
    drops it; round-6 advisor found the driver-side loop kept it at
    prob 0.0, diverging the row sets)."""
    t0 = dt.datetime(2024, 1, 1)
    # user 1: X -> A -> B -> A -> B -> A  (X only ever a source)
    seq = ["X", "A", "B", "A", "B", "A"]
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, s, 1.0, "{}")
        for i, s in enumerate(seq)
    ]
    _write_events(spark, tmp_path, rows)
    out = registry.QUERIES["events_markov_stationary"](
        spark, str(tmp_path)
    ).collect()
    states = {r.event_type for r in out}
    assert "X" not in states
    assert states == {"A", "B"}
    # mass that flowed out of X's initial share is gone, not
    # renormalized — matches the oracle's arithmetic
    total = sum(r.stationary_prob for r in out)
    assert total <= 1.0 + 1e-9


def test_markov_parity_on_source_only_fixture(spark, tmp_path):
    """Same crafted fixture, full engine-vs-oracle comparison."""
    import duckdb

    t0 = dt.datetime(2024, 1, 1)
    seq1 = ["X", "A", "B", "A", "B", "A"]
    seq2 = ["A", "B", "B", "A"]
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, s, 1.0, "{}")
        for i, s in enumerate(seq1)
    ] + [
        (100 + i, t0 + dt.timedelta(minutes=i), 2, s, 1.0, "{}")
        for i, s in enumerate(seq2)
    ]
    _write_events(spark, tmp_path, rows)
    got = sorted(
        (r.event_type, r.stationary_prob, r.l1_residual)
        for r in registry.QUERIES["events_markov_stationary"](
            spark, str(tmp_path)
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    want = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(
            registry.ORACLES["events_markov_stationary"]
        ).fetchall()
    )
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], abs=1e-9)
        assert g[2] == pytest.approx(w[2], abs=1e-9)


def test_bpe_apply_oov_char_fallback(spark, sf_dir):
    """Words pruned by the min-frequency floor tokenize as bare
    characters: n_bpe_tokens >= n_chars is impossible, and for any
    doc, n_bpe_tokens must be between n_words (every word >= 1
    token) and n_chars (char fallback upper bound)."""
    rows = registry.QUERIES["text_bpe_apply_tokenize"](
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        assert r.n_words <= r.n_bpe_tokens <= r.n_chars


def test_pack_sequences_boundary_parity(spark, tmp_path):
    """pipeline_pack_sequences engine-vs-oracle on a crafted corpus
    that straddles window boundaries: docs of exactly 2048 tokens,
    docs spanning several windows, a 1-token doc landing at an exact
    boundary, and an empty doc. Guards the r5-r7 HUGEINT/seq_id fix
    with values the fixture corpus never produces."""
    import duckdb

    sizes = [2048, 1, 4096, 0, 2047, 3, 2048, 10]
    rows = [
        (i, " ".join(["tok"] * n), "en", "synthetic", 3 * n)
        for i, n in enumerate(sizes)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    from etl_data_ingestion_spark.catalog import drop_plan_cache

    drop_plan_cache(spark)
    df = registry.QUERIES["pipeline_pack_sequences"](spark, str(tmp_path))
    got = df.orderBy("seq_id").collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = con.execute(registry.ORACLES["pipeline_pack_sequences"]).fetchdf()
    assert parity.compare(df.toPandas(), want) is None
    # structural invariants: interior windows exactly full, only the
    # tail may be short; the last emitted window ends at the corpus
    # token total. (Windows no doc STARTS in — the interior of a
    # multi-window doc — are absent from the output by design, so
    # sum(window_tokens) over emitted rows is NOT the token total.)
    for g in got[:-1]:
        assert g.window_tokens == 2048 and g.fill_ratio == 1.0
    last = got[-1]
    assert last.seq_id * 2048 + last.window_tokens == sum(sizes)
    assert all(g.docs_starting >= 1 for g in got)
