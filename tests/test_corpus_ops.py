"""Tests for the corpus-shaping batch (corpus.py + the embedding
quantize and z-score additions): exact Python recomputation for the
per-document/per-vector ops, planted-structure checks for the
cross-document span detector, invariant checks for z-score."""

from __future__ import annotations

import math
import re

import numpy as np

from etl_data_ingestion_spark.catalog import drop_plan_cache
from etl_data_ingestion_spark.plans import registry

from tests.helpers import q

registry.load_all()


STOPWORDS = {"the", "a", "of", "and", "to", "in"}


def _c4_recompute(text: str):
    ts = re.split(r"\s+", text.strip())
    lines = [ts[i : i + 10] for i in range(0, len(ts), 10)]
    kept = [
        ln for ln in lines if len(ln) >= 5 and any(w in STOPWORDS for w in ln)
    ]
    cleaned = " ".join(" ".join(ln) for ln in kept)
    return len(lines), len(kept), len(cleaned)


def test_c4_line_filter_matches_python_recompute(spark, sf_dir):
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    rows = q("text_c4_line_filter", spark, sf_dir).collect()
    assert len(rows) == len(docs)
    for r in rows:
        n_lines, n_kept, clen = _c4_recompute(docs[r.doc_id])
        assert (r.n_lines, r.n_kept, r.cleaned_len) == (n_lines, n_kept, clen)
        assert abs(r.kept_frac - round(n_kept / n_lines, 4)) < 1e-9


def test_duplicated_spans_full_dup_on_planted_copy(spark, sf_dir):
    """Two planted copies of the same >=8-token doc must each report
    dup_frac 1.0; a doc sharing no 8-gram with anything reports 0."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (3, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet("/tmp/span_docs/documents.parquet")
    # fixed path rewritten in place: invalidate any scan-plan cache
    # entry from a prior registration (the overwrite deletes the old
    # part files a stale cached file index would still point at)
    drop_plan_cache(spark)
    out = {
        r.doc_id: r
        for r in q("dedup_duplicated_spans", spark, "/tmp/span_docs").collect()
    }
    assert out[1].dup_frac == 1.0 and out[2].dup_frac == 1.0
    assert out[3].n_dup_grams == 0 and out[3].dup_frac == 0.0
    # 10 tokens -> 3 distinct 8-grams per doc
    assert out[1].n_grams == 3


def test_chunking_covers_every_token_with_overlap(spark, sf_dir):
    """Chunk windows (size 64, stride 48) must tile each document:
    first chunk starts at 0, consecutive starts 48 apart, the union
    covers all tokens, and only the last chunk may be short."""
    docs = {
        r.doc_id: len(re.split(r"\s+", r.text.strip()))
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    rows = q("pipeline_chunk_documents", spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        n = docs[doc_id]
        chunks.sort(key=lambda r: r.chunk_idx)
        expect_chunks = (n - 1) // 48 + 1
        assert [c.chunk_idx for c in chunks] == list(range(expect_chunks))
        for c in chunks[:-1]:
            assert c.n_tokens == min(64, n - c.chunk_idx * 48)
        last = chunks[-1]
        assert last.n_tokens == n - last.chunk_idx * 48 or last.n_tokens == 64
        # coverage: last chunk reaches the final token
        assert last.chunk_idx * 48 + last.n_tokens >= n


def test_quantize_error_bounded_by_half_scale(spark, sf_dir):
    """int8 symmetric quantization guarantees |x - q*s| <= s/2 with
    s = max_abs/127; the norm must match numpy's in double."""
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float32)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    rows = q("embedding_l2_quantize", spark, sf_dir).collect()
    assert len(rows) == len(emb)
    for r in rows:
        v = emb[r.vec_id].astype(np.float64)
        assert r.n_dims == len(v)
        assert abs(r.l2_norm - round(math.sqrt(float((v * v).sum())), 4)) < 1e-9
        s = float(np.abs(v).max()) / 127
        # emitted err is ROUND(.,6), which can tip over s/2 by up to
        # half an ulp of the 6th decimal
        assert r.max_quant_err <= s / 2 + 5.1e-7


def test_zscore_outliers_bounded_and_complete(spark, sf_dir):
    """Every event type appears; outliers are a subset of events; the
    reported max |z| is consistent with the outlier count."""
    from etl_data_ingestion_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    n_types = ev.select("event_type").distinct().count()
    rows = q("timeseries_zscore_outliers", spark, sf_dir).collect()
    assert len(rows) == n_types
    for r in rows:
        assert 0 <= r.n_outliers <= r.n_events
        if r.max_abs_z <= 3:
            assert r.n_outliers == 0
        else:
            assert r.n_outliers >= 1


def test_hll_union_matches_global_on_overlapping_groups(spark, tmp_path):
    """Groups share keys, so sum(group exacts) > global exact; the
    unioned sketch must estimate the GLOBAL count (dedup across
    groups), not the sum — within the pinned 5% bound."""
    rows = [(k % 3, k % 400) for k in range(5000)]
    df = spark.createDataFrame(rows, "l_returnflag long, l_partkey long")
    # reuse the operator body against a synthesized lineitem
    path = str(tmp_path / "li")
    df.write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
    out = registry.QUERIES["agg_hll_partitioned_union"](spark, path).collect()[0]
    assert out.n_groups == 3
    assert out.exact_global == 400
    assert out.sum_group_exact > out.exact_global
    assert out.groups_within_5pct and out.union_within_5pct


def _write_events(spark, path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(f"{path}/events.parquet")
    # writer invalidates readers' cached table registration (the
    # round-7 scan-plan cache) — same contract as Spark's own
    # REFRESH TABLE after an out-of-band rewrite
    from etl_data_ingestion_spark.catalog import drop_plan_cache

    drop_plan_cache(spark)


def test_funnel_respects_order_and_window(spark, tmp_path):
    """User 1 converts fully inside the windows; user 2's click comes
    BEFORE the view (order violation); user 3's purchase is 2h after
    the click (window violation)."""
    from datetime import datetime as dt

    t = lambda m: dt(2024, 1, 1, 0, m)
    h = lambda hh, mm=0: dt(2024, 1, 1, hh, mm)
    rows = [
        (1, t(0), 1, "view", 1.0, "{}"),
        (2, t(10), 1, "click", 1.0, "{}"),
        (3, t(20), 1, "purchase", 1.0, "{}"),
        (4, t(30), 2, "click", 1.0, "{}"),
        (5, t(40), 2, "view", 1.0, "{}"),
        (6, t(0), 3, "view", 1.0, "{}"),
        (7, t(10), 3, "click", 1.0, "{}"),
        (8, h(3), 3, "purchase", 1.0, "{}"),
    ]
    _write_events(spark, str(tmp_path), rows)
    out = registry.QUERIES["funnel_view_click_purchase"](
        spark, str(tmp_path)
    ).collect()[0]
    assert (out.n_view, out.n_click, out.n_purchase) == (3, 2, 1)
    assert abs(out.click_rate - round(2 / 3, 4)) < 1e-9
    assert out.purchase_rate == 0.5


def test_retention_triangle_on_planted_cohorts(spark, tmp_path):
    """Two users start day 0 (one returns day 1), one starts day 1:
    the triangle must show cohort sizes 2 and 1 and retention 0.5 for
    (day0 cohort, offset 1)."""
    from datetime import datetime as dt

    rows = [
        (1, dt(2024, 1, 1, 9), 1, "view", 1.0, "{}"),
        (2, dt(2024, 1, 1, 10), 2, "view", 1.0, "{}"),
        (3, dt(2024, 1, 2, 9), 1, "click", 1.0, "{}"),
        (4, dt(2024, 1, 2, 11), 3, "view", 1.0, "{}"),
    ]
    _write_events(spark, str(tmp_path), rows)
    out = {
        (r.cohort_day, r.day_offset): r
        for r in registry.QUERIES["retention_daily_cohorts"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[("2024-01-01", 0)].cohort_size == 2
    assert out[("2024-01-01", 0)].retention == 1.0
    assert out[("2024-01-01", 1)].n_active == 1
    assert out[("2024-01-01", 1)].retention == 0.5
    assert out[("2024-01-02", 0)].cohort_size == 1


def test_time_partitioned_write_prunes_and_orders(spark, sf_dir, tmp_path):
    """The layout must (1) produce one Hive dir per day, (2) keep rows
    time-ordered within every file (tight rowgroup stats), and (3)
    show PartitionFilters pruning when a day is queried."""
    import os

    from etl_data_ingestion_spark.catalog import load_table
    from etl_data_ingestion_spark.ingest.sinks import write_time_partitioned

    ev = load_table(spark, sf_dir, "events")
    n_days = ev.selectExpr("count(distinct to_date(ts))").collect()[0][0]
    path = str(tmp_path / "ev_by_day")
    written = write_time_partitioned(spark, ev, path, ts_col="ts")
    assert written == n_days

    # per-file ordering: every file's ts column is non-decreasing
    back = spark.read.parquet(path)
    from pyspark.sql import functions as F

    bad = (
        back.withColumn("f", F.input_file_name())
        .withColumn(
            "prev",
            F.lag("ts").over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("f")
                .orderBy(F.monotonically_increasing_id())
            ),
        )
        .filter(F.col("prev") > F.col("ts"))
        .count()
    )
    assert bad == 0

    # partition pruning: a day-equality predicate must reach
    # PartitionFilters, not the data filters
    one_day = back.filter(F.col("event_date") == F.lit("2024-01-02"))
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan


def test_tfidf_ranks_distinctive_term_first(spark, tmp_path):
    """A term appearing 3x in one doc and nowhere else must outrank
    corpus-wide terms; df counts docs, not occurrences."""
    docs = spark.createDataFrame(
        [
            (1, "zebra zebra zebra common common"),
            (2, "common common other other"),
            (3, "common other filler filler"),
        ],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = registry.QUERIES["text_tfidf_top_terms"](
        spark, str(tmp_path)
    ).collect()
    top1 = {r.doc_id: r for r in rows if r.rnk == 1}
    assert top1[1].term == "zebra"
    assert top1[1].tf == 3 and top1[1].df == 1
    # 'common' is in every doc -> ln(3/3)=0 -> can never rank above
    # any doc-exclusive term
    for r in rows:
        if r.term == "common":
            assert r.tfidf == 0.0


def test_histogram_buckets_clamp_and_partition(spark, tmp_path):
    """Boundary semantics: v=10 goes to bucket 2 (left-closed bins),
    v<0 to bucket 0, v>=200 to bucket 21; counts total the input."""
    from datetime import datetime as dt

    vals = [-5.0, 0.0, 9.99, 10.0, 55.5, 199.99, 200.0, 500.0]
    rows = [
        (i, dt(2024, 1, 1), 1, "view", v, "{}") for i, v in enumerate(vals)
    ]
    _write_events(spark, str(tmp_path), rows)
    out = {
        r.bucket: r
        for r in registry.QUERIES["agg_value_histogram"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[0].n_events == 1 and out[0].lo_edge is None
    assert out[1].n_events == 2          # 0.0 and 9.99
    assert out[2].n_events == 1          # 10.0 is left-closed in bin 2
    assert out[6].n_events == 1          # 55.5
    assert out[20].n_events == 1         # 199.99
    assert out[21].n_events == 2 and out[21].hi_edge is None  # 200, 500
    assert sum(r.n_events for r in out.values()) == len(vals)


def test_payload_dedup_finds_planted_recrawls(spark, sf_dir):
    """Every 7th doc is planted as a re-crawl: each duplicated digest
    must show exactly 2 copies with the original id kept."""
    n_sevens = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id % 7 = 0")
        .count()
    )
    rows = registry.QUERIES["multimodal_payload_dedup"](spark, sf_dir).collect()
    assert len(rows) == n_sevens
    for r in rows:
        assert r.n_copies == 2
        assert r.keeper_doc_id % 7 == 0 and r.keeper_doc_id < 2000000


def test_hash_sample_stable_under_append(spark, tmp_path):
    """The consistent-hash property: sampling a superset keeps every
    prior member unless displaced by a lower hash — verified by
    recomputing the k=5 sample before/after appending rows."""
    from datetime import datetime as dt

    base = [(i, dt(2024, 1, 1), 1, "view", 1.0, "{}") for i in range(40)]
    _write_events(spark, str(tmp_path), base)
    before = {
        r.event_id
        for r in registry.QUERIES["agg_consistent_hash_sample"](
            spark, str(tmp_path)
        ).collect()
    }
    extra = [(i, dt(2024, 1, 2), 1, "view", 1.0, "{}") for i in range(40, 80)]
    _write_events(spark, str(tmp_path), base + extra)
    after_rows = registry.QUERIES["agg_consistent_hash_sample"](
        spark, str(tmp_path)
    ).collect()
    after = {r.event_id for r in after_rows}
    max_h_after = max(r.h for r in after_rows)
    # members that left were displaced by a strictly lower hash
    import hashlib

    for ev_id in before - after:
        h = hashlib.md5(str(ev_id).encode()).hexdigest()
        assert h > max_h_after
