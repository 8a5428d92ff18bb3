"""Device tests for the wave-28 operators: each pins the exactness
trick or boundary rule the oracle relies on, on inputs small enough
to verify by hand."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_t_closeness_missing_cell_fold(spark, sf_dir):
    """The shared-denominator algebra folds missing (class,
    sensitive) cells in via SUM_all C_i = N. Verify against a dense
    brute-force TV computation on the same fixture."""
    out = {
        r.c_nationkey: r.max_tvd
        for r in registry.QUERIES["quality_t_closeness"](spark, sf_dir).collect()
    }
    from etl_data_ingestion_spark.catalog import load_table

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rows = (
        c.join(o, o.o_custkey == c.c_custkey)
        .select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 2000).cast("int").alias("b"),
            "c_mktsegment",
            "o_orderpriority",
        )
        .collect()
    )
    from collections import Counter, defaultdict

    glob = Counter(r.o_orderpriority for r in rows)
    n = len(rows)
    cls = defaultdict(Counter)
    for r in rows:
        cls[(r.c_nationkey, r.b, r.c_mktsegment)][r.o_orderpriority] += 1
    best = defaultdict(float)
    for (nat, _, _), cnts in cls.items():
        ng = sum(cnts.values())
        tv = 0.5 * sum(
            abs(cnts.get(s, 0) / ng - glob[s] / n) for s in glob
        )
        tv = math.floor(tv * 1e6 + 0.5) / 1e6
        best[nat] = max(best[nat], tv)
    for nat, tvd in out.items():
        assert abs(best[nat] - tvd) < 1e-9, (nat, best[nat], tvd)


def test_split_hash_deterministic_and_disjoint(spark, sf_dir):
    """The multiplicative hash split is a pure function of doc_id:
    two runs agree exactly, and train+test == total per source."""
    q = registry.QUERIES["pipeline_train_test_split_hash"]
    a = sorted(map(tuple, q(spark, sf_dir).collect()))
    b = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert a == b
    from etl_data_ingestion_spark.catalog import load_table

    totals = {
        r.source: r.cnt
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for src, n_train, n_test, _chars, frac in a:
        assert n_train + n_test == totals[src]
        assert abs(frac - n_train / totals[src]) < 1e-6


def test_mattr_excludes_partial_segments(spark, sf_dir):
    """A 49-token doc contributes ZERO segments; a 100-token doc
    contributes exactly 2 — the partial-tail exclusion both engines
    must share (the DuckDB // fix this test guards)."""
    df = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(49)), "en", "s1", 0),
            (2, " ".join(f"w{i % 7}" for i in range(100)), "en", "s1", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    ts = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
    ex = df.select(
        "doc_id",
        (F.floor(F.size(ts) / 50)).cast("long").alias("full_segs"),
        F.posexplode(ts).alias("pos", "w"),
    ).select(
        "doc_id", "w", (F.col("pos") / 50).cast("long").alias("seg"), "full_segs"
    )
    per = (
        ex.filter(F.col("seg") < F.col("full_segs"))
        .groupBy("doc_id", "seg")
        .agg(F.count_distinct("w").alias("d"))
        .collect()
    )
    by_doc = {}
    for r in per:
        by_doc.setdefault(r.doc_id, []).append(r.d)
    assert 1 not in by_doc
    assert sorted(by_doc[2]) == [7, 7]  # 7 distinct types per 50-token seg


def test_roc_points_margins_consistent(spark, sf_dir):
    """TPR/FPR are exact count ratios: monotone non-increasing in
    the threshold, and tp <= pos / fp <= neg via the snapped ratios
    staying in [0, 1]."""
    rows = registry.QUERIES["ml_roc_curve_points"](spark, sf_dir).collect()
    assert [r.threshold for r in rows] == [
        round(0.1 * i, 1) for i in range(1, 10)
    ]
    tprs = [r.tpr for r in rows]
    fprs = [r.fpr for r in rows]
    assert all(0.0 <= v <= 1.0 for v in tprs + fprs)
    assert tprs == sorted(tprs, reverse=True)
    assert fprs == sorted(fprs, reverse=True)


def test_ewma_crossover_signal_definition(spark, sf_dir):
    """Crossovers = sign changes of the snapped fast-slow spread;
    with a monotone series the fast EWMA hugs the data, so the
    signal is constant after day 1 and n_crossovers is small.
    Sanity-pin the output contract (one row, counts bounded)."""
    r = registry.QUERIES["timeseries_ewma_crossover"](spark, sf_dir).collect()
    assert len(r) == 1
    row = r[0]
    assert row.n_crossovers >= 0 and row.n_crossovers < row.n_days
    assert row.last_signal in ("fast_above", "slow_above")
