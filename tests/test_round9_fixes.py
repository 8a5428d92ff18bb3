"""Round-9 regression tests for the round-8 advisor findings:

1. Isotonic calibration on a GAPPY bin domain — the old prefix lookup
   keyed on bin-1 silently reached back past an interior empty bin,
   so the max-min fit stopped equaling true sequential PAV exactly on
   the fixtures where both engines shared the defect (parity could
   not catch it). The fixture here scores events so one interior bin
   is empty and checks the operator against a true sequential PAV.

2. events_anova_weekday int64 overflow — sg*sg*10000 wrapped in int64
   (non-ANSI, silent) past sg ~ 3e7; the promoted form must match an
   all-double Python mirror on a synthetic high-volume fixture.

3. Phrase-index oracle position axis — documents longer than 4096
   tokens silently truncated in the OLD oracle (fixed literal
   generate_series); the oracle must now agree with Spark's full
   posexplode on a fixture containing a >4096-token document.
"""

from __future__ import annotations

import math
import os
from collections import defaultdict

import duckdb
import pyspark.sql.functions as F

from etl_data_ingestion_spark.plans import parity, registry

registry.load_all()


def _write_events(spark, tmp_path, rows):
    """Write a minimal events.parquet (full fixture schema) into a
    temp sf-dir; rows = list of (value, event_type)."""
    df = spark.createDataFrame(
        [
            (i, None, i % 97, et, float(v), None)
            for i, (v, et) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )
    return str(tmp_path)


def _sequential_pav(bins):
    """True sequential pool-adjacent-violators over present bins."""
    order = sorted(bins)
    pools = [[bins[b][0], bins[b][1], [b]] for b in order]
    i = 0
    while i < len(pools) - 1:
        n1, s1, _ = pools[i]
        n2, s2, _ = pools[i + 1]
        if s1 * n2 > s2 * n1:
            pools[i] = [n1 + n2, s1 + s2, pools[i][2] + pools[i + 1][2]]
            del pools[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    iso = {}
    for n, s, members in pools:
        for b in members:
            iso[b] = s / n
    return iso


def _v_for_bin(b, frac=0.5):
    """value whose sigmoid score falls at the given fraction of bin b."""
    ph = (b + frac) / 20.0
    return 250.0 - 50.0 * math.log(1.0 / ph - 1.0)


def test_isotonic_gappy_bins(spark, tmp_path):
    rows = []
    # bin 3: 10 events, 9 purchases (rate 0.9 — a violator upstream)
    rows += [(_v_for_bin(3), "purchase")] * 9 + [(_v_for_bin(3), "view")]
    # bins 4..6 empty is impossible for 4 (adjacent) — leave 4-6 EMPTY
    # bin 7: 10 events, 1 purchase (rate 0.1 — violation across gap)
    rows += [(_v_for_bin(7), "purchase")] + [(_v_for_bin(7), "view")] * 9
    # bin 9: 8 events, 6 purchases (rate 0.75)
    rows += [(_v_for_bin(9), "purchase")] * 6 + [(_v_for_bin(9), "view")] * 2
    # bin 12: 5 events, 5 purchases (rate 1.0)
    rows += [(_v_for_bin(12), "purchase")] * 5
    sf_dir = _write_events(spark, tmp_path, rows)

    bins: dict = defaultdict(lambda: [0, 0])
    for v, et in rows:
        ph = 1.0 / (1.0 + math.exp(-(v - 250.0) / 50.0))
        b = min(int(ph * 20), 19)
        bins[b][0] += 1
        bins[b][1] += 1 if et == "purchase" else 0
    assert 5 not in bins and 6 not in bins  # the interior gap is real
    iso = _sequential_pav(bins)

    got = {
        r.bin: r.isotonic_rate
        for r in registry.QUERIES["ml_isotonic_calibration_bins"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(bins)
    for b in bins:
        assert got[b] == math.floor(iso[b] * 1e6 + 0.5) / 1e6, (
            b,
            got[b],
            iso[b],
        )
    fit = [got[b] for b in sorted(got)]
    assert fit == sorted(fit)


def test_isotonic_gappy_oracle_matches_pav(spark, tmp_path):
    """The ORACLE must also produce true PAV on the gappy fixture
    (both engines previously shared the bin-1 defect, so parity alone
    proved nothing)."""
    rows = (
        [(_v_for_bin(3), "purchase")] * 9
        + [(_v_for_bin(3), "view")]
        + [(_v_for_bin(7), "purchase")]
        + [(_v_for_bin(7), "view")] * 9
        + [(_v_for_bin(9), "purchase")] * 6
        + [(_v_for_bin(9), "view")] * 2
        + [(_v_for_bin(12), "purchase")] * 5
    )
    sf_dir = _write_events(spark, tmp_path, rows)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf_dir, 'events.parquet')}/*.parquet')"
    )
    out = {
        r[0]: r[3]
        for r in con.execute(
            registry.ORACLES["ml_isotonic_calibration_bins"]
        ).fetchall()
    }
    bins: dict = defaultdict(lambda: [0, 0])
    for v, et in rows:
        ph = 1.0 / (1.0 + math.exp(-(v - 250.0) / 50.0))
        b = min(int(ph * 20), 19)
        bins[b][0] += 1
        bins[b][1] += 1 if et == "purchase" else 0
    iso = _sequential_pav(bins)
    for b in bins:
        assert out[b] == math.floor(iso[b] * 1e6 + 0.5) / 1e6


def test_anova_weekday_high_volume_no_overflow(spark, tmp_path):
    """Synthetic daily volumes large enough that the OLD int64
    sg*sg*10000 product would wrap (sg ~ 5e7 per weekday group);
    the promoted-double form must match an all-double Python mirror."""
    import pandas as pd

    # 28 days, 4 of each weekday; per-day purchase count ~1.25e7 so a
    # weekday-group sum sg ~ 5e7 -> sg*sg*1e4 ~ 2.5e19 > 2^63.
    days = pd.date_range("2024-01-01", periods=28, freq="D")
    counts = [12_500_000 + (i * 137) % 1000 for i in range(28)]
    pdf = pd.DataFrame(
        {
            "event_id": range(28),
            "ts": days,
            "user_id": [1] * 28,
            "event_type": ["purchase"] * 28,
            "value": [float(c) for c in counts],
            "props": [None] * 28,
        }
    )
    # the operator counts purchase EVENTS per day; we can't write 3.5e8
    # rows, so instead verify the arithmetic core directly on the
    # aggregated shape the operator computes: group sums via the same
    # expressions over a pre-aggregated frame.
    sdf = spark.createDataFrame(pdf)
    daily = sdf.select(
        F.to_date("ts").alias("d"), F.col("value").cast("long").alias("p")
    )
    grp = daily.groupBy(F.dayofweek("d").alias("wd")).agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("p").alias("sg"),
        F.sum(F.col("p") * F.col("p")).alias("qg"),
    )
    tot = grp.agg(
        (
            F.sum(
                F.floor(
                    F.col("sg") * 1.0 * F.col("sg") * 10000 / F.col("ng")
                    + F.lit(0.5)
                ).cast("decimal(38,0)")
            )
            / 10000.0
        ).alias("e")
    ).collect()[0]
    # Python mirror: exact integer term sum, then the same
    # double-convert-then-divide chain both engines use
    by_wd: dict = defaultdict(lambda: [0, 0])
    for d, c in zip(days, counts):
        wd = (d.dayofweek + 1) % 7 + 1  # Spark dayofweek: Sun=1
        by_wd[wd][0] += 1
        by_wd[wd][1] += c
    exact = sum(
        math.floor(sg * 1.0 * sg * 10000 / ng + 0.5)
        for ng, sg in by_wd.values()
    )
    expect = float(exact) / 10000.0
    assert tot.e == expect
    # and the old int64 form WOULD have wrapped (sanity of the fixture)
    sg_max = max(sg for _, sg in by_wd.values())
    assert sg_max * sg_max * 10000 > 2**63


def test_phrase_index_oracle_long_document(spark, sf_dir, tmp_path):
    """A >4096-token document must contribute ALL its positions to the
    oracle's postings (the old fixed generate_series(1,4096) truncated
    it). Build a tiny corpus where the top bigram's count depends on
    tokens past position 4096 and compare engine vs oracle."""
    long_doc = " ".join(["alpha beta"] * 2100)  # 4200 tokens
    short_doc = "alpha beta alpha beta"
    df = spark.createDataFrame(
        [(0, long_doc, "src0"), (1, short_doc, "src0")],
        "doc_id long, text string, source string",
    )
    # documents fixture schema: check what columns the query reads
    docs_path = os.path.join(str(tmp_path), "documents.parquet")
    real = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = {f.name: f.dataType.simpleString() for f in real.schema.fields}
    # pad missing columns with nulls to match the fixture schema
    out = df
    for name, dt in base.items():
        if name not in out.columns:
            out = out.withColumn(name, F.lit(None).cast(dt))
    out = out.select(*base.keys())
    out.coalesce(1).write.mode("overwrite").parquet(docs_path)

    sdf = registry.QUERIES["text_inverted_index_phrase"](
        spark, str(tmp_path)
    ).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{docs_path}/*.parquet')"
    )
    odf = con.execute(
        registry.ORACLES["text_inverted_index_phrase"]
    ).fetchdf()
    assert parity.compare(sdf, odf) is None
