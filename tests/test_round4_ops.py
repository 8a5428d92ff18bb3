"""Round-4 operator tests: EWMA fold semantics, bloom-pruned join
equivalence, content-defined chunking invariants."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_ewma_matches_python_recursion(spark, sf_dir):
    got = {
        r["day"]: (r["daily_total"], r["ewma_value"])
        for r in registry.QUERIES["timeseries_ewma_daily"](spark, sf_dir).collect()
    }
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"))
        .agg(F.round(F.sum("value"), 6).alias("x"))
        .orderBy("d")
        .collect()
    )
    y = None
    for r in daily:
        y = r["x"] if y is None else 0.5 * r["x"] + 0.5 * y
        gt, ge = got[r["d"]]
        # Spark rounds HALF_UP, python rounds half-even: compare the
        # rounded outputs against the unrounded recursion instead
        assert abs(gt - r["x"]) <= 0.005 + 1e-9
        assert abs(ge - y) <= 0.00005 + 1e-9
    assert len(got) == len(daily)


def test_bloom_pruned_join_equals_plain_join(spark, sf_dir):
    # sf0.01: sf0.001's 10-supplier table has no nation-7 suppliers,
    # which would make the equality vacuous
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    got = registry.QUERIES["join_bloom_pruned"](spark, sf)
    li = load_table(spark, sf, "lineitem")
    dim = load_table(spark, sf, "supplier").filter(F.col("s_nationkey") == 7)
    want = (
        li.join(dim, li.l_suppkey == dim.s_suppkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # exact-cents revenue contract (round-8 sweep fix): the
            # plain join must mirror the operator's order-free sum
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))
                        * 100
                        + F.lit(0.5)
                    ).cast("long")
                )
                / 100.0
            ).alias("revenue"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert want.count() > 0, "fixture must produce join matches"


def test_bloom_prune_reduces_probe_rows(spark, sf_dir):
    """The bitmap pre-filter must actually drop most non-matching fact
    rows (it's a prune, not a pass-through): with ~4% of suppliers in
    the dim, survivors should be well under half the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 7)
        .select("s_suppkey")
    )
    bucket = lambda c: F.pmod(F.xxhash64(c), F.lit(64))
    bit_mask = lambda c: F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64({c}, 1), 64) AS INT))"
    )
    bitmap = dim.groupBy(bucket("s_suppkey").alias("bucket")).agg(
        F.bit_or(bit_mask("s_suppkey")).alias("bits")
    )
    survivors = (
        li.withColumn("bucket", bucket("l_suppkey"))
        .join(F.broadcast(bitmap), "bucket", "left")
        .filter(
            F.col("bits").isNotNull()
            & (F.col("bits").bitwiseAND(bit_mask("l_suppkey")) != 0)
        )
        .count()
    )
    assert survivors < li.count() / 2
    # no false negatives: every truly-matching row survives
    true_matches = li.join(
        dim, li.l_suppkey == dim.s_suppkey, "left_semi"
    ).count()
    assert survivors >= true_matches


def test_cdc_chunking_contract(spark, sf_dir):
    rows = registry.QUERIES["multimodal_cdc_chunking"](spark, sf_dir).collect()
    assert rows, "planted duplicates must produce groups"
    for r in rows:
        assert r["n_copies"] >= 2
        assert r["distinct_chunkings"] == 1
        assert r["sizes_ok"] and r["bounds_ok"] and r["count_ok"]


def test_cdc_chunking_boundary_shift_locality(spark):
    """Content-defined (not fixed-size) chunking: prepending bytes to
    a payload must leave the TAIL chunks identical once the rolling
    hash resynchronizes — the property that makes CDC dedup robust to
    insertions, and the reason it beats fixed-size blocks for media
    re-muxed with different-length headers."""
    import hashlib

    import numpy as np

    rng = np.random.default_rng(42)
    gear = rng.integers(0, 1 << 63, size=256, dtype=np.int64).tolist()
    MINC, MAXC, MASK = 32, 256, 0x3F

    def chunks(data: bytes) -> list[bytes]:
        out, h, start = [], 0, 0
        for i, b in enumerate(data):
            h = ((h << 1) + gear[b]) & 0xFFFFFFFFFFFFFFFF
            clen = i - start + 1
            if clen >= MINC and ((h & MASK) == 0 or clen >= MAXC):
                out.append(data[start : i + 1])
                start, h = i + 1, 0
        if start < len(data):
            out.append(data[start:])
        return out

    body = bytes(rng.integers(0, 256, 4000, dtype=np.uint8))
    a = chunks(body)
    b = chunks(b"HDR" * 7 + body)
    a_tail = {hashlib.sha256(c).hexdigest() for c in a[2:]}
    b_set = {hashlib.sha256(c).hexdigest() for c in b}
    # most tail chunks of the original reappear despite the 21-byte shift
    assert len(a_tail & b_set) >= len(a_tail) * 0.6


def test_cdc_chunker_invariants_property():
    """Property test over random byte strings: for ANY payload the
    chunker must (a) partition the bytes exactly, (b) respect
    [MINC, MAXC] for every non-final chunk and MAXC for the final
    one, (c) be deterministic."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    rng = np.random.default_rng(42)
    gear = rng.integers(0, 1 << 63, size=256, dtype=np.int64).tolist()
    MINC, MAXC, MASK = 32, 256, 0x3F

    def chunk_sizes(data: bytes) -> list[int]:
        sizes, h, start = [], 0, 0
        for i, b in enumerate(data):
            h = ((h << 1) + gear[b]) & 0xFFFFFFFFFFFFFFFF
            clen = i - start + 1
            if clen >= MINC and ((h & MASK) == 0 or clen >= MAXC):
                sizes.append(clen)
                start, h = i + 1, 0
        if start < len(data):
            sizes.append(len(data) - start)
        return sizes

    @settings(max_examples=60, deadline=None)
    @given(st.binary(min_size=0, max_size=3000))
    def check(data):
        sizes = chunk_sizes(data)
        assert sum(sizes) == len(data)
        assert all(MINC <= s <= MAXC for s in sizes[:-1])
        if sizes:
            assert sizes[-1] <= MAXC
        assert chunk_sizes(data) == sizes

    check()


def test_dpp_fires_on_partitioned_join(spark, sf_dir):
    """The partitioned-fact ⋈ runtime-dim join must carry a
    dynamicpruning expression in the fact scan's PartitionFilters —
    the receipt that only matching directories are read."""
    df = registry.QUERIES["scan_partitioned_dpp"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    got = {
        (r.o_orderpriority, r.o_orderstatus): r.n_orders for r in df.collect()
    }
    assert got, "join must produce rows"
    assert all(p.startswith(("1-", "2-")) for p, _ in got)
