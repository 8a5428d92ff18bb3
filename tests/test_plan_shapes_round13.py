"""Plan-shape pins for the round-13 keeps (same pattern as the
round-10/11/12 plan-shape tests: pin the MEASURED-better physical
form so a refactor can't silently regress it)."""

from __future__ import annotations

from etl_data_ingestion_spark.plans import registry

from tests.helpers import executed_plan

registry.load_all()


def test_item_cf_pair_exchange_carries_one_packed_long(spark, sf_dir):
    """The r13 keep: the pair key is packed into ONE long
    (shiftleft(pa,32)|pb) BEFORE the Exchange — the shuffled
    aggregate keys on `pk`, and the struct pair row (pa, pb) must
    not reappear upstream of the count. Unpack (shiftright /
    bitwiseAND) happens only after the c_ab filter."""
    plan = executed_plan(spark, "ml_item_item_cf", sf_dir)
    # the HOF builds longs via shiftleft; the post-agg unpack uses
    # shiftright — both must be present
    assert "shiftleft" in plan, plan[:3000]
    assert "shiftright" in plan, plan[:3000]
    # the rejected struct form grouped on two key columns
    # (pa, pb) straight from a struct explode; the kept form's
    # hash aggregate keys are [pk]
    assert "keys=[pk" in plan.replace("#", "").replace(" ", "")[
        : len(plan)
    ] or "keys=[pk" in "".join(plan.split("#")), plan[:3000]
    spark.catalog.clearCache()


def test_repeated_lines_hof_is_fanned_out(spark, sf_dir):
    """The r13 keep: the interpreted line-building HOF runs over the
    fanned-out scan (parallel=True — the r11 KEEP family), so the
    plan carries the round-robin repartition the scan-parallelism
    floor inserts; and the two-consumer persist stays (the
    no-persist variant measured slower at sf1)."""
    plan = executed_plan(spark, "dedup_repeated_lines_corpus", sf_dir)
    assert "ROUND_ROBIN" in plan or "RoundRobin" in plan, plan[:3000]
    assert "InMemoryTableScan" in plan, plan[:3000]
    spark.catalog.clearCache()


def test_gemm_operators_share_core_and_capture_cap(spark, sf_dir):
    """Both GEMM devices must route through the shared
    similarity._top2_other_stream core (the r13 refactor that made
    the IVF candidate path real), and the exact/IVF cap must be
    read at plan-BUILD time so a driver-side override reaches the
    serialized closure (the device tests rely on this). The
    construction-time-collect poison lives in the r12 pins and
    still applies."""
    import inspect

    from etl_data_ingestion_spark.operators import similarity as sim

    for fn in (
        sim.ml_loo_1nn_embedding_accuracy,
        sim.similarity_ratio_margin,
    ):
        src = inspect.getsource(fn)
        assert "_top2_other_stream" in src
        assert "GEMM_EXACT_MAX_ROWS" in src
