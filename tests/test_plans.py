"""Physical-plan regression tests: the plan properties PLANS.md
audits must survive future edits — pushdown reaching the scan,
broadcast dimension joins, top-k short-circuits, and the
no-cartesian invariant. Built at sf0.001, explain-only (no job)."""

from __future__ import annotations

import ast
import math
import os
import re

import numpy as np
import pyspark.sql.functions as F
import pytest

from etl_data_ingestion_spark.functions.numeric import fixed, snap, units
from etl_data_ingestion_spark.plans import registry

from tests.helpers import executed_plan

registry.load_all()


def test_q6_predicates_reach_scan(spark, sf_dir):
    plan = executed_plan(spark, "tpch_q6_forecast_revenue", sf_dir)
    assert "PushedFilters:" in plan
    # the revenue filter's range predicates must be in the scan node
    assert "l_discount" in plan.split("PushedFilters:")[1][:400]


def test_topk_is_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in executed_plan(spark, "topk_orders_by_price", sf_dir)


def test_dims_broadcast(spark, sf_dir):
    plan = executed_plan(spark, "join_broadcast_dims", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_upsert_uses_window_group_limit(spark, sf_dir):
    plan = executed_plan(spark, "warehouse_upsert_latest", sf_dir)
    assert "WindowGroupLimit" in plan


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q3_shipping_priority",
        "tpch_q9_product_type_profit",
        "join_sortmerge_fact_fact",
        "dedup_exact_documents",
        "pipeline_decontaminate_benchmark",
        "warehouse_upsert_latest",
    ],
)
def test_no_cartesian_product(spark, name, sf_dir):
    assert "CartesianProduct" not in executed_plan(spark, name, sf_dir)


PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "etl_data_ingestion_spark",
)


def _is_half(node) -> bool:
    if isinstance(node, ast.Call) and node.args:  # F.lit(0.5)
        node = node.args[0]
    return isinstance(node, ast.Constant) and node.value == 0.5


def test_floor_snap_is_written_only_in_functions_numeric():
    """Every FLOOR(x*10^d + 0.5) snap goes through functions/numeric.py:
    no module spells `floor(<a> * <b> + 0.5)` (or its unscaled d=0 form
    `floor(<a> + 0.5)`) inline, whether F.floor, np.floor or
    math.floor."""
    hits = []
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            path = os.path.join(root, f)
            if not f.endswith(".py") or os.path.relpath(path, PKG) == os.path.join(
                "functions", "numeric.py"
            ):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for n in ast.walk(tree):
                if (
                    isinstance(n, ast.Call)
                    and getattr(n.func, "attr", getattr(n.func, "id", None)) == "floor"
                    and len(n.args) == 1
                    and isinstance(n.args[0], ast.BinOp)
                    and isinstance(n.args[0].op, ast.Add)
                    and _is_half(n.args[0].right)
                ):
                    hits.append(f"{os.path.relpath(path, PKG)}:{n.lineno}")
    assert hits == []


@pytest.mark.parametrize("kind", ["double", "decimal(12,8)", "bigint"])
def test_snap_plans_as_the_inline_int_scale(spark, kind):
    """snap/fixed optimize to the same plan as the inline expression
    with an int-literal scale on double, decimal and bigint columns. A
    float scale does not on decimal or bigint: it moves the multiply
    into double."""
    x = F.col("x")
    df = spark.range(5).select((F.col("id") * 7 / 3).cast(kind).alias("x"))

    def plan(col) -> str:
        qe = df.select(col.alias("y"))._jdf.queryExecution()
        return re.sub(r"#\d+L?", "#", qe.optimizedPlan().toString())

    for d in (2, 6, 9, 12):
        s = 10**d
        assert plan(snap(x, d)) == plan(F.floor(x * s + F.lit(0.5)) / s)
        assert plan(fixed(x, d)) == plan(F.floor(x * s + F.lit(0.5)).cast("long"))
        float_scale = plan(F.floor(x * float(s) + F.lit(0.5)) / float(s))
        assert (plan(snap(x, d)) == float_scale) == (kind == "double")
    assert plan(fixed(x, 0)) == plan(F.floor(x + F.lit(0.5)).cast("long"))


def test_snap_python_floors_match_the_float_scale():
    """On numpy arrays and Python floats the int scale computes the
    float scale's values bit for bit."""
    rng = np.random.default_rng(7)
    xs = np.concatenate(
        [rng.uniform(-5, 5, 500), np.arange(-20, 21) / 8 + 0.0000005, [0.0, 0.5]]
    )
    assert np.array_equal(units(xs, 9, np.floor), np.floor(xs * 1e9 + 0.5))
    for v in xs.tolist():
        assert snap(v, 6, math.floor) == math.floor(v * 1e6 + 0.5) / 1e6
