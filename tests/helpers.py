"""Helpers the operator test modules share: run a registered query,
render its executed plan, and the Python-side fixture recomputations
more than one module checks against."""

from __future__ import annotations

import re
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyspark.sql.functions as F
from hypothesis import strategies as st

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.plans import registry


def q(name, spark, sf_dir):
    return registry.QUERIES[name](spark, sf_dir)


def executed_plan(spark, name, sf_dir):
    df = registry.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def distinct_filescans(plan: str) -> set[str]:
    """The explain string re-renders a cached relation's child once
    per InMemoryTableScan reference, so raw substring counts
    overcount; distinct FileScan lines (expression ids included)
    identify genuinely separate scan subtrees."""
    return set(re.findall(r"FileScan parquet \[[^\]]*\]", plan))


def daily_cents_rows(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    rows = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.floor(F.sum("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("y")
        )
        .orderBy("d")
        .collect()
    )
    return [(r.d, r.y) for r in rows]


def daily_cents_sql(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("CAST(ts AS DATE) AS d", "value")
        .groupBy("d")
        .agg({"value": "sum"})
        .withColumnRenamed("sum(value)", "v")
        .selectExpr("d", "CAST(FLOOR(v * 100 + 0.5) AS LONG) AS y")
        .collect()
    )
    return sorted((r.d, r.y) for r in rows)


def daily_event_counts(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("cast(to_date(ts) as string) AS d", "event_type")
        .collect()
    )
    daily: dict = defaultdict(lambda: Counter())
    for r in rows:
        daily[r.d][r.event_type] += 1
    return daily


def event_rows(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("user_id", "ts", "event_type", "value", "event_id")
        .collect()
    )


ints = st.integers(min_value=-10**9, max_value=10**9)


def round4(x: float) -> float:
    # Spark (and DuckDB) ROUND is half-up on the exact binary value;
    # Python's built-in round is banker's — 4.28125 must go to 4.2813
    return float(Decimal(x).quantize(Decimal("0.0001"), ROUND_HALF_UP))
