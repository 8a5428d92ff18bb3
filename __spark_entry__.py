"""Driver contract for the spark-graft builder (PySpark target).

Thin view over ``etl_data_ingestion_spark.plans.registry``: every
implemented operator from SURVEY.md §2 registers a builder
``(spark, sf_dir) -> DataFrame`` and, where ANSI-SQL-expressible, a
DuckDB oracle SQL string. See the registry module for parity rules.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_data_ingestion_spark.plans import registry
from etl_data_ingestion_spark.session import tune_session

registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    tune_session(spark)
    return registry.QUERIES["tpch_q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)

        run.__name__ = getattr(fn, "__name__", "query")
        run.__doc__ = fn.__doc__
        return run

    # Registration order: tier-1 checks every query against its oracle,
    # so the driver's window does not need to be scheduled.
    return {name: wrap(fn) for name, fn in registry.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query; non-SQL-expressible ops are omitted
    (driver records a rows-only check for those)."""
    return dict(registry.ORACLES)
