"""Query registry: the engine's declared operator surface.

Every implemented operator/query gets one entry: a builder
``(spark, sf_dir) -> DataFrame`` and, when the semantics are
ANSI-SQL-expressible, a DuckDB oracle SQL string run against the same
parquet tables. The driver contract (__spark_entry__.py) is a thin
view over this registry; tests iterate it too.

Parity rules (SURVEY.md §7.4):
- alias every computed column identically in Spark and SQL;
- round floating aggregates to a fixed scale in BOTH engines so
  summation-order epsilon differences can't flip the value hash;
- avoid nondeterministic functions; break ordering ties explicitly.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None):
    """Decorator: add a query builder (and optional oracle) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def query_names() -> list[str]:
    return sorted(QUERIES)


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from etl_data_ingestion_spark.operators import (  # noqa: F401
        tpch,
        tpch_partsupp,
        tpch_dates,
        joins,
        aggregates,
        windows,
        setops,
        scalars,
        topk,
        dedup,
        similarity,
        textops,
        ingest_queries,
        curation,
        corpus,
        funnel,
        graph,
        streaming_queries,
        multimodal,
        subqueries,
        pandas_surface,
        sources_scan,
        warehouse,
        attribution,
        video,
        mlops,
        stats_tests,
        graph2,
    )
