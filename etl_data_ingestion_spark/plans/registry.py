"""Query registry: the engine's declared operator surface.

Every implemented operator/query gets one entry: a builder
``(spark, sf_dir) -> DataFrame`` and, when the semantics are
ANSI-SQL-expressible, a DuckDB oracle SQL string run against the same
parquet tables. The driver contract (__spark_entry__.py) is a thin
view over this registry; tests iterate it too. ``QUERIES`` holds each
builder wrapped in ``gated``: on an input that fits one partition it
builds on a static one-partition child session, so a query's chain of
stages runs as one Spark job instead of one per AQE stage. ``run`` is
the one way a tool, bench or test runs a registered query: under a job
group named after it, timed, with what it pinned released afterwards.

Parity rules (SURVEY.md §7.4):
- alias every computed column identically in Spark and SQL;
- round floating aggregates to a fixed scale in BOTH engines so
  summation-order epsilon differences can't flip the value hash
  (``functions.numeric.snap`` / ``fixed``: FLOOR(x*10^d + 0.5), never
  ROUND);
- avoid nondeterministic functions; break ordering ties explicitly.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from etl_data_ingestion_spark.catalog import query_scope, small_input_session
from etl_data_ingestion_spark.session import job_group

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def gated(fn: QueryFn) -> QueryFn:
    """``fn`` built on ``catalog.small_input_session(spark, sf_dir)``:
    the caller's session, or its static one-partition child when the
    whole input fits one partition. ``__wrapped__`` is ``fn``."""

    @functools.wraps(fn)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(small_input_session(spark, sf_dir), sf_dir)

    return build


def register(name: str, oracle: Optional[str] = None):
    """Decorator: add a query builder (and optional oracle) to the
    registry. ``QUERIES`` holds it ``gated``; the module keeps ``fn``
    itself, which builds on the session it is given."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = gated(fn)
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


# The no-op sink action: the full distributed plan runs and nothing is
# materialized on the driver.
NOOP: Callable[[DataFrame], None] = _noop


@dataclass(frozen=True)
class Run:
    """``result`` is what the action returned; ``seconds`` times the
    build and the action; ``jobs`` counts the Spark jobs both ran."""

    result: Any
    seconds: float
    jobs: int


def run(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    action: Callable[[DataFrame], Any],
    build: QueryFn | None = None,
) -> Run:
    """Build query ``name`` (or ``build``, an A/B arm or a raw builder
    standing in for it) on ``sf_dir`` and run ``action`` on the frame,
    under job group ``name``. What the build pinned with
    ``catalog.cached`` or ``catalog.checkpointed`` is released
    afterwards, outside the timed window, whether or not the query
    raised."""
    build = build or QUERIES[name]
    with job_group(spark, name) as group, query_scope():
        t0 = time.perf_counter()
        result = action(build(spark, sf_dir))
        seconds = time.perf_counter() - t0
    return Run(result, seconds, group.jobs)


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
