"""Table catalog over a scale-factor directory of parquet files.

The driver fixtures live at /root/testdata/sf{0.001,0.01,0.1}/ with one
parquet file per table (TESTDATA.md). At 100 TB each "file" would be a
partitioned parquet/iceberg dataset; nothing here assumes single-file
inputs — ``spark.read.parquet`` takes directories just as happily.

Every registry query reads its tables through ``load_table``, which
keeps one per-session scan registry and writes no session conf. No
private conf key steers it: an opted-in fact scan fans out to the
session's default parallelism, so a driver's vanilla session and a
``session.get_spark`` one with as many cores build the same plans.

Every builder persists or checkpoints an intermediate through
``cached`` and ``checkpointed``. Inside a ``query_scope`` they record
what they pinned, and the scope releases it on exit.
"""

from __future__ import annotations

import hashlib
import os
import threading
import weakref
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from etl_data_ingestion_spark.config import SCRATCH
from etl_data_ingestion_spark.session import child_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Tables big enough that scan parallelism matters; the small dims are
# deliberately EXCLUDED so they stay one-partition broadcast builds.
FACT_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}

# The scan registry: (abs sf_dir, table, fanned out) -> the analyzed
# scan DataFrame, per live session. Building a scan costs a footer read
# and a file listing (~100 ms a table through py4j and Hadoop), so a
# session registers each table once, as a metastore would, and every
# later query reuses the plan. Re-executing it still reads parquet
# unless persist_scans has pinned the session's scans in executor
# memory (bench's resident tier; the cache holds full width,
# InMemoryTableScan still prunes columns at read). The fixture dirs are
# immutable for a session's lifetime; a caller that rewrites a table
# path must call drop_plan_cache(spark). Keyed by the session object
# through a weak reference, so a stopped session's entries go with it
# and a new session can never inherit them through a reused id().
_SCANS: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str, bool], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def drop_plan_cache(spark: SparkSession) -> None:
    """Forget this session's registered scans and its gate children
    (small_input_session, small_fact_session) with theirs, unpersisting
    any that persist_scans pinned. Call after rewriting a table path in
    place."""
    for child in _CHILDREN.pop(spark, {}).values():
        drop_plan_cache(child)
    for df in _SCANS.pop(spark, {}).values():
        if df.is_cached:
            df.unpersist()


def persist_scans(spark: SparkSession) -> int:
    """Persist and materialize every scan this session and its gate
    children have registered; returns how many. They stay pinned across
    registry.run calls until drop_plan_cache (or a session-wide
    clearCache)."""
    sessions = (spark, *_CHILDREN.get(spark, {}).values())
    scans = [df for s in sessions for df in _SCANS.get(s, {}).values()]
    for df in scans:
        df.persist()
        df.count()
    return len(scans)


# How to release what the running query has pinned, in pinning order.
# None outside a query_scope, where nothing is recorded.
_PINNED: ContextVar[list[Callable[[], object]] | None] = ContextVar(
    "catalog_pinned", default=None
)


def cached(df: DataFrame) -> DataFrame:
    """``df.persist()``: a relation several consumers of one query read.
    Inside a query_scope it is recorded for release, unless the
    CacheManager already held its plan (a scan persist_scans pinned)."""
    pinned = _PINNED.get()
    if pinned is not None and df.storageLevel == StorageLevel.NONE:
        pinned.append(df.unpersist)
    return df.persist()


def checkpointed(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()``: an eager job that materializes ``df``
    and truncates its lineage. Inside a query_scope the checkpoint's
    RDD is recorded for release."""
    out = df.localCheckpoint()
    pinned = _PINNED.get()
    if pinned is not None:
        rdd = out._jdf.queryExecution().analyzed().rdd()
        pinned.append(lambda: rdd.unpersist(False))
    return out


@contextmanager
def query_scope() -> Iterator[None]:
    """Record what ``cached`` and ``checkpointed`` pin in the block and
    release it on exit, last pinned first. A released checkpoint can no
    longer be read, so the block must run the query's action."""
    pinned: list[Callable[[], object]] = []
    token = _PINNED.set(pinned)
    try:
        yield
    finally:
        _PINNED.reset(token)
        for release in reversed(pinned):
            release()


# Bucketed storage: with lineitem and orders stored bucketed and sorted
# on orderkey, every orderkey join or aggregate between them is
# map-side; the Exchange is paid once, at write time. That is the
# documented 100 TB layout. Locally it is opt-in (enable_bucketed_facts),
# so vanilla driver sessions, correctness runs and the cold headline
# keep stock parquet scans. The copies hold exactly the source rows
# (same schema, full width), so every oracle still holds.
BUCKETED_FACTS = {"lineitem": "l_orderkey", "orders": "o_orderkey"}

# Per session: abs sf_dir -> (n_buckets written, routed). The record
# outlives a disable, so re-enabling only routes again.
_BUCKETED: "weakref.WeakKeyDictionary[SparkSession, dict[str, tuple[int, bool]]]" = (
    weakref.WeakKeyDictionary()
)


def dir_key(sf_dir: str) -> str:
    """A name part for files derived from ``sf_dir``: a hash of the
    absolute dir, so two sf dirs that share a basename never share a
    table or its files."""
    return hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]


def _routes_bucketed(spark: SparkSession, key_dir: str) -> bool:
    """Whether ``spark`` reads lineitem/orders of ``key_dir`` (an
    absolute sf dir) from the bucketed tables."""
    return _BUCKETED.get(spark, {}).get(key_dir, (0, False))[1]


def _bucketed_table(key_dir: str, name: str) -> str:
    return f"{name}_bucketed_{dir_key(key_dir)}"


def enable_bucketed_facts(
    spark: SparkSession, sf_dir: str, n_buckets: int = 32
) -> dict[str, str]:
    """Write lineitem/orders bucketed+sorted by orderkey (one file per
    bucket) and route subsequent load_table calls for them to the
    bucketed tables. Returns {table: catalog_name}. The write happens
    once per (session, sf_dir, n_buckets); re-enabling after
    disable_bucketed_facts only routes again.

    At 100 TB this is the metastore DDL step (CREATE TABLE ...
    CLUSTERED BY (orderkey) INTO n BUCKETS + one INSERT OVERWRITE);
    n_buckets scales with data (buckets ≈ fact_bytes / 1 GB), and the
    repartition-to-bucket-count before the write keeps one file per
    bucket so the bucketed SortMergeJoin needs neither Exchange nor
    re-Sort."""
    key_dir = os.path.abspath(sf_dir)
    reg = _BUCKETED.setdefault(spark, {})
    out = {name: _bucketed_table(key_dir, name) for name in BUCKETED_FACTS}
    if reg.get(key_dir, (0, False))[0] != n_buckets:
        for name, bucket_key in BUCKETED_FACTS.items():
            path = os.path.join(SCRATCH, out[name])
            # one file per bucket: exactly n_buckets tasks, each owning
            # one bucket, so the scan reports sorted output and the
            # join skips the re-Sort
            (
                spark.read.parquet(table_path(sf_dir, name))
                .repartition(n_buckets, F.col(bucket_key))
                .write.bucketBy(n_buckets, bucket_key)
                .sortBy(bucket_key)
                .option("path", path)
                .mode("overwrite")
                .saveAsTable(out[name])
            )
    reg[key_dir] = (n_buckets, True)
    return out


def disable_bucketed_facts(spark: SparkSession) -> None:
    """Stop routing load_table to bucketed tables (the written tables
    and files stay for re-enable)."""
    reg = _BUCKETED.get(spark, {})
    for key_dir, (n_buckets, _) in reg.items():
        reg[key_dir] = (n_buckets, False)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Fact footprint under which small_fact_session plans statically.
SMALL_FACT_BYTES = 2_000_000_000
# Input per static shuffle partition in a gate's child session; an sf
# dir whose tables total at most this plans every registry query on
# one partition (small_input_session).
GATE_BYTES_PER_PARTITION = 4 << 20

# The gates' child sessions: caller session -> {shuffle partitions:
# child}. A child keeps its own scan registry, so a fresh child per
# call would re-infer every parquet schema it reads (one extra job per
# table read); one child per (caller, partition count) reads each once.
# Both gates set the same two confs, so a count's child serves either.
_CHILDREN: "weakref.WeakKeyDictionary[SparkSession, dict[int, SparkSession]]" = (
    weakref.WeakKeyDictionary()
)
# Queries on one session may build from several threads; one child per
# (caller, count) holds only if its creation is atomic.
_CHILDREN_LOCK = threading.Lock()


def _fact_bytes(path: str) -> int:
    """Bytes under a local file or directory. A missing path, a
    non-local URI (os.walk yields nothing for s3://) or a 0-byte walk
    counts as unknown and LARGE."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        total = sum(
            os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
        )
    except OSError:
        return 1 << 60
    return total or 1 << 60


def _static_child(spark: SparkSession, parts: int) -> SparkSession:
    """The cached child of ``spark`` that plans without AQE on
    ``parts`` shuffle partitions."""
    with _CHILDREN_LOCK:
        children = _CHILDREN.setdefault(spark, {})
        if parts not in children:
            children[parts] = child_session(
                spark,
                {
                    "spark.sql.adaptive.enabled": "false",
                    "spark.sql.shuffle.partitions": str(parts),
                },
            )
        return children[parts]


def small_input_session(spark: SparkSession, sf_dir: str) -> SparkSession:
    """The session a registered query builds on (registry.gated):
    ``spark`` itself, or, when the caller's AQE is on and every table of
    ``sf_dir`` together holds at most GATE_BYTES_PER_PARTITION, a cached
    child that plans statically on one shuffle partition.

    Under that size AQE coalesces every shuffle to one partition anyway,
    and it submits each query stage as a Spark job of its own; a static
    plan runs a query's chain of stages as one job (perfbench analytics
    at sf0.001: 30 -> 14 jobs for 9 queries). Above it AQE stays on:
    its runtime broadcast conversions are what the wedge family needs
    at sf1, where a static plan ran 7.80 s against 5.36 s. The sizes
    follow _fact_bytes, so a missing table, a non-local URI or a 0-byte
    walk counts as LARGE.

    A caller that reads bucketed facts of ``sf_dir``
    (enable_bucketed_facts) keeps its own session: the routing is per
    session, and a child would read the stock parquet. The caller's
    conf is never written."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    if aqe != "true" or _routes_bucketed(spark, os.path.abspath(sf_dir)):
        return spark
    total = sum(_fact_bytes(table_path(sf_dir, name)) for name in TABLES)
    if total > GATE_BYTES_PER_PARTITION:
        return spark
    return _static_child(spark, 1)


def small_fact_session(spark: SparkSession, sf_dir: str, table: str) -> SparkSession:
    """The session an iterative / multi-consumer small-input query
    builds on: ``spark`` itself, or a tuned child session that plans
    statically. AQE's per-stage materialization is pure overhead when
    the whole input fits one executor's worth of work (graph_kcore_peel
    ~7.6s -> ~4.8s, ml_item_item_cf 1.87 -> 1.40 at sf0.1 and 3.81 ->
    3.14 at sf1, min-of-4 interleaved). The gate decides A PRIORI on the
    fact-file footprint (known driver-side for free): under
    SMALL_FACT_BYTES fixed planning wins; at cluster scale AQE stays ON
    for its runtime BHJ conversion + skew handling. Non-local URIs,
    missing paths and 0-byte walks count as LARGE, so the gate can never
    silently disable AQE in the cluster-scale case it must protect. It
    acts only when the caller's AQE is on, so through the registry it
    acts only above small_input_session's size: below it, the registry
    already hands the builder a one-partition static child, and this
    returns that child as it is.

    With AQE off nothing coalesces partitions at runtime, so the child
    also gets a static shuffle partition count sized from the
    footprint: one per GATE_BYTES_PER_PARTITION of fact input, floor 8,
    never above the caller's (item_cf 1.46 -> 1.24s at sf0.1, 8
    partitions; at sf1 it derives the caller's count and so retires as
    data grows).

    The caller's conf is never written: the values live on the child,
    so a frame built on it plans the same way wherever and whenever it
    is executed, and concurrent queries on the caller are unaffected.
    The child shares the caller's CacheManager, so scans the caller
    pinned with persist_scans serve it. Bucketed routing
    (enable_bucketed_facts) is per session, so a gated builder reads
    the stock parquet copy of lineitem/orders, which holds the same
    rows.
    """
    fact_bytes = _fact_bytes(table_path(sf_dir, table))
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    if fact_bytes >= SMALL_FACT_BYTES or aqe != "true":
        return spark
    parts = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        max(8, fact_bytes // GATE_BYTES_PER_PARTITION),
    )
    return _static_child(spark, parts)


def _with_scan_parallelism(spark: SparkSession, df: DataFrame) -> DataFrame:
    """The fixture parquet files are written as a SINGLE row group, and
    Spark's file splitting is row-group-bound — so every fact scan
    plans 1 task and ALL map-side work (regexp token stats, minhash
    signatures, partial aggregation) serializes on one core of
    local[32] (measured: dedup_duplicated_spans at sf1 ran 183s in 2
    tasks; 32-way it's ~15s). A production dataset has thousands of
    row groups and never hits this; a single-file fixture always does.

    OPT-IN per call site (load_table(..., parallel=True)): the scan
    fans out to the session's default parallelism, so a vanilla driver
    session builds the same plan as a get_spark one with as many
    cores. A blanket fan-out was A/B'd and REJECTED: for
    scan→partial-agg queries the extra Exchange moves raw rows and
    defeats map-side combine (net loss at sf0.1); only operators
    whose per-row CPU dwarfs a row's shuffle cost (interpreted-HOF
    n-gram work, per-row Python) should opt in. When the planned
    scan has fewer partitions, insert ONE RoundRobin repartition
    right after the scan: Catalyst still pushes filters/projection
    THROUGH the repartition into the parquet reader (verified via
    PushedFilters in .explain), so pruning is unaffected.

    Pushdown trap for callers: a .filter() whose predicate embeds an
    expensive expression (e.g. size(word_ngrams_from(...)) > 0) is ALSO
    pushed through the repartition and then evaluates in the
    narrow pre-exchange stage — structure such operators so the
    expensive expression only occurs after the exchange (see
    dedup_duplicated_spans for the shape)."""
    n = spark.sparkContext.defaultParallelism
    if n > 1 and df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """Scan one table. Projection/predicate pushdown is Catalyst's job —
    callers express filters/selects declaratively and the parquet reader
    receives them (verify via .explain: PushedFilters / ReadSchema).

    events.ts normalizes to TimestampType (LTZ) whatever the fixture
    writer produced: older fixtures carry parquet TIMESTAMP(NANOS),
    which reads as long under spark.sql.legacy.parquet.nanosAsLong
    (set by session.get_spark and session.tune_session) and truncates
    ns→us exactly like DuckDB does; newer ones read natively as
    TIMESTAMP_NTZ. The session timezone is pinned UTC (session.py) so
    NTZ→LTZ is an identity on the values, and ``withWatermark`` —
    which rejects NTZ event time — works on the same column the batch
    oracles check. The cast is only value-preserving under UTC, so a
    non-UTC session fails loudly here rather than silently shifting
    every timestamp off the oracle.

    Pushdown exception: because ``ts`` is a derived column (withColumn
    cast), filters on it are evaluated post-scan, NOT pushed to the
    parquet reader — unlike every other table/column, where
    declarative filters reach the scan (PushedFilters in .explain).
    At scale, ts-range queries should rely on directory-level time
    partitioning (see operators/sources_scan.py's partitioned layout
    writer) for pruning instead of row-group predicate pushdown.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    key_dir = os.path.abspath(sf_dir)
    if name in BUCKETED_FACTS and _routes_bucketed(spark, key_dir):
        # the catalog table is the registered plan (bucket spec
        # included); the bucket count fixes the scan tasks, so the
        # parallel floor does not apply
        return spark.table(_bucketed_table(key_dir, name))
    fan_out = bool(parallel) and name in FACT_TABLES
    scans = _SCANS.setdefault(spark, {})
    key = (key_dir, name, fan_out)
    df = scans.get(key)
    if df is None:
        df = spark.read.parquet(table_path(sf_dir, name))
        if name == "events":
            tz = spark.conf.get("spark.sql.session.timeZone")
            if tz != "UTC":
                raise RuntimeError(
                    f"events.ts normalization requires spark.sql.session.timeZone"
                    f"=UTC (got {tz!r}); run session.tune_session(spark) first — "
                    "a non-UTC session would shift ts values away from the oracle"
                )
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif ts_type == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        if fan_out:
            df = _with_scan_parallelism(spark, df)
        scans[key] = df
    return df
