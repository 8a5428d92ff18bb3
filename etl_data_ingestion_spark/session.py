"""SparkSession factory.

Defaults are chosen for correctness-parity with the DuckDB oracle and
for scale-readiness:

- UTC session timezone: Spark TIMESTAMP is session-TZ-adjusted while
  parquet NTZ / DuckDB timestamps are naive; pinning UTC makes the two
  agree byte-for-byte.
- AQE on (coalesce partitions, skew-join handling): at 100 TB the
  static shuffle-partition number is always wrong for some stage; AQE
  re-plans from runtime statistics. A registry query whose whole input
  fits one partition builds on a child session instead, AQE off and
  one shuffle partition (``catalog.small_input_session``): AQE submits
  each query stage as a Spark job of its own, a static plan runs a
  chain of stages as one.
- `timeParserPolicy=CORRECTED`: strict `yyyy-MM-dd` parsing, matching
  the reference's strptime('%Y-%m-%d') (reference main.py:400-410).
- `escapedStringLiterals=false`: SQL string literals unescape `\'` and
  `\\`, so the coercion's SQL text (`ingest/coerce.py`) parses to the
  same literals on every session. Spark 4 deprecates the key and logs
  a warning each time it is set, but the pin stays: on pyspark 4.1.2
  no spelling of a literal holding `'` (backslash-escaped, `r"..."`,
  doubled `''`, or `concat(r'...', chr(39), ...)`) parses to the same
  string under both settings.
- ANSI off: the ingestion path relies on cast-failure -> NULL plus
  explicit validity flags (SURVEY.md §7.4); we never want a mid-job
  exception from a malformed source value at scale.
- Arrow on: every pandas_udf / applyInPandas transfer is vectorized.
- `parquet.nanosAsLong`: a parquet TIMESTAMP(NANOS) column reads as
  long instead of failing the vectorized reader; `catalog.load_table`
  truncates it to microseconds, as DuckDB does. Set here, once per
  session, because a table read must not write session conf.

``SESSION_CONFS`` is the whole contract; ``tune_session`` applies it to
a driver's own session, and ``child_session`` to a new session that
carries further confs of its own (the only other conf writer). No
engine-private conf exists: the catalog's
scan fan-out follows the session's default parallelism, so a tuned
vanilla ``local[N]`` session builds the same scans as ``get_spark(cpus=N)``
and only its shuffle partition count differs. ``job_group`` is the one
place that names and counts a caller's Spark jobs.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The session contract: the confs correctness depends on, all settable
# at runtime. get_spark's builder applies them (so child sessions
# inherit them through SparkConf) and tune_session sets them on a
# session somebody else built.
SESSION_CONFS = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.ansi.enabled", "false"),
    ("spark.sql.legacy.timeParserPolicy", "CORRECTED"),
    ("spark.sql.parser.escapedStringLiterals", "false"),
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.adaptive.enabled", "true"),
    # Arrow transfer in fewer, larger batches: pandas-UDF stages
    # (minhash signatures, IVF assignment) pay per-batch Python
    # dispatch; 64k rows/batch measured marginally faster than the
    # 10k default at bounded memory (widest UDF row: 32-int sig).
    ("spark.sql.execution.arrow.maxRecordsPerBatch", "65536"),
)


def get_spark(
    app_name: str = "etl_data_ingestion_spark",
    cpus: int = DEFAULT_CPUS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a ``local[cpus]`` SparkSession with the session
    contract and ``cpus`` shuffle partitions."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst / advisoryPartitionSizeInBytes stay at
        # defaults: an interleaved A/B (8 queries x 4 rounds at sf0.1)
        # measured parallelismFirst=false + 32m advisory ~10% SLOWER
        # across the board — at this scale 32 short tasks beat fewer
        # bigger ones; at cluster scale AQE's data-sized coalescing
        # matters and the defaults already provide it.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in SESSION_CONFS + tuple((extra_conf or {}).items()):
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark's Python workers.

    An external driver (the verify harness, a notebook, spark-submit)
    may import us from a path its executors' Python workers don't
    share. addPyFile-ing a zip of the package ships it through Spark's
    own file distribution, which works identically on a real cluster.
    Idempotent per SparkContext: every session over one context, a
    ``newSession()`` included, shares its shipped files.
    """
    import shutil
    import tempfile

    sc = spark.sparkContext
    if getattr(sc, "_etl_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = tempfile.mkdtemp(prefix="etl_pkg_")
    zip_base = os.path.join(staging, "etl_data_ingestion_spark")
    archive = shutil.make_archive(
        zip_base, "zip", root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(archive)
    sc._etl_pkg_shipped = True


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the session contract to an externally-created session.

    The driver hands us its own SparkSession; ``SESSION_CONFS`` are
    the confs correctness depends on (timezone for oracle parity,
    non-ANSI casts for the coercion path, strict date parsing and SQL
    literal escapes, nanosecond parquet timestamps readable as long,
    AQE, the Arrow batch size), all settable at runtime.
    """
    for k, v in SESSION_CONFS:
        spark.conf.set(k, v)
    ship_package(spark)
    return spark


def child_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """A new session over ``spark``'s context with the session contract
    and then ``confs`` applied: the way to run a query under other SQL
    confs without writing the caller's.

    ``newSession()`` carries no runtime conf of its parent (only the
    SparkConf), hence the re-tune. The child shares the parent's
    SparkContext, shipped files and CacheManager, so a relation the
    parent persisted serves the child's plans; temp views and the
    catalog's per-session registries are its own.
    """
    child = tune_session(spark.newSession())
    for k, v in confs.items():
        child.conf.set(k, v)
    return child


@dataclass
class JobGroup:
    """Once its block has exited, ``jobs``: the Spark jobs run under the
    group in that block."""

    jobs: int | None = None


@contextmanager
def job_group(spark: SparkSession, name: str) -> Iterator[JobGroup]:
    """Run the block's Spark jobs under job group ``name`` (cleared on
    exit) and count them. Jobs an earlier block ran under the same name
    are not counted: the group's job ids are read, after the listener
    bus has delivered every posted event, once before the block and
    once after it. AQE stage materializations are jobs too."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def ids() -> set[int]:
        bus.waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(name))

    group = JobGroup()
    before = ids()
    sc.setJobGroup(name, name)
    try:
        yield group
    finally:
        sc.setJobGroup(None, None)
        group.jobs = len(ids() - before)
