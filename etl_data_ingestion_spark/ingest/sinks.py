"""Warehouse + quarantine sinks (reference L4, main.py:448-468).

The reference slices rows into 500-row requests (BIGQUERY_BATCH_SIZE,
.env:25) — an output-sizing knob, not a loop, in Spark terms: the
``maxRecordsPerFile`` write option bounds output-file row counts the
same way while every partition writes in parallel. Appends are
idempotent-friendly: load_id identifies a source file's batch so a
replay can be deduplicated downstream (fixes the reference's
at-most-once gap, SURVEY.md §4.1).
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, DataFrameWriter, Observation


def _append_counted(
    df: DataFrame, load_id: str, tail: Callable[[DataFrameWriter], object]
) -> int:
    """Append ``df`` tagged with load_id; ``tail`` finishes the append
    ``DataFrameWriter`` (format, options, save). Returns rows written,
    counted via an Observation on the write itself (no second scan, no
    driver collect)."""
    obs = Observation(f"write:{load_id}")
    tail(
        df.withColumn("_load_id", F.lit(load_id))
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.mode("append")
    )
    return int(obs.get["rows"])


class ParquetWarehouseSink:
    """Append-mode parquet warehouse table (stands in for the BigQuery
    table; swap for format('bigquery') with the connector jar).

    ``require_existing`` is the L3 target policy (main.py:416-430):
    when set, the target directory must already exist; by default a
    first write may create it."""

    def __init__(
        self, path: str, batch_size: int = 500, require_existing: bool = False
    ):
        self.path = path
        self.batch_size = batch_size
        self.require_existing = require_existing

    def check_target(self, spark) -> None:
        """Raise (→ the file fails with an error notification, the
        reference's missing-table policy) when the target must
        pre-exist but doesn't. For a catalog table the check would be
        ``spark.catalog.tableExists``; for this path-based stand-in it
        is existence of the target directory."""
        if not self.require_existing:
            return
        hpath = spark._jvm.org.apache.hadoop.fs.Path(self.path)
        if not hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath):
            raise RuntimeError(
                f"Target table/path does not exist or is not accessible: {self.path}"
            )

    def write(self, df: DataFrame, load_id: str) -> int:
        return _append_counted(
            df,
            load_id,
            lambda w: w.option("maxRecordsPerFile", self.batch_size).parquet(self.path),
        )


class BigQueryWarehouseSink:
    """Real-BigQuery sink hook (reference main.py:448-468 writes via
    the BigQuery client; COVERAGE.md backlog #4): routes the same
    append through ``format("bigquery")`` when the spark-bigquery
    connector jar is on the classpath.

    The connector is NOT bundled here (no Google services in this
    environment), so construction is guarded: ``is_available`` probes
    the JVM classpath for the connector's relation provider, and
    ``make_warehouse_sink`` falls back to ParquetWarehouseSink when
    the probe fails — a deployment with the jar gets BigQuery writes
    with no code change, one without gets a working local warehouse
    instead of a classpath stacktrace."""

    CONNECTOR_CLASS = "com.google.cloud.spark.bigquery.BigQueryRelationProvider"

    def __init__(self, table: str, batch_size: int = 500):
        if not table:
            raise ValueError("BigQuery table must be non-empty (dataset.table)")
        self.table = table
        self.batch_size = batch_size

    @classmethod
    def is_available(cls, spark) -> bool:
        """True iff the spark-bigquery connector is loadable in this
        session's JVM."""
        try:
            spark._jvm.java.lang.Class.forName(cls.CONNECTOR_CLASS)
            return True
        except Exception:
            return False

    def check_target(self, spark) -> None:
        if not self.is_available(spark):
            raise RuntimeError(
                "spark-bigquery connector not on classpath; "
                "use make_warehouse_sink() for guarded fallback"
            )

    def write(self, df: DataFrame, load_id: str) -> int:
        return _append_counted(
            df,
            load_id,
            lambda w: w.format("bigquery").option("table", self.table).save(),
        )


def make_warehouse_sink(spark, config, strict: bool = False):
    """Config-driven sink selection (EngineConfig.warehouse_format):
    'bigquery' + connector present → BigQueryWarehouseSink; otherwise
    the parquet warehouse at config.warehouse_path.

    A fallback away from an explicitly requested BigQuery target is
    never silent: it logs a warning at selection time, and with
    ``strict=True`` it raises instead — so a production deployment
    that demands BigQuery fails fast rather than quietly landing data
    in a local path (tests/test_runner.py asserts both behaviors)."""
    if config.warehouse_format == "bigquery":
        if BigQueryWarehouseSink.is_available(spark):
            return BigQueryWarehouseSink(config.bigquery_table, config.batch_size)
        msg = (
            "warehouse_format='bigquery' requested but the spark-bigquery "
            "connector is not on the classpath; "
            + (
                "strict mode: refusing to fall back"
                if strict
                else f"falling back to parquet warehouse at {config.warehouse_path!r}"
            )
        )
        if strict:
            raise RuntimeError(msg)
        import logging

        logging.getLogger(__name__).warning(msg)
    return ParquetWarehouseSink(config.warehouse_path, config.batch_size)


class BucketedWarehouseSink:
    """Catalog-table warehouse sink with a bucket spec: appends land
    pre-hashed into n_buckets on the bucket columns, so every
    downstream join/aggregation on those columns reads co-located
    buckets instead of re-shuffling the fact table
    (tests/test_bucketing.py proves the Exchange disappears).

    The batch-size option of ParquetWarehouseSink is subsumed here:
    bucket count bounds file count per append; at 100 TB choose
    n_buckets so each bucket file stays in the 100 MB-1 GB band."""

    def __init__(self, table: str, bucket_cols: list[str], n_buckets: int = 64):
        if not bucket_cols:
            raise ValueError("bucket_cols must be non-empty")
        if n_buckets <= 0:
            raise ValueError(f"n_buckets must be positive, got {n_buckets}")
        self.table = table
        self.bucket_cols = list(bucket_cols)
        self.n_buckets = n_buckets

    def write(self, df: DataFrame, load_id: str) -> int:
        return _append_counted(
            df,
            load_id,
            lambda w: w.bucketBy(self.n_buckets, *self.bucket_cols)
            .sortBy(*self.bucket_cols)
            .format("parquet")
            .saveAsTable(self.table),
        )


def compact_parquet_dir(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> int:
    """Small-file compaction for an append-mode warehouse directory —
    the maintenance pass every long-lived append target needs (each
    micro-batch/file append lands more files; scan cost and NameNode/
    listing pressure grow with file COUNT, not bytes).

    Rewrites the directory to ceil(total_bytes / target_file_bytes)
    files via a round-robin repartition (no shuffle key — compaction
    must not skew), then swaps the directory. The swap is two renames
    (a directory can't be replaced atomically on POSIX), so entry-time
    recovery handles the crash windows: a leftover ``__old`` with no
    live directory is renamed back (crash between the renames), and a
    leftover ``__compacting`` is discarded (crash before the swap).
    Returns the new file count; no-ops (returns current count) when
    the directory already has fewer than min_files files. At 100 TB
    the same operation targets a table format's rewrite-data-files
    action (Iceberg/Delta OPTIMIZE) partition-by-partition, whose
    snapshot commit removes the rename window entirely."""
    import math
    import os
    import shutil

    tmp = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__old"
    # crash recovery from a previous interrupted compaction
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    if os.path.exists(tmp):
        shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)

    files = [
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    if len(files) < min_files:
        return len(files)
    total = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))

    df = spark.read.parquet(path)
    df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return len(
        [
            f
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith("_")
        ]
    )


def write_time_partitioned(
    spark,
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    files_per_day: int = 1,
) -> int:
    """Time-partitioned, time-ordered warehouse layout: partition the
    output by event day (`partitionBy("event_date")` → Hive layout a
    later scan prunes with PartitionFilters) and sort rows by the
    timestamp WITHIN each file (`sortWithinPartitions` — no global
    sort, no extra Exchange beyond the day repartition), so parquet
    row-group min/max statistics on ts become tight and a time-range
    predicate skips row groups inside the day too.

    This is the canonical event-log layout at 100 TB: day-level
    partition pruning (thousands of partitions, O(1) listing per
    queried day) + intra-file ordering for rowgroup skipping. The
    repartition key includes a within-day split so one hot day can
    still fan out over `files_per_day` files/executors.

    Returns the number of day partitions written.
    """
    import os

    import pyspark.sql.functions as F

    with_day = df.withColumn("event_date", F.to_date(F.col(ts_col)))
    split = (F.xxhash64(F.col(ts_col)) % files_per_day).cast("int")
    (
        with_day.repartition(F.col("event_date"), split)
        .sortWithinPartitions("event_date", ts_col)
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )
    return len([d for d in os.listdir(path) if d.startswith("event_date=")])
