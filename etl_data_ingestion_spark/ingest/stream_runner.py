"""Streaming landing-zone runner: the reference's driver loop
(main.py:648-687) as a Structured Streaming query.

Replaces the reference's at-most-once source commit (O5, INBOX-label
removal at main.py:630-645 — a crash between insert and label removal
double-ingests) with the file source's checkpointed offset log plus
``cleanSource=archive``: a file is recorded in the checkpoint exactly
once, and consumed files are moved out of the watch dir by Spark
itself. That archival is this runner's whole lifecycle; there is no
Processed/ or Failed/ move, and ``FileOutcome.state`` records the
outcome instead.

Shape: a checkpointed ``binaryFile`` stream, pruned to its ``path``
column, is the file-arrival log — one row per newly landed file, no
content read. ``foreachBatch`` hands each path to ``runner.process_file``,
the per-file policy the batch runner uses, against the file still
sitting in the watch dir (archival happens after the batch commits).

Limitation: a 0-byte file yields no row to a file stream source, so
it is checkpointed as consumed and left to ``cleanSource`` like any
other file, with no outcome and no notification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Kept importable here: perfbench traces ``stream_runner.ingest_ctb_file``.
from etl_data_ingestion_spark.ingest.pipeline import ingest_ctb_file  # noqa: F401
from etl_data_ingestion_spark.ingest.runner import RunReport, finish_run, process_file
from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
from etl_data_ingestion_spark.notify import Notifier

# The binaryFile source's fixed schema; a stream source must be given it.
BINARY_FILE_SCHEMA = (
    "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"
)


def run_landing_zone_stream(
    spark: SparkSession,
    unprocessed_dir: str,
    archive_dir: str,
    checkpoint_dir: str,
    warehouse: ParquetWarehouseSink,
    quarantine: ParquetWarehouseSink,
    notifier: Notifier,
) -> RunReport:
    """Drain the landing dir once (availableNow) with checkpointed
    exactly-once file consumption; returns the same RunReport as the
    batch runner. Call repeatedly (or switch the trigger to a
    processingTime interval) for continuous ingestion."""
    report = RunReport()
    files = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("cleanSource", "archive")
        .option("sourceArchiveDir", archive_dir)
        .load(unprocessed_dir)
        .select("path")
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        for path in sorted(r["path"] for r in batch_df.collect()):
            report.outcomes.append(
                process_file(spark, path, warehouse, quarantine, notifier)
            )

    q = (
        files.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return finish_run(report, notifier, unprocessed_dir)
