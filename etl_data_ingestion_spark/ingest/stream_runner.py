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

Shape: a checkpointed ``binaryFile`` stream drives ``foreachBatch``,
and the arrival log is the file source's own checkpoint log. Before a
micro-batch runs, the source writes the files it chose to
``<checkpoint>/sources/0/<batchId>``. ``logged_paths`` reads that file
on the driver, as ``pipeline.read_raw_header`` reads a landed file, and
the batch's paths go to ``runner.process_files``, the policy the batch
runner lands its listing with, against the files still sitting in the
watch dir (archival happens after the batch commits). The batch's frame
is never touched, so the stream runs no Spark job of its own: a
micro-batch's jobs are the appends of ``process_files`` (two for a
batch of up to ``runner.GROUP_FILES`` files with rejected rows). A
0-byte file, which ``binaryFile`` gives no row, is in the log too, so
it fails like it does in the batch runner.

A micro-batch re-run after a crash keeps its batch id and so reads the
same log entry: the checkpoint's exactly-once consumption is unchanged.

Spark archives a batch's files when it starts the next batch, so the
files of a drain's last batch stay in the watch dir, already
checkpointed, until a later drain finds new files.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

# Kept importable here: perfbench traces ``stream_runner.ingest_ctb_file``.
from etl_data_ingestion_spark.ingest.pipeline import ingest_ctb_file  # noqa: F401
from etl_data_ingestion_spark.ingest.runner import RunReport, finish_run, process_files
from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
from etl_data_ingestion_spark.notify import Notifier

# The binaryFile source's fixed schema; a stream source must be given it.
BINARY_FILE_SCHEMA = (
    "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"
)


def logged_paths(spark: SparkSession, checkpoint_dir: str, batch_id: int) -> list[str]:
    """The sorted paths the query's file source logged for micro-batch
    ``batch_id``, read on the driver without a Spark job.

    The log is ``<checkpoint_dir>/sources/0/<batch_id>``, opened through
    the Hadoop FileSystem API and split by Hadoop's ``LineReader``: a
    ``v1`` line, then one JSON entry per file. Every 10th batch is
    written as ``<batch_id>.compact`` holding all earlier entries too,
    so only the entries of ``batch_id`` are kept. An entry's path is a
    URL-encoded ``file:///…`` URI; each is returned as the ``binaryFile``
    ``path`` column spells it (``file:/…``, decoded), which is how the
    batch runner's paths, and the error texts quoting them, read.
    Raises when the batch has no log file or the log is not ``v1``."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    log_dir = f"{checkpoint_dir}/sources/0"
    for name in (str(batch_id), f"{batch_id}.compact"):
        hpath = jvm.org.apache.hadoop.fs.Path(log_dir, name)
        fs = hpath.getFileSystem(conf)
        if fs.exists(hpath):
            break
    else:
        raise FileNotFoundError(
            f"no file source log for batch {batch_id} under {log_dir}"
        )
    stream = fs.open(hpath)
    try:
        reader = jvm.org.apache.hadoop.util.LineReader(stream, conf)
        line = jvm.org.apache.hadoop.io.Text()
        reader.readLine(line)
        if line.toString() != "v1":
            raise ValueError(
                f"file source log {hpath.toString()} has version "
                f"{line.toString()!r}, expected 'v1'"
            )
        uris = []
        while reader.readLine(line) > 0:
            entry = json.loads(line.toString())
            if entry["batchId"] == batch_id:
                uris.append(entry["path"])
    finally:
        stream.close()
    return sorted(
        jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(u)).toString() for u in uris
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
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        report.outcomes.extend(
            process_files(
                spark, logged_paths(spark, checkpoint_dir, batch_id),
                warehouse, quarantine, notifier,
            )
        )

    q = (
        files.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return finish_run(report, notifier, unprocessed_dir)
