"""The per-file ingest policy and the batch landing-zone runner: the
reference's __main__ loop, Spark-first.

``process_file`` is the reference's per-file policy, shared by this
runner and ``stream_runner``:
- a file-level error (empty file, unknown column) fails the file with
  an error notification (main.py:289-295, 353-364);
- L3: the warehouse sink's ``check_target`` runs before any write
  (main.py:416-430);
- partial success: ≥1 valid row → file processed, clean files get a
  success notification, partial ones an error report listing counts
  (main.py:470-495);
- zero valid rows → file failed + error notification (main.py:435-446,
  496-511);
- per-file isolation: an exception fails the file, never the run
  (main.py:674-677).

``run_landing_zone`` is the batch arrival loop (main.py:648-687): it
lists Unprocessed/ and moves each file to Processed/ or Failed/ after
its outcome is settled. Unlike the reference, consumption is
effectively at-least-once + idempotent: the file moves out of
Unprocessed/ only after the warehouse append commits, and every
appended row carries the file's load_id for downstream dedup
(SURVEY.md §4.1 deviation, documented).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import SparkSession

from etl_data_ingestion_spark.ingest.lifecycle import LandingZone
from etl_data_ingestion_spark.ingest.pipeline import ingest_ctb_file
from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
from etl_data_ingestion_spark.notify import Notifier


@dataclass
class FileOutcome:
    path: str
    state: str  # processed | failed
    valid_rows: int = 0
    quarantined_rows: int = 0
    error: str | None = None


@dataclass
class RunReport:
    outcomes: list[FileOutcome] = field(default_factory=list)

    @property
    def total_inserted(self) -> int:
        return sum(o.valid_rows for o in self.outcomes if o.state == "processed")


def process_file(
    spark: SparkSession,
    path: str,
    warehouse: ParquetWarehouseSink,
    quarantine: ParquetWarehouseSink,
    notifier: Notifier,
    settle: Callable[[FileOutcome], object] | None = None,
) -> FileOutcome:
    """Ingest one landed file under the reference's per-file policy
    and return its outcome.

    ``settle(outcome)`` is the caller's lifecycle action, run after the
    file's notification and inside the same isolation: if it raises,
    the file fails with an error notification and ``settle`` gets one
    best-effort call with the failed outcome."""
    filename = path.rsplit("/", 1)[-1]
    try:
        res = ingest_ctb_file(spark, path)
        if not res.ok:
            notifier.error(filename, res.file_error)
            outcome = FileOutcome(path, "failed", error=res.file_error)
        else:
            warehouse.check_target(spark)
            q_rows = quarantine.write(res.quarantine, load_id=filename)
            v_rows = warehouse.write(res.valid, load_id=filename)
            if v_rows == 0:
                msg = (
                    f"No valid data rows found in '{filename}' to insert "
                    f"({q_rows} quarantined)."
                )
                notifier.error(filename, msg)
                outcome = FileOutcome(path, "failed", 0, q_rows, error=msg)
            else:
                if q_rows == 0:
                    notifier.success(filename, v_rows)
                else:
                    notifier.error(
                        filename,
                        f"Inserted {v_rows} valid rows from '{filename}'; "
                        f"{q_rows} rows quarantined with row-level errors.",
                    )
                outcome = FileOutcome(path, "processed", v_rows, q_rows)
        if settle is not None:
            settle(outcome)
        return outcome
    except Exception as e:  # per-file isolation (main.py:674-677)
        notifier.error(filename, f"Unexpected error: {e}")
        outcome = FileOutcome(path, "failed", error=str(e))
        if settle is not None:
            try:
                settle(outcome)
            except Exception:
                pass
        return outcome


def finish_run(report: RunReport, notifier: Notifier, source: str) -> RunReport:
    """A run that found no files sends the no-data notification
    (main.py:679-685)."""
    if not report.outcomes:
        notifier.no_data(source)
    return report


def run_landing_zone(
    spark: SparkSession,
    zone: LandingZone,
    warehouse: ParquetWarehouseSink,
    quarantine: ParquetWarehouseSink,
    notifier: Notifier,
) -> RunReport:
    def move(o: FileOutcome) -> None:
        (zone.mark_processed if o.state == "processed" else zone.mark_failed)(o.path)

    report = RunReport(
        [
            process_file(spark, path, warehouse, quarantine, notifier, move)
            for path in zone.list_unprocessed()
        ]
    )
    return finish_run(report, notifier, zone.root)
