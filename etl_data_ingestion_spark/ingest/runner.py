"""The ingest policy over a set of landed files and the batch
landing-zone runner: the reference's __main__ loop, Spark-first.

``process_files`` is the reference's per-file policy (main.py:648-687)
applied to a set of files at once, shared by this runner and
``stream_runner``; ``process_file`` is its one-file case. It takes the
files in groups of up to ``GROUP_FILES``, in landing order, and for
each group:
- each file is probed and parsed on its own (``ingest_ctb_file``); a
  file-level error (empty file, unknown column) fails the file with
  an error notification (main.py:289-295, 353-364);
- L3: the warehouse sink's ``check_target`` runs before any write
  (main.py:416-430);
- the valid rows of every parsed file go into ONE warehouse append,
  each file's branch tagged with its own load_id and counted on its
  own; a file's rejected rows are the rows parsed (an ``Observation``
  on its CSV scan, filled by that same append) minus the rows
  appended (main.py:448-468);
- the files with rejected rows go into ONE quarantine append; a file
  whose quarantine count is not its rejected count fails. A group of
  clean files is one Spark job and adds no empty quarantine file;
- partial success: ≥1 valid row → file processed, clean files get a
  success notification, partial ones an error report listing counts
  (main.py:470-495);
- zero valid rows → file failed + error notification (main.py:435-446,
  496-511);
- per-file isolation (main.py:674-677): an exception fails its file,
  never the run or the other files. When a group's append raises, its
  aborted job has committed nothing, and each of its files is re-run
  alone: the warehouse step from a fresh parse (Spark completes the
  Observations of a failed write with no value, so each file's
  ``parsed`` count must be observed again), the quarantine step over
  the frames it was given. Warehouse rows are never appended twice;
- after the appends, each file in landing order gets its notification,
  its ``FileOutcome``, the caller's ``settle`` and one INFO record on
  this module's logger carrying ``file``, ``state``, ``valid_rows``,
  ``quarantined_rows``, ``error``, ``group_files`` (the files in the
  warehouse append that took its rows; 0 when it took none),
  ``seconds`` and the step times ``read_s`` (``ingest_ctb_file``,
  header read included), ``warehouse_s`` and ``quarantine_s`` (the
  seconds of the appends the file took part in, 0 when it took part
  in none) and ``settle_s``, both in the message and as record
  attributes (``extra=``), with the traceback of the exception that
  failed the file, if any. ``seconds`` is the sum of the file's steps
  plus its notification.

``run_landing_zone`` is the batch arrival loop (main.py:648-687): it
lists Unprocessed/, lands the listing with ``process_files`` and moves
each file to Processed/ or Failed/ once its outcome is settled. Unlike
the reference, consumption is effectively at-least-once + idempotent:
a file moves out of Unprocessed/ only after the appends holding its
rows commit, and every appended row carries the file's load_id for
downstream dedup (SURVEY.md §4.1 deviation, documented).
"""

from __future__ import annotations

import logging
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_data_ingestion_spark.ingest.lifecycle import LandingZone
from etl_data_ingestion_spark.ingest.pipeline import IngestResult, ingest_ctb_file
from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
from etl_data_ingestion_spark.notify import Notifier

log = logging.getLogger(__name__)


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


_STEPS = ("read_s", "warehouse_s", "quarantine_s", "settle_s")
# Files per group. A grouped append is one stage whose every task
# carries the plans of all the group's branches, so its per-task cost
# grows with the group. Measured at local[4] on 400-row ctbgen files: a
# 128-file append ships a 14.8 MiB task binary, and 256 files drained in
# 332 s as one group against 175-197 s in groups of 16, 32 or 64.
GROUP_FILES = 16


class _File:
    """One file's way through ``process_files``: its parse, its counts
    and the exception that fails it, if any."""

    def __init__(self, path: str):
        self.path = path
        self.name = path.rsplit("/", 1)[-1]
        self.steps = dict.fromkeys(_STEPS, 0.0)
        self.res: IngestResult | None = None
        self.exc: Exception | None = None
        self.valid_rows = self.quarantined_rows = self.group_files = 0

    @contextmanager
    def step(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.steps[name] += time.perf_counter() - t

    @contextmanager
    def isolated(self):
        """Any exception inside fails this file alone."""
        try:
            yield
        except Exception as e:
            self.exc = e

    def parse(self, spark: SparkSession) -> bool:
        """(Re-)parse the file; True when it has frames to append."""
        with self.isolated(), self.step("read_s"):
            self.res = ingest_ctb_file(spark, self.path)
        return self.exc is None and self.res.ok


def _grouped(
    sink: ParquetWarehouseSink,
    files: list[_File],
    frame: Callable[[_File], DataFrame],
    step: str,
) -> dict[str, int] | None:
    """One append of ``frame(f)`` for every file, timed as each file's
    ``step``; ``{file name: rows written}``, or None when it raised (a
    single file then fails with the exception)."""
    t = time.perf_counter()
    try:
        return sink.write([(f.name, frame(f)) for f in files])
    except Exception as e:
        if len(files) == 1:
            files[0].exc = e
        else:
            log.warning(
                "%s append of %d files failed; re-running each alone",
                step[: -len("_s")], len(files), exc_info=True,
            )
        return None
    finally:
        for f in files:
            f.steps[step] += time.perf_counter() - t


def _land_valid(
    spark: SparkSession, files: list[_File], warehouse: ParquetWarehouseSink
) -> None:
    """Parse ``files`` and append all their valid rows in one write;
    when that write raises, re-run each file alone."""
    group = [f for f in files if f.parse(spark)]
    if not group:
        return
    try:
        warehouse.check_target(spark)
    except Exception as e:
        for f in group:
            f.exc = e
        return
    rows = _grouped(warehouse, group, lambda f: f.res.valid, "warehouse_s")
    if rows is None:
        if len(group) > 1:
            for f in group:
                _land_valid(spark, [f], warehouse)
        return
    for f in group:
        with f.isolated():
            f.group_files = len(group)
            f.valid_rows = rows[f.name]
            # _row_ok is never NULL, so the sinks split the parsed rows
            f.quarantined_rows = f.res.parsed.get["rows"] - f.valid_rows


def _land_rejected(files: list[_File], quarantine: ParquetWarehouseSink) -> None:
    """Append the rejected rows of ``files`` in one write and check each
    file's count; when that write raises, re-run each file alone."""
    rows = _grouped(quarantine, files, lambda f: f.res.quarantine, "quarantine_s")
    if rows is None:
        if len(files) > 1:
            for f in files:
                _land_rejected([f], quarantine)
        return
    for f in files:
        wrote = rows.get(f.name)
        if wrote != f.quarantined_rows:
            f.exc = RuntimeError(
                f"Quarantine append of '{f.name}' wrote {wrote} rows, "
                f"expected {f.quarantined_rows}."
            )


def _settle(
    f: _File, notifier: Notifier, settle: Callable[[FileOutcome], object] | None
) -> FileOutcome:
    """Notify, settle and log one file whose appends are done."""
    t = time.perf_counter()
    if f.exc is None:
        with f.isolated():
            if not f.res.ok:
                notifier.error(f.name, f.res.file_error)
                outcome = FileOutcome(f.path, "failed", error=f.res.file_error)
            elif f.valid_rows == 0:
                msg = (
                    f"No valid data rows found in '{f.name}' to insert "
                    f"({f.quarantined_rows} quarantined)."
                )
                notifier.error(f.name, msg)
                outcome = FileOutcome(f.path, "failed", 0, f.quarantined_rows, error=msg)
            else:
                if f.quarantined_rows == 0:
                    notifier.success(f.name, f.valid_rows)
                else:
                    notifier.error(
                        f.name,
                        f"Inserted {f.valid_rows} valid rows from '{f.name}'; "
                        f"{f.quarantined_rows} rows quarantined with row-level errors.",
                    )
                outcome = FileOutcome(
                    f.path, "processed", f.valid_rows, f.quarantined_rows
                )
            if settle is not None:
                with f.step("settle_s"):
                    settle(outcome)
    if f.exc is not None:  # per-file isolation (main.py:674-677)
        notifier.error(f.name, f"Unexpected error: {f.exc}")
        outcome = FileOutcome(f.path, "failed", error=str(f.exc))
        if settle is not None:
            try:
                with f.step("settle_s"):
                    settle(outcome)
            except Exception:
                pass
    record = {
        "file": f.name,
        "state": outcome.state,
        "valid_rows": outcome.valid_rows,
        "quarantined_rows": outcome.quarantined_rows,
        "error": outcome.error,
        "group_files": f.group_files,
        "seconds": round(
            sum(v for k, v in f.steps.items() if k != "settle_s")
            + time.perf_counter() - t,
            3,
        ),
        **{k: round(v, 3) for k, v in f.steps.items()},
    }
    log.info(
        " ".join(f"{k}=%r" for k in record), *record.values(),
        extra=record, exc_info=f.exc,
    )
    return outcome


def process_files(
    spark: SparkSession,
    paths: list[str],
    warehouse: ParquetWarehouseSink,
    quarantine: ParquetWarehouseSink,
    notifier: Notifier,
    settle: Callable[[FileOutcome], object] | None = None,
) -> list[FileOutcome]:
    """Ingest a set of landed files under the reference's per-file
    policy, with one warehouse append and at most one quarantine
    append per group of ``GROUP_FILES`` files, and return their
    outcomes in ``paths`` order.

    The file names are the load_ids, so they must be distinct, as in
    one landing directory. ``settle(outcome)`` is the caller's
    lifecycle action, run after each file's notification and inside
    its isolation: if it raises, the file fails with an error
    notification and ``settle`` gets one best-effort call with the
    failed outcome."""
    outcomes = []
    for i in range(0, len(paths), GROUP_FILES):
        files = [_File(p) for p in paths[i : i + GROUP_FILES]]
        _land_valid(spark, files, warehouse)
        rejected = [f for f in files if f.exc is None and f.quarantined_rows > 0]
        if rejected:
            _land_rejected(rejected, quarantine)
        outcomes += [_settle(f, notifier, settle) for f in files]
    return outcomes


def process_file(
    spark: SparkSession,
    path: str,
    warehouse: ParquetWarehouseSink,
    quarantine: ParquetWarehouseSink,
    notifier: Notifier,
    settle: Callable[[FileOutcome], object] | None = None,
) -> FileOutcome:
    """``process_files`` of one file."""
    return process_files(spark, [path], warehouse, quarantine, notifier, settle)[0]


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
        process_files(
            spark, zone.list_unprocessed(), warehouse, quarantine, notifier, move
        )
    )
    return finish_run(report, notifier, zone.root)
