"""End-to-end landing-zone runs: lifecycle transitions, partial-success
policy, notifications, warehouse append (reference L1-L5 / O1-O6)."""

from __future__ import annotations

import gzip
import importlib.util
import logging
import os
import shutil
import sys

import pytest

from etl_data_ingestion_spark.ingest import runner
from etl_data_ingestion_spark.ingest.lifecycle import LandingZone
from etl_data_ingestion_spark.ingest.runner import (
    process_file,
    process_files,
    run_landing_zone,
)
from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
from etl_data_ingestion_spark.ingest.stream_runner import run_landing_zone_stream
from etl_data_ingestion_spark.notify import CollectingNotifier
from etl_data_ingestion_spark.schema import BQ_SCHEMA_TYPES
from etl_data_ingestion_spark.session import job_group
from tests.test_ingest_ctb import GOOD, CANONICAL, header_line, row

# the benchmark's seeded landing-set generator, loaded by path so that
# perfbench's other modules stay off sys.path
_spec = importlib.util.spec_from_file_location(
    "ctbgen",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "ctbgen.py"),
)
ctbgen = sys.modules["ctbgen"] = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ctbgen)


@pytest.fixture
def zone(spark, tmp_path):
    z = LandingZone(spark, str(tmp_path / "landing"))
    z.ensure_dirs()
    return z


@pytest.fixture
def sinks(tmp_path):
    return (
        ParquetWarehouseSink(str(tmp_path / "warehouse")),
        ParquetWarehouseSink(str(tmp_path / "quarantine")),
    )


def run(spark, zone, sinks):
    notifier = CollectingNotifier()
    report = run_landing_zone(spark, zone, sinks[0], sinks[1], notifier)
    return report, notifier


def test_clean_file_processed_with_success_email(spark, zone, sinks):
    zone.put("CTB_clean.tsv", (header_line() + "\n" + row() + "\n" + row() + "\n").encode())
    report, notifier = run(spark, zone, sinks)
    assert [o.state for o in report.outcomes] == ["processed"]
    assert report.total_inserted == 2
    assert [e.kind for e in notifier.events] == ["success"]
    assert zone.list_unprocessed() == []
    wh = spark.read.parquet(sinks[0].path)
    assert wh.count() == 2
    assert "_load_id" in wh.columns


def test_partial_success_processed_with_error_report(spark, zone, sinks):
    body = row() + "\n" + row(DEMAND_QTY="bad") + "\n"
    zone.put("CTB_partial.tsv", (header_line() + "\n" + body).encode())
    report, notifier = run(spark, zone, sinks)
    o = report.outcomes[0]
    assert (o.state, o.valid_rows, o.quarantined_rows) == ("processed", 1, 1)
    assert notifier.events[0].kind == "error"  # partial → error report (main.py:487-490)
    assert spark.read.parquet(sinks[1].path).count() == 1


def test_all_bad_rows_failed(spark, zone, sinks):
    body = row(DEMAND_QTY="x") + "\n" + row(SNAPSHOT_DATE="nope") + "\n"
    zone.put("CTB_allbad.tsv", (header_line() + "\n" + body).encode())
    report, notifier = run(spark, zone, sinks)
    o = report.outcomes[0]
    assert (o.state, o.valid_rows, o.quarantined_rows) == ("failed", 0, 2)
    assert notifier.events[0].kind == "error"
    assert "(2 quarantined)" in notifier.events[0].body
    assert spark.read.parquet(sinks[1].path).count() == 2
    assert os.path.exists(zone.root + "/Failed/CTB_allbad.tsv")


def _parquet_files(path) -> int:
    if not os.path.isdir(path):
        return 0
    return len([f for f in os.listdir(path) if f.endswith(".parquet")])


def test_clean_file_adds_no_quarantine_file(spark, zone, sinks):
    """Only rejected rows reach the quarantine sink: after a partial
    file has created it, a clean file appends no (empty) parquet file."""
    partial = [header_line(), row(DEMAND_QTY="x"), row(), ""]
    zone.put("CTB_partial.tsv", "\n".join(partial).encode())
    run(spark, zone, sinks)
    before = _parquet_files(sinks[1].path)
    assert before >= 1
    zone.put("CTB_clean.tsv", "\n".join([header_line(), row(), row(), ""]).encode())
    report, notifier = run(spark, zone, sinks)
    assert [(o.state, o.valid_rows, o.quarantined_rows) for o in report.outcomes] == [
        ("processed", 2, 0)
    ]
    assert [e.kind for e in notifier.events] == ["success"]
    assert _parquet_files(sinks[1].path) == before


def test_quarantine_holds_the_rows_parsed_minus_valid(spark, zone, sinks):
    """Every parsed row lands in exactly one sink: the quarantine rows
    read back are the data rows the warehouse did not take."""
    short = "\t".join(row().split("\t")[:-1])
    data = [
        row(), row(DEMAND_QTY="x"), "", short, row() + "\tv", row(SNAPSHOT_DATE="no"),
    ]
    zone.put("CTB_defects.tsv", "\n".join([header_line(), *data, ""]).encode())
    report, _ = run(spark, zone, sinks)
    parsed = sum(1 for line in data if line.strip())
    valid = spark.read.parquet(sinks[0].path).count()
    quarantined = spark.read.parquet(sinks[1].path).count()
    assert (valid, quarantined) == (1, parsed - 1)
    o = report.outcomes[0]
    assert (o.state, o.valid_rows, o.quarantined_rows) == ("processed", valid, quarantined)


def test_quarantine_count_mismatch_fails_the_file(spark, zone, tmp_path):
    """A quarantine append that writes another count than the rows the
    warehouse rejected fails the file with an error notification."""

    class ShortSink(ParquetWarehouseSink):
        def write(self, parts):
            return {k: n - 1 for k, n in super().write(parts).items()}

    partial = [header_line(), row(), row(DEMAND_QTY="x"), ""]
    zone.put("CTB_partial.tsv", "\n".join(partial).encode())
    report, notifier = run(spark, zone, (
        ParquetWarehouseSink(str(tmp_path / "wh")),
        ShortSink(str(tmp_path / "q")),
    ))
    assert report.outcomes[0].state == "failed"
    assert [e.kind for e in notifier.events] == ["error"]
    assert "wrote 0 rows, expected 1" in notifier.events[0].body
    assert os.path.exists(zone.root + "/Failed/CTB_partial.tsv")


def test_unknown_header_failed_file(spark, zone, sinks):
    zone.put(
        "CTB_badheader.tsv",
        (header_line() + "\tEXTRA COL\n" + row() + "\tv\n").encode(),
    )
    report, notifier = run(spark, zone, sinks)
    assert report.outcomes[0].state == "failed"
    assert "EXTRA_COL" in notifier.events[0].body


def test_empty_zone_no_data_notification(spark, zone, sinks):
    report, notifier = run(spark, zone, sinks)
    assert report.outcomes == []
    assert [e.kind for e in notifier.events] == ["no_data"]


def test_multi_file_isolation(spark, zone, sinks):
    zone.put("CTB_a.tsv", (header_line() + "\n" + row() + "\n").encode())
    zone.put("CTB_b.tsv", b"")  # empty → failed, must not abort the run
    zone.put("CTB_c.tsv", (header_line() + "\n" + row() + "\n").encode())
    report, notifier = run(spark, zone, sinks)
    states = {o.path.rsplit("/", 1)[-1]: o.state for o in report.outcomes}
    assert states == {
        "CTB_a.tsv": "processed",
        "CTB_b.tsv": "failed",
        "CTB_c.tsv": "processed",
    }
    assert report.total_inserted == 2


def test_missing_target_fails_file(spark, zone, tmp_path):
    """L3 (main.py:416-430): when the warehouse target must pre-exist
    and doesn't, the file fails with an error notification and no rows
    are written; lifecycle moves it to Failed/."""
    wh = ParquetWarehouseSink(str(tmp_path / "warehouse"), require_existing=True)
    qr = ParquetWarehouseSink(str(tmp_path / "quarantine"))
    zone.put("CTB_ok.tsv", (header_line() + "\n" + row() + "\n").encode())
    notifier = CollectingNotifier()
    report = run_landing_zone(spark, zone, wh, qr, notifier)
    assert report.outcomes[0].state == "failed"
    assert "does not exist" in notifier.events[0].body
    assert zone.list_unprocessed() == []
    assert os.path.exists(zone.root + "/Failed/CTB_ok.tsv")
    assert not os.path.exists(wh.path)


def test_stream_missing_target_fails_file(spark, tmp_path):
    """The streaming runner honours the sink's L3 target policy too."""
    wh = ParquetWarehouseSink(str(tmp_path / "warehouse"), require_existing=True)
    qr = ParquetWarehouseSink(str(tmp_path / "quarantine"))
    unproc = tmp_path / "Unprocessed"
    unproc.mkdir()
    (unproc / "CTB_ok.tsv").write_text(header_line() + "\n" + row() + "\n")
    notifier = CollectingNotifier()
    report = run_landing_zone_stream(
        spark, str(unproc), str(tmp_path / "Archived"), str(tmp_path / "ckpt"),
        wh, qr, notifier,
    )
    assert [o.state for o in report.outcomes] == ["failed"]
    assert "does not exist" in notifier.events[0].body
    assert not os.path.exists(wh.path)


def test_batch_and_stream_runners_agree(spark, zone, tmp_path):
    """Both arrival loops apply one per-file policy: draining the same
    landing set, a 0-byte file included, gives each file the same
    outcome and notification."""
    landing = {
        "CTB_clean.tsv": [row(), row()],
        "CTB_partial.tsv": [row(), row(DEMAND_QTY="bad")],
        "CTB_allbad.tsv": [row(DEMAND_QTY="x"), row(SNAPSHOT_DATE="nope")],
        "CTB_headeronly.tsv": [],
    }

    def land():
        for name, rows in landing.items():
            zone.put(name, "\n".join([header_line(), *rows, ""]).encode())
        zone.put(
            "CTB_unknown.tsv",
            (header_line() + "\tEXTRA COL\n" + row() + "\tv\n").encode(),
        )
        zone.put("CTB_zero.tsv", b"")

    def drained(report, notifier):
        notes = {}
        for ev in notifier.events:
            notes.setdefault(ev.subject.rsplit(" - ", 1)[-1], []).append(
                (ev.kind, ev.subject, ev.body)
            )
        return {
            o.path.rsplit("/", 1)[-1]: (
                (o.state, o.valid_rows, o.quarantined_rows, o.error),
                notes.get(o.path.rsplit("/", 1)[-1]),
            )
            for o in report.outcomes
        }

    land()
    batch_notes = CollectingNotifier()
    batch = run_landing_zone(
        spark, zone,
        ParquetWarehouseSink(str(tmp_path / "b_wh")),
        ParquetWarehouseSink(str(tmp_path / "b_q")),
        batch_notes,
    )
    # the stream watches the same Unprocessed/ dir, so file paths (and
    # the error texts that quote them) match the batch drain's
    land()
    stream_notes = CollectingNotifier()
    stream = run_landing_zone_stream(
        spark, zone.root + "/Unprocessed", str(tmp_path / "Archived"),
        str(tmp_path / "ckpt"),
        ParquetWarehouseSink(str(tmp_path / "s_wh")),
        ParquetWarehouseSink(str(tmp_path / "s_q")),
        stream_notes,
    )
    got = drained(batch, batch_notes)
    assert len(got) == 6
    assert got == drained(stream, stream_notes)
    assert {k: v[0][0] for k, v in got.items()} == {
        "CTB_clean.tsv": "processed",
        "CTB_partial.tsv": "processed",
        "CTB_allbad.tsv": "failed",
        "CTB_headeronly.tsv": "failed",
        "CTB_unknown.tsv": "failed",
        "CTB_zero.tsv": "failed",
    }


SHORT = "\t".join(row().split("\t")[:-1])
# one landed file of each kind; None is a 0-byte file
FILE_KINDS = {
    "clean": [header_line(), row(), row()],
    "defects": [header_line(), row(), row(DEMAND_QTY="x"), SHORT, row() + "\tv"],
    "headeronly": [header_line()],
    "unknown": [header_line() + "\tEXTRA COL", row() + "\tv"],
    "zerobyte": None,
}


def land_kinds(directory) -> None:
    for kind, lines in FILE_KINDS.items():
        (directory / f"CTB_{kind}.tsv").write_text(
            "" if lines is None else "\n".join([*lines, ""])
        )


def jobs_run(spark, group: str, fn) -> int:
    """The Spark jobs ``fn()`` runs, counted under a job group."""
    with job_group(spark, group) as g:
        fn()
    return g.jobs


def test_jobs_per_file_kind(spark, zone, tmp_path):
    """Each file kind costs a fixed number of Spark jobs alone: the
    header and data-row probe runs on the driver, the warehouse append
    is one job, and the quarantine append one more only when rows were
    rejected. A drain of all five kinds costs the same two jobs: one
    warehouse append for every file and one quarantine append."""
    wh = ParquetWarehouseSink(str(tmp_path / "wh"))
    qr = ParquetWarehouseSink(str(tmp_path / "q"))
    alone = tmp_path / "alone"
    alone.mkdir()
    land_kinds(alone)
    jobs = {
        kind: jobs_run(
            spark, f"jobs_per_file_{kind}",
            lambda: process_file(
                spark, str(alone / f"CTB_{kind}.tsv"), wh, qr, CollectingNotifier()
            ),
        )
        for kind in FILE_KINDS
    }
    assert jobs == {
        "clean": 1, "defects": 2, "headeronly": 0, "unknown": 0, "zerobyte": 0,
    }
    land_kinds(tmp_path / "landing" / "Unprocessed")
    reports = []
    drain = jobs_run(spark, "jobs_per_drain", lambda: reports.append(run_landing_zone(
        spark, zone,
        ParquetWarehouseSink(str(tmp_path / "d_wh")),
        ParquetWarehouseSink(str(tmp_path / "d_q")),
        CollectingNotifier(),
    )))
    assert [o.state for o in reports[0].outcomes] == [
        "processed", "processed", "failed", "failed", "failed",
    ]
    assert drain == 2


@pytest.mark.parametrize("n, group, want", [(4, None, 2), (16, None, 2), (4, 3, 4)])
def test_jobs_per_drain_do_not_grow_with_files(spark, tmp_path, monkeypatch, n, group, want):
    """A drain of up to ``GROUP_FILES`` generated files with row defects
    costs two Spark jobs whatever their number, and each file's outcome
    is the generator's. A larger drain costs two jobs per group."""
    if group is not None:
        monkeypatch.setattr(runner, "GROUP_FILES", group)
    assert n <= runner.GROUP_FILES or group is not None
    zone = LandingZone(spark, str(tmp_path / "landing"))
    zone.ensure_dirs()
    truths = ctbgen.generate(
        str(tmp_path / "landing" / "Unprocessed"), 17, n, 40, planted_failures=False
    )
    assert sum(t.quarantined_rows for t in truths) > 0
    reports = []
    jobs = jobs_run(spark, f"jobs_per_drain_{n}_{group}", lambda: reports.append(run_landing_zone(
        spark, zone,
        ParquetWarehouseSink(str(tmp_path / "wh")),
        ParquetWarehouseSink(str(tmp_path / "q")),
        CollectingNotifier(),
    )))
    assert [(o.state, o.valid_rows, o.quarantined_rows) for o in reports[0].outcomes] == [
        (t.state, t.valid_rows, t.quarantined_rows) for t in truths
    ]
    assert jobs == want


def settle_in(zone):
    """The batch runner's lifecycle move, for a loop over single files."""
    return lambda o: (
        zone.mark_processed if o.state == "processed" else zone.mark_failed
    )(o.path)


def sink_rows(spark, path) -> list[tuple]:
    """Every row of a parquet sink, sorted over all columns."""
    if not os.path.isdir(path):
        return []
    return sorted((tuple(r) for r in spark.read.parquet(path).collect()), key=repr)


def test_drains_equal_the_per_file_loop(spark, zone, tmp_path, caplog):
    """A batch drain and a stream drain of a generated landing set
    (planted file-level failures included) give the same outcomes,
    notifications, log records (timings and ``group_files`` aside)
    and sink rows as landing each file alone with ``process_files``."""
    unprocessed = zone.root + "/Unprocessed"
    src = str(tmp_path / "src")
    truths = ctbgen.generate(src, 23, 8, 40)
    fields = ("file", "state", "valid_rows", "quarantined_rows", "error")

    def drain(name, run_it):
        for t in truths:
            shutil.copyfile(os.path.join(src, t.name), os.path.join(unprocessed, t.name))
        wh = ParquetWarehouseSink(str(tmp_path / f"{name}_wh"))
        qr = ParquetWarehouseSink(str(tmp_path / f"{name}_q"))
        notifier = CollectingNotifier()
        caplog.clear()
        with caplog.at_level(logging.INFO, "etl_data_ingestion_spark.ingest.runner"):
            outcomes = run_it(wh, qr, notifier)
        records = [
            tuple(getattr(r, f) for f in fields) for r in caplog.records
            if r.name == "etl_data_ingestion_spark.ingest.runner"
        ]
        return (
            [(o.path, o.state, o.valid_rows, o.quarantined_rows, o.error)
             for o in outcomes],
            [(e.kind, e.subject, e.body) for e in notifier.events],
            records,
            sink_rows(spark, wh.path),
            sink_rows(spark, qr.path),
        )

    def per_file(wh, qr, notifier):
        return [
            o for p in zone.list_unprocessed()
            for o in process_files(spark, [p], wh, qr, notifier, settle_in(zone))
        ]

    alone = drain("alone", per_file)
    batch = drain("batch", lambda wh, qr, notifier: run_landing_zone(
        spark, zone, wh, qr, notifier).outcomes)
    stream = drain("stream", lambda wh, qr, notifier: run_landing_zone_stream(
        spark, unprocessed, str(tmp_path / "Archived"), str(tmp_path / "ckpt"),
        wh, qr, notifier).outcomes)
    assert [o[1:4] for o in alone[0]] == [
        (t.state, t.valid_rows, t.quarantined_rows) for t in truths
    ]
    assert len(alone[3]) == sum(t.valid_rows for t in truths)
    assert len(alone[4]) == sum(t.quarantined_rows for t in truths)
    assert batch == alone
    assert stream == alone


def test_poisoned_file_fails_alone_in_a_group(spark, zone, tmp_path):
    """A truncated ``.gz`` whose header reads fine fails the group's
    warehouse append. The aborted append commits nothing; the gz then
    fails alone with an error notification and moves to Failed/, and
    the other files land as they do alone, each row once."""
    unprocessed = tmp_path / "landing" / "Unprocessed"
    lines = [header_line()] + [row(ORG_CODE=f"ORG{i}") for i in range(3000)]
    packed = gzip.compress("\n".join([*lines, ""]).encode())

    def land():
        (unprocessed / "CTB_a_clean.tsv").write_text("\n".join([header_line(), row(), ""]))
        (unprocessed / "CTB_b_defects.tsv").write_text(
            "\n".join([*FILE_KINDS["defects"], ""])
        )
        (unprocessed / "CTB_c_cut.tsv.gz").write_bytes(packed[: len(packed) // 2])

    appends = []

    class RecordingSink(ParquetWarehouseSink):
        def write(self, parts):
            appends.append([k for k, _ in parts])
            return super().write(parts)

    def drain(name, run_it):
        land()
        wh = RecordingSink(str(tmp_path / f"{name}_wh"))
        qr = ParquetWarehouseSink(str(tmp_path / f"{name}_q"))
        notifier = CollectingNotifier()
        outcomes = run_it(wh, qr, notifier)
        return outcomes, notifier, sink_rows(spark, wh.path), sink_rows(spark, qr.path)

    outcomes, notifier, wh_rows, q_rows = drain(
        "batch", lambda wh, qr, n: run_landing_zone(spark, zone, wh, qr, n).outcomes)
    names = ["CTB_a_clean.tsv", "CTB_b_defects.tsv", "CTB_c_cut.tsv.gz"]
    assert appends == [names, *([n] for n in names)]
    assert [(o.state, o.valid_rows, o.quarantined_rows) for o in outcomes] == [
        ("processed", 1, 0), ("processed", 1, 3), ("failed", 0, 0),
    ]
    assert [e.kind for e in notifier.events] == ["success", "error", "error"]
    assert notifier.events[2].body.startswith("Unexpected error: ")
    assert sorted(os.listdir(tmp_path / "landing" / "Failed")) == ["CTB_c_cut.tsv.gz"]
    assert [r[-1] for r in wh_rows] == ["CTB_a_clean.tsv", "CTB_b_defects.tsv"]
    assert {r[-1] for r in q_rows} == {"CTB_b_defects.tsv"} and len(q_rows) == 3

    alone = drain("alone", lambda wh, qr, n: [
        process_file(spark, p, wh, qr, n, settle_in(zone)) for p in zone.list_unprocessed()
    ])
    assert [(o.state, o.valid_rows, o.quarantined_rows) for o in alone[0]] == [
        (o.state, o.valid_rows, o.quarantined_rows) for o in outcomes
    ]
    assert (alone[2], alone[3]) == (wh_rows, q_rows)


@pytest.mark.parametrize("fault", ["undercount", "raise"])
def test_quarantine_fault_fails_only_its_file(spark, zone, tmp_path, fault):
    """A quarantine append that miscounts or raises for one load_id
    fails only that file; the other file is processed, and the
    warehouse append runs once, each file's valid rows landing once."""
    bad = "CTB_b.tsv"

    class FaultySink(ParquetWarehouseSink):
        def write(self, parts):
            if fault == "raise" and any(k == bad for k, _ in parts):
                raise RuntimeError(f"quarantine refused {bad}")
            got = super().write(parts)
            return {k: n - (fault == "undercount" and k == bad) for k, n in got.items()}

    class CountingSink(ParquetWarehouseSink):
        calls = 0

        def write(self, parts):
            CountingSink.calls += 1
            return super().write(parts)

    for name in ("CTB_a.tsv", bad):
        zone.put(name, "\n".join([*FILE_KINDS["defects"], ""]).encode())
    wh = CountingSink(str(tmp_path / "wh"))
    notifier = CollectingNotifier()
    report = run_landing_zone(
        spark, zone, wh, FaultySink(str(tmp_path / "q")), notifier
    )
    assert [(o.state, o.valid_rows, o.quarantined_rows) for o in report.outcomes] == [
        ("processed", 1, 3), ("failed", 0, 0),
    ]
    assert [e.kind for e in notifier.events] == ["error", "error"]
    want = {
        "undercount": f"Unexpected error: Quarantine append of '{bad}' wrote 2 rows, expected 3.",
        "raise": f"Unexpected error: quarantine refused {bad}",
    }[fault]
    assert notifier.events[1].body == want
    assert os.path.exists(zone.root + "/Failed/" + bad)
    assert CountingSink.calls == 1
    assert sorted(r[-1] for r in sink_rows(spark, wh.path)) == ["CTB_a.tsv", bad]


def test_part_files_hold_every_column_in_schema_order(spark, zone, sinks):
    """A file with a subset of the columns, in another order, lands
    before a full one: every warehouse and quarantine part file holds
    all schema columns in schema order (the missing ones NULL), so a
    read of the directory loses no column."""
    subset = ["SNAPSHOT_DATE", "DEMAND QTY", "ORG CODE"]
    values = {"SNAPSHOT_DATE": "2025-07-01", "DEMAND QTY": "7", "ORG CODE": "ORG9"}
    zone.put("CTB_1_subset.tsv", "\n".join([
        "\t".join(subset),
        "\t".join(values[h] for h in subset),
        "\t".join(dict(values, **{"DEMAND QTY": "x"})[h] for h in subset),
        "",
    ]).encode())
    report, _ = run(spark, zone, sinks)
    assert [(o.valid_rows, o.quarantined_rows) for o in report.outcomes] == [(1, 1)]
    zone.put("CTB_2_full.tsv", "\n".join(FILE_KINDS["defects"] + [""]).encode())
    report, _ = run(spark, zone, sinks)
    assert [(o.valid_rows, o.quarantined_rows) for o in report.outcomes] == [(1, 3)]
    schema = list(BQ_SCHEMA_TYPES)
    for sink, tail in (
        (sinks[0], ["_load_id"]),
        (sinks[1], ["_raw", "_errors", "_source_file", "_load_id"]),
    ):
        parts = sorted(f for f in os.listdir(sink.path) if f.endswith(".parquet"))
        assert len(parts) == 2
        for part in parts:
            assert spark.read.parquet(os.path.join(sink.path, part)).columns == schema + tail
    got = spark.read.parquet(sinks[0].path).filter("_load_id = 'CTB_1_subset.tsv'").collect()
    assert [(r.ORG_CODE, r.DEMAND_QTY, str(r.SNAPSHOT_DATE), r.ITEM_NUMBER) for r in got] == [
        ("ORG9", 7, "2025-07-01", None)
    ]


def test_one_log_record_per_file(spark, zone, tmp_path, caplog):
    """Batch and stream drains of one landing set log one structured
    record per file, with the same fields apart from the timings. The
    per-step wall times are there too, and a clean file spends none
    on the quarantine append."""
    landing = {
        "CTB_clean.tsv": [header_line(), row()],
        "CTB_partial.tsv": [header_line(), row(), row(DEMAND_QTY="bad")],
        "CTB_headeronly.tsv": [header_line()],
    }
    fields = ("file", "state", "valid_rows", "quarantined_rows", "error")
    steps = ("read_s", "warehouse_s", "quarantine_s", "settle_s")

    def drain(run_it):
        for name, lines in landing.items():
            zone.put(name, "\n".join([*lines, ""]).encode())
        caplog.clear()
        with caplog.at_level(logging.INFO, "etl_data_ingestion_spark.ingest.runner"):
            run_it()
        recs = [
            r for r in caplog.records
            if r.name == "etl_data_ingestion_spark.ingest.runner"
        ]
        for r in recs:
            assert r.seconds >= 0
            assert all(f"{f}={getattr(r, f)!r}" in r.getMessage() for f in fields)
            assert all(getattr(r, f) >= 0 for f in steps)
            assert all(f"{f}=" in r.getMessage() for f in steps)
            if r.file == "CTB_clean.tsv":
                assert r.quarantine_s == 0
        return sorted(tuple(getattr(r, f) for f in fields) for r in recs)

    batch = drain(lambda: run_landing_zone(
        spark, zone,
        ParquetWarehouseSink(str(tmp_path / "b_wh")),
        ParquetWarehouseSink(str(tmp_path / "b_q")),
        CollectingNotifier(),
    ))
    stream = drain(lambda: run_landing_zone_stream(
        spark, zone.root + "/Unprocessed", str(tmp_path / "Archived"),
        str(tmp_path / "ckpt"),
        ParquetWarehouseSink(str(tmp_path / "s_wh")),
        ParquetWarehouseSink(str(tmp_path / "s_q")),
        CollectingNotifier(),
    ))
    assert [r[:4] for r in batch] == [
        ("CTB_clean.tsv", "processed", 1, 0),
        ("CTB_headeronly.tsv", "failed", 0, 0),
        ("CTB_partial.tsv", "processed", 1, 1),
    ]
    assert batch == stream


def test_run_sql_interface(spark, sf_dir):
    """run_sql: the BigQuery-SQL replacement surface — ANSI SQL over
    the registered catalog, including a join and an aggregate."""
    from etl_data_ingestion_spark.sql import register_tables, run_sql

    assert set(register_tables(spark, sf_dir)) >= {"lineitem", "orders", "nation"}
    df = run_sql(
        spark,
        sf_dir,
        """
        SELECT n_name, COUNT(*) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name
        """,
    )
    rows = df.collect()
    assert len(rows) > 0
    assert sum(r.n_customers for r in rows) == spark.table("customer").count()


def test_bigquery_sink_reports_missing_connector(spark):
    """Backlog #4: without the spark-bigquery jar the BigQuery sink's
    pre-write check raises naming the connector, never a classpath
    stacktrace mid-write."""
    from etl_data_ingestion_spark.ingest.sinks import BigQueryWarehouseSink

    # this container has no spark-bigquery jar
    assert BigQueryWarehouseSink.is_available(spark) is False

    # direct construction still validates, and its pre-write check
    # reports the missing connector explicitly
    with pytest.raises(ValueError, match="non-empty"):
        BigQueryWarehouseSink("")
    bq = BigQueryWarehouseSink("dataset.ctb")
    with pytest.raises(RuntimeError, match="connector"):
        bq.check_target(spark)


def test_smtp_notifier_sends_through_injected_transport():
    """O1 transport completion: SmtpNotifier composes the reference's
    message shapes (main.py:591-627) with a real smtplib send path,
    exercised here through an injected SMTP-compatible transport."""
    from etl_data_ingestion_spark.notify import SmtpNotifier

    sent, lifecycle = [], []

    class FakeSmtp:
        def starttls(self):
            lifecycle.append("tls")

        def login(self, u, p):
            lifecycle.append(f"login:{u}")

        def send_message(self, msg):
            sent.append((msg["Subject"], msg["To"], msg.get_content()))

        def quit(self):
            lifecycle.append("quit")

    n = SmtpNotifier(
        recipients=("ops@example.com",),
        username="bot",
        password="pw",
        use_tls=True,
        connection_factory=FakeSmtp,
    )
    n.success("CTB_1.tsv", 1200)
    n.error("CTB_2.tsv", "schema validation failed")
    n.no_data("filename:CTB")

    assert [s[0] for s in sent] == [
        "SUCCESS: CTB File Processed - CTB_1.tsv",
        "ERROR: CTB Processing Failed - CTB_2.tsv",
        "No CTB files found",
    ]
    assert all(to == "ops@example.com" for _, to, _ in sent)
    assert "1200 rows" in sent[0][2]
    # tls + login before each send, quit after each (3 sends)
    assert lifecycle.count("tls") == 3 and lifecycle.count("quit") == 3
    # content remains inspectable (CollectingNotifier composition)
    assert len(n.events) == 3

    # no recipients -> no transport opened at all
    silent = SmtpNotifier(connection_factory=lambda: (_ for _ in ()).throw(AssertionError))
    silent.success("x", 1)
    assert len(silent.events) == 1


def test_compact_parquet_dir(spark, tmp_path):
    """Small-file maintenance: 16 tiny appended files compact to the
    byte-targeted count with zero row loss; an already-compact dir is
    left untouched."""
    import os

    from etl_data_ingestion_spark.catalog import load_table
    from etl_data_ingestion_spark.ingest.sinks import compact_parquet_dir

    path = str(tmp_path / "wh")
    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    for _ in range(4):  # 4 appends x 4 partitions = 16 small files
        nation.repartition(4).write.mode("append").parquet(path)
    before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert before == 16
    rows_before = spark.read.parquet(path).count()

    after = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert after == 1  # everything fits one target file
    assert spark.read.parquet(path).count() == rows_before

    # idempotent: below min_files -> no rewrite
    assert compact_parquet_dir(spark, path) == 1
