"""End-to-end landing-zone runs: lifecycle transitions, partial-success
policy, notifications, warehouse append (reference L1-L5 / O1-O6)."""

from __future__ import annotations

import os

import pytest

from etl_data_ingestion_spark.ingest.lifecycle import LandingZone
from etl_data_ingestion_spark.ingest.runner import run_landing_zone
from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
from etl_data_ingestion_spark.ingest.stream_runner import run_landing_zone_stream
from etl_data_ingestion_spark.notify import CollectingNotifier
from tests.test_ingest_ctb import GOOD, CANONICAL, header_line, row


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
    assert report.outcomes[0].state == "failed"
    assert notifier.events[0].kind == "error"


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
    landing set gives each file the same outcome and notification.
    The set has no 0-byte file, which a file stream never sees."""
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
    assert len(got) == 5
    assert got == drained(stream, stream_notes)
    assert {k: v[0][0] for k, v in got.items()} == {
        "CTB_clean.tsv": "processed",
        "CTB_partial.tsv": "processed",
        "CTB_allbad.tsv": "failed",
        "CTB_headeronly.tsv": "failed",
        "CTB_unknown.tsv": "failed",
    }


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


def test_engine_config_env_overrides(monkeypatch):
    """§2.6: the .env surface as a typed, validated config object."""
    from etl_data_ingestion_spark.config import EngineConfig

    cfg = EngineConfig()
    assert cfg.batch_size == 500  # reference default (.env:25)
    assert cfg.request_timeout_s == 900  # (.env:24)

    monkeypatch.setenv("SPARKETL_BATCH_SIZE", "250")
    monkeypatch.setenv("SPARKETL_NOTIFY_RECIPIENTS", "a@x.com,b@x.com")
    cfg2 = EngineConfig()
    assert cfg2.batch_size == 250
    assert cfg2.notify_recipients == ("a@x.com", "b@x.com")

    monkeypatch.setenv("SPARKETL_BATCH_SIZE", "0")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        EngineConfig()


def test_bigquery_sink_fallback_when_connector_absent(spark, monkeypatch):
    """Backlog #4: warehouse_format='bigquery' without the connector
    jar must fall back to the parquet warehouse cleanly — sink
    selection is probe-driven, never a classpath stacktrace."""
    from etl_data_ingestion_spark.config import EngineConfig
    from etl_data_ingestion_spark.ingest.sinks import (
        BigQueryWarehouseSink,
        ParquetWarehouseSink,
        make_warehouse_sink,
    )

    # this container has no spark-bigquery jar
    assert BigQueryWarehouseSink.is_available(spark) is False

    monkeypatch.setenv("SPARKETL_WAREHOUSE_FORMAT", "bigquery")
    monkeypatch.setenv("SPARKETL_BIGQUERY_TABLE", "dataset.ctb")
    cfg = EngineConfig()
    sink = make_warehouse_sink(spark, cfg)
    assert isinstance(sink, ParquetWarehouseSink)

    # direct construction still validates, and its pre-write check
    # reports the missing connector explicitly
    bq = BigQueryWarehouseSink("dataset.ctb")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="connector"):
        bq.check_target(spark)

    # config validation: bigquery format requires a table
    monkeypatch.setenv("SPARKETL_BIGQUERY_TABLE", "")
    with _pytest.raises(ValueError, match="bigquery_table"):
        EngineConfig()


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
