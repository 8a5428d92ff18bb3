"""Golden tests for CTB ingestion — every FIXTURES.md §A.2 case,
each asserting the exact reference behavior it cites."""

from __future__ import annotations

import datetime
import gc
import gzip
import os
import threading

import pytest

from etl_data_ingestion_spark.ingest import ingest_ctb_file
from etl_data_ingestion_spark.ingest.coerce import sql_str
from etl_data_ingestion_spark.schema import (
    BQ_SCHEMA_MAP,
    BQ_SCHEMA_TYPES,
    canonical_name,
)

RAW_HEADERS = list(BQ_SCHEMA_MAP.keys())  # 21 raw names, file order
CANONICAL = [BQ_SCHEMA_MAP[h] for h in RAW_HEADERS]

GOOD = {
    "ORG_CODE": "ORG1",
    "MASTER_CUST_NAME": "ACME CORP",
    "CUSTOMER_NUMBER": "C-001",
    "ITEM_NUMBER": "I-100",
    "CUST_PART_NUM": "CP-1",
    "ITEM_DESCRIPTION": "widget",
    "DEMAND_DUE_DATE": "2025-07-15",
    "DEMAND_QTY": "120",
    "ONTIME_QTY": "100",
    "AVAILABLE_DATE": "2025-07-10",
    "SUPPLY_SOURCE": "PLANT7",
    "SUPPLY_AVAILABLE_DATE": "2025-07-12",
    "SUPPLY_AVA_QTY": "80",
    "DAYS_LATE": "0",
    "UNIQ_SHORT_QTY": "3",
    "GATING_PART": "G-9",
    "MAKE_BUY": "MAKE",
    "LEAD_TIME": "14",
    "GATING_CUST_PART": "GC-2",
    "CUST_PART_DESCRIPTION": "gating widget",
    "SNAPSHOT_DATE": "2025-07-01",
}


def row(**overrides) -> str:
    vals = dict(GOOD, **overrides)
    return "\t".join(vals[c] for c in CANONICAL)


def write_tsv(tmp_path, name, text):
    p = tmp_path / name
    p.write_bytes(text.encode("utf-8"))
    return str(p)


def header_line(headers=RAW_HEADERS):
    return "\t".join(headers)


def counts(res):
    return res.valid.count(), res.quarantine.count()


def test_clean_file_all_valid(spark, tmp_path):
    path = write_tsv(
        tmp_path, "ctb_clean.tsv", header_line() + "\n" + row() + "\n" + row() + "\n"
    )
    res = ingest_ctb_file(spark, path)
    assert res.ok
    assert counts(res) == (2, 0)
    r = res.valid.collect()[0]
    assert r["DEMAND_QTY"] == 120
    assert r["DEMAND_DUE_DATE"] == datetime.date(2025, 7, 15)
    assert r["ORG_CODE"] == "ORG1"


def test_bom_and_crlf(spark, tmp_path):
    # BOM-prefixed header + \r\n endings parse identically (main.py:349)
    text = "﻿" + header_line() + "\r\n" + row() + "\r\n"
    path = write_tsv(tmp_path, "ctb_bom_crlf.tsv", text)
    res = ingest_ctb_file(spark, path)
    assert res.ok
    assert counts(res) == (1, 0)


def test_alias_renames(spark, tmp_path):
    # Raw headers like 'Avail OnTime' land as canonical ONTIME_QTY
    # (main.py:299-321, 350-351)
    path = write_tsv(tmp_path, "ctb_aliases.tsv", header_line() + "\n" + row() + "\n")
    res = ingest_ctb_file(spark, path)
    assert res.ok
    assert set(res.valid.columns) == set(BQ_SCHEMA_TYPES)


def test_unknown_column_fails_whole_file(spark, tmp_path):
    headers = RAW_HEADERS + ["FOO BAR"]
    text = "\t".join(headers) + "\n" + row() + "\tjunk\n"
    path = write_tsv(tmp_path, "ctb_unknown_col.tsv", text)
    res = ingest_ctb_file(spark, path)
    assert not res.ok
    assert "FOO_BAR" in res.file_error
    assert res.valid is None and res.quarantine is None


def test_short_row_quarantined(spark, tmp_path):
    short = "\t".join([GOOD[c] for c in CANONICAL[:-1]])  # 20 fields
    text = header_line() + "\n" + row() + "\n" + short + "\n"
    path = write_tsv(tmp_path, "ctb_short_row.tsv", text)
    res = ingest_ctb_file(spark, path)
    assert res.ok
    assert counts(res) == (1, 1)
    q = res.quarantine.collect()[0]
    assert any("column count mismatch" in e for e in q["_errors"])


def test_long_row_quarantined(spark, tmp_path):
    long_row = row() + "\textra"  # 22 fields
    text = header_line() + "\n" + long_row + "\n" + row() + "\n"
    path = write_tsv(tmp_path, "ctb_long_row.tsv", text)
    res = ingest_ctb_file(spark, path)
    assert counts(res) == (1, 1)


def test_comma_int_coerced(spark, tmp_path):
    # '1,234' → 1234 (main.py:391-392)
    text = header_line() + "\n" + row(DEMAND_QTY='1,234') + "\n"
    path = write_tsv(tmp_path, "ctb_comma_int.tsv", text)
    res = ingest_ctb_file(spark, path)
    assert counts(res) == (1, 0)
    assert res.valid.collect()[0]["DEMAND_QTY"] == 1234


def test_bad_int_rejects_row(spark, tmp_path):
    # '12x' → row rejected with reason (main.py:393-399, 413)
    text = header_line() + "\n" + row(DEMAND_QTY="12x") + "\n" + row() + "\n"
    path = write_tsv(tmp_path, "ctb_bad_int.tsv", text)
    res = ingest_ctb_file(spark, path)
    assert counts(res) == (1, 1)
    q = res.quarantine.collect()[0]
    assert any("DEMAND_QTY" in e and "INTEGER" in e for e in q["_errors"])


def test_bad_date_rejects_row(spark, tmp_path):
    # '07/15/2025' → row rejected with reason (main.py:404-410, 413)
    text = header_line() + "\n" + row(DEMAND_DUE_DATE="07/15/2025") + "\n"
    path = write_tsv(tmp_path, "ctb_bad_date.tsv", text)
    res = ingest_ctb_file(spark, path)
    assert counts(res) == (0, 1)
    q = res.quarantine.collect()[0]
    assert any("DEMAND_DUE_DATE" in e and "DATE" in e for e in q["_errors"])


def test_lenient_zero_padding_like_strptime(spark, tmp_path):
    # strptime('%Y-%m-%d') accepts '2025-7-5' — so do we (coerce.py DATE_FORMAT)
    text = header_line() + "\n" + row(DEMAND_DUE_DATE="2025-7-5") + "\n"
    res = ingest_ctb_file(spark, write_tsv(tmp_path, "ctb_pad.tsv", text))
    assert counts(res) == (1, 0)
    assert res.valid.collect()[0]["DEMAND_DUE_DATE"] == datetime.date(2025, 7, 5)


def test_invalid_calendar_date_rejected(spark, tmp_path):
    text = header_line() + "\n" + row(DEMAND_DUE_DATE="2025-13-01") + "\n"
    res = ingest_ctb_file(spark, write_tsv(tmp_path, "ctb_cal.tsv", text))
    assert counts(res) == (0, 1)


def test_empty_fields_null_rows_valid(spark, tmp_path):
    # '' → NULL for every type; rows remain valid (main.py:387-388)
    text = (
        header_line()
        + "\n"
        + row(DEMAND_QTY="", DEMAND_DUE_DATE="", ORG_CODE="")
        + "\n"
    )
    path = write_tsv(tmp_path, "ctb_empty_fields.tsv", text)
    res = ingest_ctb_file(spark, path)
    assert counts(res) == (1, 0)
    r = res.valid.collect()[0]
    assert r["DEMAND_QTY"] is None
    assert r["DEMAND_DUE_DATE"] is None
    assert r["ORG_CODE"] is None


def test_whitespace_only_field_is_null(spark, tmp_path):
    # trim happens before the empty check (main.py:382, 387)
    text = header_line() + "\n" + row(ORG_CODE="   ") + "\n"
    res = ingest_ctb_file(spark, write_tsv(tmp_path, "ctb_ws.tsv", text))
    assert counts(res) == (1, 0)
    assert res.valid.collect()[0]["ORG_CODE"] is None


def test_header_only_file_fails(spark, tmp_path):
    path = write_tsv(tmp_path, "ctb_header_only.tsv", header_line() + "\n")
    res = ingest_ctb_file(spark, path)
    assert not res.ok
    assert "no data rows" in res.file_error


def test_empty_file_fails(spark, tmp_path):
    path = write_tsv(tmp_path, "ctb_empty.tsv", "")
    res = ingest_ctb_file(spark, path)
    assert not res.ok


def test_mixed_invariant(spark, tmp_path):
    # valid + quarantined == data lines (FIXTURES.md invariant)
    lines = [
        row(),
        row(DEMAND_QTY="12x"),
        "\t".join([GOOD[c] for c in CANONICAL[:5]]),
        row(DEMAND_DUE_DATE="bad"),
        row(ONTIME_QTY="2,000"),
    ]
    text = header_line() + "\n" + "\n".join(lines) + "\n"
    path = write_tsv(tmp_path, "ctb_mixed.tsv", text)
    res = ingest_ctb_file(spark, path)
    v, q = counts(res)
    assert (v, q) == (2, 3)
    for qrow in res.quarantine.collect():
        assert len(qrow["_errors"]) >= 1


def test_multiple_errors_one_row_all_reported(spark, tmp_path):
    text = header_line() + "\n" + row(DEMAND_QTY="xx", SNAPSHOT_DATE="yy") + "\n"
    res = ingest_ctb_file(spark, write_tsv(tmp_path, "ctb_multi.tsv", text))
    q = res.quarantine.collect()[0]
    assert len(q["_errors"]) == 2


def test_negative_and_plus_ints(spark, tmp_path):
    text = (
        header_line()
        + "\n"
        + row(DAYS_LATE="-5", LEAD_TIME="+3")
        + "\n"
    )
    res = ingest_ctb_file(spark, write_tsv(tmp_path, "ctb_sign.tsv", text))
    assert counts(res) == (1, 0)
    r = res.valid.collect()[0]
    assert r["DAYS_LATE"] == -5 and r["LEAD_TIME"] == 3


def test_plan_build_sends_few_jvm_calls(spark, tmp_path, monkeypatch):
    """Building a clean 21-column file's plans is a few hundred py4j
    commands, not thousands: each coercion projection is SQL text that
    one ``selectExpr`` call parses. Only this thread's commands count:
    the gateway client is shared, and a thread an earlier test left
    running may send commands inside the window."""
    path = write_tsv(tmp_path, "ctb_calls.tsv", header_line() + "\n" + row() + "\n")
    assert ingest_ctb_file(spark, path).ok  # warm: first-use lookups
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    sent = []

    def counted(command, *args, **kwargs):
        if threading.get_ident() == caller:
            sent.append(command)
        return send(command, *args, **kwargs)

    # no cyclic GC inside the window: it would release (and count)
    # JVM references that earlier tests left behind
    gc.collect()
    gc.disable()
    monkeypatch.setattr(client, "send_command", counted)
    try:
        res = ingest_ctb_file(spark, path)
    finally:
        monkeypatch.undo()
        gc.enable()
    assert res.ok
    assert len(sent) <= 300


@pytest.mark.parametrize(
    "value",
    ["it's", "back\\slash", "100%", "%s%%", "\\'", "'\\n'", "`x`"],
)
def test_sql_literal_round_trips(spark, value):
    """A quote, backslash or percent sign in a coercion literal comes
    back from ``selectExpr`` unchanged."""
    assert spark.range(1).selectExpr(f"{sql_str(value)} AS v").first()["v"] == value


def test_tuned_session_reads_coercion_literals_alike(spark, tmp_path):
    """A session that reads SQL literals raw (escapedStringLiterals)
    would keep the escapes in every error reason; ``tune_session``
    pins the default, so its reasons match the engine session's."""
    from etl_data_ingestion_spark.session import tune_session

    short = "\t".join([GOOD[c] for c in CANONICAL[:-1]])
    text = header_line() + "\n" + row(DEMAND_QTY="1'2", SNAPSHOT_DATE="x") + "\n" + short + "\n"
    path = write_tsv(tmp_path, "ctb_literals.tsv", text)

    def errors(session):
        return sorted(
            e for r in ingest_ctb_file(session, path).quarantine.collect() for e in r["_errors"]
        )

    want = errors(spark)
    assert any("column 'DEMAND_QTY'" in e for e in want)
    raw = spark.newSession()
    raw.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    assert errors(raw) != want
    assert errors(tune_session(raw)) == want


def test_canonical_name_examples():
    assert canonical_name("﻿ORG CODE\r") == "ORG_CODE"
    assert canonical_name("Avail OnTime") == "ONTIME_QTY"
    assert canonical_name("GATING M/B") == "MAKE_BUY"
    assert canonical_name("  SNAPSHOT_DATE  ") == "SNAPSHOT_DATE"
    assert canonical_name("weird col") == "WEIRD_COL"


H = header_line()


@pytest.mark.parametrize(
    "text, want",
    [
        pytest.param("", "empty", id="0-byte"),
        pytest.param("\n", "empty", id="lf-only"),
        pytest.param("\r\n", "empty", id="crlf-only"),
        pytest.param(H, "empty", id="header-no-newline"),
        pytest.param(H + "\n", "empty", id="header-lf"),
        pytest.param(H + "\r\n", "empty", id="header-crlf"),
        pytest.param(H + "\n\n\n", "empty", id="header-blank-lines"),
        pytest.param(H + "\n   \n\t\t\n", "empty", id="header-space-tab-lines"),
        pytest.param(H + "\n\x0b\x0c\n", "empty", id="header-vt-ff-line"),
        pytest.param(H + "\n" + "\t" * 20, "empty", id="header-20-tabs"),
        pytest.param("\n" + H + "\n" + row() + "\n", "empty", id="blank-first-line"),
        pytest.param("  \n" + H + "\n" + row() + "\n", "Headers in", id="spaces-first-line"),
        pytest.param(H + "\n\n\n" + row() + "\n", (1, 0), id="blank-lines-then-row"),
        pytest.param("\ufeff" + H + "\n" + row() + "\n", (1, 0), id="bom"),
        pytest.param(H + "\r" + row() + "\r", (1, 0), id="cr-separators"),
        pytest.param(H + "\n" + row(), (1, 0), id="row-no-newline"),
        pytest.param(H + "\n" * 3001 + row() + "\n", (1, 0), id="3000-blank-lines-then-row"),
        pytest.param(H + "\n\u00a0\n", (0, 1), id="nbsp-line"),
    ],
)
def test_blank_lines_as_the_csv_reader_sees_them(spark, tmp_path, text, want):
    """The header/data-row probe treats a line as blank exactly when
    the CSV reader drops it: every char <= U+0020 (tabs, VT, FF) is
    blank, NBSP is not. The header is the raw first line, so a blank
    first line fails the file."""
    res = ingest_ctb_file(spark, write_tsv(tmp_path, "ctb_blank.tsv", text))
    if want == "empty":
        assert res.file_error and "is empty or has no data rows" in res.file_error
    elif want == "Headers in":
        assert res.file_error and res.file_error.startswith("Headers in")
    else:
        assert res.ok
        assert counts(res) == want


def test_csv_column_pruning_scoped_to_the_read(spark, tmp_path):
    """Malformed-row detection must survive a one-column projection
    even when the session prunes CSV columns, and ingest must not
    change that session setting."""
    key = "spark.sql.csv.parser.columnPruning.enabled"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        short = "\t".join([GOOD[c] for c in CANONICAL[:-1]])
        text = header_line() + "\n" + row() + "\n" + row() + "\textra\n" + short + "\n"
        res = ingest_ctb_file(spark, write_tsv(tmp_path, "ctb_prune.tsv", text))
        assert spark.conf.get(key) == "true"
        assert res.valid.select("ORG_CODE").count() == 1
        assert res.quarantine.select("_raw").count() == 2
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def _outcome(res, path):
    """(ok, valid, quarantined) or the file error without its path."""
    if not res.ok:
        return False, res.file_error.replace(path, "<path>")
    return (True, *counts(res))


@pytest.mark.parametrize(
    "text",
    [
        pytest.param(H + "\r\n" + row() + "\r\n" + row(DEMAND_QTY="x") + "\r\n", id="rows"),
        pytest.param(H + "\n\n \n" + row() + "\n", id="blank-lines-then-row"),
        pytest.param(H + "\n\t\n", id="header-only"),
        pytest.param(H + "\tEXTRA\n" + row() + "\tv\n", id="unknown-column"),
    ],
)
def test_gzip_file_ingests_like_the_plain_file(spark, tmp_path, text):
    """A landed ``.gz`` file decodes by its suffix's codec, for the
    header read as for the CSV scan, so it ingests like the plain
    file."""
    plain = write_tsv(tmp_path, "CTB_x.tsv", text)
    gz = str(tmp_path / "CTB_x.tsv.gz")
    with open(gz, "wb") as f:
        f.write(gzip.compress(text.encode("utf-8")))
    want = _outcome(ingest_ctb_file(spark, plain), plain)
    assert _outcome(ingest_ctb_file(spark, gz), gz) == want


@pytest.mark.parametrize(
    "raw, cleaned",
    [
        pytest.param(b"ORG\xffCODE", "ORG\ufffdCODE", id="ff"),
        pytest.param(b"ORG\xe2\x82 CODE", "ORG\ufffd_CODE", id="truncated"),
        pytest.param(b"\xc0\xafORG CODE", "\ufffd\ufffdORG_CODE", id="overlong"),
        pytest.param(b"ORG CODE\xed\xa0\x80", "ORG_CODE\ufffd", id="surrogate"),
    ],
)
def test_invalid_utf8_header_byte_fails_the_file(spark, tmp_path, raw, cleaned):
    """A malformed UTF-8 sequence in the header decodes as Java's UTF-8
    decoder replaces it, one U+FFFD per malformed sequence, and the
    column it lands in fails the file as unknown."""
    p = tmp_path / "CTB_bad_utf8.tsv"
    header = b"\t".join([raw, *(h.encode("utf-8") for h in RAW_HEADERS[1:])])
    p.write_bytes(header + b"\n" + row().encode("utf-8") + b"\n")
    res = ingest_ctb_file(spark, str(p))
    assert res.file_error == (
        f"Headers in '{p}' do not match expected schema after cleaning. "
        f"Unknown columns: [{cleaned!r}]. "
        f"File headers (cleaned): {[cleaned, *CANONICAL[1:]]}"
    )


def test_file_deleted_after_listing_fails_alone(spark, tmp_path):
    """A file that vanishes between the listing and its ingest fails
    with one error notification; the other files still load."""
    from etl_data_ingestion_spark.ingest.lifecycle import LandingZone
    from etl_data_ingestion_spark.ingest.runner import run_landing_zone
    from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
    from etl_data_ingestion_spark.notify import CollectingNotifier

    zone = LandingZone(spark, str(tmp_path / "landing"))
    zone.ensure_dirs()
    names = ("CTB_a.tsv", "CTB_gone.tsv", "CTB_c.tsv")
    for name in names:
        zone.put(name, (header_line() + "\n" + row() + "\n").encode())
    listed = zone.list_unprocessed()
    os.remove(tmp_path / "landing" / "Unprocessed" / "CTB_gone.tsv")
    zone.list_unprocessed = lambda: listed
    notifier = CollectingNotifier()
    report = run_landing_zone(
        spark, zone,
        ParquetWarehouseSink(str(tmp_path / "wh")),
        ParquetWarehouseSink(str(tmp_path / "q")),
        notifier,
    )
    assert {o.path.rsplit("/", 1)[-1]: o.state for o in report.outcomes} == {
        "CTB_a.tsv": "processed", "CTB_gone.tsv": "failed", "CTB_c.tsv": "processed",
    }
    assert report.total_inserted == 2
    gone = [e.kind for e in notifier.events if e.subject.endswith(" - CTB_gone.tsv")]
    assert gone == ["error"]


def test_coercion_oracle_queries_run_the_ingest_coercion(spark, sf_dir, monkeypatch):
    """The T8-T11 registry queries take their value columns from one
    ``coerce.coercion_exprs`` call each, so their DuckDB oracles check
    the ingest coercion itself, not a copy of it."""
    from etl_data_ingestion_spark.operators import ingest_queries
    from etl_data_ingestion_spark.plans import registry as reg

    calls = []
    real = ingest_queries.coercion_exprs

    def counting(types=None):
        calls.append(list(types.values()))
        return real(types)

    monkeypatch.setattr(ingest_queries, "coercion_exprs", counting)
    for query, typ in {
        "ingest_trim_empty_null": "STRING",
        "ingest_comma_int_roundtrip": "INTEGER",
        "ingest_strict_date_parse": "DATE",
    }.items():
        calls.clear()
        reg.QUERIES[query](spark, sf_dir)
        assert calls == [[typ]], (query, calls)
