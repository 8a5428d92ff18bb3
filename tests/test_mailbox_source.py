"""Mailbox extract: one MIME walk, match rule and decode
(``sources/mailbox.py``) behind the DataFrame surface and the
``mailbox`` DataSource (reference S2-S5 semantics)."""

from __future__ import annotations

import base64
import json

import pytest

from etl_data_ingestion_spark.sources import SCHEMA, extract_ctb_attachments


def b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).decode().rstrip("=")


def message(msg_id, payload):
    return json.dumps({"id": msg_id, "payload": payload})


def part(filename=None, attachment_id=None, data=None, children=None, mime="text/plain"):
    p = {"filename": filename or "", "mimeType": mime, "body": {}}
    if attachment_id:
        p["body"]["attachmentId"] = attachment_id
    if data:
        p["body"]["data"] = data
    if children:
        p["parts"] = children
    return p


def test_nested_tree_first_ctb_match_wins(spark):
    # CTB_two is nested deeper but CTB_one comes first depth-first —
    # the reference takes the first match and breaks (main.py:571)
    payload = part(
        children=[
            part(filename="notes.txt", attachment_id="a0"),
            part(
                mime="multipart/mixed",
                children=[
                    part(filename="CTB_one.tsv", attachment_id="a1"),
                    part(filename="CTB_two.tsv", attachment_id="a2"),
                ],
            ),
        ]
    )
    raw = spark.createDataFrame([(message("m1", payload),)], ["value"])
    out = extract_ctb_attachments(raw).collect()
    assert len(out) == 1
    assert out[0]["filename"] == "CTB_one.tsv"
    assert out[0]["attachment_id"] == "a1"


def test_no_match_yields_nothing(spark):
    raw = spark.createDataFrame(
        [(message("m2", part(children=[part(filename="other.csv", attachment_id="x")])),)],
        ["value"],
    )
    assert extract_ctb_attachments(raw).count() == 0


def test_one_match_per_message_across_messages(spark):
    rows = [
        (message("m1", part(children=[part(filename="CTB_a.tsv", attachment_id="a")])),),
        (message("m2", part(children=[part(filename="CTB_b.tsv", attachment_id="b")])),),
    ]
    raw = spark.createDataFrame(rows, ["value"])
    out = extract_ctb_attachments(raw)
    assert {r["message_id"] for r in out.collect()} == {"m1", "m2"}


def test_urlsafe_base64_roundtrip(spark):
    original = "ORG CODE\tDEMAND QTY\nORG1\t1,234\n".encode()
    # urlsafe alphabet chars exercised (- and _) plus stripped padding
    blob = bytes(range(240, 256)) * 3 + original
    raw = spark.createDataFrame(
        [
            (
                message(
                    "m1",
                    part(children=[part(filename="CTB_x.tsv", data=b64url(blob))]),
                ),
            )
        ],
        ["value"],
    )
    out = extract_ctb_attachments(raw).collect()
    assert bytes(out[0]["content"]) == blob


# One message set covering every branch of the shared rule: a nested
# tree with a decoy, two CTB matches, a first match carrying only an
# attachmentId, payloads whose encoded length is 0, 2 and 3 mod 4 (every
# valid padding; 1 mod 4 is the malformed case below), non-ASCII
# bytes, and no match at all.
AGREE_MESSAGES = [
    ("m-id-only", part(children=[
        part(filename="CTB_first.tsv", attachment_id="x1"),
        part(filename="CTB_second.tsv", data=b64url(b"two")),
    ])),
    ("m-nested", part(children=[
        part(filename="notes.txt", data=b64url(b"decoy")),
        part(mime="multipart/mixed", children=[
            part(filename="CTB_n1.tsv", attachment_id="n1",
                 data=b64url(bytes(range(240, 256)))),
            part(filename="CTB_n2.tsv", data=b64url(b"later")),
        ]),
    ])),
    *[
        (f"m-pad{n}", part(children=[
            part(filename=f"CTB_pad{n}.tsv", data=b64url(bytes(range(200, 200 + n)))),
        ]))
        for n in (3, 4, 5, 6)  # encoded lengths 4, 6, 7, 8
    ],
    ("m-none", part(children=[part(filename="other.csv", data=b64url(b"x"))])),
]


def _as_rows(df):
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in df.collect()
    )


def _land(tmp_path, messages):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    for i, (msg_id, payload) in enumerate(messages):
        (inbox / f"msg_{i:04d}.json").write_text(message(msg_id, payload))
    return str(inbox)


def test_surfaces_agree_on_one_message_set(spark, tmp_path):
    """The DataFrame surface and spark.read.format("mailbox") return
    the same rows under the same schema for the same messages."""
    from etl_data_ingestion_spark.sources.mailbox_datasource import (
        MailboxDataSource,
    )

    raw = spark.createDataFrame(
        [(message(m, p),) for m, p in AGREE_MESSAGES], ["value"]
    )
    frame = extract_ctb_attachments(raw)
    spark.dataSource.register(MailboxDataSource)
    source = (
        spark.read.format("mailbox")
        .option("numPartitions", 2)
        .load(_land(tmp_path, AGREE_MESSAGES))
    )
    assert frame.schema == source.schema == SCHEMA
    rows = _as_rows(frame)
    assert rows == _as_rows(source)
    by_id = {r[0]: r for r in rows}
    assert set(by_id) == {"m-id-only", "m-nested", "m-pad3", "m-pad4", "m-pad5", "m-pad6"}
    assert by_id["m-id-only"][1:] == ("CTB_first.tsv", "text/plain", "x1", None)
    assert by_id["m-nested"][1:] == (
        "CTB_n1.tsv", "text/plain", "n1", bytes(range(240, 256))
    )
    for n in (3, 4, 5, 6):
        assert by_id[f"m-pad{n}"][4] == bytes(range(200, 200 + n))


def test_extract_plan_has_no_exchange_or_window(spark):
    """The first-match rule is per message, so the extract is one
    mapInPandas with no shuffle and no window."""
    raw = spark.createDataFrame(
        [(message(m, p),) for m, p in AGREE_MESSAGES], ["value"]
    )
    df = extract_ctb_attachments(raw)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    assert "Window" not in plan


@pytest.mark.parametrize("bad", ["abcde", "ab$d"])
def test_malformed_payload_fails_both_surfaces(spark, tmp_path, bad):
    """A payload that is not urlsafe base64 fails the read on both
    surfaces; it never becomes NULL or truncated content."""
    from pyspark.errors import PySparkException

    from etl_data_ingestion_spark.sources.mailbox_datasource import (
        MailboxDataSource,
    )

    messages = [("m-bad", part(children=[part(filename="CTB_bad.tsv", data=bad)]))]
    raw = spark.createDataFrame([(message(m, p),) for m, p in messages], ["value"])
    with pytest.raises(PySparkException, match="binascii.Error"):
        extract_ctb_attachments(raw).collect()
    spark.dataSource.register(MailboxDataSource)
    with pytest.raises(PySparkException, match="binascii.Error"):
        spark.read.format("mailbox").load(_land(tmp_path, messages)).collect()


def test_mailbox_datasource_format(spark, tmp_path):
    """spark.read.format('mailbox'): the extract stage as a custom
    Python DataSource — per-file partitioned scan, prefix filter,
    first-match-per-message, urlsafe decode to bytes."""
    import base64
    import json

    from etl_data_ingestion_spark.sources.mailbox_datasource import (
        MailboxDataSource,
    )

    def b64(s: str) -> str:
        return base64.urlsafe_b64encode(s.encode()).decode().rstrip("=")

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    for i in range(5):
        parts = [
            {"filename": "notes.txt", "mimeType": "text/plain", "body": {}},
        ]
        if i % 2 == 0:  # CTB attachment on even messages only
            parts.append(
                {
                    "filename": f"CTB_{i}.tsv",
                    "mimeType": "text/tab-separated-values",
                    "body": {"data": b64(f"HEADER\nrow-{i}\n")},
                }
            )
            parts.append(  # second match must be ignored (first wins)
                {
                    "filename": f"CTB_{i}_dup.tsv",
                    "mimeType": "text/tab-separated-values",
                    "body": {"data": b64("SHOULD NOT SURFACE")},
                }
            )
        msg = {"id": f"m-{i}", "payload": {"mimeType": "multipart/mixed", "parts": parts}}
        (inbox / f"msg_{i}.json").write_text(json.dumps(msg))

    spark.dataSource.register(MailboxDataSource)
    df = (
        spark.read.format("mailbox")
        .option("filenamePrefix", "CTB")
        .option("numPartitions", 3)
        .load(str(inbox))
    )
    rows = {r["message_id"]: r for r in df.collect()}
    assert set(rows) == {"m-0", "m-2", "m-4"}
    assert rows["m-0"]["filename"] == "CTB_0.tsv"
    assert bytes(rows["m-0"]["content"]) == b"HEADER\nrow-0\n"
    assert all("dup" not in r["filename"] for r in rows.values())


def test_mailbox_datasource_streaming_exactly_once(spark, tmp_path):
    """readStream.format('mailbox'): checkpointed offsets — messages
    landed between drains surface exactly once; a re-drain with the
    same checkpoint emits nothing new. This is the custom-source
    replacement for the reference's at-most-once label commit (O5)."""
    import base64
    import json

    from etl_data_ingestion_spark.sources.mailbox_datasource import (
        MailboxDataSource,
    )

    def land(i: int) -> None:
        data = base64.urlsafe_b64encode(f"payload-{i}".encode()).decode().rstrip("=")
        msg = {
            "id": f"m-{i}",
            "payload": {
                "parts": [
                    {
                        "filename": f"CTB_{i}.tsv",
                        "mimeType": "text/tab-separated-values",
                        "body": {"data": data},
                    }
                ]
            },
        }
        (inbox / f"msg_{i:04d}.json").write_text(json.dumps(msg))

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    land(0)
    land(1)
    spark.dataSource.register(MailboxDataSource)

    out = tmp_path / "out"

    def drain():
        # file sink (memory sink cannot recover from a checkpoint)
        q = (
            spark.readStream.format("mailbox")
            .load(str(inbox))
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return [r["message_id"] for r in spark.read.parquet(str(out)).collect()]

    got1 = drain()
    assert sorted(got1) == ["m-0", "m-1"]
    land(2)  # new arrival between drains
    got2 = drain()
    # exactly once: the full sink now holds each message exactly once
    assert sorted(got2) == ["m-0", "m-1", "m-2"]


def test_mailbox_writer_roundtrip_and_manifest(spark, tmp_path):
    from etl_data_ingestion_spark.sources.mailbox_datasource import (
        MailboxDataSource,
    )

    spark.dataSource.register(MailboxDataSource)
    dest = str(tmp_path / "outbox")
    rows = [
        (f"m{i}", f"CTB_file_{i}.tsv", "text/tab-separated-values",
         bytearray(f"payload {i}".encode()))
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows,
        "message_id string, filename string, mime_type string, content binary",
    )
    df.write.format("mailbox").option("path", dest).mode("append").save()
    import json as _json
    import os as _os

    manifest = _json.load(open(_os.path.join(dest, "_MANIFEST.json")))
    assert len(manifest["files"]) == 20
    assert not [f for f in _os.listdir(dest) if f.endswith(".tmp")]
    back = (
        spark.read.format("mailbox")
        .option("path", dest)
        .option("filenamePrefix", "CTB")
        .load()
    )
    got = sorted(
        (r.message_id, r.filename, bytes(r.content)) for r in back.collect()
    )
    want = sorted((m, f, bytes(c)) for m, f, _t, c in rows)
    assert got == want


def test_mailbox_writer_abort_leaves_destination_clean(spark, tmp_path):
    from etl_data_ingestion_spark.sources.mailbox_datasource import (
        MailboxWriter,
    )
    from pyspark.sql import Row

    dest = str(tmp_path / "outbox_abort")
    w = MailboxWriter({"path": dest}, overwrite=False)
    msg = w.write(
        iter(
            [
                Row(
                    message_id="m0",
                    filename="CTB_x.tsv",
                    mime_type="text/plain",
                    content=b"data",
                )
            ]
        )
    )
    import os as _os

    assert any(f.endswith(".tmp") for f in _os.listdir(dest))
    w.abort([msg])
    # staging removed, nothing published, no manifest
    assert not [f for f in _os.listdir(dest) if f.endswith(".tmp")]
    assert not [f for f in _os.listdir(dest) if f.endswith(".json")]


def test_mailbox_stream_writer_epochs(spark, tmp_path):
    from etl_data_ingestion_spark.sources.mailbox_datasource import (
        MailboxDataSource,
    )

    spark.dataSource.register(MailboxDataSource)
    src = str(tmp_path / "stream_in")
    dest = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    rows = [
        (f"s{i}", f"CTB_s{i}.tsv", "text/plain", bytearray(f"p{i}".encode()))
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows,
        "message_id string, filename string, mime_type string, content binary",
    )
    df.write.parquet(src)
    q = (
        spark.readStream.schema(df.schema)
        .parquet(src)
        .writeStream.format("mailbox")
        .option("path", dest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    import os as _os

    manifests = [f for f in _os.listdir(dest) if f.startswith("_MANIFEST-")]
    assert manifests, "no epoch manifest written"
    back = (
        spark.read.format("mailbox").option("path", dest).load().collect()
    )
    assert sorted(r.message_id for r in back) == sorted(m for m, *_ in rows)


def test_writer_roundtrips_what_the_reader_returns(spark, tmp_path):
    """Every row the reader returns, the attachmentId-only match with
    NULL content included, writes back and reads back unchanged."""
    from etl_data_ingestion_spark.sources.mailbox_datasource import (
        MailboxDataSource,
    )

    spark.dataSource.register(MailboxDataSource)
    first = spark.read.format("mailbox").load(_land(tmp_path, AGREE_MESSAGES))
    dest = str(tmp_path / "outbox")
    first.write.format("mailbox").option("path", dest).mode("append").save()
    back = spark.read.format("mailbox").load(dest)
    assert _as_rows(back) == _as_rows(first)
