"""Custom Python DataSource: ``spark.read.format("mailbox")``.

The reference's extract stage (S1-S5, main.py:96-219,514-572) as a
first-class Spark connector via the Python Data Source API (Spark 4):
a landing directory of message-JSON files (one Gmail-style message per
file: {id, payload:{..., parts:[...]}}) scanned as a DataFrame of
decoded CTB attachments.

The reader is a thin wrapper over ``mailbox.first_ctb_attachment``,
the one walk, match rule and decode that ``extract_ctb_attachments``
also calls, and it declares the same ``mailbox.SCHEMA``. The
``filenamePrefix`` option is the pushed source filter (S2,
GMAIL_QUERY's filename predicate, .env:14): rows for other
attachments never surface.

Scale: ``partitions()`` splits the file listing across
``numPartitions`` input splits, so a million landed messages fan out
over the cluster; each task reads only its slice. (The listing itself
is driver-side, like every file-based source's discovery step.)
"""

from __future__ import annotations

import base64
import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from etl_data_ingestion_spark.sources.mailbox import SCHEMA, first_ctb_attachment


@dataclass
class _FileSlice(InputPartition):
    paths: list


def _json_files(path: str) -> list[str]:
    """The landed message files in ``path``, sorted by name."""
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".json")
    )


class MailboxDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "mailbox"

    def schema(self):
        return SCHEMA

    def reader(self, schema) -> "MailboxReader":
        return MailboxReader(self.options)

    def writer(self, schema, overwrite: bool) -> "MailboxWriter":
        return MailboxWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "MailboxStreamWriter":
        return MailboxStreamWriter(self.options)


class MailboxReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mailbox source requires a path")
        self.prefix = options.get("filenameprefix", "CTB")
        self.num_partitions = int(options.get("numpartitions", "8"))

    def partitions(self):
        files = _json_files(self.path)
        n = max(1, min(self.num_partitions, len(files) or 1))
        return [_FileSlice(files[i::n]) for i in range(n)]

    def read(self, partition):
        for path in partition.paths:
            with open(path, "r", encoding="utf-8") as f:
                row = first_ctb_attachment(json.load(f), self.prefix)
            if row is not None:
                yield row


class MailboxStreamReader(SimpleDataSourceStreamReader):
    """Streaming variant: the landing dir as an unbounded source with
    CHECKPOINTED offsets — the engine-level replacement for the
    reference's at-most-once INBOX-label commit (O5, main.py:630-645;
    SURVEY §4.1: a crash between insert and label removal
    double-ingests). Here the offset {"n": files_consumed} lives in
    the query checkpoint: a restarted query resumes exactly after the
    last committed batch, never re-emitting a message.

    Files must land append-only in lexicographic order (timestamped
    names — the landing-zone convention); the offset is their sorted
    count, so the offset stays O(1) regardless of history."""

    def __init__(self, options):
        self._delegate = MailboxReader(options)

    def initialOffset(self) -> dict:
        return {"n": 0}

    def read(self, start: dict):
        files = _json_files(self._delegate.path)
        new = files[start["n"] :]
        rows = list(self._delegate.read(_FileSlice(new)))
        return iter(rows), {"n": len(files)}

    def readBetweenOffsets(self, start: dict, end: dict):
        files = _json_files(self._delegate.path)
        return iter(
            list(self._delegate.read(_FileSlice(files[start["n"] : end["n"]])))
        )


def _mailbox_stream_reader(self, schema):
    return MailboxStreamReader(self.options)


MailboxDataSource.simpleStreamReader = _mailbox_stream_reader


@dataclass
class _StagedFiles(WriterCommitMessage):
    """Per-task commit message: the staged file paths this task wrote.
    Only the driver-side commit() publishes them (rename + manifest),
    so a failed/speculated task's staging never becomes visible."""

    paths: list


def _encode_message(row) -> str:
    """Inverse of MailboxReader.read: wrap one attachment row back
    into the Gmail-style message JSON (S4's urlsafe base64, S5's
    parts tree) so written output is readable by the same source.
    A row without ``attachment_id`` (a plain 4-column frame) writes
    none, and a NULL ``content`` writes no ``data``."""
    fields = row.asDict()
    body = {}
    if fields.get("attachment_id") is not None:
        body["attachmentId"] = fields["attachment_id"]
    if row.content is not None:
        body["data"] = base64.urlsafe_b64encode(bytes(row.content)).decode("ascii")
    return json.dumps(
        {
            "id": row.message_id,
            "payload": {
                "mimeType": "multipart/mixed",
                "parts": [
                    {
                        "filename": row.filename,
                        "mimeType": row.mime_type,
                        "body": body,
                    }
                ],
            },
        }
    )


def _stage(path: str, iterator) -> _StagedFiles:
    """Task side of both writers: write each row as a staged
    ``.staged-<task uuid>-<i>.json.tmp`` file in ``path``. A task that
    runs twice (speculation / retry) stages under a fresh uuid."""
    import uuid

    os.makedirs(path, exist_ok=True)
    task_id = uuid.uuid4().hex[:12]
    staged = []
    for i, row in enumerate(iterator):
        fpath = os.path.join(path, f".staged-{task_id}-{i:06d}.json.tmp")
        with open(fpath, "w", encoding="utf-8") as f:
            f.write(_encode_message(row))
        staged.append(fpath)
    return _StagedFiles(paths=staged)


def _discard(messages) -> None:
    """Abort side of both writers: delete every staged file."""
    for m in messages:
        for staged in m.paths:
            try:
                os.remove(staged)
            except FileNotFoundError:
                pass


class MailboxWriter(DataSourceWriter):
    """Batch writer with two-phase commit: tasks stage
    ``.staged-*.json.tmp`` files (invisible to the reader, which only
    lists ``*.json``), the driver-side commit() atomically renames
    every staged file into place and writes ``_MANIFEST.json``;
    abort() deletes the staging. A task that runs twice (speculation /
    retry) stages under a fresh uuid and only the committed task's
    message publishes — the same files-then-pointer discipline as
    streaming/upsert.py."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mailbox sink requires a path")
        self.overwrite = overwrite

    def write(self, iterator):
        return _stage(self.path, iterator)

    def commit(self, messages):
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.endswith(".json"):
                    os.remove(os.path.join(self.path, f))
        published = []
        for m in messages:
            for staged in m.paths:
                final = os.path.join(
                    self.path,
                    "msg_"
                    + os.path.basename(staged)
                    .removeprefix(".staged-")
                    .removesuffix(".tmp"),
                )
                os.replace(staged, final)
                published.append(os.path.basename(final))
        manifest = os.path.join(self.path, "_MANIFEST.json")
        with open(manifest, "w", encoding="utf-8") as f:
            json.dump({"files": sorted(published)}, f)

    def abort(self, messages):
        _discard(messages)


class MailboxStreamWriter(DataSourceStreamWriter):
    """Streaming sink: same staging discipline per micro-batch, with
    the epoch id recorded in a per-batch manifest — re-delivery of a
    replayed epoch overwrites its own manifest idempotently instead
    of double-publishing (the sink-side half of exactly-once; the
    source half is MailboxStreamReader's checkpointed offsets)."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mailbox sink requires a path")

    def write(self, iterator):
        return _stage(self.path, iterator)

    def commit(self, messages, batchId):
        published = []
        for m in messages:
            for staged in m.paths:
                final = os.path.join(
                    self.path,
                    f"msg_e{batchId:06d}_"
                    + os.path.basename(staged)
                    .removeprefix(".staged-")
                    .removesuffix(".tmp"),
                )
                os.replace(staged, final)
                published.append(os.path.basename(final))
        manifest = os.path.join(self.path, f"_MANIFEST-{batchId:06d}.json")
        with open(manifest, "w", encoding="utf-8") as f:
            json.dump({"epoch": batchId, "files": sorted(published)}, f)

    def abort(self, messages, batchId):
        _discard(messages)
