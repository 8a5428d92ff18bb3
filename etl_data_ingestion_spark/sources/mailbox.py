"""Mailbox extract: message documents → the first CTB attachment.

The reference's extract stage lives here once, as two pure functions
that every mailbox surface calls:

- ``iter_parts`` (S5, main.py:514-572): the MIME ``parts`` tree,
  depth-first preorder, leftmost child first — the reference's
  recursion order.
- ``first_ctb_attachment`` (S5 match + first-match break at
  main.py:571, S4 decode at main.py:200-219): the first part whose
  filename starts with the prefix and that carries an
  ``attachmentId`` or inline ``data``, as one ``SCHEMA`` row.
  ``content`` is the urlsafe-base64 decode of ``data`` with the
  padding restored, NULL when the part has no inline data; a
  malformed payload raises ``binascii.Error`` and fails the read.

The surfaces over them: ``extract_ctb_attachments`` here (a DataFrame
of message-JSON strings), ``spark.read.format("mailbox")``
(``mailbox_datasource.py``, batch and streaming), and
``gmail_live.land_messages``, which inlines ``data`` into the parts
this walk visits.

Messages are JSON documents in the Gmail API ``format='full'`` shape.
S2 (list_messages, main.py:158-177): the server-side query-string
filter is source-level pushdown — the caller reads only the matching
message documents; nothing here re-filters them.
"""

from __future__ import annotations

import base64
import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

SCHEMA = StructType(
    [
        StructField("message_id", StringType()),
        StructField("filename", StringType()),
        StructField("mime_type", StringType()),
        StructField("attachment_id", StringType()),
        StructField("content", BinaryType()),
    ]
)


def iter_parts(payload: dict) -> Iterator[dict]:
    """Every part of a MIME tree, depth-first preorder, leftmost child
    first."""
    stack = [payload]
    while stack:
        part = stack.pop()
        yield part
        stack.extend(reversed(part.get("parts") or []))


def first_ctb_attachment(msg: dict, prefix: str = "CTB") -> tuple | None:
    """The message's first part named ``prefix*`` with an attachmentId
    or inline data, as one ``SCHEMA`` row; None when there is none."""
    for part in iter_parts(msg.get("payload") or {}):
        body = part.get("body") or {}
        attachment_id, data = body.get("attachmentId"), body.get("data")
        filename = part.get("filename") or ""
        if filename.startswith(prefix) and (
            attachment_id is not None or data is not None
        ):
            content = (
                None
                if data is None
                else base64.urlsafe_b64decode(data + "=" * (-len(data) % 4))
            )
            return (
                msg.get("id"),
                filename,
                part.get("mimeType") or "",
                attachment_id,
                content,
            )
    return None


def extract_ctb_attachments(raw_json: DataFrame, prefix: str = "CTB") -> DataFrame:
    """DataFrame of message-JSON strings (column ``value``) → one
    ``SCHEMA`` row per message that has a matching attachment.

    One Arrow-batched mapInPandas: the walk runs per batch on the
    executors, never materializes messages on the driver, and needs no
    shuffle, since the first-match rule is per message."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = (
                first_ctb_attachment(json.loads(doc), prefix) for doc in pdf["value"]
            )
            yield pd.DataFrame(
                [r for r in rows if r is not None], columns=SCHEMA.fieldNames()
            )

    return raw_json.mapInPandas(extract, schema=SCHEMA)
