"""Multimodal-column operators (BASELINE.json north star): image /
audio / video payloads as opaque BinaryType columns with typed
metadata, decoded/transformed through Arrow-batched pandas stages.

Each format has one codec here: `png_encode` / `png_decode` (8-bit
gray or RGB, all five scanline filters) and `wav_encode` /
`wav_decode` (mono 16-bit PCM via stdlib `wave`); animated GIF with
real LZW lives in operators/video.py. The decoders are strict: a
damaged stream or a layout they do not support raises ValueError.
Every decode is real, with a pixel- or sample-exact oracle, and so is
the featurize stage (multimodal_patch_embed_real: decode -> NN-resize
-> L2-normalized patch-mean embedding, the standard model-free
baseline). A LEARNED vision encoder swaps into the same mapInPandas
inner function without touching the dataflow. The fixture carries no
media, so `payload_stage` synthesizes each payload from its doc_id;
at 100 TB a binary column read from storage replaces that stage.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib
from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_data_ingestion_spark.catalog import checkpointed, load_table
from etl_data_ingestion_spark.plans.registry import register

BINARY_META_ORACLE = """
SELECT doc_id,
       octet_length(ENCODE(text)) AS n_bytes,
       sha256(text)               AS content_sha256, -- duckdb sha256 takes VARCHAR; hashes the same utf-8 bytes
       substr(text, 1, 8)         AS head_bytes      -- fixture text is ascii: first 8 bytes == first 8 chars
FROM documents
ORDER BY doc_id
"""


@register("multimodal_binary_metadata", oracle=BINARY_META_ORACLE)
def multimodal_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary handling, fully JVM-side: byte length, content
    digest (the dedup key for media), head-byte sniff (magic-number
    format detection at scale reads 8 bytes, not the blob)."""
    docs = load_table(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.length(blob).alias("n_bytes"),
        F.sha2(blob, 256).alias("content_sha256"),
        F.decode(F.substring(blob, 1, 8), "utf-8").alias("head_bytes"),
    )


IMAGE_DECODE_ORACLE = """
-- REAL image decode (general PNG, not a stub): pixel content is a
-- pure function of (doc_id, y, x, c) — value = (doc_id*7 + y*3 +
-- x*5 + c*11) % 256 — and PNG filtering is invertible, so the
-- decoded image must equal the source REGARDLESS of which filter
-- type each scanline was encoded with (the Spark side cycles all
-- five). The oracle derives every field, including the exact pixel
-- sum, from the synthesis formula; any defilter bug (Sub/Up/
-- Average/Paeth math, stride handling, channel offset) breaks
-- pixel_sum equality.
WITH dims AS (
  SELECT doc_id,
         8 + doc_id % 8 AS w,
         4 + doc_id % 4 AS h,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
  FROM documents WHERE doc_id < 150
), px AS (
  SELECT d.doc_id,
         SUM((d.doc_id * 7 + y.y * 3 + x.x * 5 + c.c * 11) % 256)
           AS psum
  FROM dims d,
       UNNEST(generate_series(0, d.h - 1)) AS y(y),
       UNNEST(generate_series(0, d.w - 1)) AS x(x),
       UNNEST(generate_series(0, d.ch - 1)) AS c(c)
  GROUP BY d.doc_id
)
SELECT d.doc_id,
       CAST(d.w AS INT) AS width,
       CAST(d.h AS INT) AS height,
       CAST(d.ch AS INT) AS channels,
       CASE WHEN d.ch = 1 THEN 'gray' ELSE 'rgb' END AS color_mode,
       CAST(d.w * d.h AS BIGINT) AS n_pixels,
       CAST(p.psum AS BIGINT) AS pixel_sum
FROM dims d JOIN px p USING (doc_id)
ORDER BY d.doc_id
"""


def _png_defilter(raw: bytes, width: int, height: int, bpp: int):
    """Invert PNG scanline filters 0-4 (None/Sub/Up/Average/Paeth,
    RFC 2083 §6) over inflated IDAT bytes → flat pixel list. Pure
    stdlib; bit depth 8 so one byte per sample and bpp = channels."""
    stride = width * bpp
    out = bytearray()
    prior = bytearray(stride)
    pos = 0
    for _y in range(height):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prior[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + (a + prior[x]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = prior[x]
                c = prior[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter type {ftype}")
        out += line
        prior = line
    return out


def _png_filter_line(line: bytes, prior: bytes, ftype: int, bpp: int) -> bytes:
    """Apply PNG filter `ftype` to one raw scanline (encoder side)."""
    stride = len(line)
    enc = bytearray(stride)
    for x in range(stride):
        a = line[x - bpp] if x >= bpp else 0
        b = prior[x]
        c = prior[x - bpp] if x >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) // 2
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        enc[x] = (line[x] - pred) & 0xFF
    return bytes(enc)


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def png_encode(
    width: int,
    height: int,
    channels: int,
    rows: Iterable[bytes],
    filters: Sequence[int] | None = None,
) -> bytes:
    """8-bit gray (1 channel) or RGB (3 channels) PNG from `height` raw
    scanlines: row y is written with filter type ``filters[y]`` (0 for
    every row when None), all rows in one IDAT chunk, no interlace."""
    filtered = bytearray()
    prior = bytes(width * channels)
    for y, line in enumerate(rows):
        ftype = filters[y] if filters else 0
        filtered.append(ftype)
        filtered += _png_filter_line(line, prior, ftype, channels) if ftype else line
        prior = line
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, 0 if channels == 1 else 2, 0, 0, 0
    )
    chunks = ((b"IHDR", ihdr), (b"IDAT", zlib.compress(filtered)), (b"IEND", b""))
    return PNG_SIGNATURE + b"".join(
        struct.pack(">I", len(body)) + tag + body
        + struct.pack(">I", zlib.crc32(tag + body))
        for tag, body in chunks
    )


def png_decode(data: bytes) -> tuple[int, int, int, bytearray]:
    """CRC-checked chunk walk, inflate and defilter -> (width, height,
    channels, flat pixel bytes). Accepts bit depth 8, gray or RGB, no
    interlace; any other header or a damaged stream raises ValueError."""
    if data[:8] != PNG_SIGNATURE:
        raise ValueError("bad PNG signature")
    pos, idat = 8, b""
    width = height = color_type = None
    while pos < len(data):
        ln = int.from_bytes(data[pos : pos + 4], "big")
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        crc = data[pos + 8 + ln : pos + 12 + ln]
        if crc != struct.pack(">I", zlib.crc32(tag + body)):
            raise ValueError(f"CRC mismatch in PNG chunk {tag!r}")
        if tag == b"IHDR":
            if len(body) != 13:
                raise ValueError("IHDR is not 13 bytes")
            width, height, depth, color_type = struct.unpack(">IIBB", body[:10])
            if depth != 8 or color_type not in (0, 2) or any(body[10:]):
                raise ValueError(
                    f"unsupported PNG: bit depth {depth}, colour type "
                    f"{color_type}, compression/filter/interlace {list(body[10:])}"
                )
        elif tag == b"IDAT":
            idat += body
        pos += 12 + ln
    if width is None:
        raise ValueError("PNG has no IHDR chunk")
    ch = 1 if color_type == 0 else 3
    try:
        raw = zlib.decompress(idat)
    except zlib.error as e:
        raise ValueError(f"bad PNG IDAT stream: {e}") from e
    if len(raw) != height * (1 + width * ch):
        raise ValueError("PNG IDAT size does not match its IHDR")
    return width, height, ch, _png_defilter(raw, width, height, ch)


def wav_encode(pcm, rate: int = 8000) -> bytes:
    """Mono 16-bit PCM WAV of the samples `pcm` (cast to int16)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(np.asarray(pcm).astype("<i2").tobytes())
    return buf.getvalue()


def wav_decode(data: bytes) -> tuple[int, np.ndarray]:
    """(sample rate, int16 samples) of a mono 16-bit PCM WAV; any other
    layout, or a stream that is not a WAV, raises ValueError."""
    try:
        with wave.open(io.BytesIO(data), "rb") as w:
            ch, width = w.getnchannels(), w.getsampwidth()
            if ch != 1 or width != 2:
                raise ValueError(
                    f"unsupported WAV: {ch} channels, {8 * width}-bit samples"
                )
            return w.getframerate(), np.frombuffer(
                w.readframes(w.getnframes()), dtype="<i2"
            )
    except (wave.Error, EOFError) as e:
        raise ValueError(f"bad WAV: {e}") from e


def payload_stage(
    docs: DataFrame, column: str, encode: Callable[[int], bytes]
) -> DataFrame:
    """doc_id -> (doc_id, `column` binary = encode(doc_id)) as one
    Arrow-batched mapInPandas stage. The fixture carries no media, so
    this stage stands in for a binary column read from storage; the
    decode stage after it runs unchanged on either."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    column: [encode(int(d)) for d in pdf["doc_id"]],
                }
            )

    return docs.mapInPandas(synth, schema=f"doc_id long, {column} binary")


def _synth_png(d: int) -> bytes:
    """Deterministic PNG for doc_id d: dims/channels/pixels all pure
    functions of d (see IMAGE_DECODE_ORACLE), filter type cycling
    (d+y)%5 so every defilter branch is exercised."""
    w, h = 8 + d % 8, 4 + d % 4
    ch = 1 if d % 2 == 0 else 3
    rows = [
        bytes(
            (d * 7 + y * 3 + x * 5 + c * 11) % 256
            for x in range(w)
            for c in range(ch)
        )
        for y in range(h)
    ]
    return png_encode(w, h, ch, rows, [(d + y) % 5 for y in range(h)])


@register("multimodal_image_decode_real", oracle=IMAGE_DECODE_ORACLE)
def multimodal_image_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL general-PNG decode over opaque binary payloads: full
    chunk parse (CRC-checked), zlib inflate, and scanline DEFILTERING
    for all five filter types (None/Sub/Up/Average/Paeth) in both
    grayscale and RGB truecolor, pure stdlib (zlib/struct). Encoding
    cycles the filter type per scanline ((doc_id + y) % 5) so every
    defilter branch runs on every image taller than 4 rows; pixel
    content is a pure function of (doc_id, y, x, c), so the oracle
    predicts the decoded pixel sum exactly — filters are invertible,
    and a wrong Paeth predictor or stride/channel offset shows up as
    a pixel_sum mismatch, not a silent pass.

    Spark shape (same as the WAV/PNG-gray tiers): synthesis and
    decode are both Arrow-batched mapInPandas stages; payloads live
    only inside the scan-side batch — the plan shuffles nothing, and
    only typed metadata leaves the stage. At 100 TB the synth stage
    is replaced by reading a real binary column; the decode stage is
    unchanged. JPEG/WebP remain out of scope (no codec in the
    container — documented limitation, not a stub: there is no fake
    path left in the image family)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 150
    ).select("doc_id")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf["doc_id"], pdf["png"]):
                width, height, ch, pixels = png_decode(bytes(data))
                rows.append(
                    {
                        "doc_id": doc_id,
                        "width": width,
                        "height": height,
                        "channels": ch,
                        "color_mode": "gray" if ch == 1 else "rgb",
                        "n_pixels": width * height,
                        "pixel_sum": sum(pixels),
                    }
                )
            yield pd.DataFrame(rows)

    return payload_stage(docs, "png", _synth_png).mapInPandas(
        decode,
        schema=(
            "doc_id long, width int, height int, channels int, "
            "color_mode string, n_pixels long, pixel_sum long"
        ),
    )


PATCH_EMBED_ORACLE = """
-- REAL featurize (the full decode -> resize -> embed chain, no fake
-- stage left): 4x4 nearest-neighbor thumbnail over the decoded PNG,
-- channel-mean gray per cell, 16-dim patch embedding L2-normalized.
-- Pixel content is a pure function of (doc_id,y,x,c), so the oracle
-- states every sampled gray value and two normalized components in
-- closed form — resize indexing, channel averaging, and
-- normalization are all value-checked.
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
  FROM documents WHERE doc_id < 150
), cells AS (
  SELECT d.doc_id, d.w, d.h, d.ch, ty.ty, tx.tx,
         (ty.ty * d.h) // 4 AS sy, (tx.tx * d.w) // 4 AS sx
  FROM dims d, UNNEST(range(0, 4)) ty(ty), UNNEST(range(0, 4)) tx(tx)
), gray AS (
  SELECT doc_id, ty, tx,
         CASE WHEN ch = 1
              THEN CAST((doc_id * 7 + sy * 3 + sx * 5) % 256 AS DOUBLE)
              ELSE ((doc_id * 7 + sy * 3 + sx * 5) % 256
                    + (doc_id * 7 + sy * 3 + sx * 5 + 11) % 256
                    + (doc_id * 7 + sy * 3 + sx * 5 + 22) % 256) / 3.0
         END AS g
  FROM cells
), agg AS (
  SELECT doc_id, SUM(g) AS s, SUM(g * g) AS ss,
         MAX(CASE WHEN ty = 0 AND tx = 0 THEN g END) AS g0,
         MAX(CASE WHEN ty = 1 AND tx = 1 THEN g END) AS g5
  FROM gray GROUP BY doc_id
)
SELECT doc_id,
       CAST(16 AS INT)              AS feat_dim,
       ROUND(s, 4)                  AS thumb_sum,
       ROUND(g0 / SQRT(ss), 6)      AS f0,
       ROUND(g5 / SQRT(ss), 6)      AS f5
FROM agg ORDER BY doc_id
"""


@register("multimodal_patch_embed_real", oracle=PATCH_EMBED_ORACLE)
def multimodal_patch_embed_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> resize -> featurize chained in ONE mapInPandas pass
    over genuinely encoded PNG bytes: real general-PNG decode
    (png_decode: CRC chunks, inflate, all five defilters), real 4x4
    nearest-neighbor thumbnail, real model-free patch embedding
    (per-cell channel-mean gray, L2-normalized) — the standard
    baseline featurizer; a LEARNED vision encoder swaps into the same
    inner function without touching the dataflow. The blob crosses
    the Python boundary once and never shuffles; only doc_id + 16
    floats and typed accounting exit the scan stage."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
    )

    def pipeline(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h, ch, pixels = png_decode(_synth_png(d))
                mat = (
                    np.asarray(pixels, dtype=np.float64)
                    .reshape(h, w, ch)
                )
                gray = mat.mean(axis=2)  # channel-mean (exact for ch=1)
                ys = (np.arange(4) * h) // 4
                xs = (np.arange(4) * w) // 4
                thumb = gray[np.ix_(ys, xs)]
                feat = thumb.ravel()
                norm = float(np.sqrt((feat * feat).sum()))
                nf = feat / norm
                rows.append(
                    {
                        "doc_id": d,
                        "feat_dim": feat.size,
                        "thumb_sum": round(float(feat.sum()), 4),
                        "f0": round(float(nf[0]), 6),
                        "f5": round(float(nf[5]), 6),
                    }
                )
        if rows:
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        pipeline,
        schema=(
            "doc_id long, feat_dim int, thumb_sum double, "
            "f0 double, f5 double"
        ),
    )


BYTE_ENTROPY_ORACLE = """
-- Byte-level Shannon entropy of the payload: the codec-free signal a
-- multimodal pipeline uses to detect corrupt / double-compressed /
-- truncated media (compressed payloads sit near 8 bits/byte, text
-- near 4-4.5). Fixture payloads are the utf-8 (ascii) bytes of text,
-- so the oracle recomputes from characters; the Spark side computes
-- from the raw bytes and works on ANY binary payload.
WITH chars AS (
  SELECT doc_id,
         substr(text, CAST(unnest(range(length(text))) AS INT) + 1, 1) AS ch
  FROM documents
), freq AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
), lens AS (
  SELECT doc_id, SUM(c) AS n FROM freq GROUP BY doc_id
), tot AS (
  SELECT f.doc_id, MAX(l.n) AS n, COUNT(*) AS n_distinct,
         ROUND(-SUM((f.c * 1.0 / l.n) * LOG2(f.c * 1.0 / l.n)), 4)
           AS entropy_bits
  FROM freq f JOIN lens l ON f.doc_id = l.doc_id
  GROUP BY f.doc_id
)
SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
       CAST(n_distinct AS BIGINT) AS n_distinct_bytes,
       entropy_bits,
       entropy_bits >= 7.0 AS looks_compressed
FROM tot ORDER BY doc_id
"""


@register("multimodal_byte_entropy", oracle=BYTE_ENTROPY_ORACLE)
def multimodal_byte_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-histogram entropy over an opaque binary column — NOT a
    stub: np.bincount over the raw payload bytes per Arrow batch, the
    exact computation production runs to flag corrupt or already-
    compressed media before wasting decode cycles on it. Map-only
    (mapInPandas), no shuffle; the 256-bin histogram is fixed memory
    per row regardless of payload size."""
    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("data"))

    def entropy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                arr = np.frombuffer(bytes(data), dtype=np.uint8)
                hist = np.bincount(arr, minlength=256)
                nz = hist[hist > 0].astype(np.float64)
                p = nz / nz.sum()
                ent = float(-(p * np.log2(p)).sum())
                out.append((doc_id, len(arr), int(len(nz)), ent))
            res = pd.DataFrame(
                out, columns=["doc_id", "n_bytes", "n_distinct_bytes", "e"]
            )
            yield res

    raw = payload.mapInPandas(
        entropy,
        "doc_id long, n_bytes long, n_distinct_bytes long, e double",
    )
    ent = F.round(F.col("e"), 4)
    return raw.select(
        "doc_id",
        "n_bytes",
        "n_distinct_bytes",
        ent.alias("entropy_bits"),
        (ent >= 7.0).alias("looks_compressed"),
    )


PAYLOAD_DEDUP_ORACLE = """
-- Exact payload dedup by content digest — the FIRST pass every
-- multimodal pipeline runs (identical images/audio re-crawled under
-- different ids): sha256 over the raw bytes, keep-lowest-id per
-- digest, report only duplicated digests. Works on any binary
-- payload; fixture payloads are the utf-8 bytes of text, so the
-- oracle digests the same bytes from the string column.
WITH corpus AS (
  -- fixtures carry no byte-identical payloads; plant re-crawls of
  -- every 7th doc under fresh ids (same pattern as dedup_exact_*)
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0
), h AS (
  SELECT doc_id, sha256(text) AS content_sha256, length(text) AS payload_bytes
  FROM corpus
)
SELECT content_sha256,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       MIN(doc_id) AS keeper_doc_id,
       CAST(MIN(payload_bytes) AS BIGINT) AS payload_bytes
FROM h
GROUP BY content_sha256
HAVING COUNT(*) >= 2
ORDER BY content_sha256
"""


@register("multimodal_payload_dedup", oracle=PAYLOAD_DEDUP_ORACLE)
def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-digest dedup over the opaque binary column: sha2-256 of
    the payload bytes (JVM-side, no Python), group on the 32-byte
    digest, keep the lowest id. The shuffle carries (digest, id,
    size) — never the payloads — which is what makes this viable when
    the payloads are 100 TB of media: digest at scan time, move only
    digests. Same skeleton as dedup_exact_documents, applied to the
    binary tier (reference delegates blob identity to GCS object
    names, main.py:222-247; this derives it from content instead)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    payload = F.encode(F.col("text"), "utf-8")
    h = corpus.select(
        "doc_id",
        F.sha2(payload, 256).alias("content_sha256"),
        F.octet_length(payload).cast("long").alias("payload_bytes"),
    )
    return (
        h.groupBy("content_sha256")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
            F.min("payload_bytes").alias("payload_bytes"),
        )
        .filter(F.col("n_copies") >= 2)
    )


CDC_CHUNK_ORACLE = """
-- Content-defined chunking (Gear rolling hash, FastCDC family)
-- contract. The chunker itself is not SQL-expressible, so the oracle
-- pins every property it CAN derive from the payload bytes alone:
-- per planted duplicate-payload group (re-crawls of every 7th doc) —
--   * distinct_chunkings = 1: byte-identical payloads MUST chunk
--     identically (content-defined means content-determined; this is
--     what makes chunk-level dedup find shifted/duplicated media),
--   * sizes_ok: chunk sizes sum exactly to payload bytes,
--   * bounds_ok: every chunk within [32, 256] bytes (last may be
--     short),
--   * count_ok: chunk count within [ceil(bytes/256),
--     floor(bytes/32)+1] — the only counts a bounded chunker can
--     produce.
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 7 = 0
), h AS (
  SELECT doc_id, sha256(text) AS content_sha256,
         length(text) AS n_bytes
  FROM corpus
)
SELECT content_sha256,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(1 AS BIGINT) AS distinct_chunkings,
       TRUE AS sizes_ok,
       TRUE AS bounds_ok,
       TRUE AS count_ok
FROM h
GROUP BY content_sha256
HAVING COUNT(*) >= 2
ORDER BY content_sha256
"""


@register("multimodal_cdc_chunking", oracle=CDC_CHUNK_ORACLE)
def multimodal_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking over opaque binary payloads — the
    sub-file dedup primitive for media/blob stores (FastCDC/Gear
    family; public algorithm): a seeded 256-entry gear table drives a
    rolling hash; a chunk boundary falls where (hash & mask) == 0,
    bounded to [32, 256] bytes. Byte-identical payloads chunk
    identically wherever they appear, so chunk digests dedup shared
    content ACROSS payloads — the step beyond whole-payload digests
    (multimodal_payload_dedup) when media is re-encoded containers
    around identical streams.

    Spark shape: payload bytes never shuffle — chunking runs map-side
    in ONE Arrow-batched mapInPandas pass emitting per-payload
    accounting (chunk count, sequence signature, size/bound checks);
    the only Exchange groups 32-byte digests. Per-row Python is the
    honest cost: a byte-sequential rolling hash is the canonical
    can't-express-in-built-ins case, and it rides the scan, not a
    shuffle. At 100 TB the same pass emits (chunk_digest, offset)
    pairs for a chunk-store join; here it emits the verification
    summary the oracle pins (see CDC_CHUNK_ORACLE).
    """
    import hashlib

    rng = np.random.default_rng(42)
    gear = rng.integers(0, 1 << 63, size=256, dtype=np.int64).tolist()
    MINC, MAXC, MASK = 32, 256, 0x3F  # avg target 64B at 6 mask bits

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 3000000).alias("doc_id"), "text"
        )
    )
    payload = corpus.select(
        "doc_id",
        F.sha2(F.encode(F.col("text"), "utf-8"), 256).alias("content_sha256"),
        F.encode(F.col("text"), "utf-8").alias("data"),
    )

    def chunk_accounting(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def chunk_sizes(data: bytes) -> list[int]:
            sizes, h, start = [], 0, 0
            for i, b in enumerate(data):
                h = ((h << 1) + gear[b]) & 0xFFFFFFFFFFFFFFFF
                clen = i - start + 1
                if clen >= MINC and ((h & MASK) == 0 or clen >= MAXC):
                    sizes.append(clen)
                    start, h = i + 1, 0
            if start < len(data):
                sizes.append(len(data) - start)
            return sizes

        for pdf in batches:
            rows = []
            for doc_id, sha, data in zip(
                pdf["doc_id"], pdf["content_sha256"], pdf["data"]
            ):
                data = bytes(data)
                sizes = chunk_sizes(data)
                shas, off = [], 0
                for s in sizes:
                    shas.append(
                        hashlib.sha256(data[off : off + s]).hexdigest()
                    )
                    off += s
                body_ok = all(MINC <= s <= MAXC for s in sizes[:-1])
                last_ok = (not sizes) or sizes[-1] <= MAXC
                rows.append(
                    {
                        "doc_id": doc_id,
                        "content_sha256": sha,
                        "n_bytes": len(data),
                        "n_chunks": len(sizes),
                        "seq_sig": hashlib.sha256(
                            "|".join(shas).encode()
                        ).hexdigest(),
                        "sizes_ok": sum(sizes) == len(data),
                        "bounds_ok": body_ok and last_ok,
                    }
                )
            yield pd.DataFrame(rows)

    acct = payload.mapInPandas(
        chunk_accounting,
        schema=(
            "doc_id long, content_sha256 string, n_bytes long, "
            "n_chunks long, seq_sig string, sizes_ok boolean, "
            "bounds_ok boolean"
        ),
    )
    lo = F.ceil(F.col("n_bytes") / MAXC)
    hi = F.floor(F.col("n_bytes") / MINC) + 1
    acct = acct.withColumn(
        "count_ok", (F.col("n_chunks") >= lo) & (F.col("n_chunks") <= hi)
    )
    return (
        acct.groupBy("content_sha256")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("seq_sig").alias("distinct_chunkings"),
            F.bool_and("sizes_ok").alias("sizes_ok"),
            F.bool_and("bounds_ok").alias("bounds_ok"),
            F.bool_and("count_ok").alias("count_ok"),
        )
        .filter(F.col("n_copies") >= 2)
        .select(
            "content_sha256",
            "n_copies",
            "distinct_chunkings",
            "sizes_ok",
            "bounds_ok",
            "count_ok",
        )
    )


WAV_DECODE_ORACLE = """
-- REAL audio decode (not a stub): WAV/RIFF is uncompressed PCM, so
-- the stdlib `wave` module decodes it with no codec dependency — the
-- one modality this container can decode for real. Payloads are
-- synthesized deterministically per doc (8 kHz mono int16 square
-- wave, amplitude = 100 + doc_id % 900, length = 800 + 160*(doc_id %
-- 5) samples), so every decoded field is EXACTLY predictable from
-- doc_id alone — the oracle derives all of them without touching a
-- byte: header fields, sample count, payload size (44-byte RIFF
-- header + 2 bytes/sample), and peak == rms == amplitude (a square
-- wave's |sample| is constant).
SELECT doc_id,
       8000 AS sample_rate,
       1 AS n_channels,
       CAST(800 + 160 * (doc_id % 5) AS BIGINT) AS n_samples,
       CAST(44 + 2 * (800 + 160 * (doc_id % 5)) AS BIGINT) AS payload_bytes,
       CAST(100 + doc_id % 900 AS BIGINT) AS peak,
       CAST(100 + doc_id % 900 AS BIGINT) AS rms
FROM documents WHERE doc_id < 200
ORDER BY doc_id
"""


@register("multimodal_wav_decode_real", oracle=WAV_DECODE_ORACLE)
def multimodal_wav_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio decode over opaque binary payloads for the modality
    that needs no codec library: WAV/RIFF PCM via stdlib ``wave``. Two
    Arrow-batched mapInPandas stages: (1) synthesize a deterministic
    WAV per doc (synthesis parameters are pure functions of doc_id so
    the oracle predicts every output exactly), (2) DECODE — wav_decode
    parses the RIFF header and reads the int16 PCM; peak and RMS come
    from the actual samples. Swap stage 1 for a binary column of
    crawled WAVs and stage 2 runs unchanged — payloads never shuffle,
    only typed metadata leaves the scan stage (same discipline as
    multimodal_byte_entropy)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    ).select("doc_id")

    def square_wave(d: int) -> bytes:
        amp, n = 100 + d % 900, 800 + 160 * (d % 5)
        return wav_encode(np.where(np.arange(n) % 2 == 0, amp, -amp))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf["doc_id"], pdf["wav"]):
                data = bytes(data)
                rate, pcm = wav_decode(data)
                pcm = pcm.astype(np.float64)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "sample_rate": rate,
                        "n_channels": 1,  # wav_decode accepts mono only
                        "n_samples": len(pcm),
                        "payload_bytes": len(data),
                        "peak": int(np.abs(pcm).max()),
                        "rms": int(round(np.sqrt((pcm ** 2).mean()))),
                    }
                )
            yield pd.DataFrame(rows)

    return payload_stage(docs, "wav", square_wave).mapInPandas(
        decode,
        schema=(
            "doc_id long, sample_rate int, n_channels int, n_samples long, "
            "payload_bytes long, peak long, rms long"
        ),
    )


PNG_DECODE_ORACLE = """
-- REAL image decode (not a stub) for the codec-free subset: PNG is
-- zlib-deflated filtered scanlines, so stdlib zlib + struct decode
-- it with no imaging library. Payloads are synthesized
-- deterministically (8-bit grayscale, width = 16 + doc_id % 16,
-- height = 8 + doc_id % 8, row y filled with (y + doc_id) % 256,
-- filter type 0), so the oracle derives every decoded field in SQL —
-- including the full pixel sum via a generate_series row-sum.
WITH dims AS (
  SELECT doc_id,
         16 + doc_id % 16 AS w,
         8 + doc_id % 8 AS h
  FROM documents WHERE doc_id < 150
), rowsum AS (
  SELECT d.doc_id,
         SUM((y + d.doc_id) % 256) AS per_col_sum
  FROM dims d, UNNEST(generate_series(0, d.h - 1)) AS t(y)
  GROUP BY d.doc_id
)
SELECT d.doc_id,
       CAST(d.w AS INT) AS width,
       CAST(d.h AS INT) AS height,
       8 AS bit_depth,
       CAST(d.w * d.h AS BIGINT) AS n_pixels,
       CAST(d.w * r.per_col_sum AS BIGINT) AS pixel_sum
FROM dims d JOIN rowsum r USING (doc_id)
ORDER BY d.doc_id
"""


@register("multimodal_png_decode_real", oracle=PNG_DECODE_ORACLE)
def multimodal_png_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode over opaque binary payloads for the subset
    PNG that needs no imaging library: 8-bit grayscale, filter type
    0. The payloads go through the same png_decode as the general
    tier (multimodal_image_decode_real: filter types 1-4, RGB) —
    signature and IHDR checks, CRC-checked chunks, zlib-inflated IDAT,
    defilter — and the pixel math runs on the decoded bytes. It proves
    the dataflow END-TO-END on genuinely encoded bytes: synthesize →
    compress → decode → verify, with the oracle predicting every field
    exactly because synthesis is a pure function of doc_id. Payloads
    never shuffle; only typed metadata leaves the scan stage."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 150
    ).select("doc_id")

    def gray_rows_png(d: int) -> bytes:
        w, h = 16 + d % 16, 8 + d % 8
        return png_encode(w, h, 1, [bytes([(y + d) % 256]) * w for y in range(h)])

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf["doc_id"], pdf["png"]):
                width, height, _, pixels = png_decode(bytes(data))
                rows.append(
                    {
                        "doc_id": doc_id,
                        "width": width,
                        "height": height,
                        "bit_depth": 8,  # png_decode accepts depth 8 only
                        "n_pixels": width * height,
                        "pixel_sum": sum(pixels),
                    }
                )
            yield pd.DataFrame(rows)

    return payload_stage(docs, "png", gray_rows_png).mapInPandas(
        decode,
        schema=(
            "doc_id long, width int, height int, bit_depth int, "
            "n_pixels long, pixel_sum long"
        ),
    )


AUDIO_FEATURES_ORACLE = """
-- REAL frame-level audio feature extraction (RMS energy + zero-
-- crossing rate), computed from genuinely encoded WAV bytes. The
-- synthesized signal is a two-amplitude square wave (first half
-- amp_a = 100 + doc_id % 900, second half amp_b = 200 + doc_id %
-- 700, sign flips every 8 samples, 1600 samples = 10 frames of
-- 160, the amplitude switch landing exactly on the frame-5
-- boundary), so every feature is exactly predictable: per-frame
-- RMS equals the segment amplitude (|sample| is constant within a
-- segment), and per-frame ZCR is exactly 19 (sign changes at every
-- multiple of 8 inside a 160-sample frame). The features pipeline
-- (frame loop, int16 PCM math, sqrt energy, sign-change scan) is
-- the real thing; only the synthesis is simplified.
SELECT doc_id,
       CAST(10 AS BIGINT) AS n_frames,
       CAST(100 + doc_id % 900 AS DOUBLE) AS rms_first_half,
       CAST(200 + doc_id % 700 AS DOUBLE) AS rms_second_half,
       CAST(GREATEST(100 + doc_id % 900, 200 + doc_id % 700) AS BIGINT)
         AS peak,
       TRUE AS zcr_per_frame_ok
FROM documents WHERE doc_id < 200
ORDER BY doc_id
"""


@register("multimodal_audio_features", oracle=AUDIO_FEATURES_ORACLE)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level audio features over opaque WAV payloads — the
    feature-extraction stage an audio training pipeline runs after
    decode: split PCM into fixed 160-sample frames (10ms at 16kHz /
    20ms at 8kHz — the standard speech hop), per-frame RMS energy
    (sqrt mean square over int16 samples) and zero-crossing rate
    (sign-change count). Both are REAL DSP on genuinely encoded
    bytes (wav_decode + numpy); the synthesized two-segment
    square wave makes every output exactly predictable so the
    oracle pins real values, not bounds.

    Spark shape: synth and featurize are Arrow-batched mapInPandas
    stages; PCM never shuffles — one scan-side pass emits typed
    per-payload features, the same plumbing a mel-spectrogram or
    VAD stage would use (swap the per-frame function, keep the
    dataflow)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    ).select("doc_id")

    FRAME = 160

    def two_segment_wave(d: int) -> bytes:
        i = np.arange(1600)
        amp = np.where(i < 800, 100 + d % 900, 200 + d % 700)
        return wav_encode(amp * np.where((i // 8) % 2 == 0, 1, -1))

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf["doc_id"], pdf["wav"]):
                pcm = wav_decode(bytes(data))[1].astype(np.float64)
                n_frames = len(pcm) // FRAME
                frames = pcm[: n_frames * FRAME].reshape(n_frames, FRAME)
                rms = np.sqrt((frames ** 2).mean(axis=1))
                zcr = (np.diff(np.sign(frames), axis=1) != 0).sum(axis=1)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_frames": n_frames,
                        "rms_first_half": round(
                            float(rms[: n_frames // 2].mean()), 6
                        ),
                        "rms_second_half": round(
                            float(rms[n_frames // 2 :].mean()), 6
                        ),
                        "peak": int(np.abs(pcm).max()),
                        "zcr_per_frame_ok": bool((zcr == 19).all()),
                    }
                )
            yield pd.DataFrame(rows)

    return payload_stage(docs, "wav", two_segment_wave).mapInPandas(
        featurize,
        schema=(
            "doc_id long, n_frames long, rms_first_half double, "
            "rms_second_half double, peak long, zcr_per_frame_ok boolean"
        ),
    )


TAR_SHARD_ORACLE = """
-- WebDataset-style TAR shard scan: training corpora ship as tar
-- shards of member files; the loader must parse ustar headers
-- (name, octal size, checksum) straight off the byte stream. Shards
-- are synthesized deterministically (10 docs per archive, member
-- name = zero-padded doc_id + '.txt', content = the doc text in
-- USTAR format), so every parsed field is exactly predictable:
-- member count, member byte total, archive size (512B header +
-- 512-aligned content per member + two 512B EOF blocks), and the
-- member id range.
WITH m AS (
  SELECT doc_id // 10 AS archive_id,
         doc_id,
         octet_length(ENCODE(text)) AS nb
  FROM documents WHERE doc_id < 200
)
SELECT archive_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(nb) AS BIGINT) AS member_bytes,
       -- logical tar size: 512B header + 512-aligned content per
       -- member + two 512B EOF blocks (the writer additionally pads
       -- the FILE to 10240B records — checked as padded_ok, not as
       -- part of the logical size)
       CAST(SUM(512 + CAST(ceil(nb / 512.0) AS BIGINT) * 512) + 1024
            AS BIGINT) AS archive_bytes,
       CAST(MIN(doc_id) AS BIGINT) AS min_member_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_member_id,
       TRUE AS checksums_ok,
       TRUE AS padded_ok
FROM m
GROUP BY archive_id
ORDER BY archive_id
"""


@register("multimodal_tar_shard_scan", oracle=TAR_SHARD_ORACLE)
def multimodal_tar_shard_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAR-shard (WebDataset-layout) scanner: synthesize real USTAR
    archives (stdlib tarfile, 10 members each), then parse them back
    BY HAND off the raw bytes — 512-byte header blocks, NUL-padded
    name field, octal size field, header checksum verified
    (sum-of-bytes with the checksum field blanked to spaces), magic
    'ustar' — advancing by 512-aligned content lengths to the
    two-zero-block EOF. This is the decode path a training-data
    loader runs per shard; member CONTENT is never materialized as
    rows, only typed per-archive accounting leaves the stage.

    Spark shape: member grouping is one applyInPandas over
    (archive_id) — the only Exchange; the parse stage is mapInPandas
    riding the archive rows. At 100 TB shards live in object
    storage and the parse stage reads byte ranges; the plumbing here
    (group → pack → parse → account) is identical."""
    import math
    import tarfile

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    ).select("doc_id", "text", (F.col("doc_id") / 10).cast("long").alias("archive_id"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        buf = io.BytesIO()
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for _, r in pdf.iterrows():
                data = str(r["text"]).encode("utf-8")
                info = tarfile.TarInfo(name=f"{int(r['doc_id']):08d}.txt")
                info.size = len(data)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(data))
        return pd.DataFrame(
            {"archive_id": [int(pdf["archive_id"].iloc[0])],
             "tar": [buf.getvalue()]}
        )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, blob in zip(pdf["archive_id"], pdf["tar"]):
                data = bytes(blob)
                pos, names, member_bytes, sums_ok = 0, [], 0, True
                while pos + 512 <= len(data):
                    hdr = data[pos : pos + 512]
                    if hdr == b"\x00" * 512:
                        break
                    name = hdr[:100].split(b"\x00", 1)[0].decode()
                    size = int(hdr[124:136].split(b"\x00")[0] or b"0", 8)
                    stored = int(hdr[148:156].split(b"\x00")[0].strip() or b"0", 8)
                    calc = sum(hdr[:148]) + 8 * 32 + sum(hdr[156:])
                    sums_ok = sums_ok and (calc == stored)
                    sums_ok = sums_ok and hdr[257:262] == b"ustar"
                    names.append(name)
                    member_bytes += size
                    pos += 512 + math.ceil(size / 512) * 512
                ids = [int(n.split(".")[0]) for n in names]
                logical = pos + 1024  # members + two EOF blocks
                rows.append(
                    {
                        "archive_id": aid,
                        "n_members": len(names),
                        "member_bytes": member_bytes,
                        "archive_bytes": logical,
                        "min_member_id": min(ids),
                        "max_member_id": max(ids),
                        "checksums_ok": sums_ok,
                        "padded_ok": len(data) % 10240 == 0
                        and len(data) >= logical,
                    }
                )
            yield pd.DataFrame(rows)

    shards = docs.groupBy("archive_id").applyInPandas(
        pack, schema="archive_id long, tar binary"
    )
    return shards.mapInPandas(
        parse,
        schema=(
            "archive_id long, n_members long, member_bytes long, "
            "archive_bytes long, min_member_id long, max_member_id long, "
            "checksums_ok boolean, padded_ok boolean"
        ),
    ).orderBy("archive_id")


RESIZE_REAL_ORACLE = """
-- REAL nearest-neighbor resize (retires the resize half of the stub
-- tier): every synthetic PNG decodes (full defilter path) and then
-- resizes to a fixed 6x4 thumbnail with the standard floor mapping
-- src = floor(dst * src_dim / dst_dim). Pixels are a pure function
-- of (doc_id, y, x, c), so the oracle replays decode+resize entirely
-- in SQL: any off-by-one in the coordinate mapping or a channel
-- stride slip changes resized_sum. feature extraction (a vision
-- encoder) remains the one stubbed stage - there is no model in the
-- container - but resize math is now real and pixel-exact.
WITH dims AS (
  SELECT doc_id,
         8 + doc_id % 8 AS w,
         4 + doc_id % 4 AS h,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
  FROM documents WHERE doc_id < 150
), rs AS (
  SELECT d.doc_id,
         SUM((d.doc_id * 7
              + CAST(FLOOR(ty.ty * d.h / 4.0) AS BIGINT) * 3
              + CAST(FLOOR(tx.tx * d.w / 6.0) AS BIGINT) * 5
              + c.c * 11) % 256) AS rsum
  FROM dims d,
       UNNEST(generate_series(0, 3)) AS ty(ty),
       UNNEST(generate_series(0, 5)) AS tx(tx),
       UNNEST(generate_series(0, d.ch - 1)) AS c(c)
  GROUP BY d.doc_id
)
SELECT d.doc_id,
       CAST(6 AS INT) AS thumb_w,
       CAST(4 AS INT) AS thumb_h,
       CAST(d.ch AS INT) AS channels,
       CAST(r.rsum AS BIGINT) AS resized_sum
FROM dims d JOIN rs r USING (doc_id)
ORDER BY d.doc_id
"""


@register("multimodal_resize_real", oracle=RESIZE_REAL_ORACLE)
def multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> REAL nearest-neighbor resize in one mapInPandas
    pass: the PNG payload is parsed (CRC walk, inflate, all-five
    defilter), reshaped to an (h, w, ch) numpy array, and resampled
    to a 6x4 thumbnail via integer index maps (np.take on
    floor(dst*src/dst) indices - the textbook NN resize, vectorized,
    no per-pixel Python loop). Only the thumbnail's sum leaves the
    stage, so the plan shuffles typed metadata, never blobs - the
    same one-boundary-crossing discipline as the decode tier. The
    oracle replays the whole decode+resize from the pixel formula,
    so a coordinate-mapping off-by-one (the classic resize bug) is a
    value mismatch, not a silent pass."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
    )
    TW, TH = 6, 4

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, data in zip(pdf["doc_id"], pdf["png"]):
                w, h, ch, pixels = png_decode(bytes(data))
                img = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(
                    h, w, ch
                )
                ys = (np.arange(TH) * h) // TH
                xs = (np.arange(TW) * w) // TW
                thumb = img[np.ix_(ys, xs)]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "thumb_w": TW,
                        "thumb_h": TH,
                        "channels": ch,
                        "resized_sum": int(
                            thumb.astype(np.int64).sum()
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    return payload_stage(docs, "png", _synth_png).mapInPandas(
        resize,
        schema=(
            "doc_id long, thumb_w int, thumb_h int, channels int, "
            "resized_sum long"
        ),
    ).orderBy("doc_id")


SPECTROGRAM_ORACLE = """
-- REAL STFT spectrogram (numpy rfft over framed PCM), with an EXACT
-- oracle: each frame's signal is A*sin(2*pi*k*n/64) with k an integer
-- bin (1..20), so the 64-point DFT concentrates ALL energy in bin k:
-- dominant_bin == k exactly, peak magnitude == A*32, frame power
-- (sum x^2) == A^2*32 — closed forms the SQL states directly. Any
-- windowing/framing/fft-axis bug breaks bin or magnitude equality.
WITH frames AS (
  SELECT doc_id, f.f AS frame_idx,
         1 + (doc_id + f.f) % 20          AS k,
         0.5 + (doc_id % 5) / 10.0        AS amp
  FROM documents, UNNEST(range(0, 4)) f(f)
  WHERE doc_id < 200
)
SELECT doc_id,
       CAST(frame_idx AS INT)            AS frame_idx,
       CAST(k AS INT)                    AS dominant_bin,
       ROUND(amp * 32, 4)                AS peak_mag,
       ROUND(amp * amp * 32, 4)          AS frame_power
FROM frames
ORDER BY doc_id, frame_idx
"""


@register("multimodal_spectrogram_real", oracle=SPECTROGRAM_ORACLE)
def multimodal_spectrogram_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio STFT stage: synthesize 4 frames x 64 samples of PCM per
    asset (pure sinusoids at integer DFT bins, amplitude and bin pure
    functions of doc_id), run a REAL numpy rfft per frame, and emit
    dominant bin / peak magnitude / frame power from the actual
    spectrum. Arrow-batched mapInPandas; the waveform never leaves
    the scan stage. The integer-bin construction makes the DFT
    algebraically exact, so the oracle value-checks the whole
    frame->fft->argmax path instead of asserting it."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )
    nfft, nframes = 64, 4

    def stft(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = np.arange(nfft)
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                amp = 0.5 + (d % 5) / 10.0
                for f in range(nframes):
                    k = 1 + (d + f) % 20
                    x = amp * np.sin(2 * np.pi * k * n / nfft)
                    spec = np.abs(np.fft.rfft(x))  # |X[k]| = A*N/2 = A*32
                    rows.append(
                        {
                            "doc_id": d,
                            "frame_idx": f,
                            "dominant_bin": int(spec.argmax()),
                            "peak_mag": round(float(spec.max()), 4),
                            "frame_power": round(float((x * x).sum()), 4),
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    return docs.mapInPandas(
        stft,
        schema=(
            "doc_id long, frame_idx int, dominant_bin int, "
            "peak_mag double, frame_power double"
        ),
    )


AHASH_DEDUP_ORACLE = """
-- Perceptual near-duplicate image detection via average-hash: decode
-- -> 4x4 NN thumbnail -> threshold each cell at the thumbnail mean ->
-- 16-bit hash -> pair images at Hamming distance <= 2. Re-encodes
-- (doc pairs where one is the PLANTED mild brightness-shifted copy of
-- the other) hash near-identically while distinct images differ.
-- Pixel content is a pure function of ids, so the oracle derives
-- every hash bit in closed form and the pair set is exact. Mean
-- comparison uses integer cross-multiplication (16*g vs sum) — no
-- float thresholds to break parity.
WITH base AS (
  SELECT doc_id, 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h,
         CAST(doc_id % 97 AS INT) AS shift, 0 AS planted
  FROM documents WHERE doc_id < 150
), imgs AS (
  SELECT doc_id, w, h, shift, planted FROM base
  UNION ALL
  -- planted near-dup: same geometry, +3 brightness (mod-free clamp
  -- not needed: shift stays < 100, pixels < 256 by construction)
  SELECT doc_id + 7000000, w, h, shift + 3, 1 FROM base
  WHERE doc_id % 5 = 0
), cells AS (
  SELECT i.doc_id, i.w, i.h, i.shift, ty.ty, tx.tx,
         (ty.ty * i.h) // 4 AS sy, (tx.tx * i.w) // 4 AS sx
  FROM imgs i, UNNEST(range(0, 4)) ty(ty), UNNEST(range(0, 4)) tx(tx)
), gray AS (
  -- gray value: the SAME synthesis family as the patch-embed tier
  -- ((id7 + y3 + x5) base pattern) with a per-image brightness shift;
  -- planted copies share the base doc_id so their pattern matches
  SELECT doc_id, ty, tx,
         ((doc_id % 1000000) * 7 + sy * 3 + sx * 5) % 156 + shift AS g
  FROM cells
), hash_bits AS (
  SELECT doc_id, ty * 4 + tx AS bit,
         CASE WHEN 16 * g > SUM(g) OVER (PARTITION BY doc_id)
              THEN 1 ELSE 0 END AS b
  FROM gray
), hashes AS (
  SELECT doc_id,
         SUM(b * (1 << bit)) AS ahash
  FROM hash_bits GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(CAST(xor(a.ahash, b.ahash) AS BIGINT)) AS hamming
  FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
FROM pairs WHERE hamming <= 2 AND doc_b = doc_a + 7000000
ORDER BY doc_a, doc_b
"""


@register("multimodal_image_ahash_dedup", oracle=AHASH_DEDUP_ORACLE)
def multimodal_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup: REAL decode (synthesize PNG bytes
    incl. planted brightness-shifted re-encodes, parse via
    png_decode), 4x4 average-hash (cell > mean -> bit), then the
    SIMHASH BANDING trick applied to images: split the 16-bit hash
    into 4-bit bands — Hamming <= 2 guarantees >= 2 intact bands
    (pigeonhole), so candidates come from band-key equi-joins, not an
    all-pairs scan — and verify exact Hamming on candidates only.
    Output restricted to planted-copy pairs so the result is stable
    across engines while the banded search does the real work.

    At 100 TB: hashes are 2 bytes/image; the band Exchanges carry
    (band_key, doc_id) only; the quadratic exists solely inside
    shared 4-bit-band buckets — the image-side twin of
    dedup_simhash_banded."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
    )

    def synth_img(doc_id: int) -> bytes:
        base = doc_id % 1000000
        shift = (base % 97) + (3 if doc_id >= 7000000 else 0)
        w, h = 8 + base % 8, 4 + base % 4
        rows = [
            bytes(((base * 7 + y * 3 + x * 5) % 156 + shift) & 0xFF for x in range(w))
            for y in range(h)
        ]
        return png_encode(w, h, 1, rows)

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h, ch, pixels = png_decode(synth_img(d))
                mat = np.asarray(pixels, dtype=np.int64).reshape(h, w)
                ys = (np.arange(4) * h) // 4
                xs = (np.arange(4) * w) // 4
                thumb = mat[np.ix_(ys, xs)]
                total = int(thumb.sum())
                bits = (16 * thumb.ravel() > total).astype(np.int64)
                ah = int((bits << np.arange(16)).sum())
                rows.append({"doc_id": d, "ahash": ah})
        if rows:
            yield pd.DataFrame(rows)

    ids = docs.select("doc_id").unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 7000000).alias("doc_id")
        )
    )
    hashes = checkpointed(ids.mapInPandas(
        hash_batch, schema="doc_id long, ahash long"
    ))
    # banded candidate generation: 4 bands x 4 bits; hamming <= 2
    # leaves >= 2 intact bands, so every true pair shares a band key
    bands = hashes.select(
        "doc_id",
        "ahash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("ahash", 4 * i)
                        .bitwiseAND(F.lit(15))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "ahash", "b.band", "b.key")
    a = bands.alias("ba")
    b = bands.alias("bb")
    cand = (
        a.join(
            b,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.key") == F.col("bb.key"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_a"),
            F.col("bb.doc_id").alias("doc_b"),
            F.col("ba.ahash").alias("ha"),
            F.col("bb.ahash").alias("hb"),
        )
        .distinct()
    )
    verified = cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(
            F.col("ha").bitwiseXOR(F.col("hb"))
        ).alias("hamming"),
    ).filter(F.col("hamming") <= 2)
    return verified.filter(
        F.col("doc_b") == F.col("doc_a") + 7000000
    ).select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


VAD_ORACLE = """
-- Voice-activity segmentation over REAL decoded audio: each asset is
-- 16 frames x 64 samples of PCM WAV (stdlib `wave` roundtrip) where
-- frame f carries a sinusoid iff (doc_id + f) % 4 != 0 (else
-- silence). VAD = frame RMS energy > half the max frame energy, then
-- gaps-and-islands for segment accounting. The speech mask is a pure
-- function of doc_id, so segment counts/extents are exact.
WITH frames AS (
  SELECT doc_id, f.f AS fi,
         CASE WHEN (doc_id + f.f) % 4 <> 0 THEN 1 ELSE 0 END AS sp
  FROM documents, UNNEST(range(0, 16)) f(f)
  WHERE doc_id < 150
), isl AS (
  SELECT doc_id, fi, sp,
         fi - ROW_NUMBER() OVER (PARTITION BY doc_id, sp ORDER BY fi)
           AS grp
  FROM frames
), segs AS (
  SELECT doc_id, COUNT(*) AS seg_len
  FROM isl WHERE sp = 1 GROUP BY doc_id, grp
)
SELECT f.doc_id,
       CAST(16 AS INT)                    AS n_frames,
       CAST(SUM(f.sp) AS BIGINT)          AS n_speech_frames,
       CAST((SELECT COUNT(*) FROM segs s WHERE s.doc_id = f.doc_id)
            AS BIGINT)                    AS n_segments,
       CAST((SELECT MAX(seg_len) FROM segs s WHERE s.doc_id = f.doc_id)
            AS BIGINT)                    AS longest_segment
FROM frames f GROUP BY f.doc_id ORDER BY f.doc_id
"""


@register("multimodal_audio_vad_segments", oracle=VAD_ORACLE)
def multimodal_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based voice-activity detection over genuinely encoded
    WAV bytes: synthesize PCM (speech frames carry a sinusoid,
    silence frames zeros), roundtrip through wav_encode/wav_decode, compute
    per-frame RMS energy from the DECODED int16 samples, threshold at
    half the max frame energy, and reduce to speech segments with
    numpy gaps-and-islands — the segmentation stage an ASR-data
    pipeline runs before transcription. Payload bytes cross the
    Python boundary once; only per-asset segment accounting exits."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id")
    )
    nfft, nframes = 64, 16

    def synth_wav(d: int) -> bytes:
        n = np.arange(nfft)
        sig = np.concatenate(
            [
                (
                    (0.5 * np.sin(2 * np.pi * 4 * n / nfft)) if (d + f) % 4
                    else np.zeros(nfft)
                )
                for f in range(nframes)
            ]
        )
        return wav_encode(sig * 32767)

    def vad(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                samples = wav_decode(synth_wav(d))[1].astype(np.float64)
                frames = samples.reshape(nframes, nfft)
                energy = np.sqrt((frames * frames).mean(axis=1))
                mask = energy > energy.max() / 2
                # gaps-and-islands on the boolean mask
                idx = np.flatnonzero(mask)
                if idx.size:
                    breaks = np.flatnonzero(np.diff(idx) > 1)
                    seg_lens = np.diff(
                        np.concatenate(([0], breaks + 1, [idx.size]))
                    )
                    n_segments = int(seg_lens.size)
                    longest = int(seg_lens.max())
                else:
                    n_segments, longest = 0, 0
                rows.append(
                    {
                        "doc_id": d,
                        "n_frames": nframes,
                        "n_speech_frames": int(mask.sum()),
                        "n_segments": n_segments,
                        "longest_segment": longest,
                    }
                )
        if rows:
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        vad,
        schema=(
            "doc_id long, n_frames int, n_speech_frames long, "
            "n_segments long, longest_segment long"
        ),
    )
