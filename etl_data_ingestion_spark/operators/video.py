"""Video tier: REAL animated-GIF decode + uniform frame sampling.

The sampling policy runs over frames decoded from genuinely ENCODED
bytes — a GIF89a container written and read with a real
variable-code-width LZW codec (pure stdlib + numpy; GIF's LZW is
public-spec, no imaging library needed). The container's codec lives
here; the PNG and WAV codecs and the shared payload stage live in
operators/multimodal.py.

Reference parity: the reference's pipeline treats attachments as
opaque blobs (main.py:200-219 fetches + base64-decodes, never looks
inside); this tier is part of the north-star multimodal surface
(SURVEY.md §6) — decode/frame-sample stages a training-data pipeline
runs over crawled media.

Spark shape (the part that matters at 100 TB):
- synthesis and decode are Arrow-batched mapInPandas stages; the
  binary payload crosses the Python boundary once and NEVER shuffles
  — only typed per-frame metadata rows leave the scan stage.
- per-frame work is independent → embarrassingly parallel; the
  sampled-frame explosion happens inside the same pass, so no
  intermediate frame-blob materialization.

Synthesis is a pure function of doc_id (frame f, pixel i =
(7·doc_id + 13·f + i) mod 256 under an identity grayscale palette;
per-frame GCE delay 4 + (doc_id+f) mod 5 centiseconds), so the DuckDB
oracle predicts every output cell exactly — including each frame's
pixel sum via the closed form of Σ_{i<P}(a+i) mod 256 — making LZW
round-trip correctness value-checked, not asserted.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_data_ingestion_spark.catalog import load_table
from etl_data_ingestion_spark.operators.multimodal import payload_stage
from etl_data_ingestion_spark.plans.registry import register


# --------------------------------------------------------------------------
# GIF-flavored LZW (public spec: GIF89a specification, appendix F).
# Variable code width starting at min_code_size+1 bits, LSB-first bit
# packing, CLEAR/EOI control codes, dictionary capped at 12 bits.
# --------------------------------------------------------------------------


def lzw_encode(indices: bytes, min_code_size: int = 8) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    seq = b""
    for b in indices:
        nxt = seq + bytes([b])
        if nxt in table:
            seq = nxt
            continue
        emit(table[seq])
        table[nxt] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        elif next_code > (1 << 12):
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        seq = bytes([b])
    if seq:
        emit(table[seq])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def lzw_decode(data: bytes, min_code_size: int = 8) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]

    out = bytearray()
    acc = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # the KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"corrupt LZW stream: code {code}")
            out += entry
            prev = entry
            # GIF grows the read width when the NEXT append would
            # overflow the current width (encoder emitted at old
            # width up to and including code 2^width - 1).
            if len(table) == (1 << width) and width < 12:
                width += 1
    raise ValueError("LZW stream ended without EOI")


# --------------------------------------------------------------------------
# GIF89a container write/read (public spec layout).
# --------------------------------------------------------------------------

_GRAY_TABLE = b"".join(bytes([i, i, i]) for i in range(256))


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for off in range(0, len(data), 255):
        chunk = data[off : off + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def synth_gif(doc_id: int) -> bytes:
    """Deterministic animated GIF: dims/frame-count/delays/pixels are
    all pure functions of doc_id (see module docstring)."""
    d = int(doc_id)
    w, h = 16 + d % 8, 8 + d % 4
    n_frames = 3 + d % 4
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HH", w, h)
    out += bytes([0xF7, 0, 0])  # global 256-entry table, bg 0, square
    out += _GRAY_TABLE
    for f in range(n_frames):
        delay_cs = 4 + (d + f) % 5
        out += bytes([0x21, 0xF9, 0x04, 0x00])
        out += struct.pack("<H", delay_cs)
        out += bytes([0x00, 0x00])  # transparent idx, terminator
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        pixels = bytes((7 * d + 13 * f + i) % 256 for i in range(w * h))
        out += bytes([8]) + _sub_blocks(lzw_encode(pixels, 8))
    out += b"\x3b"
    return bytes(out)


def parse_gif(data: bytes) -> tuple[int, int, list[tuple[int, bytes]]]:
    """Parse a GIF89a stream → (width, height, [(delay_cs, index_bytes)]).

    Walks the real block structure: logical screen descriptor, global
    color table, graphic-control extensions (delay capture), image
    descriptors with LZW-compressed index data in sub-blocks.
    """
    if data[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("bad GIF magic")
    w, h = struct.unpack("<HH", data[6:10])
    packed = data[10]
    pos = 13
    table_size = 0
    if packed & 0x80:
        table_size = 3 * (2 << (packed & 0x07))
        pos += table_size
    frames: list[tuple[int, bytes]] = []
    pending_delay = 0
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = data[pos]
            pos += 1
            if label == 0xF9:
                size = data[pos]
                (pending_delay,) = struct.unpack(
                    "<H", data[pos + 2 : pos + 4]
                )
                pos += 1 + size
            else:
                while data[pos]:
                    pos += 1 + data[pos]
            pos += 1  # block terminator
        elif block == 0x2C:  # image descriptor
            fw, fh = struct.unpack("<HH", data[pos + 4 : pos + 8])
            lpacked = data[pos + 8]
            pos += 9
            if lpacked & 0x80:
                pos += 3 * (2 << (lpacked & 0x07))
            min_code = data[pos]
            pos += 1
            lzw = bytearray()
            while data[pos]:
                n = data[pos]
                lzw += data[pos + 1 : pos + 1 + n]
                pos += 1 + n
            pos += 1
            indices = lzw_decode(bytes(lzw), min_code)
            if len(indices) != fw * fh:
                raise ValueError(
                    f"frame decoded {len(indices)} px, expected {fw * fh}"
                )
            frames.append((pending_delay, indices))
            pending_delay = 0
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    return w, h, frames


VIDEO_FRAMES_ORACLE = """
-- Synthesis is a pure function of doc_id, so every field is
-- recomputable: dims/frame count by modular arithmetic, pixel_sum by
-- the closed form of SUM_{i<P} (a+i) % 256 with P = w*h < 256 (so at
-- most one wrap):
--   a+P <= 256:  P*a + P(P-1)/2
--   else      :  c1*a + c1(c1-1)/2 + c2(c2-1)/2,
--                c1 = 256-a (values a..255), c2 = P-c1 (values 0..c2-1).
-- ts_ms sums the per-frame GCE delays 4 + (d+g)%5 over g < f: the
-- same one-wrap closed form mod 5 (f <= 6 < 2*5 so at most one wrap,
-- with r = d%5, m = f%5 and a full 0..4 cycle summing to 10).
WITH params AS (
  SELECT doc_id,
         16 + doc_id % 8 AS w,
         8  + doc_id % 4 AS h,
         3  + doc_id % 4 AS n_frames
  FROM documents WHERE doc_id < 120
), samples AS (
  SELECT p.*, i AS sample_idx,
         (p.n_frames * (2 * i + 1)) // 4 AS frame_idx
  FROM params p, UNNEST(range(0, 2)) AS t(i)
), fields AS (
  SELECT s.*,
         w * h                                   AS p_cnt,
         (7 * doc_id + 13 * frame_idx) % 256     AS a,
         doc_id % 5                              AS r,
         frame_idx // 5                          AS cyc,
         frame_idx % 5                           AS m
  FROM samples s
)
SELECT doc_id,
       doc_id || ':' || sample_idx               AS frame_id,
       CAST(sample_idx AS INT)                   AS sample_idx,
       CAST(frame_idx AS INT)                    AS frame_idx,
       CAST(n_frames AS INT)                     AS n_frames,
       CAST(w AS INT)                            AS width,
       CAST(h AS INT)                            AS height,
       CAST(10 * (4 * frame_idx + 10 * cyc
                  + CASE WHEN r + m <= 5
                         THEN m * r + m * (m - 1) // 2
                         ELSE (5 - r) * r + (5 - r) * (4 - r) // 2
                              + (m - 5 + r) * (m - 6 + r) // 2
                    END) AS BIGINT)              AS ts_ms,
       CAST(CASE WHEN a + p_cnt <= 256
                 THEN p_cnt * a + p_cnt * (p_cnt - 1) // 2
                 ELSE (256 - a) * a + (256 - a) * (255 - a) // 2
                      + (p_cnt - 256 + a) * (p_cnt - 257 + a) // 2
            END AS BIGINT)                       AS pixel_sum
FROM fields
ORDER BY doc_id, sample_idx
"""


@register("multimodal_video_frames_real", oracle=VIDEO_FRAMES_ORACLE)
def multimodal_video_frames_real(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL video-frame sampling: synthesize animated GIF89a payloads
    (real LZW compression), then decode the container + codec and
    uniform-sample k=2 frames per asset at positions
    floor(n·(2i+1)/2k) — one typed row per sampled frame with its
    actual decoded pixel sum and its GCE-accumulated timestamp.

    Timestamps come from real per-frame delay fields and pixel stats
    from real decoded indices. doc_id < 120 bounds the pure-Python LZW
    work (~120 assets × ≤6 frames × ≤253 px)."""
    import numpy as np

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id")
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        k = 2
        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["gif"]):
                w, h, frames = parse_gif(bytes(blob))
                n = len(frames)
                for i in range(k):
                    fidx = (n * (2 * i + 1)) // (2 * k)
                    _, idx_bytes = frames[fidx]
                    px = np.frombuffer(idx_bytes, dtype=np.uint8)
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "frame_id": f"{doc_id}:{i}",
                            "sample_idx": i,
                            "frame_idx": fidx,
                            "n_frames": n,
                            "width": w,
                            "height": h,
                            # decoded delays: ts of frame fidx is the
                            # sum of GCE delays of the frames before it
                            "ts_ms": 10
                            * sum(frames[g][0] for g in range(fidx)),
                            "pixel_sum": int(px.astype(np.int64).sum()),
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    return payload_stage(docs, "gif", synth_gif).mapInPandas(
        decode,
        schema=(
            "doc_id long, frame_id string, sample_idx int, frame_idx int, "
            "n_frames int, width int, height int, ts_ms long, "
            "pixel_sum long"
        ),
    )
