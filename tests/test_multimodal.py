"""The multimodal codecs without Spark: png_encode/png_decode and
wav_encode/wav_decode round-trip, and the decoders reject damaged or
unsupported input with ValueError (not an assert, which `python -O`
strips)."""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np
import pytest

from etl_data_ingestion_spark.operators.multimodal import (
    png_decode,
    png_encode,
    wav_decode,
    wav_encode,
)


def _rows(width: int, height: int, channels: int) -> list[bytes]:
    return [
        bytes((y * 31 + x * 17 + 250) % 256 for x in range(width * channels))
        for y in range(height)
    ]


def _with_ihdr(png: bytes, offset: int, value: int) -> bytes:
    """`png` with IHDR body byte `offset` set to `value` and a valid
    CRC, so only the header content is wrong."""
    body = bytearray(png[16:29])
    body[offset] = value
    crc = struct.pack(">I", zlib.crc32(b"IHDR" + body))
    return png[:16] + bytes(body) + crc + png[33:]


@pytest.mark.parametrize("channels", [1, 3])
@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_round_trips_every_filter_type(ftype, channels):
    width, height = 7, 5
    rows = _rows(width, height, channels)
    png = png_encode(width, height, channels, rows, [ftype] * height)
    assert png_decode(png) == (width, height, channels, b"".join(rows))


def test_png_round_trips_mixed_filters_per_row():
    rows = _rows(9, 6, 3)
    png = png_encode(9, 6, 3, rows, [4, 3, 2, 1, 0, 4])
    assert png_decode(png) == (9, 6, 3, b"".join(rows))


def test_wav_round_trips():
    pcm = np.array([0, 1, -1, 32767, -32768, 1234, -4321], dtype="<i2")
    rate, samples = wav_decode(wav_encode(pcm, rate=16000))
    assert rate == 16000
    assert samples.dtype == np.dtype("<i2")
    assert samples.tolist() == pcm.tolist()
    assert wav_decode(wav_encode(pcm))[0] == 8000


def test_png_flipped_crc_byte_raises():
    png = bytearray(png_encode(4, 3, 1, _rows(4, 3, 1)))
    png[29] ^= 0xFF  # first byte of the IHDR CRC
    with pytest.raises(ValueError, match="CRC"):
        png_decode(bytes(png))


def test_png_flipped_payload_byte_raises():
    png = bytearray(png_encode(4, 3, 1, _rows(4, 3, 1)))
    png[41] ^= 0x01  # inside the IDAT body
    with pytest.raises(ValueError, match="CRC"):
        png_decode(bytes(png))


def test_png_bad_signature_raises():
    png = png_encode(4, 3, 1, _rows(4, 3, 1))
    with pytest.raises(ValueError, match="signature"):
        png_decode(b"\x89PNX" + png[4:])


@pytest.mark.parametrize(
    "offset,value",
    [(12, 1), (8, 16), (9, 3)],
    ids=["interlaced", "depth16", "palette"],
)
def test_png_unsupported_header_raises(offset, value):
    png = _with_ihdr(png_encode(4, 3, 1, _rows(4, 3, 1)), offset, value)
    with pytest.raises(ValueError, match="unsupported PNG"):
        png_decode(png)


def test_png_truncated_stream_raises():
    png = png_encode(4, 3, 1, _rows(4, 3, 1))
    with pytest.raises(ValueError):
        png_decode(png[:40])


def test_wav_eight_bit_raises():
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes(range(16)))
    with pytest.raises(ValueError, match="8-bit"):
        wav_decode(buf.getvalue())


def test_wav_stereo_raises():
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(bytes(16))
    with pytest.raises(ValueError, match="2 channels"):
        wav_decode(buf.getvalue())


def test_wav_not_riff_raises():
    with pytest.raises(ValueError, match="bad WAV"):
        wav_decode(b"NOTAWAVE" * 8)
