"""Video tier tests: GIF-flavored LZW codec roundtrips (including the
12-bit table cap / CLEAR reset and the KwKwK self-referential code),
GIF89a container roundtrip vs the synthesis formula, corruption
detection, and the registered frame-sampling query's shape."""

from __future__ import annotations

import pytest

from etl_data_ingestion_spark.operators.video import (
    lzw_decode,
    lzw_encode,
    parse_gif,
    synth_gif,
)
from etl_data_ingestion_spark.plans import registry

registry.load_all()


def test_lzw_roundtrip_paths():
    cases = [
        b"",
        b"\x00",
        bytes(range(256)),
        b"ababababababab" * 3,  # KwKwK pattern territory
        bytes((i * 7 + (i >> 3)) % 256 for i in range(50_000)),  # forces
        # width growth to 12 bits and at least one CLEAR/reset cycle
    ]
    for data in cases:
        assert lzw_decode(lzw_encode(data)) == data


def test_lzw_kwkwk_specific():
    # 'aaaa...' produces the classic code==next_code case immediately
    data = b"\x05" * 64
    assert lzw_decode(lzw_encode(data)) == data


def test_lzw_rejects_corrupt_stream():
    enc = bytearray(lzw_encode(bytes(range(100))))
    with pytest.raises(ValueError):
        # truncating mid-stream removes the EOI code
        lzw_decode(bytes(enc[: len(enc) // 2]))


def test_gif_roundtrip_matches_synthesis_formula():
    for d in (0, 3, 7, 42, 119):
        w, h, frames = parse_gif(synth_gif(d))
        assert (w, h) == (16 + d % 8, 8 + d % 4)
        assert len(frames) == 3 + d % 4
        for f, (delay_cs, idx) in enumerate(frames):
            assert delay_cs == 4 + (d + f) % 5
            assert idx == bytes(
                (7 * d + 13 * f + i) % 256 for i in range(w * h)
            )


def test_gif_rejects_bad_magic():
    with pytest.raises(ValueError):
        parse_gif(b"NOTGIF" + b"\x00" * 20)


def test_video_frames_query_shape(spark, sf_dir):
    df = registry.QUERIES["multimodal_video_frames_real"](spark, sf_dir)
    rows = df.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc, "no sampled frames produced"
    for doc_id, frs in by_doc.items():
        assert len(frs) == 2  # k=2 uniform samples
        n = frs[0].n_frames
        assert {f.frame_idx for f in frs} == {
            (n * 1) // 4,
            (n * 3) // 4,
        }
        for f in frs:
            # decoded pixel sum must match the synthesis closed form
            a = (7 * doc_id + 13 * f.frame_idx) % 256
            p = f.width * f.height
            expect = sum((a + i) % 256 for i in range(p))
            assert f.pixel_sum == expect
