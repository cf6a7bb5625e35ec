"""Real PNG dimension extraction — S2's no-codec-needed half.

A fully VALID png (real zlib IDAT, real CRC32 chunks, written by plain
stdlib code below — the container format is public and trivial) goes
through both extraction paths:

- the Arrow kernel (parse_png_dims / _decode_bytes): struct.unpack of the
  actual IHDR bytes;
- the JVM path (media_metadata): conv(substring(hex(content), 33, 8), 16,
  10) over the same bytes.

Both must read back the exact dimensions the writer put in, for assorted
sizes, and non-PNG payloads must yield NULL/stub.
"""

from __future__ import annotations

import binascii
import struct
import zlib

from pdf_craft_spark.functions.multimodal import (
    _decode_bytes,
    media_metadata,
    parse_png_dims,
    resize_media,
    thumb_dims,
)


def make_png(width: int, height: int, rgb=(120, 30, 200)) -> bytes:
    """Minimal but fully valid RGB PNG: signature, IHDR, one IDAT holding
    zlib-compressed filter-0 scanlines, IEND — every chunk CRC32-correct."""

    def chunk(tag: bytes, payload: bytes) -> bytes:
        crc = binascii.crc32(tag + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    row = b"\x00" + bytes(rgb) * width
    idat = zlib.compress(row * height)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


SIZES = [(1, 1), (16, 16), (640, 480), (4096, 2160), (2, 4095)]


def test_parse_png_dims_roundtrip():
    for w, h in SIZES:
        png = make_png(w, h)
        assert parse_png_dims(png) == (w, h)
        kw, kh, nf, feat = _decode_bytes(png, "image/png")
        assert (kw, kh, nf) == (w, h, 1)
        assert len(feat) == 8
    # non-PNG payloads fall back to the stub, never the IHDR parse
    assert parse_png_dims(b"\x00" * 64) is None
    assert parse_png_dims(b"") is None
    # truncated: signature only, no IHDR
    assert parse_png_dims(b"\x89PNG\r\n\x1a\n") is None


def test_media_metadata_jvm_png_dims(spark):
    rows = [(f"p{i}", "image/png", make_png(w, h)) for i, (w, h) in enumerate(SIZES)]
    rows.append(("x0", "audio/wav", b"\x01\x02\x03\x04" * 10))
    # PNG signature but no IHDR chunk (truncated/CgBI-style): both paths
    # must refuse to read "dimensions" from the wrong bytes
    rows.append(("x1", "image/png", b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x04CgBI" + b"\x00" * 16))
    df = spark.createDataFrame(
        rows, "media_ref string, mime string, content binary"
    )
    out = {r.media_ref: r for r in media_metadata(df).collect()}
    for i, (w, h) in enumerate(SIZES):
        r = out[f"p{i}"]
        assert (r.png_width, r.png_height) == (w, h)
        assert r.magic == "89504E47"
    assert out["x0"].png_width is None and out["x0"].png_height is None
    assert out["x1"].png_width is None and out["x1"].png_height is None
    # the kernel agrees on the same bytes (no IHDR -> no dimension parse)
    assert parse_png_dims(rows[-1][2]) is None


def test_real_decode_path_uses_ihdr_when_codec_absent():
    """With no imaging codec at all, a PNG's dimensions are the real ones
    (kernel upgraded from stub to byte parse)."""
    png = make_png(123, 77)
    w, h, nf, _ = _decode_bytes(png, "image/png")
    assert (w, h, nf) == (123, 77, 1)


def test_thumb_dims_fit_math():
    assert thumb_dims(100, 200) == (100, 200)  # inside the box: pass-through
    assert thumb_dims(256, 256) == (256, 256)
    assert thumb_dims(800, 400) == (256, 128)
    assert thumb_dims(400, 800) == (128, 256)
    assert thumb_dims(257, 1) == (256, 1)  # floor never reaches 0
    assert thumb_dims(1, 10000) == (1, 256)
    assert thumb_dims(512, 512) == (256, 256)  # w >= h tie takes the w branch


def test_resize_media_reads_real_dims_and_writes_parsable_thumbs(spark):
    rows = [
        ("big", "image/png", make_png(800, 400)),
        ("small", "image/png", make_png(60, 40)),
        ("aud", "audio/wav", b"\x01\x02" * 16),  # non-image: excluded
    ]
    df = spark.createDataFrame(rows, "media_ref string, mime string, content binary")
    out = {r.media_ref: r for r in resize_media(df).collect()}
    assert set(out) == {"big#thumb256", "small#thumb256"}
    # the produced container carries the REAL fit targets in its IHDR
    assert parse_png_dims(bytes(out["big#thumb256"].content)) == (256, 128)
    assert parse_png_dims(bytes(out["small#thumb256"].content)) == (60, 40)


def test_dhash_bits_pinned_and_roundtrip():
    """The perceptual hash is pure integer math: pinned regression value
    on a fixed array, 64 '0'/'1' chars, and identical after a real
    PNG encode → zlib decode round trip (the kernel's actual input
    path)."""
    import numpy as np

    from pdf_craft_spark.functions.multimodal import dhash_bits
    from pdf_craft_spark.functions.png import decode_png_rgb, encode_png_rgb

    rng = np.random.RandomState(3)
    a = rng.randint(0, 256, size=(10, 13, 3), dtype=np.uint8)
    h = dhash_bits(a)
    assert h == "0100100101010000110101010011001000110110101000100000011010101010"
    assert len(h) == 64 and set(h) <= {"0", "1"}
    out = decode_png_rgb(encode_png_rgb(a))
    assert out is not None and dhash_bits(out) == h
    # a uniform image has no gradient anywhere → all-zero hash
    assert dhash_bits(np.full((6, 7, 3), 99, dtype=np.uint8)) == "0" * 64


# --- WAV modality -------------------------------------------------------------
def test_decode_wav_pcm16_roundtrip_and_rejects():
    import struct

    import numpy as np
    import pytest

    from pdf_craft_spark.functions.multimodal import (
        WAV_HEADER_HEX,
        WAV_N_SAMPLES,
        WAV_SAMPLE_RATE,
        decode_wav_pcm16,
    )

    samples = np.arange(-32768, -32768 + WAV_N_SAMPLES, dtype="<i2")
    b = bytes.fromhex(WAV_HEADER_HEX) + samples.tobytes()
    rate, got = decode_wav_pcm16(b)
    assert rate == WAV_SAMPLE_RATE
    assert got.tolist() == samples.astype("int64").tolist()
    # the constant header's sizes must equal what struct.pack derives
    dsize = WAV_N_SAMPLES * 2
    assert bytes.fromhex(WAV_HEADER_HEX) == (
        b"RIFF" + struct.pack("<I", 36 + dsize) + b"WAVE" + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, WAV_SAMPLE_RATE, WAV_SAMPLE_RATE * 2, 2, 16)
        + b"data" + struct.pack("<I", dsize)
    )
    for bad in (b"RIFX" + b[4:], b[:40], b[:44] + samples.tobytes()[:10]):
        with pytest.raises(ValueError):
            decode_wav_pcm16(bad)


def test_mp4_box_walk_and_rejects():
    import struct

    import pytest

    from pdf_craft_spark.functions.multimodal import (
        MP4_PREFIX_HEX,
        MP4_SUFFIX_HEX,
        parse_mp4_metadata,
        walk_mp4_boxes,
    )

    b = bytes.fromhex(MP4_PREFIX_HEX) + struct.pack(">I", 12345) + bytes.fromhex(
        MP4_SUFFIX_HEX
    )
    assert len(b) == 132
    assert [cc for cc, _ in walk_mp4_boxes(b)] == [b"ftyp", b"moov"]
    assert parse_mp4_metadata(b) == ("isom", 1000, 12345)
    for bad in (b[:20], b[:4] + b"fty", struct.pack(">I", 3) + b"ftyp"):
        with pytest.raises(ValueError):
            list(walk_mp4_boxes(bad))
