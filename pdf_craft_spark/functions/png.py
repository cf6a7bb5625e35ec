"""Pure-stdlib PNG pixel codec (zlib + numpy, no imaging library or ffmpeg).

The reference stores page images as content-addressed PNGs
(/root/reference/pdf_craft/common/asset.py:16-34) and decodes them inside
the external OCR model; this engine needs the pixels itself for media
features and thumbnailing.  The container format is public and simple:
IDAT is a zlib stream (stdlib ``zlib``) of per-scanline filtered rows, so
8-bit non-interlaced RGB — the corpus's shape, and the overwhelmingly
common photographic layout — decodes with nothing but the standard
library.  Anything else (palette, 16-bit, interlaced, grayscale+alpha)
returns None and the caller falls back to its deterministic stub.

Chunk CRC32s are intentionally NOT validated on decode, and the encoder
writes md5-derived filler there: the DuckDB oracle must be able to
recompute every produced byte in SQL, and CRC32's bitwise polynomial has
no SQL spelling — whereas the zlib layer's adler32 is two modular sums,
which both engines CAN compute, so the zlib stream itself (the part
``zlib.decompress`` verifies) is always genuinely valid.  A full-CRC
writer lives in tests/test_multimodal_png.py and round-trips through this
decoder.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np

PNG_SIG = bytes.fromhex("89504E470D0A1A0A")

# Inflate guard: payloads are untrusted, and IHDR dims go to 2^31-1 — a
# few-KB bomb declaring 40000x40000 would otherwise allocate ~4.8 GB
# BEFORE the length check.  Dims above this bound decode to None (the
# caller falls back to IHDR-dims + stub features), and the inflate itself
# is capped at the declared size so a lying stream can never overshoot.
# 2^26 px ≈ 201 MB of raw scanlines — comfortably above any real page
# scan (A2 print at 600 dpi ≈ 35 MP).
MAX_DECODE_PIXELS = 1 << 26

# CPU-amplification guard for the two inherently SERIAL filters: Average
# and Paeth reconstruction depend on the previous byte in the same row AND
# the previous row, so they run as per-byte Python loops — a hostile but
# valid PNG at the full MAX_DECODE_PIXELS bound using them would cost
# ~200M Python iterations (minutes of executor CPU).  The bound is on the
# SERIAL WORK itself (pixels in Average/Paeth scanlines), not total image
# size, so a large photo with a handful of adaptive-filter rows still
# decodes — only a stream whose serial rows alone exceed 1 MP (~3M loop
# iterations, under a second) degrades to None.  None/Up/Sub reconstruct
# fully vectorized and never count toward this.  The memory bomb is a
# separate, earlier guard (MAX_DECODE_PIXELS + bounded inflate).
MAX_SERIAL_FILTER_PIXELS = 1 << 20


def _iter_chunks(content: bytes):
    off = 8
    while off + 8 <= len(content):
        ln, tag = struct.unpack(">I4s", content[off : off + 8])
        data = content[off + 8 : off + 8 + ln]
        if len(data) < ln:
            return  # truncated
        yield tag, data
        off += 12 + ln  # skip CRC (see module docstring)
        if tag == b"IEND":
            return


def decode_png_rgb(content: bytes) -> "np.ndarray | None":
    """Decode an 8-bit non-interlaced RGB PNG → uint8 array (h, w, 3);
    None for any other layout or a broken container/zlib stream."""
    if len(content) < 8 or content[:8] != PNG_SIG:
        return None
    w = h = None
    idat: list[bytes] = []
    for tag, data in _iter_chunks(content):
        if tag == b"IHDR":
            if len(data) < 13:
                return None
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data[:13]
            )
            if depth != 8 or color != 2 or comp != 0 or filt != 0 or interlace != 0:
                return None
        elif tag == b"IDAT":
            idat.append(data)
    if not w or not h or not idat:
        return None
    if w * h > MAX_DECODE_PIXELS:
        return None
    stride = 3 * w
    expected = h * (stride + 1)
    try:
        # bounded inflate: ask for at most expected+1 bytes — a stream
        # that would produce more stops there (caught by the length
        # check) instead of materializing an unbounded buffer; a stream
        # that ends exactly on time still reaches its trailer, so the
        # adler32 is verified as usual (raises on mismatch)
        z = zlib.decompressobj()
        raw = z.decompress(b"".join(idat), expected + 1)
    except zlib.error:
        return None
    if len(raw) != expected or not z.eof:
        return None
    mat = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters = mat[:, 0]
    if filters.max(initial=0) > 4:
        return None
    serial = np.isin(filters, (3, 4))
    if int(serial.sum()) * w > MAX_SERIAL_FILTER_PIXELS:
        return None  # see MAX_SERIAL_FILTER_PIXELS
    if not filters.any():
        # filter 0 everywhere — the corpus's path: one vectorized copy
        return mat[:, 1:].reshape(h, w, 3).copy()
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = int(filters[y])
        line = mat[y, 1:].copy()
        if f == 0:
            pass
        elif f == 2:  # Up: pure elementwise, mod-256 wrap
            line = (line.astype(np.int16) + prev).astype(np.uint8)
        elif f == 1:  # Sub: a per-channel prefix sum — cumsum in int64
            # commutes with mod 256, so the lane-wise cumulative sum is the
            # exact serial reconstruction, fully vectorized
            line = (
                (np.cumsum(line.reshape(w, 3).astype(np.int64), axis=0) & 0xFF)
                .astype(np.uint8)
                .reshape(stride)
            )
        elif f == 3:  # Average (serial: depends on left AND up; capped above)
            for x in range(stride):
                a = int(line[x - 3]) if x >= 3 else 0
                line[x] = (int(line[x]) + ((a + int(prev[x])) >> 1)) & 0xFF
        else:  # f == 4, Paeth (serial in both axes; capped above)
            for x in range(stride):
                a = int(line[x - 3]) if x >= 3 else 0
                b = int(prev[x])
                c = int(prev[x - 3]) if x >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (int(line[x]) + pred) & 0xFF
        out[y] = line
        prev = out[y]
    return out.reshape(h, w, 3)


def encode_png_rgb(arr: "np.ndarray") -> bytes:
    """Encode uint8 (h, w, 3) → PNG with filter-0 scanlines in ONE
    stored-mode deflate block plus a real adler32 — the exact layout the
    SQL oracle rebuilds hex-for-hex (stored deflate is header+raw bytes;
    adler32 is two modular sums).  Chunk CRCs are md5(pixhex)-derived
    filler (module docstring); decode_png_rgb round-trips the output."""
    h, w, _ = arr.shape
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    # stored blocks cap at 0xFFFF bytes; corpus-sized images fit one block
    # (which is what the SQL twin emits) and the chunking below produces
    # exactly that single '01'-headed block for them — larger images just
    # get more blocks, same stream semantics
    blocks = []
    off = 0
    while True:
        chunk = raw[off : off + 0xFFFF]
        off += len(chunk)
        final = off >= len(raw)
        blocks.append(
            (b"\x01" if final else b"\x00")
            + len(chunk).to_bytes(2, "little")
            + (0xFFFF - len(chunk)).to_bytes(2, "little")
            + chunk
        )
        if final:
            break
    z = (
        b"\x78\x01"
        + b"".join(blocks)
        + (zlib.adler32(raw) & 0xFFFFFFFF).to_bytes(4, "big")
    )
    pixhex = arr.tobytes().hex().upper()
    ihdr_crc = bytes.fromhex(hashlib.md5((pixhex + "|tcrc").encode()).hexdigest()[:8])
    idat_crc = bytes.fromhex(hashlib.md5((pixhex + "|ticrc").encode()).hexdigest()[:8])
    return (
        PNG_SIG
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        + ihdr_crc
        + struct.pack(">I", len(z))
        + b"IDAT"
        + z
        + idat_crc
        + struct.pack(">I", 0)
        + b"IEND"
        + bytes.fromhex("AE426082")  # the one constant real CRC (empty IEND)
    )


def resample_nearest(arr: "np.ndarray", tw: int, th: int) -> "np.ndarray":
    """Nearest-neighbor resample via floor-division index maps — the same
    integer arithmetic ((t*src)//target) the SQL oracle uses, so the
    selected source pixels are bit-identical across surfaces."""
    h, w, _ = arr.shape
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return arr[ys][:, xs]


def rgb_features(arr: "np.ndarray") -> list[float]:
    """Real pixel statistics as the 8-dim feature vector: per-channel
    means, global min/max, global mean, first/last byte.  Integer sums
    with one double division each — bit-identical to the oracle's
    CAST(sum AS DOUBLE)/CAST(count AS DOUBLE)."""
    h, w, _ = arr.shape
    wh = w * h
    s = arr.reshape(-1, 3).sum(axis=0, dtype=np.int64)
    return [
        int(s[0]) / wh,
        int(s[1]) / wh,
        int(s[2]) / wh,
        float(arr.min()),
        float(arr.max()),
        int(s.sum()) / (3 * wh),
        float(arr[0, 0, 0]),
        float(arr[-1, -1, 2]),
    ]
