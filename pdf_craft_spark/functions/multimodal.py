"""Multimodal (image/audio/video) columns as opaque binary + typed metadata.

The reference's media handling is content-addressed PNG storage
(/root/reference/pdf_craft/common/asset.py:16-34) with decode happening in
the external OCR model.  At training-data scale the engine treats media as
``binary`` columns flowing through Arrow batches:

- metadata extraction (size, content hash, magic sniff) — pure Catalyst,
  JVM-side, oracle-checkable;
- decode / resize / frame-sample — Arrow-batched kernels over
  ``mapInPandas``.  RGB PNG pixel work is REAL by default, pure stdlib
  (functions/png.py: zlib inflate/deflate + unfilter/filter) — decode,
  pixel statistics, nearest-neighbor thumbnails.  Exotic image layouts
  fall back to the real IHDR dimensions and then to a deterministic stub
  that preserves the real schema, batch shape, and partitioning.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("mime", T.StringType(), False),
        T.StructField("content", T.BinaryType(), False),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("mime", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)

FEATURE_DIM = 8


PNG_SIG_HEX = "89504E470D0A1A0A"
IHDR_TAG_HEX = "49484452"  # b'IHDR' at bytes 13-16 (hex chars 25-32)


def media_metadata(media: DataFrame) -> DataFrame:
    """JVM-side metadata: length, content address, magic sniff, and REAL
    PNG dimensions.  This is the content-addressing step (S6) — dedup by
    hash downstream.  The hash is sha-256 over the (uppercase) hex
    encoding: byte-identical across engines whose hash functions only take
    strings.

    PNG width/height live at fixed IHDR byte offsets (16-19 / 20-23,
    big-endian) — no codec needed: ``conv(substring(hex(content), 33, 8),
    16, 10)`` reads the actual bytes, NULL for non-PNG payloads."""
    hexed = F.hex(F.col("content"))
    # signature AND the IHDR chunk tag at bytes 13-16 — mirrors the Arrow
    # kernel's parse_png_dims exactly, so both extraction surfaces agree
    # on signature-without-IHDR payloads (truncated/CgBI/corrupt files)
    is_png = (
        (F.substring(hexed, 1, 16) == PNG_SIG_HEX)
        & (F.substring(hexed, 25, 8) == IHDR_TAG_HEX)
        & (F.length("content") >= 24)
    )
    png_w = F.conv(F.substring(hexed, 33, 8), 16, 10).cast("int")
    png_h = F.conv(F.substring(hexed, 41, 8), 16, 10).cast("int")
    return media.select(
        "media_ref",
        "mime",
        F.length("content").alias("n_bytes"),
        F.sha2(hexed, 256).alias("content_hash"),
        F.substring(hexed, 1, 8).alias("magic"),
        F.when(is_png, png_w).alias("png_width"),
        F.when(is_png, png_h).alias("png_height"),
    )


def _decode_stub(content: bytes, mime: str) -> tuple[int, int, int, list[float]]:
    """Deterministic stub decode → (width, height, n_frames, feature vec).

    Derived from ``md5(hex(content))`` through ascii codes of the hex
    digest's characters, so a SQL oracle can recompute it exactly
    (``ascii(substr(md5(hex(content)), i, 1))`` in both Spark and DuckDB);
    features are ``ascii/256.0`` — dyadic rationals, bit-exact doubles in
    every engine.  Keeps downstream shapes honest: an 8-dim 'embedding'
    per object."""
    h = hashlib.md5(content.hex().upper().encode("ascii")).hexdigest()
    a = [ord(c) for c in h]  # ascii codes of the 32 hex chars
    width = 64 + (a[0] * 16 + a[1]) % 192
    height = 64 + (a[2] * 16 + a[3]) % 192
    n_frames = 1 if mime.startswith("image/") else 1 + (a[4] * 16 + a[5]) % 32
    feature = [a[6 + i] / 256.0 for i in range(FEATURE_DIM)]
    return width, height, n_frames, feature


_PNG_SIG = bytes.fromhex(PNG_SIG_HEX)


def parse_png_dims(content: bytes) -> tuple[int, int] | None:
    """REAL dimension extraction from the PNG IHDR chunk — width/height
    are big-endian uint32 at byte offsets 16-23, directly after the
    8-byte signature and the IHDR length+type; no codec involved (the
    same header parse an image library does for its size)."""
    if len(content) >= 24 and content[:8] == _PNG_SIG and content[12:16] == b"IHDR":
        import struct

        w, h = struct.unpack(">II", content[16:24])
        return int(w), int(h)
    return None


def _probe_dims(content: bytes, mime: str) -> tuple[int, int]:
    """The dimension ladder BELOW the stdlib pixel decode — for callers
    that already know decode_png_rgb returned None and must not pay for
    a second inflate attempt: IHDR parse → stub."""
    dims = parse_png_dims(content) if mime == "image/png" else None
    if dims is not None:
        return dims
    w, h, _, _ = _decode_stub(content, mime)
    return w, h


def _decode_bytes(content: bytes, mime: str) -> tuple[int, int, int, list[float]]:
    """Decode one media payload → (width, height, n_frames, feature vec).

    PNG payloads go through the REAL pure-stdlib pixel decode first
    (functions/png.py: zlib inflate + unfilter) — dims and features are
    then actual pixel statistics, by default, with no optional codec.
    PNGs the stdlib decoder can't handle (exotic layouts) fall back to
    REAL IHDR dims (parse_png_dims) + stub features, then to the full
    stub."""
    if mime == "image/png":
        from pdf_craft_spark.functions.png import decode_png_rgb, rgb_features

        arr = decode_png_rgb(content)
        if arr is not None:
            hgt, wdt = arr.shape[:2]
            return wdt, hgt, 1, rgb_features(arr)
    dims = parse_png_dims(content) if mime == "image/png" else None
    if dims is not None:
        _, _, _, feature = _decode_stub(content, mime)
        return dims[0], dims[1], 1, feature
    return _decode_stub(content, mime)


def extract_media_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature kernel over mapInPandas.

    Partitioning note: media rows are independent → narrow op, no shuffle;
    at 100 TB the only knob is input split size (media blobs dominate
    bytes, so smaller maxPartitionBytes than for text tables)."""
    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(media.sparkSession)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, mime, content in zip(pdf["media_ref"], pdf["mime"], pdf["content"]):
                w, hgt, nf, feat = _decode_bytes(bytes(content), mime)
                rows.append((ref, mime, len(content), w, hgt, nf, feat))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref",
                    "mime",
                    "n_bytes",
                    "width",
                    "height",
                    "n_frames",
                    "feature",
                ],
            )

    return media.mapInPandas(kernel, schema=FEATURE_SCHEMA)


# --- perceptual difference hash (image near-dup index) ----------------------
# dHash: gray the pixels (integer (r+g+b)//3), nearest-neighbor-sample a
# 9-wide x 8-high grid with the same (t*src)//target floor-division index
# maps as resample_nearest, then emit one bit per horizontal neighbor pair
# (g[y][x] > g[y][x+1]) — 64 bits total.  Near-identical images (recompress,
# light crop/resize) land within a few bits of each other; banding the hash
# into 4 x 16-bit keys gives the standard Hamming-robust equi-join index
# (same dataflow as the text-side MinHash bands).  Pure integer math end to
# end, so the SQL oracle reproduces every bit from the generation recipe's
# pixel hex.
DHASH_GRID_W, DHASH_GRID_H = 9, 8
DHASH_N_BITS = (DHASH_GRID_W - 1) * DHASH_GRID_H  # 64
DHASH_BANDS = 4
DHASH_BAND_W = DHASH_N_BITS // DHASH_BANDS  # derived — retuning DHASH_BANDS
# reshapes kernel slices, schema, and the SQL oracle together
assert DHASH_N_BITS % DHASH_BANDS == 0


def dhash_bits(arr) -> str:
    """64-bit difference hash of an RGB uint8 array as a '0'/'1' string."""
    import numpy as np

    h, w, _ = arr.shape
    gray = arr.astype(np.int64).sum(axis=2) // 3  # integer gray, oracle-exact
    ys = (np.arange(DHASH_GRID_H) * h) // DHASH_GRID_H
    xs = (np.arange(DHASH_GRID_W) * w) // DHASH_GRID_W
    g = gray[ys][:, xs]  # (8, 9)
    return "".join("1" if b else "0" for b in (g[:, :-1] > g[:, 1:]).ravel())


DHASH_SCHEMA = "media_ref string, dhash string, " + ", ".join(
    f"band{i} string" for i in range(DHASH_BANDS)
)


def dhash_media(media: DataFrame) -> DataFrame:
    """(media_ref, dhash, band0..band3) perceptual-hash index over image
    payloads — the image twin of the text MinHash band index (image dedup
    is a first-class training-data operation: recompressed/lightly-edited
    duplicates share bands, exact pixels share the full hash).  Narrow
    Arrow kernel, rows independent, no shuffle; rows the stdlib decoder
    can't read are dropped (every corpus image is a decodable generated
    PNG, so the oracle's mime filter selects the identical set)."""
    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(media.sparkSession)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdf_craft_spark.functions.png import decode_png_rgb

        cols = ["media_ref", "dhash"] + [f"band{i}" for i in range(DHASH_BANDS)]
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                arr = decode_png_rgb(bytes(content))
                if arr is None:
                    continue
                hsh = dhash_bits(arr)
                rows.append(
                    (
                        ref,
                        hsh,
                        *[
                            hsh[DHASH_BAND_W * i : DHASH_BAND_W * (i + 1)]
                            for i in range(DHASH_BANDS)
                        ],
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.filter(F.col("mime").like("image/%")).mapInPandas(
        kernel, schema=DHASH_SCHEMA
    )


THUMB_MAX_DIM = 256


def thumb_dims(w: int, h: int, max_dim: int = THUMB_MAX_DIM) -> tuple[int, int]:
    """Aspect-preserving fit into max_dim×max_dim, pure integer math
    (floor division) so a SQL oracle reproduces it bit-exactly; images
    already inside the box pass through unscaled."""
    if w <= max_dim and h <= max_dim:
        return w, h
    if w >= h:
        return max_dim, max(1, (h * max_dim) // w)
    return max(1, (w * max_dim) // h), max_dim


def _stub_thumb_png(src_hex: str, w: int, h: int) -> bytes:
    """Deterministic stand-in for the resized payload: a PNG-structured
    container whose IHDR carries the REAL target dimensions (so
    downstream dimension reads work on actual bytes), with md5-derived
    CRC/pixel filler — the same construction recipe as the synthetic
    source payloads (payload_hex_sql), and equally SQL-reproducible."""
    hexstr = (
        PNG_SIG_HEX
        + "0000000D"
        + IHDR_TAG_HEX
        + f"{w:08X}{h:08X}"
        + "0802000000"
        + hashlib.md5((src_hex + "|tcrc").encode("ascii")).hexdigest()[:8].upper()
        + hashlib.md5((src_hex + "|t2").encode("ascii")).hexdigest().upper()
    )
    return bytes.fromhex(hexstr)


def resize_media(media: DataFrame, max_dim: int = THUMB_MAX_DIM) -> DataFrame:
    """Thumbnail stage for image payloads: Arrow-batched mapInPandas rows
    (media_ref#thumb<max_dim>, image/png, thumb bytes) — the derived-asset
    shape of the reference's content-addressed store (common/asset.py:
    16-34: assets are written once, addressed by content).

    For RGB PNGs this is REAL pixel work, pure stdlib: decode (zlib
    inflate + unfilter), nearest-neighbor resample via floor-division
    index maps, re-encode as a valid-zlib PNG (functions/png.py) — the
    oracle rebuilds the identical bytes in SQL.  Exotic layouts fall back
    to the IHDR-dims container stub.  Narrow op: rows independent, no
    shuffle."""
    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(media.sparkSession)
    images = media.filter(F.col("mime").startswith("image/"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdf_craft_spark.functions.png import (
            decode_png_rgb,
            encode_png_rgb,
            resample_nearest,
        )

        for pdf in batches:
            rows = []
            for ref, mime, content in zip(pdf["media_ref"], pdf["mime"], pdf["content"]):
                content = bytes(content)
                arr = decode_png_rgb(content) if mime == "image/png" else None
                if arr is not None:
                    hgt, w = arr.shape[:2]
                    tw, th = thumb_dims(w, hgt, max_dim)
                    thumb = encode_png_rgb(resample_nearest(arr, tw, th))
                    rows.append((f"{ref}#thumb{max_dim}", "image/png", thumb))
                    continue
                # the stdlib decode just failed (or non-PNG mime) — probe
                # dims WITHOUT re-running it (same ladder _decode_bytes
                # uses below the stdlib step: IHDR → stub)
                w, hgt = _probe_dims(content, mime)
                tw, th = thumb_dims(w, hgt, max_dim)
                thumb = _stub_thumb_png(content.hex().upper(), tw, th)
                rows.append((f"{ref}#thumb{max_dim}", "image/png", thumb))
            yield pd.DataFrame(rows, columns=["media_ref", "mime", "content"])

    return images.mapInPandas(kernel, schema=MEDIA_SCHEMA)


def sample_frames(media: DataFrame, every_nth: int = 8) -> DataFrame:
    """Frame sampling for video mimes: emits (media_ref, frame_index,
    frame_ref) rows — the fan-out shape real frame extraction has; frame
    payload production is part of the stubbed decode."""
    feats = extract_media_features(media)
    frames = feats.select(
        "media_ref",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_nth))
        ).alias("frame_index"),
    )
    return frames.withColumn(
        "frame_ref",
        F.concat_ws("#", F.col("media_ref"), F.col("frame_index").cast("string")),
    )


# --- synthetic payload construction -----------------------------------------
# Engine-portable (identical recipe rendered per engine): image/png rows
# carry a fully VALID non-interlaced 8-bit RGB PNG — real signature/IHDR,
# md5-derived pixel bytes packed as filter-0 scanlines into ONE stored-mode
# deflate block with a REAL adler32 — so the Arrow kernels genuinely
# zlib-decode the payloads while the DuckDB oracle rebuilds every byte in
# SQL (stored deflate = header + raw bytes; adler32 = two modular sums).
# Only the chunk CRC32 fields are md5 filler: CRC32's bitwise polynomial
# has no SQL spelling, and decode ignores chunk CRCs (functions/png.py).
# Other mimes stay opaque md5 bytes.
_IDIOMS: dict[str, dict[str, str]] = {
    "spark": {
        "hex2long": "CAST(conv({h}, 16, 10) AS BIGINT)",
        "seq": "sequence(CAST({a} AS BIGINT), CAST({b} AS BIGINT))",
        "tf": "transform({arr}, {v} -> {body})",
        "join": "array_join({arr}, '')",
        "lsum": "aggregate({arr}, CAST(0 AS BIGINT), (acc, x) -> acc + x)",
        "lmin": "array_min({arr})",
        "lmax": "array_max({arr})",
        "idiv": "({a} div {b})",
    },
    "duck": {
        "hex2long": "CAST(('0x' || {h}) AS BIGINT)",
        "seq": "generate_series(CAST({a} AS BIGINT), CAST({b} AS BIGINT))",
        "tf": "list_transform({arr}, {v} -> {body})",
        "join": "list_aggregate({arr}, 'string_agg', '')",
        "lsum": "list_sum({arr})",
        "lmin": "list_aggregate({arr}, 'min')",
        "lmax": "list_aggregate({arr}, 'max')",
        "idiv": "({a} // {b})",
    },
}

def png_stream_layers(
    engine: str, pix: str, w: str, h: str, crc_seed: str, prefix: str
) -> list[tuple[str, str]]:
    """(column, expr) layers turning pixel-hex column `pix` (dims `w`/`h`)
    into a complete PNG hex string column ``{prefix}png``.

    The byte layout matches functions/png.py's encode_png_rgb exactly:
    sig · IHDR(w,h,8,2,0,0,0) · IDAT[ 0x7801 · stored-block(LEN/NLEN le) ·
    filter-0 scanlines · adler32(be) ] · IEND.  ``crc_seed`` is the string
    expression the md5 CRC filler derives from ('text' for source
    payloads, the thumb's own pixel hex for thumbnails)."""
    e = _IDIOMS[engine]
    p = prefix
    raw = e["join"].format(
        arr=e["tf"].format(
            arr=e["seq"].format(a="1", b=h),
            v="r",
            body=(
                f"'00' || substr({pix}, CAST((r-1)*6*{w} + 1 AS INT), "
                f"CAST(6*{w} AS INT))"
            ),
        )
    )
    byte_i = e["hex2long"].format(h=f"substr({p}raw, CAST(2*i - 1 AS INT), 2)")
    sumb = e["lsum"].format(
        arr=e["tf"].format(arr=e["seq"].format(a="1", b=f"{p}nb"), v="i", body=byte_i)
    )
    sumw = e["lsum"].format(
        arr=e["tf"].format(
            arr=e["seq"].format(a="1", b=f"{p}nb"),
            v="i",
            body=f"({p}nb - i + 1) * {byte_i}",
        )
    )
    nb = f"{p}nb"
    png = (
        "'89504E470D0A1A0A'"
        # IHDR: length 13, tag, dims, bit depth 8 / color 2 / no interlace
        f" || '0000000D49484452' || lpad(hex({w}), 8, '0') || "
        f"lpad(hex({h}), 8, '0') || '0802000000' || "
        f"upper(substr(md5({crc_seed} || '|{p}crc'), 1, 8))"
        # IDAT: len = 2 (zlib hdr) + 5 (stored hdr) + nb + 4 (adler)
        f" || lpad(hex({nb} + 11), 8, '0') || '49444154' || '780101' || "
        f"lpad(hex({nb} % 256), 2, '0') || "
        f"lpad(hex({e['idiv'].format(a=nb, b='256')}), 2, '0') || "
        f"lpad(hex((65535 - {nb}) % 256), 2, '0') || "
        f"lpad(hex({e['idiv'].format(a=f'(65535 - {nb})', b='256')}), 2, '0') || "
        f"{p}raw || "
        f"lpad(hex(({nb} + {p}sumw) % 65521), 4, '0') || "
        f"lpad(hex((1 + {p}sumb) % 65521), 4, '0') || "
        f"upper(substr(md5({crc_seed} || '|{p}icrc'), 1, 8))"
        # IEND with its one constant (real) CRC
        " || '0000000049454E44AE426082'"
    )
    return [
        (f"{p}raw", raw),
        (f"{p}nb", f"{h} * (3*{w} + 1)"),
        (f"{p}sumb", sumb),
        (f"{p}sumw", sumw),
        (f"{p}png", png),
    ]


# --- audio modality: RIFF/WAVE PCM16 payloads --------------------------------
# Audio rows (doc_id % 3 = 2) carry a COMPLETE, spec-valid WAV container:
# the 44-byte canonical PCM header (mono, 16-bit, 8 kHz — constant, so its
# hex is a literal, rendered below via struct.pack semantics) followed by
# WAV_N_SAMPLES little-endian int16 samples drawn from an md5 stream.  The
# Spark kernel genuinely PARSES the bytes (magic checks, chunk walk,
# np.frombuffer) — the real decode plumbing the multimodal contract wants —
# while the DuckDB oracle recomputes the features arithmetically from the
# same sample recipe, never parsing a byte: agreement proves the container
# layout, the endianness handling, and the feature math all at once.
WAV_N_SAMPLES = 64
WAV_SAMPLE_RATE = 8000
WAV_HEADER_HEX = (
    "52494646A400000057415645666D7420100000000100"
    "0100401F0000803E0000020010006461746180000000"
)


def decode_wav_pcm16(b: bytes):
    """Parse a canonical PCM16 WAV: returns (sample_rate, samples int64
    ndarray).  Raises on malformed containers — extraction must fail
    loudly, not emit garbage features."""
    import struct

    import numpy as np

    if len(b) < 44:
        raise ValueError("shorter than the canonical PCM16 header")
    if b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    if b[12:16] != b"fmt ":
        raise ValueError("fmt chunk not where the canonical header puts it")
    (sub1,) = struct.unpack("<I", b[16:20])
    audio_fmt, ch = struct.unpack("<HH", b[20:24])
    rate, _brate = struct.unpack("<II", b[24:32])
    _balign, bits = struct.unpack("<HH", b[32:36])
    if (sub1, audio_fmt, ch, bits) != (16, 1, 1, 16):
        raise ValueError(f"unsupported wav layout {(sub1, audio_fmt, ch, bits)}")
    if b[36:40] != b"data":
        raise ValueError("data chunk missing")
    (dsize,) = struct.unpack("<I", b[40:44])
    if len(b) < 44 + dsize:
        raise ValueError("truncated data chunk")
    samples = np.frombuffer(b[44 : 44 + dsize], dtype="<i2").astype(np.int64)
    return rate, samples


WAV_FEATURE_SCHEMA = (
    "media_ref string, n_samples int, sample_rate int, duration_us long, "
    "peak_abs long, sum_sq long, zero_cross long"
)


def extract_wav_features(media) -> "DataFrame":
    """Arrow-batched WAV decode/feature kernel (mapInPandas) over the
    audio rows.  All features are integers (sum of squares instead of a
    float RMS) so the arithmetic oracle matches exactly.  Narrow op — no
    shuffle; rows stay where the scan put them."""
    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(media.sparkSession)

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                rate, s = decode_wav_pcm16(bytes(content))
                zc = int(((s[1:] < 0) != (s[:-1] < 0)).sum()) if len(s) > 1 else 0
                rows.append(
                    (
                        ref,
                        int(len(s)),
                        int(rate),
                        int(len(s)) * 1_000_000 // int(rate),
                        int(np.abs(s).max()) if len(s) else 0,
                        int((s * s).sum()),
                        zc,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref",
                    "n_samples",
                    "sample_rate",
                    "duration_us",
                    "peak_abs",
                    "sum_sq",
                    "zero_cross",
                ],
            )

    return media.filter(F.col("mime") == "audio/wav").mapInPandas(
        kernel, schema=WAV_FEATURE_SCHEMA
    )


# --- video modality: ISO-BMFF (MP4) metadata containers ----------------------
# Video rows (doc_id % 3 = 1) carry a minimal but SPEC-VALID ISO base
# media file: an `ftyp` box (major brand isom) followed by `moov/mvhd`
# v0 with timescale 1000 and an md5-derived duration — everything but the
# 4 duration bytes is constant, so the container renders as two hex
# literals around the duration field in both engines.  The Spark kernel
# performs a REAL box walk (big-endian size+fourcc at every level,
# recursing into moov) exactly like any MP4 demuxer's metadata pass; the
# oracle recomputes the duration from the recipe arithmetic.
MP4_TIMESCALE = 1000
MP4_DUR_MOD = 86_400_000  # < 1 day of ms-ticks, fits uint32
MP4_PREFIX_HEX = (
    "000000106674797069736F6D00000200"
    "000000746D6F6F760000006C6D766864"
    "000000000000000000000000000003E8"
)
MP4_SUFFIX_HEX = (
    "00010000010000000000000000000000000100000000000000000000000000000001000000000000"
    "00000000000000004000000000000000000000000000000000000000000000000000000000000002"
)


def walk_mp4_boxes(b: bytes):
    """REAL ISO-BMFF box walk: yields (fourcc, payload) for every
    top-level box; raises ValueError on malformed size fields."""
    import struct

    i = 0
    while i < len(b):
        if i + 8 > len(b):
            raise ValueError("truncated box header")
        (size,) = struct.unpack(">I", b[i : i + 4])
        if size < 8 or i + size > len(b):
            raise ValueError(f"bad box size {size} at {i}")
        yield b[i + 4 : i + 8], b[i + 8 : i + size]
        i += size


def parse_mp4_metadata(b: bytes) -> tuple[str, int, int]:
    """(major_brand, timescale, duration) from ftyp + moov/mvhd —
    the demuxer metadata pass, big-endian throughout."""
    import struct

    brand, timescale, duration = None, None, None
    for fourcc, payload in walk_mp4_boxes(b):
        if fourcc == b"ftyp":
            brand = payload[0:4].decode("ascii")
        elif fourcc == b"moov":
            for cc2, p2 in walk_mp4_boxes(payload):
                if cc2 == b"mvhd":
                    if p2[0] != 0:
                        raise ValueError("only mvhd v0 supported")
                    timescale, duration = struct.unpack(">II", p2[12:20])
    if brand is None or timescale is None:
        raise ValueError("ftyp or moov/mvhd missing")
    return brand, int(timescale), int(duration)


MP4_META_SCHEMA = (
    "media_ref string, brand string, timescale int, duration long, "
    "duration_ms long, n_top_boxes int"
)


def extract_mp4_metadata(media) -> "DataFrame":
    """Arrow-batched MP4 metadata kernel (mapInPandas) over video rows —
    narrow op, no shuffle."""
    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(media.sparkSession)

    def kernel(batches):
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                b = bytes(content)
                brand, ts, dur = parse_mp4_metadata(b)
                n_top = sum(1 for _ in walk_mp4_boxes(b))
                rows.append((ref, brand, ts, dur, dur * 1000 // ts, n_top))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref",
                    "brand",
                    "timescale",
                    "duration",
                    "duration_ms",
                    "n_top_boxes",
                ],
            )

    return media.filter(F.col("mime") == "video/mp4").mapInPandas(
        kernel, schema=MP4_META_SCHEMA
    )


def media_payload_layers(engine: str) -> list[tuple[str, str]]:
    """Ordered (column, expr) layers building the synthetic payload hex
    from (doc_id, text): dims 4..23 from md5(text), pixel bytes from an
    md5 stream, then the full PNG via png_stream_layers.  The final
    column is ``payload_hex``."""
    e = _IDIOMS[engine]
    wexpr = "4 + " + e["hex2long"].format(h="substr(md5(text), 1, 2)") + " % 20"
    hexpr = "4 + " + e["hex2long"].format(h="substr(md5(text), 3, 2)") + " % 20"
    pix = (
        "substr("
        + e["join"].format(
            arr=e["tf"].format(
                arr=e["seq"].format(
                    a="0", b=e["idiv"].format(a="(6*w*h - 1)", b="32")
                ),
                v="i",
                body="upper(md5(text || '|px' || CAST(i AS STRING)))",
            )
        )
        + ", 1, CAST(6*w*h AS INT))"
    )
    layers = [("w", wexpr), ("h", hexpr), ("pix", pix)]
    layers += png_stream_layers(engine, "pix", "w", "h", "text", "s")
    wav_data = "upper(" + " || ".join(
        f"md5(text || '|au{k}')" for k in range(WAV_N_SAMPLES * 4 // 32)
    ) + ")"
    layers.append(("wavhex", f"'{WAV_HEADER_HEX}' || {wav_data}"))
    dur = (
        e["hex2long"].format(h="substr(md5(text || '|vd'), 1, 7)")
        + f" % {MP4_DUR_MOD}"
    )
    layers.append(
        (
            "mp4hex",
            f"'{MP4_PREFIX_HEX}' || lpad(hex({dur}), 8, '0') || '{MP4_SUFFIX_HEX}'",
        )
    )
    layers.append(
        (
            "payload_hex",
            "CASE WHEN doc_id % 3 = 0 THEN spng "
            "WHEN doc_id % 3 = 2 THEN wavhex "
            "ELSE mp4hex END",
        )
    )
    return layers


_MIME_CASE = (
    "CASE WHEN doc_id % 3 = 0 THEN 'image/png' "
    "WHEN doc_id % 3 = 1 THEN 'video/mp4' ELSE 'audio/wav' END"
)


def duck_media_cte() -> str:
    """The DuckDB oracle's WITH-chain twin of synth_media_table: layered
    CTEs (one per payload layer) ending in a ``media`` CTE that also
    exposes the generation intermediates (w, h, pix, gen_png) so
    downstream oracles can recompute pixel statistics without a SQL PNG
    decoder — the Spark side is what proves the bytes decode."""
    parts = ["WITH m0 AS (\n  SELECT doc_id, text FROM documents\n)"]
    prev = "m0"
    for k, (name, expr) in enumerate(media_payload_layers("duck")):
        cur = f"m{k + 1}"
        parts.append(f", {cur} AS (\n  SELECT *, ({expr}) AS {name} FROM {prev}\n)")
        prev = cur
    parts.append(
        ", media AS (\n"
        "  SELECT 'm' || CAST(doc_id AS STRING) AS media_ref,\n"
        f"         {_MIME_CASE} AS mime,\n"
        "         unhex(payload_hex) AS content,\n"
        "         doc_id % 3 = 0 AS gen_png, w, h, pix\n"
        f"  FROM {prev}\n)"
    )
    return "".join(parts)


def synth_media_table(docs: DataFrame) -> DataFrame:
    """Deterministic binary payloads derived from document text —
    engine-portable (Spark unhex == DuckDB unhex over the same layered
    recipe, media_payload_layers) so the binary plumbing itself is
    oracle-checkable; PNG rows are fully valid zlib PNGs (module
    comment above).  Returns the lazy frame; consumers read it through
    a materialized session artifact (queries/multimodalq.py)."""
    df = docs.select("doc_id", "text")
    for name, expr in media_payload_layers("spark"):
        df = df.selectExpr("*", f"({expr}) AS {name}")
    return df.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.expr(_MIME_CASE).alias("mime"),
        F.unhex(F.col("payload_hex")).alias("content"),
    )


# --- document modality: PDF (ISO 32000) metadata containers --------------------
# The format the reference is NAMED for: pdf rows carry a minimal but
# SPEC-VALID PDF 1.4 — header, catalog, page tree with THREE page
# objects, a correct cross-reference table, trailer and startxref — with
# a fixed-width layout so every xref offset is a byte constant; only the
# six MediaBox digits (md5-derived 3-digit width/height, identical on
# each page) vary.  The Spark kernel performs a REAL reader-style parse:
# verify the header, locate startxref from the tail, check the xref
# anchor, walk every xref entry and verify each "<i> 0 obj" header sits
# at its declared offset, then read /Count and the first /MediaBox.  The
# oracle recomputes width/height from the recipe arithmetic and the
# structural fields from the template constants.
PDF_SEG0_HEX = "255044462D312E340A312030206F626A0A3C3C202F54797065202F436174616C6F67202F5061676573203220302052203E3E0A656E646F626A0A322030206F626A0A3C3C202F54797065202F5061676573202F4B696473205B33203020522034203020522035203020525D202F436F756E742033203E3E0A656E646F626A0A332030206F626A0A3C3C202F54797065202F50616765202F506172656E74203220302052202F4D65646961426F78205B30203020"
PDF_SEG1_HEX = "5D203E3E0A656E646F626A0A342030206F626A0A3C3C202F54797065202F50616765202F506172656E74203220302052202F4D65646961426F78205B30203020"
PDF_SEG2_HEX = "5D203E3E0A656E646F626A0A352030206F626A0A3C3C202F54797065202F50616765202F506172656E74203220302052202F4D65646961426F78205B30203020"
PDF_SEG3_HEX = "5D203E3E0A656E646F626A0A787265660A3020360A303030303030303030302036353533352066200A30303030303030303039203030303030206E200A30303030303030303538203030303030206E200A30303030303030313237203030303030206E200A30303030303030313938203030303030206E200A30303030303030323639203030303030206E200A747261696C65720A3C3C202F53697A652036202F526F6F74203120302052203E3E0A7374617274787265660A3334300A2525454F46"
PDF_DIM_MOD = 600  # width/height in [300, 899] — always 3 ascii digits


def pdf_dims_sql(engine: str) -> tuple[str, str]:
    """(width, height) md5-derived integer expressions per engine."""
    from pdf_craft_spark.queries.dedup import md5_prefix_long_sql as mpl

    w = "300 + (" + mpl("text || '|pw'", 7, engine) + " % " + str(PDF_DIM_MOD) + ")"
    h = "300 + (" + mpl("text || '|ph'", 7, engine) + " % " + str(PDF_DIM_MOD) + ")"
    return w, h


def pdf_payload_expr(engine: str) -> str:
    """Hex string of the full PDF payload: constant segments around the
    three identical 'W H' ascii fields."""
    w, h = pdf_dims_sql(engine)
    cast = "STRING" if engine == "spark" else "VARCHAR"
    field = (
        "hex(CAST((" + w + ") AS " + cast + ") || ' ' || "
        "CAST((" + h + ") AS " + cast + "))"
    )
    if engine == "duck":
        field = "upper(" + field + ")"
    return (
        "'" + PDF_SEG0_HEX + "' || " + field + " || '" + PDF_SEG1_HEX
        + "' || " + field + " || '" + PDF_SEG2_HEX + "' || " + field
        + " || '" + PDF_SEG3_HEX + "'"
    )


def parse_pdf_metadata(b: bytes) -> tuple[str, int, int, int, int, int]:
    """(version, n_objects, n_pages, width, height, xref_ok) via a real
    reader pass: header, startxref, xref walk with per-object offset
    verification, /Count, first /MediaBox."""
    import re as _re

    if not b.startswith(b"%PDF-"):
        raise ValueError("missing %PDF header")
    version = b[5:8].decode("ascii")
    tail = b.rsplit(b"startxref", 1)
    if len(tail) != 2:
        raise ValueError("missing startxref")
    sx = int(tail[1].split(b"%%EOF")[0].strip())
    if b[sx : sx + 4] != b"xref":
        raise ValueError("startxref does not point at xref")
    lines = b[sx:].split(b"\n")
    first, count = (int(x) for x in lines[1].split())
    n_objects = count - 1  # minus the object-0 free entry
    xref_ok = 1
    for k in range(1, count):
        off_b, gen_b, kind = lines[2 + k].split()
        if kind == b"f":
            continue
        off = int(off_b)
        expect = (str(first + k) + " 0 obj").encode()
        if b[off : off + len(expect)] != expect:
            xref_ok = 0
    m = _re.search(rb"/Count (\d+)", b)
    n_pages = int(m.group(1)) if m else 0
    mb = _re.search(rb"/MediaBox \[0 0 (\d+) (\d+)\]", b)
    if mb is None:
        raise ValueError("no MediaBox")
    return (
        version,
        n_objects,
        n_pages,
        int(mb.group(1)),
        int(mb.group(2)),
        xref_ok,
    )


PDF_META_SCHEMA = (
    "media_ref string, pdf_version string, n_objects int, n_pages int, "
    "page_width int, page_height int, xref_ok int"
)


def extract_pdf_metadata(media) -> "DataFrame":
    """Arrow-batched PDF metadata kernel (mapInPandas) — narrow op."""
    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(media.sparkSession)

    def kernel(batches):
        for pdf_batch in batches:
            rows = []
            for ref, content in zip(
                pdf_batch["media_ref"], pdf_batch["content"]
            ):
                v, nobj, npg, w, h, ok = parse_pdf_metadata(bytes(content))
                rows.append((ref, v, nobj, npg, w, h, ok))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref",
                    "pdf_version",
                    "n_objects",
                    "n_pages",
                    "page_width",
                    "page_height",
                    "xref_ok",
                ],
            )

    return media.filter(F.col("mime") == "application/pdf").mapInPandas(
        kernel, schema=PDF_META_SCHEMA
    )


# --- PDF text extraction (content streams) --------------------------------------
# The reference's core operation demonstrated on real PDF bytes: these
# containers extend the metadata template with one uncompressed content
# stream PER PAGE (`BT /F1 12 Tf (<text>) Tj ET`, /Length declared,
# /Contents wired from each page object, 9-object xref — all spec-valid
# and offset-correct).  Page texts are md5-derived fixed-width tokens so
# the layout stays constant.  The kernel is a reader-pass EXTRACTOR: it
# resolves each page's /Contents reference through the xref table (not
# by scanning for streams — the reference resolution is the point),
# checks the declared /Length against the actual stream bytes, and emits
# ordered (media_ref, page_idx, text) spans — the (kind, text, order)
# span shape of the north rule, from container bytes.
PDFX_SEGS = ["255044462D312E340A312030206F626A0A3C3C202F54797065202F436174616C6F67202F5061676573203220302052203E3E0A656E646F626A0A322030206F626A0A3C3C202F54797065202F5061676573202F4B696473205B33203020522034203020522035203020525D202F436F756E742033203E3E0A656E646F626A0A332030206F626A0A3C3C202F54797065202F50616765202F506172656E74203220302052202F4D65646961426F78205B30203020", "5D202F436F6E74656E7473203620302052203E3E0A656E646F626A0A342030206F626A0A3C3C202F54797065202F50616765202F506172656E74203220302052202F4D65646961426F78205B30203020", "5D202F436F6E74656E7473203720302052203E3E0A656E646F626A0A352030206F626A0A3C3C202F54797065202F50616765202F506172656E74203220302052202F4D65646961426F78205B30203020", "5D202F436F6E74656E7473203820302052203E3E0A656E646F626A0A362030206F626A0A3C3C202F4C656E677468203239203E3E0A73747265616D0A4254202F46312031322054662028", "2920546A2045540A656E6473747265616D0A656E646F626A0A372030206F626A0A3C3C202F4C656E677468203239203E3E0A73747265616D0A4254202F46312031322054662028", "2920546A2045540A656E6473747265616D0A656E646F626A0A382030206F626A0A3C3C202F4C656E677468203239203E3E0A73747265616D0A4254202F46312031322054662028", "2920546A2045540A656E6473747265616D0A656E646F626A0A787265660A3020390A303030303030303030302036353533352066200A30303030303030303039203030303030206E200A30303030303030303538203030303030206E200A30303030303030313237203030303030206E200A30303030303030323134203030303030206E200A30303030303030333031203030303030206E200A30303030303030333838203030303030206E200A30303030303030343637203030303030206E200A30303030303030353436203030303030206E200A747261696C65720A3C3C202F53697A652039202F526F6F74203120302052203E3E0A7374617274787265660A3632350A2525454F46"]
PDFX_KINDS = ["dim", "dim", "dim", "txt", "txt", "txt"]
PDF_TEXT_LEN = 8


def pdfx_payload_expr(engine: str) -> str:
    """Hex payload: constant segments interleaved with 3 'W H' dims and
    3 per-page md5 text tokens (8 hex chars, lowercase in the text but
    hex-encoded into the container)."""
    w, h = pdf_dims_sql(engine)
    cast = "STRING" if engine == "spark" else "VARCHAR"
    dim = (
        "hex(CAST((" + w + ") AS " + cast + ") || ' ' || "
        "CAST((" + h + ") AS " + cast + "))"
    )
    if engine == "duck":
        dim = "upper(" + dim + ")"

    def txt(i: int) -> str:
        inner = "substring(md5(text || '|pt" + str(i) + "'), 1, 8)"
        if engine == "duck":
            inner = "substr(md5(text || '|pt" + str(i) + "'), 1, 8)"
        e = "hex(" + inner + ")"
        return "upper(" + e + ")" if engine == "duck" else e

    parts = []
    dim_i = txt_i = 0
    for k, seg in zip(PDFX_KINDS, PDFX_SEGS[:-1]):
        parts.append("'" + seg + "'")
        if k == "dim":
            parts.append(dim)
            dim_i += 1
        else:
            parts.append(txt(txt_i))
            txt_i += 1
    parts.append("'" + PDFX_SEGS[-1] + "'")
    return " || ".join(parts)


def extract_pdf_page_texts(b: bytes) -> list[tuple[int, str]]:
    """Reader-pass extraction: xref -> page objects in Kids order ->
    /Contents reference -> stream object at its xref offset -> declared
    /Length check -> text operand of the Tj operator.  Returns ordered
    (page_idx, text)."""
    import re as _re

    if not b.startswith(b"%PDF-"):
        raise ValueError("missing %PDF header")
    sx = int(b.rsplit(b"startxref", 1)[1].split(b"%%EOF")[0].strip())
    if b[sx : sx + 4] != b"xref":
        raise ValueError("bad startxref")
    lines = b[sx:].split(b"\n")
    first, count = (int(x) for x in lines[1].split())
    offsets = {}
    for k in range(1, count):
        off_b, _gen, kind = lines[2 + k].split()
        if kind == b"n":
            offsets[first + k] = int(off_b)

    def obj_bytes(num: int) -> bytes:
        off = offsets[num]
        end = b.index(b"endobj", off)
        head = (str(num) + " 0 obj").encode()
        if b[off : off + len(head)] != head:
            raise ValueError("xref offset does not hit object " + str(num))
        return b[off:end]

    root = obj_bytes(1)
    pages_ref = int(_re.search(rb"/Pages (\d+) 0 R", root).group(1))
    kids = [
        int(x)
        for x in _re.findall(
            rb"(\d+) 0 R", _re.search(rb"/Kids \[([^\]]*)\]", obj_bytes(pages_ref)).group(1)
        )
    ]
    out = []
    for idx, pg in enumerate(kids):
        page = obj_bytes(pg)
        cref = int(_re.search(rb"/Contents (\d+) 0 R", page).group(1))
        stream_obj = obj_bytes(cref)
        declared = int(_re.search(rb"/Length (\d+)", stream_obj).group(1))
        s_start = stream_obj.index(b"stream\n") + len(b"stream\n")
        stream = stream_obj[s_start : s_start + declared]
        if len(stream) != declared:
            raise ValueError("stream shorter than declared /Length")
        m = _re.search(rb"Tf \(([^)]*)\) Tj", stream)
        if m is None:
            raise ValueError("no Tj text operator in stream")
        out.append((idx, m.group(1).decode("ascii")))
    return out


PDF_TEXT_SCHEMA = "media_ref string, page_idx int, text string"


def extract_pdf_texts(media) -> "DataFrame":
    """Arrow-batched PDF text-extraction kernel (mapInPandas)."""
    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(media.sparkSession)

    def kernel(batches):
        for pdf_batch in batches:
            rows = []
            for ref, content in zip(
                pdf_batch["media_ref"], pdf_batch["content"]
            ):
                for idx, text in extract_pdf_page_texts(bytes(content)):
                    rows.append((ref, idx, text))
            yield pd.DataFrame(
                rows, columns=["media_ref", "page_idx", "text"]
            )

    return media.filter(F.col("mime") == "application/pdf").mapInPandas(
        kernel, schema=PDF_TEXT_SCHEMA
    )
