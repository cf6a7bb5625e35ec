"""Multimodal-column queries: binary payload plumbing with REAL pixel work.

The binary payloads are derived engine-portably (the same layered recipe
renders to Spark and DuckDB SQL; image/png rows are fully VALID zlib
PNGs — see functions/multimodal.py), so ALL four queries (metadata,
decode/features, frame fan-out, resize) are oracle-checked.  The split of
labor that makes the check meaningful: the Spark side actually DECODES
the bytes (functions/png.py: zlib inflate + unfilter in the Arrow
kernel) and computes pixel statistics / thumbnails from the pixel array,
while DuckDB recomputes the same values from the generation recipe's
intermediates (pixel hex, dims) — agreement proves the decode path reads
back exactly the pixels that went in."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_craft_spark.functions.multimodal import (
    FEATURE_DIM,
    dhash_media,
    duck_media_cte,
    extract_media_features,
    media_metadata,
    png_stream_layers,
    resize_media,
    sample_frames,
    synth_media_table,
)
from pdf_craft_spark.queries import dedup
from pdf_craft_spark.queries.dedup import _docs


# The synth-media table, materialized once per session and shared by every
# media query.  At prod the media table is a SCAN of stored bytes, so the
# materialized form is also the honest plan shape.  Left lazy, Catalyst's
# CollapseProject inlines each generation layer into every downstream
# reference, so the zlib/adler layer chain re-expands wherever `content` is
# consumed — measured at sf0.1 (5,000 media rows): extract_media_features
# 11.6 s against the lazy expression tree vs 0.48 s against the materialized
# rows (24x), dhash/collect paths ~18 s vs sub-second.
def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.session_artifact(
        spark, f"media:{sf_dir}", lambda: synth_media_table(_docs(spark, sf_dir))
    )


def media_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_metadata(_media(spark, sf_dir)).orderBy("media_ref")


_MEDIA_CTE = duck_media_cte()

# the IHDR dimension parse as plain byte reads: hex chars 33-40/41-48 ==
# bytes 17-20/21-24 — identical expression shape to the Spark side's conv()
_PNG_SIG = "89504E470D0A1A0A"
# BIGINT for the raw 4-byte reads (8 hex chars can exceed INT32 on non-PNG
# payloads if ever evaluated unguarded); the guarded CASE narrows to INT
_DUCK_PNG_W = "CAST(('0x' || substring(hex(content), 33, 8)) AS BIGINT)"
_DUCK_PNG_H = "CAST(('0x' || substring(hex(content), 41, 8)) AS BIGINT)"
_DUCK_IS_PNG = (
    f"substring(hex(content), 1, 16) = '{_PNG_SIG}' "
    "AND substring(hex(content), 25, 8) = '49484452' "
    "AND octet_length(content) >= 24"
)

MEDIA_METADATA_SQL = _MEDIA_CTE + f"""
SELECT media_ref, mime,
       CAST(octet_length(content) AS INT) AS n_bytes,
       sha256(hex(content)) AS content_hash,
       substring(hex(content), 1, 8) AS magic,
       CAST(CASE WHEN {_DUCK_IS_PNG} THEN {_DUCK_PNG_W} END AS INT) AS png_width,
       CAST(CASE WHEN {_DUCK_IS_PNG} THEN {_DUCK_PNG_H} END AS INT) AS png_height
FROM media ORDER BY media_ref
"""


def media_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-kernel decode; the feature vector is flattened to scalar
    columns f0..f7 in the output projection (arrays stay internal — the
    driver's canonicalizer sorts scalar columns)."""
    feats = extract_media_features(_media(spark, sf_dir))
    return feats.select(
        "media_ref",
        "mime",
        "n_bytes",
        "width",
        "height",
        "n_frames",
        *[F.col("feature")[i].alias(f"f{i}") for i in range(FEATURE_DIM)],
    ).orderBy("media_ref")


_FEAT_CTE = _MEDIA_CTE + f"""
, feat AS (
  SELECT media_ref, mime, content, gen_png, w, h, pix,
         CAST(octet_length(content) AS INT) AS n_bytes,
         md5(hex(content)) AS dig,
         ({_DUCK_IS_PNG}) AS is_png
  FROM media
)
"""

# Real pixel statistics, recomputed from the generation recipe's pixel hex
# (the Spark kernel computes the SAME numbers from the zlib-decoded array):
# per-channel integer sums, global min/max, first/last byte — one double
# division per mean, bit-identical across engines.
_PSTAT_CTE = """
, px AS (
  SELECT media_ref, w, h,
         list_transform(generate_series(CAST(1 AS BIGINT), CAST(3*w*h AS BIGINT)),
             i -> CAST(('0x' || substr(pix, CAST(2*i - 1 AS INT), 2)) AS BIGINT)) AS bs
  FROM feat WHERE gen_png
), pstat AS (
  SELECT media_ref, w, h,
         list_sum(list_transform(generate_series(CAST(0 AS BIGINT), CAST(w*h - 1 AS BIGINT)),
             j -> bs[CAST(3*j + 1 AS INT)])) AS sum_r,
         list_sum(list_transform(generate_series(CAST(0 AS BIGINT), CAST(w*h - 1 AS BIGINT)),
             j -> bs[CAST(3*j + 2 AS INT)])) AS sum_g,
         list_sum(list_transform(generate_series(CAST(0 AS BIGINT), CAST(w*h - 1 AS BIGINT)),
             j -> bs[CAST(3*j + 3 AS INT)])) AS sum_b,
         list_aggregate(bs, 'min') AS bmin,
         list_aggregate(bs, 'max') AS bmax,
         bs[1] AS bfirst,
         bs[CAST(3*w*h AS INT)] AS blast
  FROM px
)
"""

_STUB_F = [f"ascii(substr(dig, {7 + i}, 1)) / 256.0" for i in range(FEATURE_DIM)]
_REAL_F = [
    "CAST(sum_r AS DOUBLE) / CAST(p.w * p.h AS DOUBLE)",
    "CAST(sum_g AS DOUBLE) / CAST(p.w * p.h AS DOUBLE)",
    "CAST(sum_b AS DOUBLE) / CAST(p.w * p.h AS DOUBLE)",
    "CAST(bmin AS DOUBLE)",
    "CAST(bmax AS DOUBLE)",
    "CAST(sum_r + sum_g + sum_b AS DOUBLE) / CAST(3 * p.w * p.h AS DOUBLE)",
    "CAST(bfirst AS DOUBLE)",
    "CAST(blast AS DOUBLE)",
]

MEDIA_FEATURES_SQL = _FEAT_CTE + _PSTAT_CTE + f"""
SELECT feat.media_ref AS media_ref, mime, n_bytes,
       CAST(CASE WHEN is_png THEN {_DUCK_PNG_W}
                 ELSE 64 + (ascii(substr(dig, 1, 1)) * 16 + ascii(substr(dig, 2, 1))) % 192
            END AS INT) AS width,
       CAST(CASE WHEN is_png THEN {_DUCK_PNG_H}
                 ELSE 64 + (ascii(substr(dig, 3, 1)) * 16 + ascii(substr(dig, 4, 1))) % 192
            END AS INT) AS height,
       CAST(CASE WHEN mime LIKE 'image/%' THEN 1
                 ELSE 1 + (ascii(substr(dig, 5, 1)) * 16 + ascii(substr(dig, 6, 1))) % 32
            END AS INT) AS n_frames,
""" + ",\n".join(
    f"       CASE WHEN gen_png THEN {r} ELSE {s} END AS f{i}"
    for i, (r, s) in enumerate(zip(_REAL_F, _STUB_F))
) + """
FROM feat LEFT JOIN pstat p ON p.media_ref = feat.media_ref
ORDER BY media_ref
"""


def media_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sample_frames(_media(spark, sf_dir), every_nth=8)
    return out.select(
        "media_ref", F.col("frame_index").cast("int").alias("frame_index"), "frame_ref"
    ).orderBy("media_ref", "frame_index")


MEDIA_FRAME_SAMPLE_SQL = _FEAT_CTE + """
, nf AS (
  SELECT media_ref,
         CASE WHEN mime LIKE 'image/%' THEN 1
              ELSE 1 + (ascii(substr(dig, 5, 1)) * 16 + ascii(substr(dig, 6, 1))) % 32
         END AS n_frames
  FROM feat
), fr AS (
  SELECT media_ref, unnest(range(0, n_frames, 8)) AS fi FROM nf
)
SELECT media_ref, CAST(fi AS INT) AS frame_index,
       media_ref || '#' || CAST(fi AS VARCHAR) AS frame_ref
FROM fr ORDER BY media_ref, frame_index
"""


# A small box for the resize query so the corpus (dims 4..23) actually
# exercises real downscales, not just pass-throughs; the operator default
# (THUMB_MAX_DIM=256) is unchanged.
RESIZE_T = 8


def media_resize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize end-to-end as REAL pixel work: the Arrow kernel zlib-decodes
    each source PNG, nearest-neighbor-resamples via floor-division index
    maps, and re-encodes a valid-zlib PNG; the JVM metadata stage then
    re-reads the PRODUCED bytes.  The oracle rebuilds the identical thumb
    bytes in SQL (pixel selection by the same integer index arithmetic →
    the same stored-deflate + adler32 container) and hashes them."""
    thumbs = resize_media(_media(spark, sf_dir), max_dim=RESIZE_T)
    return media_metadata(thumbs).select(
        "media_ref", "n_bytes", "content_hash", "png_width", "png_height"
    ).orderBy("media_ref")


def _resize_sql(t: int) -> str:
    # thumb pixel hex: for flat thumb index p — ty=p//tw, tx=p%tw,
    # sy=(ty*h)//th, sx=(tx*w)//tw — grab the whole 3-byte source pixel
    # (6 hex chars) at sy*w+sx; identical math to resample_nearest
    tpix = (
        "list_aggregate(list_transform("
        "generate_series(CAST(0 AS BIGINT), CAST(tw*th - 1 AS BIGINT)), "
        "p -> substr(pix, CAST(6*((((p // tw) * h) // th) * w"
        " + (((p % tw) * w) // tw)) + 1 AS INT), 6)), 'string_agg', '')"
    )
    parts = [
        _MEDIA_CTE,
        f"""
, r0 AS (
  -- same filter as the kernel (any image/*); every corpus image is a
  -- decodable generated PNG, so the kernel's real path is what runs
  SELECT media_ref, w, h, pix FROM media WHERE mime LIKE 'image/%'
), r1 AS (
  -- thumb_dims: pass-through inside the box, else aspect-preserving
  -- floor-division fit (branch-for-branch the Python kernel's math)
  SELECT *,
         CASE WHEN w <= {t} AND h <= {t} THEN w
              WHEN w >= h THEN {t}
              ELSE greatest(1, (w * {t}) // h) END AS tw,
         CASE WHEN w <= {t} AND h <= {t} THEN h
              WHEN w >= h THEN greatest(1, (h * {t}) // w)
              ELSE {t} END AS th
  FROM r0
), r2 AS (
  SELECT *, ({tpix}) AS tpix FROM r1
)""",
    ]
    prev = "r2"
    for k, (name, expr) in enumerate(
        png_stream_layers("duck", "tpix", "tw", "th", "tpix", "t")
    ):
        cur = f"r{k + 3}"
        parts.append(f", {cur} AS (\n  SELECT *, ({expr}) AS {name} FROM {prev}\n)")
        prev = cur
    parts.append(f"""
SELECT media_ref || '#thumb{t}' AS media_ref,
       CAST(length(tpng) // 2 AS INT) AS n_bytes,
       sha256(tpng) AS content_hash,
       CAST(tw AS INT) AS png_width,
       CAST(th AS INT) AS png_height
FROM {prev} ORDER BY media_ref
""")
    return "".join(parts)


MEDIA_RESIZE_SQL = _resize_sql(RESIZE_T)


def media_dhash_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup index: per image, the 64-bit difference hash (gray →
    9x8 NN grid → horizontal-neighbor bits) plus its 4 x 16-bit band keys
    — the image twin of the MinHash band index.  The kernel computes it
    from the REAL zlib-decoded pixels; the oracle recomputes every bit
    from the generation recipe's pixel hex."""
    return dhash_media(_media(spark, sf_dir)).orderBy("media_ref")


def _dhash_sql() -> str:
    # flat source-pixel index for grid cell p (0..71): ty=p//9, tx=p%9,
    # sy=(ty*h)//8, sx=(tx*w)//9 — identical floor-division maps to the
    # kernel's numpy index arrays
    from pdf_craft_spark.functions.multimodal import (
        DHASH_BAND_W,
        DHASH_BANDS,
        DHASH_GRID_H,
        DHASH_GRID_W,
        DHASH_N_BITS,
    )

    gw, gh = DHASH_GRID_W, DHASH_GRID_H
    idx = f"((((p // {gw}) * h) // {gh}) * w + (((p % {gw}) * w) // {gw}))"
    gray = " + ".join(f"bs[CAST(3*{idx} + {c} AS INT)]" for c in (1, 2, 3))
    bands = ",\n       ".join(
        f"substr(dhash, {DHASH_BAND_W * i + 1}, {DHASH_BAND_W}) AS band{i}"
        for i in range(DHASH_BANDS)
    )
    return (
        _MEDIA_CTE
        + f"""
, px AS (
  SELECT media_ref, w, h,
         list_transform(generate_series(CAST(1 AS BIGINT), CAST(3*w*h AS BIGINT)),
             i -> CAST(('0x' || substr(pix, CAST(2*i - 1 AS INT), 2)) AS BIGINT)) AS bs
  FROM media WHERE mime LIKE 'image/%'
), grid AS (
  SELECT media_ref,
         list_transform(generate_series(CAST(0 AS BIGINT), CAST({gw * gh - 1} AS BIGINT)),
             p -> ({gray}) // 3) AS g
  FROM px
), bits AS (
  SELECT media_ref,
         list_aggregate(list_transform(generate_series(CAST(0 AS BIGINT), CAST({DHASH_N_BITS - 1} AS BIGINT)),
             k -> CASE WHEN g[CAST((k // {gw - 1}) * {gw} + (k % {gw - 1}) + 1 AS INT)]
                          > g[CAST((k // {gw - 1}) * {gw} + (k % {gw - 1}) + 2 AS INT)]
                       THEN '1' ELSE '0' END), 'string_agg', '') AS dhash
  FROM grid
)
SELECT media_ref, dhash,
       {bands}
FROM bits ORDER BY media_ref
"""
    )


MEDIA_DHASH_INDEX_SQL = _dhash_sql()


QUERIES = {
    "media_metadata": media_metadata_q,
    "media_features": media_features_q,
    "media_frame_sample": media_frame_sample_q,
    "media_resize": media_resize_q,
    "media_dhash_index": media_dhash_index_q,
}
ORACLES = {
    "media_metadata": MEDIA_METADATA_SQL,
    "media_features": MEDIA_FEATURES_SQL,
    "media_frame_sample": MEDIA_FRAME_SAMPLE_SQL,
    "media_resize": MEDIA_RESIZE_SQL,
    "media_dhash_index": MEDIA_DHASH_INDEX_SQL,
}


# --- audio modality: WAV feature extraction -----------------------------------
# The second REAL decode modality (PNG pixels being the first): audio rows
# carry complete RIFF/WAVE PCM16 containers (functions/multimodal.py:
# WAV_HEADER_HEX + md5-stream samples); the Spark kernel PARSES the bytes
# (magic checks, chunk walk, little-endian int16 frombuffer), while the
# oracle recomputes every integer feature arithmetically from the sample
# recipe without touching a byte — agreement proves container layout,
# endianness handling, and feature math simultaneously.
def media_wav_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_craft_spark.functions.multimodal import extract_wav_features

    return extract_wav_features(_media(spark, sf_dir)).orderBy("media_ref")


def _wav_features_sql() -> str:
    from pdf_craft_spark.functions.multimodal import WAV_N_SAMPLES, WAV_SAMPLE_RATE

    n, rate = WAV_N_SAMPLES, WAV_SAMPLE_RATE
    data_hex = " || ".join(f"md5(text || '|au{k}')" for k in range(n * 4 // 32))
    return f"""
WITH src AS (
  SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_ref,
         upper({data_hex}) AS dhex
  FROM documents WHERE doc_id % 3 = 2
), s AS (
  SELECT media_ref, u.i AS i,
         CAST(('0x' || substr(dhex, CAST(4 * u.i + 3 AS INT), 2)) AS BIGINT) * 256
         + CAST(('0x' || substr(dhex, CAST(4 * u.i + 1 AS INT), 2)) AS BIGINT) AS raw
  FROM src, UNNEST(range(0, {n})) AS u(i)
), v AS (
  SELECT media_ref, i,
         CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS val
  FROM s
), z AS (
  SELECT media_ref, val,
         CASE WHEN lag(val) OVER (PARTITION BY media_ref ORDER BY i) IS NULL THEN 0
              WHEN (val < 0) <> (lag(val) OVER (PARTITION BY media_ref ORDER BY i) < 0)
              THEN 1 ELSE 0 END AS zc
  FROM v
)
SELECT media_ref,
       CAST({n} AS INT) AS n_samples,
       CAST({rate} AS INT) AS sample_rate,
       CAST({n * 1_000_000 // rate} AS BIGINT) AS duration_us,
       CAST(max(abs(val)) AS BIGINT) AS peak_abs,
       CAST(sum(val * val) AS BIGINT) AS sum_sq,
       CAST(sum(zc) AS BIGINT) AS zero_cross
FROM z GROUP BY media_ref ORDER BY media_ref
"""


MEDIA_WAV_FEATURES_SQL = _wav_features_sql()

QUERIES["media_wav_features"] = media_wav_features_q
ORACLES["media_wav_features"] = MEDIA_WAV_FEATURES_SQL


# --- video modality: MP4 box-walk metadata -------------------------------------
# Completes the image/audio/video triad: video rows carry minimal
# spec-valid ISO-BMFF files (ftyp + moov/mvhd v0, everything constant but
# the md5-derived duration), the Spark kernel does a REAL demuxer-style
# box walk (big-endian size+fourcc, recursing into moov), and the oracle
# recomputes the duration arithmetically from the recipe.
def media_mp4_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_craft_spark.functions.multimodal import extract_mp4_metadata

    return extract_mp4_metadata(_media(spark, sf_dir)).orderBy("media_ref")


def _mp4_metadata_sql() -> str:
    from pdf_craft_spark.functions.multimodal import MP4_DUR_MOD, MP4_TIMESCALE

    return f"""
WITH src AS (
  SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_ref,
         CAST(('0x' || substr(md5(text || '|vd'), 1, 7)) AS BIGINT) % {MP4_DUR_MOD}
           AS duration
  FROM documents WHERE doc_id % 3 = 1
)
SELECT media_ref,
       'isom' AS brand,
       CAST({MP4_TIMESCALE} AS INT) AS timescale,
       CAST(duration AS BIGINT) AS duration,
       CAST(duration * 1000 // {MP4_TIMESCALE} AS BIGINT) AS duration_ms,
       CAST(2 AS INT) AS n_top_boxes
FROM src ORDER BY media_ref
"""


MEDIA_MP4_METADATA_SQL = _mp4_metadata_sql()

QUERIES["media_mp4_metadata"] = media_mp4_metadata_q
ORACLES["media_mp4_metadata"] = MEDIA_MP4_METADATA_SQL


# --- document modality: PDF reader-pass metadata --------------------------------
# Extends the image/audio/video triad with the format the reference is
# named for: pdf rows (doc_id % 4 = 0, their own 'p...' media stream)
# carry minimal spec-valid PDF 1.4 containers — fixed-layout catalog +
# 3-page tree + CORRECT xref table — and the Spark kernel runs a real
# reader pass (header, startxref, xref anchor, per-object offset
# verification, /Count, /MediaBox).  xref_ok is a computed verification
# bit, not a constant: the kernel re-derives it from the bytes, and the
# tamper test in tests/ proves it drops on a corrupted offset.  The
# oracle recomputes the md5-derived dimensions arithmetically and the
# structural fields from the template constants.
def media_pdf_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_craft_spark.functions.multimodal import (
        extract_pdf_metadata,
        pdf_payload_expr,
    )

    pdfs = (
        _docs(spark, sf_dir)
        .filter("doc_id % 4 = 0")
        .selectExpr(
            "concat('p', CAST(doc_id AS STRING)) AS media_ref",
            "'application/pdf' AS mime",
            f"unhex({pdf_payload_expr('spark')}) AS content",
        )
    )
    return extract_pdf_metadata(pdfs).orderBy("media_ref")


def _pdf_metadata_sql() -> str:
    from pdf_craft_spark.functions.multimodal import pdf_dims_sql

    w, h = pdf_dims_sql("duck")
    return f"""
SELECT 'p' || CAST(doc_id AS VARCHAR) AS media_ref,
       '1.4' AS pdf_version,
       CAST(5 AS INT) AS n_objects,
       CAST(3 AS INT) AS n_pages,
       CAST(({w}) AS INT) AS page_width,
       CAST(({h}) AS INT) AS page_height,
       CAST(1 AS INT) AS xref_ok
FROM documents WHERE doc_id % 4 = 0
ORDER BY media_ref
"""


MEDIA_PDF_METADATA_SQL = _pdf_metadata_sql()

QUERIES["media_pdf_metadata"] = media_pdf_metadata_q
ORACLES["media_pdf_metadata"] = MEDIA_PDF_METADATA_SQL


# --- PDF text extraction: ordered spans from container bytes --------------------
# The reference's core operation on real PDF bytes: containers carry one
# uncompressed content stream per page; the kernel resolves each page's
# /Contents reference THROUGH the xref table, validates the declared
# /Length, and emits ordered (media_ref, page_idx, text) spans — the
# north rule's (kind, text, order) span shape recovered from ISO 32000
# bytes rather than the corpus markers.  The oracle recomputes each
# page's md5-derived token arithmetically.
def pdf_text_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_craft_spark.functions.multimodal import (
        extract_pdf_texts,
        pdfx_payload_expr,
    )

    pdfs = (
        _docs(spark, sf_dir)
        .filter("doc_id % 4 = 0")
        .selectExpr(
            "concat('p', CAST(doc_id AS STRING)) AS media_ref",
            "'application/pdf' AS mime",
            f"unhex({pdfx_payload_expr('spark')}) AS content",
        )
    )
    return extract_pdf_texts(pdfs).orderBy("media_ref", "page_idx")


PDF_TEXT_EXTRACT_SQL = """
SELECT 'p' || CAST(doc_id AS VARCHAR) AS media_ref,
       CAST(u.i AS INT) AS page_idx,
       substr(md5(text || '|pt' || CAST(u.i AS VARCHAR)), 1, 8) AS text
FROM documents, (SELECT unnest([0, 1, 2]) AS i) u
WHERE doc_id % 4 = 0
ORDER BY media_ref, page_idx
"""

QUERIES["pdf_text_extract"] = pdf_text_extract_q
ORACLES["pdf_text_extract"] = PDF_TEXT_EXTRACT_SQL
