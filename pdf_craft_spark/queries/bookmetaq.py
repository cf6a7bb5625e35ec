"""S3-proper query: book-metadata extraction over the documents table.

The documents table has no PDF metadata columns, so raw ``/Title`` /
``/Author`` / ``/ModDate``-shaped fields are synthesized deterministically
from doc_id+text with SQL fragments valid in BOTH Spark and DuckDB (the
oracle re-derives identical raws), covering every branch the reference
parser has: missing title (stem fallback), each author separator with
empty segments and outer whitespace, ``D:``-prefixed and bare valid dates,
too-short and non-digit dates, and NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_craft_spark.functions.bookmeta import book_meta
from pdf_craft_spark.sources import load_table

_STAMP = (
    "lpad(cast(1990 + doc_id % 35 as string), 4, '0') || "
    "lpad(cast(1 + doc_id % 12 as string), 2, '0') || "
    "lpad(cast(1 + doc_id % 28 as string), 2, '0') || "
    "lpad(cast(doc_id % 24 as string), 2, '0') || "
    "lpad(cast(doc_id % 60 as string), 2, '0') || "
    "lpad(cast((doc_id * 7) % 60 as string), 2, '0')"
)
_RAW_TITLE = (
    "CASE WHEN doc_id % 7 = 0 THEN NULL "
    "ELSE 'Title ' || substr(md5(text), 1, 6) END"
)
# case 0 carries BOTH ';' and ',' — the reference picks the FIRST separator
# in (';', ',', '&') order, so ';' must win (handler.py:80-88).  Cases 3/4/
# NULL cover the edge semantics: all-empty split → [trim(raw)] fallback,
# empty author → [], missing author → [].
_RAW_AUTHOR = (
    "CASE WHEN doc_id % 13 = 0 THEN NULL ELSE "
    "CASE doc_id % 6 WHEN 0 THEN 'Smith, A.; Lee, B. ;; 王芳' "
    "WHEN 1 THEN ' Smith, Alice,, Lee ' "
    "WHEN 2 THEN 'Ann & Lee & ' "
    "WHEN 3 THEN ';;' "
    "WHEN 4 THEN '' "
    "ELSE '  Solo Author  ' END END"
)
# case 5 is digit-valid but calendar-invalid (month 99) — the reference's
# datetime() raises ValueError and falls back; here it must render NULL
_RAW_MODDATE = (
    f"CASE doc_id % 6 WHEN 0 THEN 'D:' || {_STAMP} "
    f"WHEN 1 THEN {_STAMP} "
    "WHEN 2 THEN 'D:2024' "
    "WHEN 3 THEN NULL "
    "WHEN 4 THEN 'D:20XX010Z0000AB' "
    "ELSE 'D:20249999999999' END"
)


def s3_book_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_RAW_TITLE).alias("raw_title"),
        F.expr(_RAW_AUTHOR).alias("raw_author"),
        F.expr(_RAW_MODDATE).alias("raw_moddate"),
    )
    return book_meta(docs).orderBy("doc_id")


def _split(sep: str) -> str:
    return (
        f"list_filter(list_transform(string_split(raw_author, '{sep}'), "
        "x -> trim(x)), x -> x <> '')"
    )


S3_BOOK_METADATA_SQL = f"""
WITH raw AS (
  SELECT doc_id,
         {_RAW_TITLE} AS raw_title,
         {_RAW_AUTHOR} AS raw_author,
         {_RAW_MODDATE} AS raw_moddate
  FROM documents
), parsed AS (
  SELECT doc_id,
         coalesce(raw_title, 'doc_' || CAST(doc_id AS STRING)) AS title,
         CASE WHEN raw_author IS NULL OR raw_author = ''
                   THEN CAST([] AS VARCHAR[])
              WHEN contains(raw_author, ';') THEN
                   CASE WHEN len({_split(';')}) > 0 THEN {_split(';')}
                        ELSE [trim(raw_author)] END
              WHEN contains(raw_author, ',') THEN
                   CASE WHEN len({_split(',')}) > 0 THEN {_split(',')}
                        ELSE [trim(raw_author)] END
              WHEN contains(raw_author, '&') THEN
                   CASE WHEN len({_split('&')}) > 0 THEN {_split('&')}
                        ELSE [trim(raw_author)] END
              ELSE [trim(raw_author)] END AS authors,
         CASE WHEN raw_moddate LIKE 'D:%' THEN substr(raw_moddate, 3)
              ELSE raw_moddate END AS md
  FROM raw
)
SELECT doc_id, title,
       coalesce(array_to_string(authors, '|'), '') AS authors_joined,
       CAST(len(authors) AS INT) AS n_authors,
       CASE WHEN length(md) >= 14
                 AND regexp_matches(substr(md, 1, 14), '^[0-9]{{14}}$')
                 AND try_strptime(substr(md, 1, 14), '%Y%m%d%H%M%S') IS NOT NULL
            THEN substr(md, 1, 4) || '-' || substr(md, 5, 2) || '-'
                 || substr(md, 7, 2) || ' ' || substr(md, 9, 2) || ':'
                 || substr(md, 11, 2) || ':' || substr(md, 13, 2)
       END AS modified
FROM parsed ORDER BY doc_id
"""

QUERIES = {"s3_book_metadata": s3_book_metadata}
ORACLES = {"s3_book_metadata": S3_BOOK_METADATA_SQL}
