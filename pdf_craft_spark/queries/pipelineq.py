"""Extraction-pipeline queries (per-doc ordered kernels) with GOLDEN-TABLE
oracles.

The queries run the pinned 24-document deterministic interleaved corpus
(GOLDEN_DOCS) through the distributed 3-stage Spark plan in
plans/pipeline.py.  The DuckDB oracle for each reads the matching golden
parquet under golden/n28/ — materialized by scripts/make_golden.py from the
LOCAL single-process kernel, which tests/test_document_parity.py proves
byte-identical to the actual reference pipeline
(/root/reference/pdf_craft/transform.py:192 → sequence/generation.py:23 →
markdown/render/render.py:15).  So a green row here certifies: Spark
distributed plan == reference-parity kernel, span-for-span
(kind, text, media_ref, order) — the north-rule invariant.

The corpus size is pinned (not sf-scaled) because correctness is a
value-equality gate, not a throughput one — scale/throughput is measured
separately in bench.py on 10k-50k-doc corpora.

Extraction QA (pipeline_ab_span_diff, span_kind_transitions,
media_ref_integrity_audit) exposes that invariant itself as queries:
their oracles are pure SQL over the same golden tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.plans.pipeline import (
    corpus_df,
    doc_metrics,
    extract_epub_records_df,
    extract_markdown_df,
    extract_spans_df,
    prepare_stage1,
    to_nested_output,
)

SEED = 42
GOLDEN_DOCS = 28
_GOLDEN_DIR = os.path.normpath(
    os.path.join(os.path.dirname(__file__), "..", "..", "golden", "n28")
)


def _golden_sql(name: str, order_by: str) -> str:
    path = os.path.join(_GOLDEN_DIR, f"{name}.parquet")
    return f"SELECT * FROM read_parquet('{path}') ORDER BY {order_by}"


def _corpus(spark: SparkSession) -> DataFrame:
    return corpus_df(spark, GOLDEN_DOCS, SEED)


def pipeline_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full extraction — raw interleaved spans → ordered output
    spans (W1/W2/W3/W4/W5/W6/W7, J1/J2/J3, E1-E12, A2-A7, F1-F9)."""
    return extract_spans_df(_corpus(spark)).orderBy("doc_id", "offset")


def pipeline_stage1_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 1 alone (F1/F3/F4 as codegen'd Catalyst scalar ops)."""
    from pdf_craft_spark.plans.pipeline import explode_spans

    flat = prepare_stage1(explode_spans(_corpus(spark)))
    return flat.select("doc_id", "kind", "text", "offset").orderBy("doc_id", "offset")


def pipeline_doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: per-doc extraction metrics table."""
    return doc_metrics(extract_spans_df(_corpus(spark))).orderBy("doc_id")


def pipeline_nested_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 3: re-nested (doc_id, spans) output contract shape."""
    nested = to_nested_output(extract_spans_df(_corpus(spark)))
    return nested.select(
        "doc_id", F.size("spans").alias("n_spans")
    ).orderBy("doc_id")


def pipeline_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12: extraction with frequency-based repeated-line demotion on —
    running headers recurring across a book's pages are dropped."""
    return extract_spans_df(_corpus(spark), boilerplate=True).orderBy(
        "doc_id", "offset"
    )


def pipeline_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: per-doc rendered markdown (the file-sink payload), compared
    byte-for-byte against the reference-parity kernel's rendering."""
    return extract_markdown_df(_corpus(spark)).select(
        "doc_id", "markdown", "n_spans"
    ).orderBy("doc_id")


def pipeline_epub_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: the EPUB record sink — flat TextBlock/Formula/Image/Table/
    Footnote rows, parity-tested against the reference's render_epub_file
    (tests/test_epub_parity.py)."""
    return extract_epub_records_df(_corpus(spark)).orderBy("doc_id", "seq")


def pipeline_epub_toc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: the cleaned EPUB TOC tree (TocCollection semantics)."""
    return extract_epub_records_df(_corpus(spark), which="toc").orderBy(
        "doc_id", "toc_id"
    )


# A8 budget: the reference aborts OCR when the remaining token budget hits
# zero BEFORE a page (pdf/ocr.py:140-143: remain -= in+out after each page,
# TokenLimitError when remain <= 0).  12k tokens ≈ 5-6 synthetic pages, so
# short docs finish and longer ones cut — both branches live in the golden
# corpus.
A8_MAX_TOKENS = 12_000


def _page_token_flags(docs: DataFrame) -> DataFrame:
    """Per-page token meters + A8 budget flag.

    Page spans carry real in/out token columns (corpus.page_tokens —
    the reference's Page.input_tokens/output_tokens, pdf/types.py:19-20);
    ``within`` = 1 iff the running spend BEFORE the page is < budget, the
    reference's pre-page check (pdf/ocr.py:140-143: ``remain_tokens <= 0``
    raises TokenLimitError before rendering the next page)."""
    from pyspark.sql import Window
    from pdf_craft_spark.plans.pipeline import explode_spans

    flat = explode_spans(docs).filter(F.col("kind") == "page")
    parts = F.split(F.col("text"), ",")
    pages = flat.select(
        "doc_id",
        parts.getItem(0).cast("int").alias("page_index"),
        parts.getItem(3).cast("long").alias("in_tok"),
        parts.getItem(4).cast("long").alias("out_tok"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("page_index")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spent_before = F.coalesce(
        F.sum(F.col("in_tok") + F.col("out_tok")).over(w), F.lit(0)
    )
    return pages.withColumn("within", (spent_before < A8_MAX_TOKENS).cast("int"))


def a8_token_metering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 proper: per-doc OCR token metering + budget-cut simulation.

    Metering sums the per-page token columns per document
    (transform.py:241-245) and the budget-cut columns report how far A8's
    max_tokens abort would get: a page is processed iff the running spend
    BEFORE it is < budget."""
    flagged = _page_token_flags(_corpus(spark))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("in_tok").alias("input_tokens"),
            F.sum("out_tok").alias("output_tokens"),
            F.sum("within").alias("pages_within_budget"),
            F.min(
                F.when(F.col("within") == 0, F.col("page_index"))
            ).alias("cut_page_index"),
        )
        .orderBy("doc_id")
    )


def a8_budget_abort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 budget abort, doc-level semantics: the reference raises
    TokenLimitError BEFORE the page that would exceed max_tokens
    (pdf/ocr.py:140-143), the whole transform fails, and error.py:52 maps it
    to InterruptedKind.TOKEN_LIMIT_EXCEEDED carrying the tokens metered so
    far (error.py:44-61).

    Distributed shape: the abort set is decided from the cheap page-marker
    scan and pruned via a broadcast anti-join BEFORE the expensive per-doc
    extraction kernel — over-budget docs never reach the kernel stage (the
    whole point of a budget at 100 TB), and each yields one doc_error span
    carrying the abort metering."""
    docs = _corpus(spark)
    per_doc = _page_token_flags(docs).groupBy("doc_id").agg(
        F.min("within").alias("ok"),
        F.sum(F.when(F.col("within") == 1, F.col("in_tok"))).alias("in_at_abort"),
        F.sum(F.when(F.col("within") == 1, F.col("out_tok"))).alias("out_at_abort"),
        F.sum("within").alias("pages_done"),
    )
    aborted = per_doc.filter(F.col("ok") == 0)
    survivors = docs.join(
        F.broadcast(aborted.select("doc_id")), "doc_id", "left_anti"
    )
    spans = extract_spans_df(survivors)
    err = aborted.select(
        "doc_id",
        F.lit(0).alias("chapter_id"),
        F.lit("doc_error").alias("kind"),
        F.concat(
            F.lit("[[aborted: TOKEN_LIMIT_EXCEEDED after "),
            F.col("pages_done").cast("string"),
            F.lit(" pages, in="),
            F.col("in_at_abort").cast("string"),
            F.lit(", out="),
            F.col("out_at_abort").cast("string"),
            F.lit("]]"),
        ).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    return spans.unionByName(err).orderBy("doc_id", "offset")


def a9_confidence_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 metrics completion: the north-rule's OCR confidence histogram.

    The reference's OCR events carry per-page recognition state
    (pdf/ocr.py:22-39); the corpus's page markers carry a deterministic
    confidence in milli-units (corpus.page_confidence).  The histogram is
    the classic width_bucket-by-0.1 groupBy, kept in exact integer
    arithmetic (bucket = conf_milli // 100) so the oracle comparison has
    no float surface.  One partial-agg shuffle over 10 buckets max —
    trivially scale-safe."""
    from pdf_craft_spark.plans.pipeline import explode_spans

    flat = (
        explode_spans(_corpus(spark))
        .filter(F.col("kind") == "page")
        .select(
            F.split(F.col("text"), ",").getItem(5).cast("long").alias("conf_milli")
        )
    )
    return (
        flat.groupBy(F.floor(F.col("conf_milli") / 100).alias("conf_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("conf_milli").alias("sum_conf_milli"),
            F.min("conf_milli").alias("min_conf_milli"),
            F.max("conf_milli").alias("max_conf_milli"),
        )
        .orderBy("conf_bucket")
    )


_A8_RAW = os.path.join(_GOLDEN_DIR, "raw_spans.parquet")

A8_TOKEN_METERING_SQL = f"""
WITH pages AS (
  SELECT doc_id,
         CAST(string_split(text, ',')[1] AS INT) AS page_index,
         CAST(string_split(text, ',')[4] AS BIGINT) AS in_tok,
         CAST(string_split(text, ',')[5] AS BIGINT) AS out_tok
  FROM read_parquet('{_A8_RAW}') WHERE kind = 'page'
), flagged AS (
  SELECT doc_id, page_index, in_tok, out_tok,
         CASE WHEN coalesce(sum(in_tok + out_tok) OVER (
                PARTITION BY doc_id ORDER BY page_index
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              < {A8_MAX_TOKENS} THEN 1 ELSE 0 END AS within
  FROM pages
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(sum(in_tok) AS BIGINT) AS input_tokens,
       CAST(sum(out_tok) AS BIGINT) AS output_tokens,
       CAST(sum(within) AS BIGINT) AS pages_within_budget,
       min(CASE WHEN within = 0 THEN page_index END) AS cut_page_index
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""

_A8_GOLDEN_SPANS = os.path.join(_GOLDEN_DIR, "pipeline_extract_spans.parquet")

A8_BUDGET_ABORT_SQL = f"""
WITH pages AS (
  SELECT doc_id,
         CAST(string_split(text, ',')[1] AS INT) AS page_index,
         CAST(string_split(text, ',')[4] AS BIGINT) AS in_tok,
         CAST(string_split(text, ',')[5] AS BIGINT) AS out_tok
  FROM read_parquet('{_A8_RAW}') WHERE kind = 'page'
), flagged AS (
  SELECT doc_id, page_index, in_tok, out_tok,
         CASE WHEN coalesce(sum(in_tok + out_tok) OVER (
                PARTITION BY doc_id ORDER BY page_index
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              < {A8_MAX_TOKENS} THEN 1 ELSE 0 END AS within
  FROM pages
), per_doc AS (
  SELECT doc_id, min(within) AS ok,
         CAST(sum(CASE WHEN within = 1 THEN in_tok END) AS BIGINT) AS in_at_abort,
         CAST(sum(CASE WHEN within = 1 THEN out_tok END) AS BIGINT) AS out_at_abort,
         CAST(sum(within) AS BIGINT) AS pages_done
  FROM flagged GROUP BY doc_id
), aborted AS (
  SELECT * FROM per_doc WHERE ok = 0
)
SELECT g.doc_id, g.chapter_id, g.kind, g.text, g.media_ref, g."offset"
FROM read_parquet('{_A8_GOLDEN_SPANS}') g
WHERE g.doc_id NOT IN (SELECT doc_id FROM aborted)
UNION ALL
SELECT doc_id, 0 AS chapter_id, 'doc_error' AS kind,
       '[[aborted: TOKEN_LIMIT_EXCEEDED after ' || pages_done
         || ' pages, in=' || in_at_abort || ', out=' || out_at_abort
         || ']]' AS text,
       NULL AS media_ref, 0 AS "offset"
FROM aborted
ORDER BY doc_id, "offset"
"""

A9_CONFIDENCE_HISTOGRAM_SQL = f"""
WITH pages AS (
  SELECT CAST(string_split(text, ',')[6] AS BIGINT) AS conf_milli
  FROM read_parquet('{_A8_RAW}') WHERE kind = 'page'
)
SELECT conf_milli // 100 AS conf_bucket,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(sum(conf_milli) AS BIGINT) AS sum_conf_milli,
       min(conf_milli) AS min_conf_milli,
       max(conf_milli) AS max_conf_milli
FROM pages GROUP BY conf_bucket ORDER BY conf_bucket
"""


QUERIES = {
    "pipeline_extract_spans": pipeline_extract_spans,
    "pipeline_markdown": pipeline_markdown,
    "pipeline_stage1_prep": pipeline_stage1_prep,
    "pipeline_doc_metrics": pipeline_doc_metrics,
    "pipeline_nested_output": pipeline_nested_output,
    "pipeline_boilerplate_strip": pipeline_boilerplate_strip,
    "pipeline_epub_records": pipeline_epub_records,
    "pipeline_epub_toc": pipeline_epub_toc,
    "a8_token_metering": a8_token_metering,
    "a8_budget_abort": a8_budget_abort,
    "a9_confidence_histogram": a9_confidence_histogram,
}
ORACLES = {
    "pipeline_extract_spans": _golden_sql(
        "pipeline_extract_spans", 'doc_id, "offset"'
    ),
    "pipeline_markdown": _golden_sql("pipeline_markdown", "doc_id"),
    "pipeline_stage1_prep": _golden_sql("pipeline_stage1_prep", 'doc_id, "offset"'),
    "pipeline_doc_metrics": _golden_sql("pipeline_doc_metrics", "doc_id"),
    "pipeline_nested_output": _golden_sql("pipeline_nested_output", "doc_id"),
    "pipeline_boilerplate_strip": _golden_sql(
        "pipeline_boilerplate_strip", 'doc_id, "offset"'
    ),
    "pipeline_epub_records": _golden_sql("pipeline_epub_records", "doc_id, seq"),
    "pipeline_epub_toc": _golden_sql("pipeline_epub_toc", "doc_id, toc_id"),
    "a8_token_metering": A8_TOKEN_METERING_SQL,
    "a8_budget_abort": A8_BUDGET_ABORT_SQL,
    "a9_confidence_histogram": A9_CONFIDENCE_HISTOGRAM_SQL,
}


_EXTRACT_PQ = os.path.join(_GOLDEN_DIR, "pipeline_extract_spans.parquet")
_BOILER_PQ = os.path.join(_GOLDEN_DIR, "pipeline_boilerplate_strip.parquet")


def _seq(df: DataFrame) -> DataFrame:
    w = W.partitionBy("doc_id").orderBy("offset")
    return df.select(
        "doc_id",
        F.row_number().over(w).alias("idx"),
        "kind",
        "text",
        "media_ref",
    )


# --- A/B span-sequence diff ---------------------------------------------------
# The regression harness an extraction migration actually runs: two
# pipeline configurations (here: boilerplate stripping off vs on) compared
# by the north-rule invariant — span-sequence equality on (kind, text,
# media_ref, order) — per document.  Reports both lengths, the longest
# common PREFIX (where the sequences first diverge), and an identical
# flag.  The offsets are deliberately NOT compared (stripping renumbers
# them); order is compared positionally via the per-doc rank, which is
# what "same sequence" means.  One shuffle-free kernel run per variant +
# a per-doc equi-join; at 10^12 docs this is exactly the A/B gate you'd
# run on a sampled partition before a config rollout.
def pipeline_ab_span_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _corpus(spark)
    a = _seq(extract_spans_df(docs)).alias("a")
    b = _seq(extract_spans_df(docs, boilerplate=True)).alias("b")
    j = a.join(b, ["doc_id", "idx"], "full").select(
        "doc_id",
        "idx",
        F.col("a.kind").isNotNull().alias("in_a"),
        F.col("b.kind").isNotNull().alias("in_b"),
        (
            F.col("a.kind").isNotNull()
            & F.col("b.kind").isNotNull()
            & F.expr("a.kind <=> b.kind")
            & F.expr("a.text <=> b.text")
            & F.expr("a.media_ref <=> b.media_ref")
        ).alias("m"),
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("in_a"), F.col("idx"))).cast("long").alias("n_a"),
            F.max(F.when(F.col("in_b"), F.col("idx"))).cast("long").alias("n_b"),
            F.min(F.when(~F.col("m"), F.col("idx"))).alias("first_diff"),
        )
        .selectExpr(
            "doc_id",
            "n_a",
            "n_b",
            "CAST(least(coalesce(first_diff - 1, 2147483647), n_a, n_b) AS BIGINT)"
            " AS lcp",
            "CAST(CASE WHEN first_diff IS NULL THEN 1 ELSE 0 END AS INT)"
            " AS identical",
        )
        .orderBy("doc_id")
    )


PIPELINE_AB_SPAN_DIFF_SQL = f"""
WITH a AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY "offset") AS idx,
         kind, text, media_ref
  FROM read_parquet('{_EXTRACT_PQ}')
), b AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY "offset") AS idx,
         kind, text, media_ref
  FROM read_parquet('{_BOILER_PQ}')
), j AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         coalesce(a.idx, b.idx) AS idx,
         a.idx IS NOT NULL AS in_a,
         b.idx IS NOT NULL AS in_b,
         (a.idx IS NOT NULL AND b.idx IS NOT NULL
          AND a.kind IS NOT DISTINCT FROM b.kind
          AND a.text IS NOT DISTINCT FROM b.text
          AND a.media_ref IS NOT DISTINCT FROM b.media_ref) AS m
  FROM a FULL JOIN b ON a.doc_id = b.doc_id AND a.idx = b.idx
)
SELECT doc_id,
       CAST(max(CASE WHEN in_a THEN idx END) AS BIGINT) AS n_a,
       CAST(max(CASE WHEN in_b THEN idx END) AS BIGINT) AS n_b,
       CAST(least(coalesce(min(CASE WHEN NOT m THEN idx END) - 1, 2147483647),
                  max(CASE WHEN in_a THEN idx END),
                  max(CASE WHEN in_b THEN idx END)) AS BIGINT) AS lcp,
       CAST(CASE WHEN min(CASE WHEN NOT m THEN idx END) IS NULL
            THEN 1 ELSE 0 END AS INT) AS identical
FROM j
GROUP BY doc_id
ORDER BY doc_id
"""

QUERIES["pipeline_ab_span_diff"] = pipeline_ab_span_diff
ORACLES["pipeline_ab_span_diff"] = PIPELINE_AB_SPAN_DIFF_SQL


# --- span-kind transition grammar ---------------------------------------------
# The corpus-level layout grammar: counts of consecutive (kind → kind)
# transitions in extraction order.  A drifting kernel shows up here
# before any per-doc diff does (e.g. titles suddenly followed by
# footnotes), making this the cheap fleet-wide canary: one kernel pass,
# per-doc lead() windows, a kinds²-bounded output.
def span_kind_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = extract_spans_df(_corpus(spark)).select("doc_id", "offset", "kind")
    w = W.partitionBy("doc_id").orderBy("offset")
    return (
        s.select("kind", F.lead("kind").over(w).alias("kind_to"))
        .where(F.col("kind_to").isNotNull())
        .groupBy(F.col("kind").alias("kind_from"), "kind_to")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy("kind_from", "kind_to")
    )


SPAN_KIND_TRANSITIONS_SQL = f"""
WITH s AS (
  SELECT kind,
         lead(kind) OVER (PARTITION BY doc_id ORDER BY "offset") AS kind_to
  FROM read_parquet('{_EXTRACT_PQ}')
)
SELECT kind AS kind_from, kind_to, CAST(count(*) AS BIGINT) AS cnt
FROM s
WHERE kind_to IS NOT NULL
GROUP BY kind, kind_to
ORDER BY kind_from, kind_to
"""

QUERIES["span_kind_transitions"] = span_kind_transitions
ORACLES["span_kind_transitions"] = SPAN_KIND_TRANSITIONS_SQL


# --- media-ref integrity audit --------------------------------------------------
# The interleaved-payload contract check: per span kind (plus an __all__
# rollup row), how many spans carry a media_ref, how many distinct
# assets that is, and whether any asset id is referenced more than once
# within the kind — the dangling/duplicate-reference audit that guards
# the content-addressed asset store (S6) when extraction is re-run or
# resumed.  Aggregation-only: one kernel pass, a (kind, media_ref) group,
# a kinds-sized output.
def media_ref_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = extract_spans_df(_corpus(spark)).select("kind", "media_ref")

    def audit(frame: DataFrame, label_col) -> DataFrame:
        refs = (
            frame.where(F.col("media_ref").isNotNull())
            .groupBy(label_col.alias("kind"), "media_ref")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("kind")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_distinct_media"),
                F.sum(F.expr("CASE WHEN c > 1 THEN 1 ELSE 0 END"))
                .cast("long")
                .alias("n_dup_media"),
            )
        )
        spans = frame.groupBy(label_col.alias("kind")).agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.count("media_ref").cast("long").alias("n_with_media"),
        )
        return spans.join(refs, "kind", "left").selectExpr(
            "kind",
            "n_spans",
            "n_with_media",
            "CAST(coalesce(n_distinct_media, 0) AS BIGINT) AS n_distinct_media",
            "CAST(coalesce(n_dup_media, 0) AS BIGINT) AS n_dup_media",
        )

    per_kind = audit(s, F.col("kind"))
    overall = audit(s, F.lit("__all__"))
    return per_kind.unionAll(overall).orderBy("kind")


MEDIA_REF_INTEGRITY_AUDIT_SQL = f"""
WITH s AS (
  SELECT kind, media_ref FROM read_parquet('{_EXTRACT_PQ}')
), u AS (
  SELECT kind, media_ref FROM s
  UNION ALL
  SELECT '__all__' AS kind, media_ref FROM s
), refs AS (
  SELECT kind,
         CAST(count(*) AS BIGINT) AS n_distinct_media,
         CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_media
  FROM (SELECT kind, media_ref, count(*) AS c FROM u
        WHERE media_ref IS NOT NULL GROUP BY kind, media_ref)
  GROUP BY kind
), spans AS (
  SELECT kind, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(count(media_ref) AS BIGINT) AS n_with_media
  FROM u GROUP BY kind
)
SELECT spans.kind, n_spans, n_with_media,
       CAST(coalesce(n_distinct_media, 0) AS BIGINT) AS n_distinct_media,
       CAST(coalesce(n_dup_media, 0) AS BIGINT) AS n_dup_media
FROM spans LEFT JOIN refs ON refs.kind = spans.kind
ORDER BY spans.kind
"""

QUERIES["media_ref_integrity_audit"] = media_ref_integrity_audit
ORACLES["media_ref_integrity_audit"] = MEDIA_REF_INTEGRITY_AUDIT_SQL
