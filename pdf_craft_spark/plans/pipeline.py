"""The distributed extraction plan.

Shape (SURVEY.md §3.3, tightened round 4): one fully NARROW pipeline,
ZERO shuffles, the same for every sink and every input; building it runs
no Spark job (the landing rebalances an under-partitioned input).

  stage 0  corpus scan (Iceberg/parquet; here: distributed generation)
  stage 1  NARROW vectorized prep on the exploded span rows — Catalyst
           scalar expressions, whole-stage-codegen'd, no Python, no
           shuffle (always on: the kernel runs with stage1_done=True):
             F1 whitespace normalize   regexp_replace + trim
             F3 degeneration filter    filter + rlike with a Java-regex
                                       backreference ('(.{2,5})\\1{15}')
             F4 title '#'-strip        conditional regexp_replace
  stage 2  the per-doc Arrow kernel (W1-W8, J1-J6, E1-E12, A2-A7 —
           operators/document.py) via streaming mapInPandas IN THE SAME
           STAGE: the contract table holds one row per document and rows
           are partition-atomic, so explode already delivers each doc's
           spans contiguous — no exchange needed, only a partition-LOCAL
           sort to restore offset order.  (The former repartition(doc_id)
           exchange was measured pure overhead: 5.7-5.8 s → 4.6-4.9 s at
           local[32]/3,200 docs, outputs value-identical.)
  stage 3  output assembly: flat span rows for downstream relational use,
           or re-nested arrays via array_sort(collect_list(struct)) for
           the Iceberg-style sink; per-doc metrics aggregate alongside.

Skew note (100 TB): documents are independent, so the only skew unit is
one long book (heavy-tailed page counts).  With the narrow plan the unit
of work is the scan split; stage 1 filters/normalizes in place and no
bytes move at all.  A book cannot be split across executors without
breaking W2's cross-page stitching (sequential by construction in the
reference, jointer.py:42-96) — that bound holds for any plan.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_craft_spark.schemas import INTERLEAVED_DOC_SCHEMA, OUT_SPAN_SCHEMA
from pdf_craft_spark.shipping import ensure_package_shipped

# F3 as Java regex backreferences ((?s) so '.' spans newlines): a char
# n-gram (n in [2,5]) repeated >=16x back-to-back, or (n in [6,20]) >=8x —
# one combined scan per span (exactly has_repetitive_ngrams' two bands,
# textutil.py).
#
# Prefilter note (measured 2026-08-16, 250k spans / 146k past the length
# guard): a sound bounded-backreference prefilter
# ('(.)(.{0,4})(?:\1\2){3}|(.)(.{5,19})(?:\3\4){2}', 16% hit rate) made
# the stage SLOWER (0.98s vs 0.86s vs 0.18s regex-free) — both regexes
# fail fast per position, so the prefilter only adds a second scan.  The
# length<32 guard below is the effective prefilter (skips ~40% of spans).
#
# Third lever, measured and REJECTED (2026-08-17, 782k spans / 472k past
# the guard at sf0.1): short-circuiting the full scan behind a cheap
# single-char-run guard ('(?s)(.)\1{31}', a strict subset of band 1, so
# semantics-preserving as `cheap OR full`) — the guard hit ZERO spans
# (this corpus's degenerate class is 2-5-char-gram repeats, not 32+
# same-char runs) and the extra scan cost 12% (1.548s -> 1.734s,
# value-equal outputs).  The two-band regex IS the minimal scan here.
_REPETITION = r"(?s)(.{2,5})\1{15}|(?s)(.{6,20})\2{7}"


def corpus_df(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus: doc ids fan out across partitions,
    each task generates its books locally (no driver-side data)."""
    ensure_package_shipped(spark)
    ids = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdf_craft_spark.corpus import generate_document, pages_to_spans

        for pdf in batches:
            rows = []
            for doc_id in pdf["id"]:
                spans = [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in pages_to_spans(generate_document(int(doc_id), seed))
                ]
                rows.append({"doc_id": str(int(doc_id)), "spans": spans})
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return ids.mapInPandas(gen, schema=INTERLEAVED_DOC_SCHEMA)


def explode_spans(docs: DataFrame) -> DataFrame:
    """Nested contract shape → flat span rows.  Flat columnar spans shuffle
    and Arrow-transfer far better than arrays-of-structs (no per-row dict
    materialization on the Python side)."""
    return docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def prepare_stage1(flat: DataFrame) -> DataFrame:
    """Stage 1: F1 → F3 → F4 on flat span rows, in the reference's
    application order (page_extractor.py:105-123 then jointer.py:181-183)
    — all Catalyst scalar expressions inside whole-stage codegen, narrow.

    Parity footnote: the Python kernel's F1 also strips lone surrogates
    (textutil.py remove_surrogates); this JVM stage does not, which is
    unreachable here — lone surrogates cannot survive into a JVM string
    column: pyarrow/parquet ingest rejects them and the pickle
    createDataFrame path replaces them with U+FFFD, and on post-boundary
    values both surfaces agree (proved by fuzz in
    tests/test_surrogate_boundary.py, which pushes surrogate-bearing
    strings through the boundary and compares this stage against
    normalize_text)."""
    title_kinds = ("title", "sub_title", "fn_title", "fn_sub_title")
    normalized = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    flat = flat.withColumn("text", normalized)
    # guard: a 2-char gram x16 needs >=32 chars, so shorter spans skip the
    # (expensive) backreference regex entirely
    flat = flat.filter(
        (F.col("kind") == "page")
        | (F.length("text") < 32)
        | ~F.col("text").rlike(_REPETITION)
    )
    return flat.withColumn(
        "text",
        F.when(
            F.col("kind").isin(*title_kinds),
            F.regexp_replace(F.col("text"), r"^#+\s+", ""),
        ).otherwise(F.col("text")),
    )


def _doc_spans(pdf: pd.DataFrame):
    """(doc_id, [(kind, text, media_ref, offset), ...]) per document.

    Documents arrive contiguous (partition sorted by doc_id, offset), so
    doc boundaries are numpy change-points over the doc_id column and each
    doc is a plain list slice — measured ~10% of kernel wall was the
    pandas groupby + per-group Series iteration this replaces.

    Contract guard (fail loud, not corrupt): the zero-shuffle plan is
    correct only if the contract table holds ONE row per doc_id.  A
    duplicate row landing in the SAME partition arrives here as repeated
    (doc_id, offset) pairs after the partition-local sort — one vectorized
    comparison catches that and raises instead of emitting a silently
    doubled document.  A duplicate landing in ANOTHER partition is
    invisible to any single task; pass assert_unique_docs=True to the
    plan builders to check that before the kernel runs."""
    import numpy as np

    ids = pdf["doc_id"].to_numpy()
    offs_arr = pdf["offset"].to_numpy()
    dup = (ids[1:] == ids[:-1]) & (offs_arr[1:] == offs_arr[:-1])
    if dup.any():
        bad = ids[1:][dup][0]
        raise ValueError(
            f"contract violation: doc_id {bad!r} has duplicate span offsets in "
            "one partition — the contract table must hold exactly one row per "
            "doc_id (duplicate nested rows detected)"
        )
    kinds = pdf["kind"].tolist()
    texts = pdf["text"].tolist()
    media = pdf["media_ref"].tolist()
    offs = pdf["offset"].tolist()
    bounds = [0, *(np.flatnonzero(ids[1:] != ids[:-1]) + 1).tolist(), len(ids)]
    for i, j in zip(bounds[:-1], bounds[1:]):
        yield ids[i], list(zip(kinds[i:j], texts[i:j], media[i:j], offs[i:j]))


def _check_unique_docs(docs: DataFrame, assert_unique_docs: bool) -> None:
    """Opt-in table-level contract assertion: exactly one row per doc_id.

    The zero-shuffle plan relies on this invariant (module docstring); a
    violation that spans partitions produces two partial documents that no
    single kernel task can detect (the in-kernel guard in _doc_spans
    catches the same-partition case for free).  This check is one cheap
    aggregation job (narrow scan + partial count, no wide rows move), but
    it IS an extra job, so it's off by default and enabled per call, e.g.
    for backfill runs over uncurated tables."""
    if not assert_unique_docs:
        return
    dup = (
        docs.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"contract violation: doc_id {dup[0]['doc_id']!r} appears in "
            f"{dup[0]['n']} rows — the contract table must hold exactly one "
            "nested row per document"
        )


def _extraction_plan(
    docs: DataFrame,
    schema: str | T.StructType,
    emit: Callable[[str, list], Iterable[tuple]],
    assert_unique_docs: bool,
) -> DataFrame:
    """The one extraction plan every sink shares: nested contract table in,
    ``emit(doc_id, pages)`` rows out, typed by ``schema``.

    ZERO-shuffle plan (round 4): the contract table holds ONE ROW PER
    DOCUMENT and rows are atomic within a partition, so explode_spans
    already yields every document's spans contiguous — exactly what the
    kernel's change-point grouping (_doc_spans) needs.  The old
    repartition("doc_id") exchange bought nothing but data movement:
    measured at local[32] / 3,200 docs, 4.6-4.9 s vs 5.7-5.8 s with the
    exchange, outputs value-identical (and at 100 TB the win is
    structural — extraction is scan-local, no shuffle bytes at all).  A
    partition-LOCAL sort (no exchange) still runs so unordered spans
    arrays get their offset order restored.  Kernel parallelism is the
    input's partition count (checkpoint.append_uncommitted rebalances)."""
    ensure_package_shipped(docs.sparkSession)
    _check_unique_docs(docs, assert_unique_docs)
    flat = prepare_stage1(explode_spans(docs)).sortWithinPartitions("doc_id", "offset")
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    cols = schema.fieldNames()

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        """Run the per-doc kernel over a block of >=1 complete documents."""
        from pdf_craft_spark.corpus import parse_raw_spans

        rows: list[tuple] = []
        for doc_id, spans in _doc_spans(pdf):
            rows.extend(emit(doc_id, parse_raw_spans(spans)))
        return pd.DataFrame(rows, columns=cols)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """mapInPandas body: the partition arrives doc-sorted; whole Arrow
        batches are processed at once, with the trailing — possibly
        incomplete — document carried into the next batch.  This amortizes
        Arrow/pandas per-call overhead over hundreds of documents instead
        of paying it per document."""
        carry: pd.DataFrame | None = None  # never empty once set
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            is_last = pdf["doc_id"] == pdf["doc_id"].iloc[-1]
            carry = pdf[is_last]
            if not is_last.all():
                yield block(pdf[~is_last])
        if carry is not None:
            yield block(carry)

    return flat.mapInPandas(kernel, schema=schema)


def _emit_spans(doc_id: str, pages: list, boilerplate: bool) -> list[tuple]:
    from pdf_craft_spark.operators.document import extract_document

    _, out_spans = extract_document(pages, stage1_done=True, boilerplate_strip=boilerplate)
    return [(doc_id, s.chapter_id, s.kind, s.text, s.media_ref, s.offset) for s in out_spans]


def extract_spans_df(
    docs: DataFrame, boilerplate: bool = False, assert_unique_docs: bool = False
) -> DataFrame:
    """Full extraction: nested contract table in, flat output spans out
    (doc_id, chapter_id, kind, text, media_ref, offset)."""
    emit = partial(_emit_spans, boilerplate=boilerplate)
    return _extraction_plan(docs, OUT_SPAN_SCHEMA, emit, assert_unique_docs)


def to_nested_output(flat_spans: DataFrame) -> DataFrame:
    """Stage 3: re-nest to the hinted (doc_id, spans) output shape, span
    order restored JVM-side by array_sort on the leading offset field."""
    return (
        flat_spans.groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(offset, kind, text, media_ref))), "
                "x -> named_struct('kind', x.kind, 'text', x.text, "
                "'media_ref', x.media_ref, 'offset', x.offset))"
            ).alias("spans")
        )
    )


MARKDOWN_SCHEMA = "doc_id string, markdown string, n_spans int"


def _emit_markdown(doc_id: str, pages: list) -> list[tuple]:
    from pdf_craft_spark.operators.document import extract_document

    md, out_spans = extract_document(pages, stage1_done=True)
    return [(doc_id, md, len(out_spans))]


def extract_markdown_df(docs: DataFrame, assert_unique_docs: bool = False) -> DataFrame:
    """S8: the markdown-file sink as a DataFrame — one rendered markdown
    string per document (same kernel, string output instead of spans)."""
    return _extraction_plan(docs, MARKDOWN_SCHEMA, _emit_markdown, assert_unique_docs)


EPUB_RECORD_SCHEMA = (
    "doc_id string, chapter_id int, seq int, record string, level int, "
    "text string, latex string, media_ref string, html string, "
    "title string, caption string, footnote_id int"
)
EPUB_TOC_SCHEMA = (
    "doc_id string, toc_id int, parent_id int, pos int, title string, "
    "has_chapter boolean"
)


def _emit_epub(doc_id: str, pages: list, which: str) -> list[tuple]:
    from pdf_craft_spark.operators.document import extract_epub_records

    records, tocs = extract_epub_records(pages, stage1_done=True)
    if which == "records":
        return [(doc_id, *r) for r in records]
    return [(doc_id, t.toc_id, t.parent_id, t.pos, t.title, t.has_chapter) for t in tocs]


def extract_epub_records_df(
    docs: DataFrame, which: str = "records", assert_unique_docs: bool = False
) -> DataFrame:
    """S9: the EPUB record sink as a DataFrame — flat
    TextBlock/Formula/Image/Table/Footnote rows per document
    (``which='records'``) or the cleaned TOC tree rows (``which='toc'``);
    same zero-shuffle plan shape as the other sinks."""
    schema = EPUB_RECORD_SCHEMA if which == "records" else EPUB_TOC_SCHEMA
    emit = partial(_emit_epub, which=which)
    return _extraction_plan(docs, schema, emit, assert_unique_docs)


def doc_metrics(flat_spans: DataFrame) -> DataFrame:
    """A9: per-doc extraction metrics (spans/doc, chapters/doc, kind mix)."""
    return (
        flat_spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.countDistinct("chapter_id").alias("n_chapters"),
            F.sum(F.when(F.col("kind") == "footnote", 1).otherwise(0)).alias("n_footnotes"),
            F.sum(F.when(F.col("kind").isin("image", "table", "equation"), 1).otherwise(0)).alias(
                "n_assets"
            ),
            F.sum(F.length("text")).alias("n_chars"),
        )
    )
