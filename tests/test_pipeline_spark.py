"""The distributed plan must equal the single-process kernel span-for-span
(kind, text, media_ref, order) — the north-rule invariant — and stage 1's
JVM prep must be behaviorally identical to the kernel's Python prep."""

from __future__ import annotations

from pdf_craft_spark.corpus import generate_document, pages_to_spans, parse_raw_spans
from pdf_craft_spark.operators.document import extract_document, extract_epub_records
from pdf_craft_spark.plans.pipeline import (
    corpus_df,
    doc_metrics,
    extract_epub_records_df,
    extract_markdown_df,
    extract_spans_df,
    to_nested_output,
)

N_DOCS = 12
SEED = 42


def _local_truth(doc_id: int) -> list[tuple]:
    pages = parse_raw_spans(pages_to_spans(generate_document(doc_id, SEED)))
    _, spans = extract_document(pages)
    return [(s.kind, s.text, s.media_ref, s.offset) for s in spans]


def test_spark_pipeline_matches_kernel(spark):
    docs = corpus_df(spark, N_DOCS, SEED, partitions=4)
    flat = extract_spans_df(docs)
    rows = flat.collect()
    by_doc: dict[str, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == N_DOCS
    for doc_id, doc_rows in by_doc.items():
        got = [
            (r.kind, r.text, r.media_ref, r.offset)
            for r in sorted(doc_rows, key=lambda r: r.offset)
        ]
        assert got == _local_truth(int(doc_id)), f"doc {doc_id} span mismatch"


def test_stage1_off_equals_on(spark):
    """The plan always runs F1/F3/F4 in the JVM (stage 1) and the kernel
    with stage1_done=True; the local kernel on raw pages applies the
    Python F1/F3/F4 instead.  Both must give the same spans."""
    docs = corpus_df(spark, 6, SEED, partitions=2)
    on: dict[str, list] = {}
    for r in extract_spans_df(docs).collect():
        on.setdefault(r.doc_id, []).append((r.kind, r.text, r.media_ref, r.offset))
    assert len(on) == 6
    for doc_id, rows in on.items():
        assert sorted(rows, key=lambda t: t[3]) == _local_truth(int(doc_id)), doc_id


def test_nested_output_order(spark):
    docs = corpus_df(spark, 4, SEED, partitions=2)
    nested = to_nested_output(extract_spans_df(docs)).collect()
    assert len(nested) == 4
    for row in nested:
        offsets = [s.offset for s in row.spans]
        assert offsets == sorted(offsets)
        assert offsets[0] == 0


def test_doc_metrics(spark):
    docs = corpus_df(spark, 4, SEED, partitions=2)
    m = {r.doc_id: r for r in doc_metrics(extract_spans_df(docs)).collect()}
    assert len(m) == 4
    for doc_id, row in m.items():
        assert row.n_spans == len(_local_truth(int(doc_id)))
        assert row.n_chapters >= 1


def test_markdown_sink_matches_kernel(spark):
    docs = corpus_df(spark, 6, SEED, partitions=2)
    got = {r.doc_id: r.markdown for r in extract_markdown_df(docs).collect()}
    assert len(got) == 6
    for doc_id in got:
        pages = parse_raw_spans(pages_to_spans(generate_document(int(doc_id), SEED)))
        md, _ = extract_document(pages)
        assert got[doc_id] == md, f"doc {doc_id} markdown mismatch"


def test_duplicate_doc_rows_fail_loudly_in_kernel(spark):
    """The zero-shuffle plan's precondition is one contract row per
    doc_id.  Duplicate rows co-located in one partition must raise a
    contract-violation error from the kernel, never emit a silently
    doubled document."""
    import pytest

    docs = corpus_df(spark, 4, SEED, partitions=2)
    dup = docs.unionAll(docs.limit(1)).repartition(1)  # dup rows co-located
    with pytest.raises(Exception, match="contract violation"):
        extract_spans_df(dup).count()


def test_assert_unique_docs_catches_cross_partition_duplicates(spark):
    """Cross-partition duplicates are invisible to any single kernel task;
    the opt-in table-level assertion catches them before the kernel runs
    (and is a no-op on a clean table)."""
    import pytest

    docs = corpus_df(spark, 4, SEED, partitions=2)
    # clean table: the assertion passes and the plan still runs
    assert extract_spans_df(docs, assert_unique_docs=True).count() > 0
    dup = docs.unionAll(docs.limit(1))
    with pytest.raises(ValueError, match="contract violation"):
        extract_spans_df(dup, assert_unique_docs=True)


def _rows_by_doc(df) -> dict[str, list[tuple]]:
    """doc_id -> the sink's other columns, in the order the kernel emitted
    them (the plan is narrow after mapInPandas, so collect keeps it)."""
    out: dict[str, list[tuple]] = {}
    for r in df.collect():
        out.setdefault(r.doc_id, []).append(tuple(r)[1:])
    return out


def test_every_sink_matches_kernel_across_arrow_batches(spark):
    """With 7-row Arrow batches every document straddles several batches,
    so each sink's rows come through the carry-the-last-document path;
    they must still equal the in-process kernel doc-for-doc."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    n_docs, batch = 4, 7
    want: dict[str, dict[str, list[tuple]]] = {
        "spans": {}, "markdown": {}, "records": {}, "toc": {}
    }
    for d in range(n_docs):
        raw = pages_to_spans(generate_document(d, SEED))
        assert len(raw) > 2 * batch  # the carry path runs for every doc
        pages = parse_raw_spans(raw)
        md, spans = extract_document(pages)
        records, tocs = extract_epub_records(pages)
        doc_id = str(d)
        want["spans"][doc_id] = [
            (s.chapter_id, s.kind, s.text, s.media_ref, s.offset) for s in spans
        ]
        want["markdown"][doc_id] = [(md, len(spans))]
        want["records"][doc_id] = [tuple(r) for r in records]
        want["toc"][doc_id] = [
            (t.toc_id, t.parent_id, t.pos, t.title, t.has_chapter) for t in tocs
        ]

    old = spark.conf.get(key, None)
    spark.conf.set(key, str(batch))
    try:
        docs = corpus_df(spark, n_docs, SEED, partitions=2)
        got = {
            "spans": _rows_by_doc(extract_spans_df(docs)),
            "markdown": _rows_by_doc(extract_markdown_df(docs)),
            "records": _rows_by_doc(extract_epub_records_df(docs, which="records")),
            "toc": _rows_by_doc(extract_epub_records_df(docs, which="toc")),
        }
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    for sink, by_doc in want.items():
        assert got[sink] == {d: rows for d, rows in by_doc.items() if rows}, sink
