"""Golden end-to-end snapshot: the extraction output for fixed documents
is locked byte-for-byte.  Any semantic drift in any kernel shows up here
first; update ONLY after verifying the new behavior against the reference
parity suites."""

from __future__ import annotations

import hashlib

from pdf_craft_spark.corpus import generate_document, pages_to_spans, parse_raw_spans
from pdf_craft_spark.operators.document import (
    extract_document,
    extract_epub_records,
    prepare_pages,
)

# updated 2026-08-16 (round 3): corpus v3 — PII fragments in prose and the
# four adversarial docs 24-27 (520-page book / CJK-dense / pathological
# HTML / PII-dense), each verified byte-equal against the reference in
# test_document_parity.py before these snapshots were refreshed
GOLDEN = {
    1: ("a17682ec92", 13),
    2: ("c1a30773a9", 33),
    7: ("e502871d62", 21),
    42: ("883c6eedc1", 23),
    24: ("e0d215eec9", 1737),  # adversarial: 520-page long book
    25: ("42b35bf858", 29),  # adversarial: CJK-dense
    26: ("90a7c9e03e", 25),  # adversarial: pathological HTML tables
    27: ("d8eae62b97", 24),  # adversarial: PII-dense prose
}


def _extract(doc_id: int):
    pages = parse_raw_spans(pages_to_spans(generate_document(doc_id)))
    return extract_document(pages)


def test_golden_snapshots():
    got = {}
    for doc_id in GOLDEN:
        md, spans = _extract(doc_id)
        got[doc_id] = (hashlib.md5(md.encode()).hexdigest()[:10], len(spans))
    assert got == GOLDEN, f"extraction drift: {got}"


def test_span_invariants():
    for doc_id in GOLDEN:
        _, spans = _extract(doc_id)
        assert [s.offset for s in spans] == list(range(len(spans)))
        for s in spans:
            assert s.kind in (
                "text", "title", "image", "table", "equation", "footnote"
            )
            if s.kind == "image":
                assert s.media_ref and len(s.media_ref) == 64


def test_kernel_output_is_the_same_for_raw_and_prepared_pages():
    """prepare_pages is idempotent, so the kernel runs it on every input:
    pages already passed through it give every sink exactly the output of
    their raw originals.  Runs over the golden corpus (golden/n28: docs
    0-27)."""
    changed = 0
    for doc_id in range(28):
        raw = parse_raw_spans(pages_to_spans(generate_document(doc_id)))
        prepared = prepare_pages(raw)
        assert prepare_pages(prepared) == prepared
        changed += prepared != raw
        for toc_assumed in (True, False):
            assert extract_document(prepared, toc_assumed=toc_assumed) == (
                extract_document(raw, toc_assumed=toc_assumed)
            ), (doc_id, toc_assumed)
        assert extract_epub_records(prepared) == extract_epub_records(raw), doc_id
    assert changed  # the corpus does exercise normalize/clamp/filter
