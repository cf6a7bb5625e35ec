"""FULL-DOCUMENT parity: our extract_document vs the reference's complete
dataflow — analyse_toc → generate_chapter_files → render_markdown_file —
run for real (in-test Aho-Corasick, XML round trip, dummy asset files).

This is the north rule's own invariant, checked end to end: the final
markdown (== ordered span text sequence) matches the reference
byte-for-byte per document.  The only patched seam is the reference's
markdownify-backed table converter (absent in this image), replaced by
ours — whose contract is separately golden-tested in test_tables.py.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from tests import aho_shim
from tests.reference_shim import load_reference_module, reference_available
from tests.test_toc_parity import _prepared_pages, _reference_pages

pytestmark = pytest.mark.skipif(
    not reference_available(), reason="reference checkout not present"
)


def _reference_markdown(doc_id: int, tmp: pathlib.Path, toc_assumed: bool = True) -> str:
    aho_shim.install()
    types_mod = load_reference_module("pdf_craft.pdf.types")
    xml_mod = load_reference_module("pdf_craft.common.xml")
    analysing = load_reference_module("pdf_craft.toc.analysing")
    generation = load_reference_module("pdf_craft.sequence.generation")
    render_mod = load_reference_module("pdf_craft.markdown.render.render")
    layouts_mod = load_reference_module("pdf_craft.markdown.render.layouts")

    from pdf_craft_spark.operators.tables import render_table_content

    layouts_mod.render_table_content = render_table_content

    pages = _prepared_pages(doc_id)
    ref_pages = _reference_pages(pages)
    pages_path = tmp / "pages"
    pages_path.mkdir(parents=True, exist_ok=True)
    for p in ref_pages:
        xml_mod.save_xml(types_mod.encode(p), pages_path / f"page_{p.index}.xml")

    toc_info = analysing.analyse_toc(
        pages_path, tmp / "toc.xml", toc_assumed=toc_assumed, toc_llm=None
    )
    chapters_path = tmp / "chapters"
    generation.generate_chapter_files(pages_path, chapters_path, toc_info)

    assets_path = tmp / "assets"
    assets_path.mkdir(exist_ok=True)
    for f in chapters_path.glob("*.xml"):
        for h in re.findall(r'hash="([0-9a-f]{64})"', f.read_text()):
            (assets_path / f"{h}.png").write_bytes(b"x")

    out_md = tmp / "out.md"
    render_mod.render_markdown_file(
        chapters_path=chapters_path,
        assets_path=assets_path,
        output_path=out_md,
        output_assets_path=pathlib.Path("assets"),  # relative, like real usage
        cover_path=None,
        aborted=lambda: False,
    )
    return out_md.read_text()


def _our_markdown(doc_id: int, toc_assumed: bool = True) -> str:
    from pdf_craft_spark.operators.document import extract_document

    pages = _prepared_pages(doc_id)
    md, _ = extract_document(pages, toc_assumed=toc_assumed)
    return md  # the S8 sink string itself — byte-compared, no fixups


@pytest.mark.parametrize("doc_id", list(range(40)))
def test_full_document_markdown_parity(doc_id, tmp_path):
    assert _our_markdown(doc_id) == _reference_markdown(doc_id, tmp_path)


# The sustained-volume bench corpus spans doc ids up to 12,800 (BENCH.md);
# parity evidence must sample the same id range the throughput numbers
# brag about, not just the first 40.  Seeded, deterministic 16-doc sample
# of the large range (disjoint from the 0-39 exhaustive block above).
import random as _random  # noqa: E402

LARGE_CORPUS_SAMPLE = sorted(_random.Random(5).sample(range(40, 12800), 16))


@pytest.mark.parametrize("doc_id", LARGE_CORPUS_SAMPLE)
def test_large_corpus_sample_markdown_parity(doc_id, tmp_path):
    assert _our_markdown(doc_id) == _reference_markdown(doc_id, tmp_path)


@pytest.mark.parametrize("doc_id", list(range(10)))
def test_full_document_parity_no_toc_path(doc_id, tmp_path):
    """toc_assumed=False exercises the analyse_title_levels fallback:
    chapters come from global title-height levels, no TOC-page removal."""
    assert _our_markdown(doc_id, toc_assumed=False) == _reference_markdown(
        doc_id, tmp_path, toc_assumed=False
    )
