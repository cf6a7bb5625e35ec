"""S9 record-sink parity: our EPUB record conversion + TOC collection vs
the reference's ACTUAL render_epub_file (epub/render.py, toc_collection.py)
run in-process through the typed epub_generator shim (the container writer
is replaced by a capture; everything upstream of it is reference code).

Canonicalization for comparison:
- content lists are flattened with our E11 line-joiner on BOTH sides (the
  epub-generator package does its own line handling downstream; what we
  assert is the transformed item stream);
- inline latex goes through the reference's own failure fallback
  ('[{latex}]', epub/latex_to_text.py:9-10) on both sides — the reference's
  pylatexenc converter is patched to raise, which IS its no-codec behavior;
- table HTML is compared through the same GFM converter on both sides
  (our raw sanitized string vs the reference's re-serialized tag tree).
"""

from __future__ import annotations

import pathlib
import re

import pytest

from tests import aho_shim, epub_gen_shim
from tests.reference_shim import load_reference_module, reference_available
from tests.test_toc_parity import _prepared_pages, _reference_pages

pytestmark = pytest.mark.skipif(
    not reference_available(), reason="reference checkout not present"
)


def _reference_epub_data(doc_id: int, tmp: pathlib.Path):
    aho_shim.install()
    epub_gen_shim.install()
    types_mod = load_reference_module("pdf_craft.pdf.types")
    xml_mod = load_reference_module("pdf_craft.common.xml")
    analysing = load_reference_module("pdf_craft.toc.analysing")
    generation = load_reference_module("pdf_craft.sequence.generation")
    latex_mod = load_reference_module("pdf_craft.epub.latex_to_text")
    epub_render = load_reference_module("pdf_craft.epub.render")

    class _Raising:
        def latex_to_text(self, s):
            raise RuntimeError("no latex codec")

    latex_mod._converter = _Raising()  # force the reference's own fallback

    pages = _prepared_pages(doc_id)
    ref_pages = _reference_pages(pages)
    pages_path = tmp / "pages"
    pages_path.mkdir(parents=True, exist_ok=True)
    for p in ref_pages:
        xml_mod.save_xml(types_mod.encode(p), pages_path / f"page_{p.index}.xml")

    toc_path = tmp / "toc.xml"
    toc_info = analysing.analyse_toc(pages_path, toc_path, toc_assumed=True, toc_llm=None)
    chapters_path = tmp / "chapters"
    generation.generate_chapter_files(pages_path, chapters_path, toc_info)

    assets_path = tmp / "assets"
    assets_path.mkdir(exist_ok=True)
    for f in chapters_path.glob("*.xml"):
        for h in re.findall(r'hash="([0-9a-f]{64})"', f.read_text()):
            (assets_path / f"{h}.png").write_bytes(b"x")

    epub_gen_shim.CAPTURED.clear()
    epub_render.render_epub_file(
        chapters_path=chapters_path,
        toc_path=toc_path if toc_info is not None else None,
        assets_path=assets_path,
        epub_path=tmp / "out.epub",
        cover_path=None,
        book_meta=None,
        lan="en",
        table_render=epub_gen_shim.TableRender.HTML,
        latex_render=epub_gen_shim.LaTeXRender.MATHML,
        inline_latex=False,
        aborted=lambda: False,
    )
    assert len(epub_gen_shim.CAPTURED) == 1
    return epub_gen_shim.CAPTURED[0]


def _serialize_tag(tag) -> str:
    inner = "".join(
        _serialize_tag(c) if isinstance(c, epub_gen_shim.HTMLTag) else str(c)
        for c in tag.content
    )
    attrs = tag.attributes or {}
    if hasattr(attrs, "items"):
        attr_s = "".join(f' {k}="{v}"' for k, v in attrs.items())
    else:
        attr_s = ""
    return f"<{tag.name}{attr_s}>{inner}</{tag.name}>"


def _flatten_content(content) -> str:
    from pdf_craft_spark.operators.render import _normalize_lines

    parts = []
    for item in content:
        if isinstance(item, str):
            parts.append(item)
        elif isinstance(item, epub_gen_shim.Mark):
            parts.append(f"[^{item.id}]")
        elif isinstance(item, epub_gen_shim.Formula):
            parts.append(f"[{item.latex_expression}]")
        elif isinstance(item, epub_gen_shim.HTMLTag):
            parts.append(_serialize_tag(item))
    return _normalize_lines(parts)


def _table_canon(html: str) -> str:
    from pdf_craft_spark.operators.tables import render_table_content

    return render_table_content(html)


def _flatten_ref_chapter(rec) -> list[tuple]:
    out = []
    for el in rec.elements:
        if isinstance(el, epub_gen_shim.TextBlock):
            out.append(("text", el.kind.value, el.level, _flatten_content(el.content)))
        elif isinstance(el, epub_gen_shim.Formula):
            out.append(
                ("formula", el.latex_expression, _flatten_content(el.title),
                 _flatten_content(el.caption))
            )
        elif isinstance(el, epub_gen_shim.Image):
            out.append(
                ("image", pathlib.Path(el.path).stem, _flatten_content(el.title),
                 _flatten_content(el.caption))
            )
        elif isinstance(el, epub_gen_shim.Table):
            out.append(
                ("table", _table_canon(_serialize_tag(el.html_content)),
                 _flatten_content(el.title), _flatten_content(el.caption))
            )
    for fn in rec.footnotes:
        out.append(
            ("footnote", fn.id, tuple(_flatten_content(c.content) if isinstance(c, epub_gen_shim.TextBlock) else str(c) for c in fn.contents))
        )
    return out


def _flatten_ref_toc(items) -> list[tuple]:
    out = []
    for pos, it in enumerate(items):
        out.append((pos, it.title, it.get_chapter is not None))
        out.extend(
            (pos, t, h) for pos, t, h in []
        )
    return out


def _ref_toc_tree(items) -> list:
    return [
        (it.title, it.get_chapter is not None, _ref_toc_tree(it.children))
        for it in items
    ]


def _our_records(doc_id: int):
    from pdf_craft_spark.operators.document import extract_epub_records

    pages = _prepared_pages(doc_id)
    return extract_epub_records(pages)


def _flatten_our_rows(rows) -> dict:
    """group flat rows back per chapter_id preserving order."""
    by_ch: dict = {}
    for (ch_id, _seq, record, level, text, latex, media_ref, html, title,
         caption, footnote_id) in rows:
        lst = by_ch.setdefault(ch_id, [])
        if record in ("headline", "body"):
            lst.append(("text", record, level, text))
        elif record == "formula":
            lst.append(("formula", latex, title, caption))
        elif record == "image":
            lst.append(("image", media_ref, title, caption))
        elif record == "table":
            lst.append(("table", _table_canon(html), title, caption))
        elif record == "footnote":
            lst.append(("footnote", footnote_id, tuple(text.split("\n\n")) if text else ()))
    return by_ch


def _our_toc_tree(toc_recs) -> list:
    children: dict = {}
    for rec in toc_recs:
        children.setdefault(rec.parent_id, []).append(rec)
    for lst in children.values():
        lst.sort(key=lambda r: r.pos)

    def build(parent_id):
        return [
            (r.title, r.has_chapter, build(r.toc_id))
            for r in children.get(parent_id, [])
        ]

    return build(None)


@pytest.mark.parametrize("doc_id", list(range(16)))
def test_epub_records_parity(doc_id, tmp_path):
    data = _reference_epub_data(doc_id, tmp_path)
    rows, toc_recs = _our_records(doc_id)
    ours = _flatten_our_rows(rows)

    # head chapter
    ref_head = _flatten_ref_chapter(data.get_head()) if data.get_head else []
    assert ours.get(None, []) == ref_head, f"doc {doc_id} head mismatch"

    # toc tree shape + titles + chapter presence
    assert _our_toc_tree(toc_recs) == _ref_toc_tree(data.chapters), (
        f"doc {doc_id} toc tree mismatch"
    )

    # every toc chapter's records, walked in tree order
    ref_flat: list[tuple] = []

    def walk(items):
        for it in items:
            ref_flat.append((it.title, _flatten_ref_chapter(it.get_chapter()) if it.get_chapter else None))
            walk(it.children)

    walk(data.chapters)

    our_by_title: dict = {}
    id_to_title = {r.toc_id: (r.title, r.has_chapter) for r in toc_recs}
    for ch_id, recs in ours.items():
        if ch_id is None:
            continue
        if ch_id in id_to_title:
            title, has_ch = id_to_title[ch_id]
            our_by_title.setdefault(title, []).append(recs if has_ch else None)

    for title, ref_recs in ref_flat:
        if title == "unknown":
            continue
        assert title in our_by_title, f"doc {doc_id}: missing chapter {title!r}"
        candidates = our_by_title[title]
        assert ref_recs in candidates, f"doc {doc_id} chapter {title!r} records mismatch"
