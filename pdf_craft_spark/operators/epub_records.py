"""S9 (deterministic half) + E10: the EPUB record sink.

The reference's pdf2epub path is generate_epub (external ``epub-generator``
package — the container/IO side) fed by a PURE record conversion:
chapters → TextBlock/Formula/Image/Table/Footnote records
(/root/reference/pdf_craft/epub/render.py:119-172,188-296) plus a TOC-tree
collection with empty-node cleanup
(/root/reference/pdf_craft/epub/toc_collection.py:26-123).  This module
re-expresses that pure dataflow over this engine's chapter model; the
.epub container itself stays out of scope (SURVEY §7).

Reproduced reference behaviors (quirks included):

- paragraph content is transformed with ``ref_id_to_number=None``
  (epub/render.py:142-146), so footnote REFERENCE MARKS ARE DROPPED from
  body text blocks — marks only surface in asset titles/captions, where
  the number map IS passed (epub/render.py:195-206);
- formulas with an empty extracted expression are dropped
  (epub/render.py:210-212); images/tables without a content hash are
  dropped (epub/render.py:220-221,234-235);
- footnotes are numbered by the GLOBAL first-(page,order) map but emitted
  per chapter in chapter-discovery order (epub/render.py:60-63,157-168);
- TOC collect: only chapters whose first layout is a title participate;
  empty title → 'Untitled'; have_body == more than just the title layout
  (epub/render.py:79-93); normalize drops leaf nodes with no body and
  demotes body-less internal nodes to toc-only entries
  (toc_collection.py:100-123).

E10 (latex → plain text): the reference delegates to pylatexenc and falls
back to ``[{latex}]`` on ANY conversion failure (epub/latex_to_text.py:6-10).
pylatexenc is not in this image, so every conversion takes the reference's
own failure fallback; when pylatexenc IS importable it is used.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pdf_craft_spark.operators.jointer import parse_content
from pdf_craft_spark.operators.latex import KIND_TEXT
from pdf_craft_spark.operators.model import Asset, Chapter, FootnoteRef, Para, Seg
from pdf_craft_spark.operators.render import RefNumbers, _normalize_lines, number_references
from pdf_craft_spark.operators.toclib import TITLE_KINDS, TocItem

try:  # pragma: no cover - not present in this image
    from pylatexenc.latex2text import LatexNodes2Text

    _LATEX_CONVERTER = LatexNodes2Text()
except Exception:
    _LATEX_CONVERTER = None


def latex_to_plain_text(latex: str) -> str:
    """E10 (epub/latex_to_text.py:6-10)."""
    if _LATEX_CONVERTER is not None:  # pragma: no cover
        try:
            return _LATEX_CONVERTER.latex_to_text(latex)
        except Exception:
            return f"[{latex}]"
    return f"[{latex}]"


# --- record model (the epub-generator payload, minus file IO) ---------------

@dataclass
class TextBlockRec:
    kind: str  # 'headline' | 'body'
    level: int
    text: str


@dataclass
class FormulaRec:
    latex: str
    title: str
    caption: str


@dataclass
class ImageRec:
    hash: str
    title: str
    caption: str


@dataclass
class TableRec:
    html: str
    hash: str | None
    title: str
    caption: str


@dataclass
class FootnoteRec:
    id: int
    texts: list[str]  # flattened contents (one per content record)


@dataclass
class TocRec:
    toc_id: int
    parent_id: int | None
    pos: int  # sibling position after cleanup
    title: str
    has_chapter: bool


def _transform_segs(segs: list[Seg], ref_numbers: RefNumbers | None) -> list[str]:
    """epub/render.py:296-330 _transform_content over our flat segs: text
    verbatim, inline latex through E10, refs → '[^n]' marks only when a
    number map is passed (else dropped), sanitized html kept verbatim."""
    out: list[str] = []
    for seg in segs:
        if seg.kind == KIND_TEXT:
            out.append(seg.text)
        elif seg.kind == "html":
            out.append(seg.text)
        elif seg.kind == "ref":
            if ref_numbers is not None:
                out.append(f"[^{ref_numbers.get(seg.ref_key, 1)}]")
        else:  # inline/display latex
            latex = seg.text.strip()
            if latex:
                out.append(latex_to_plain_text(latex))
    return out


def _para_text(para: Para, ref_numbers: RefNumbers | None) -> str | None:
    """None == no content at all (the record is dropped, render.py:147)."""
    pieces: list[str] = []
    any_item = False
    for block in para.blocks:
        items = _transform_segs(block.segs, ref_numbers)
        any_item = any_item or bool(items)
        pieces.append(_normalize_lines(items))
    if not any_item:
        return None
    return "".join(pieces)


def _string_field(text: str | None, ref_numbers: RefNumbers | None) -> str:
    if not text:
        return ""
    return _normalize_lines(_transform_segs(parse_content(text), ref_numbers))


def _latex_expression(content: str) -> str:
    """epub/render.py:177-186 _extract_text_from_content: strings + inline
    expression bodies, concatenated and stripped."""
    parts = []
    for seg in parse_content(content):
        if seg.kind == KIND_TEXT:
            parts.append(seg.text)
        elif seg.kind not in ("ref", "html"):
            parts.append(seg.text)
    return "".join(parts).strip()


def _asset_record(asset: Asset, ref_numbers: RefNumbers | None):
    """epub/render.py:188-262 _convert_asset_to_epub."""
    title = _string_field(asset.title, ref_numbers)
    caption = _string_field(asset.caption, ref_numbers)
    if asset.kind == "equation":
        latex = _latex_expression(asset.content or "")
        if not latex:
            return None
        return FormulaRec(latex=latex, title=title, caption=caption)
    if asset.kind == "image":
        if asset.media_ref is None:
            return None
        return ImageRec(hash=asset.media_ref, title=title, caption=caption)
    if asset.kind == "table":
        # no content hash → dropped even when HTML exists, matching
        # epub/render.py:234-235 (the markdown sink keeps such tables;
        # this sink's contract is the reference's)
        if asset.media_ref is None:
            return None
        if asset.content:
            return TableRec(
                html=asset.content, hash=asset.media_ref, title=title, caption=caption
            )
        return ImageRec(hash=asset.media_ref, title=title, caption=caption)
    return None


def chapter_records(
    chapter: Chapter,
    refs_by_key: dict[tuple[int, int], FootnoteRef],
    ref_numbers: RefNumbers,
) -> tuple[list, list[FootnoteRec]]:
    """epub/render.py:119-172 _convert_chapter_to_epub."""
    elements: list = []
    for item in chapter.items:
        if isinstance(item, Asset):
            rec = _asset_record(item, ref_numbers)
            if rec is not None:
                elements.append(rec)
        elif isinstance(item, Para):
            # reference passes ref_id_to_number=None here — marks dropped
            text = _para_text(item, None)
            if text is not None:
                elements.append(
                    TextBlockRec(
                        kind="headline" if item.kind in TITLE_KINDS else "body",
                        level=item.level,
                        text=text,
                    )
                )

    footnotes: list[FootnoteRec] = []
    from pdf_craft_spark.operators.render import collect_reference_keys

    for key in collect_reference_keys(chapter):
        ref = refs_by_key.get(key)
        if ref is None:
            continue
        texts: list[str] = []
        for ritem in ref.items:
            if isinstance(ritem, Asset):
                rec = _asset_record(ritem, None)
                if rec is None:
                    continue
                if isinstance(rec, FormulaRec):
                    texts.append(latex_to_plain_text(rec.latex))
                elif isinstance(rec, TableRec):
                    texts.append(rec.html)
                else:
                    texts.append(rec.hash)
            elif isinstance(ritem, Para):
                text = _para_text(ritem, None)
                if text is not None:
                    texts.append(text)
        footnotes.append(FootnoteRec(id=ref_numbers.get(key, 1), texts=texts))
    return elements, footnotes


# --- TOC collection (toc_collection.py) --------------------------------------

@dataclass
class _Node:
    toc_id: int | None
    title: str = "unknown"
    has_chapter: bool = False
    have_body: bool = False
    children: list["_Node"] = field(default_factory=list)


def _chapter_title(chapter: Chapter) -> str | None:
    """First layout must be a title paragraph (epub/render.py:79-87);
    returns its plain-string text or None if not a title-led chapter."""
    if not chapter.items:
        return None
    first = chapter.items[0]
    if not isinstance(first, Para) or first.kind not in TITLE_KINDS:
        return None
    text = "".join(
        seg.text for b in first.blocks for seg in b.segs if seg.kind == KIND_TEXT
    ).strip()
    return text or "Untitled"


def collect_toc(
    chapters: list[Chapter], toc_items: list[TocItem]
) -> list[TocRec]:
    """TocCollection.collect + normalize over structure_toc's parent-pointer
    rows, emitted as flat (toc_id, parent_id, pos, title, has_chapter)."""
    by_id = {t.id: t for t in toc_items}
    roots: list[_Node] = []
    id_to_node: dict[int, _Node] = {}
    extra: list[_Node] = []

    def _stack(toc_id: int) -> list[TocItem]:
        item = by_id.get(toc_id)
        path: list[TocItem] = []
        while item is not None:
            path.append(item)
            item = by_id.get(item.parent_id) if item.parent_id is not None else None
        return list(reversed(path))

    def _find_or_append(tid: int, siblings: list[_Node]) -> _Node:
        node = id_to_node.get(tid)
        if node is not None:
            return node
        node = _Node(toc_id=tid)
        siblings.append(node)
        id_to_node[tid] = node
        return node

    for ch in chapters:
        if ch.id is None:
            continue
        title = _chapter_title(ch)
        if title is None:
            continue
        have_body = len(ch.items) > 1
        path = _stack(ch.id)
        if path:
            siblings = roots
            node = None
            for raw in path:
                node = _find_or_append(raw.id, siblings)
                siblings = node.children
            assert node is not None
            node.title = title
            node.has_chapter = True
        else:
            node = _Node(toc_id=ch.id, title=title, has_chapter=True)
            extra.append(node)
            id_to_node[ch.id] = node
        if have_body:
            node.have_body = True

    def _clean(nodes: list[_Node]) -> None:
        i = 0
        while i < len(nodes):
            node = nodes[i]
            _clean(node.children)
            if not node.have_body and not node.children:
                nodes.pop(i)
            else:
                if not node.have_body:
                    node.has_chapter = False  # toc-only entry
                i += 1

    _clean(roots)
    _clean(extra)

    out: list[TocRec] = []

    def _emit(nodes: list[_Node], parent_id: int | None) -> None:
        for pos, node in enumerate(nodes):
            out.append(
                TocRec(
                    toc_id=node.toc_id,
                    parent_id=parent_id,
                    pos=pos,
                    title=node.title,
                    has_chapter=node.has_chapter,
                )
            )
            _emit(node.children, node.toc_id)

    _emit(roots + extra, None)
    return out


def document_epub_records(
    chapters: list[Chapter],
    refs_by_key: dict[tuple[int, int], FootnoteRef],
) -> list[tuple]:
    """Flat rows for the DataFrame sink: (chapter_id, seq, record, level,
    text, latex, media_ref, html, title, caption, footnote_id)."""
    ref_numbers = number_references(chapters)

    rows: list[tuple] = []
    seq = 0

    def emit(ch_id, record, level=None, text=None, latex=None, media_ref=None,
             html=None, title=None, caption=None, footnote_id=None):
        nonlocal seq
        rows.append(
            (ch_id, seq, record, level, text, latex, media_ref, html, title,
             caption, footnote_id)
        )
        seq += 1

    for ch in chapters:
        elements, footnotes = chapter_records(ch, refs_by_key, ref_numbers)
        for rec in elements:
            if isinstance(rec, TextBlockRec):
                emit(ch.id, rec.kind, level=rec.level, text=rec.text)
            elif isinstance(rec, FormulaRec):
                emit(ch.id, "formula", latex=rec.latex, title=rec.title,
                     caption=rec.caption)
            elif isinstance(rec, ImageRec):
                emit(ch.id, "image", media_ref=rec.hash, title=rec.title,
                     caption=rec.caption)
            elif isinstance(rec, TableRec):
                emit(ch.id, "table", media_ref=rec.hash, html=rec.html,
                     title=rec.title, caption=rec.caption)
        for fn in footnotes:
            emit(ch.id, "footnote", text="\n\n".join(fn.texts),
                 footnote_id=fn.id)
    return rows
