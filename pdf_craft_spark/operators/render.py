"""E11/E12: markdown rendering of chapters + the ordered output spans.

Behavioral spec: /root/reference/pdf_craft/markdown/paragraph/render.py:77-108
(line re-join: lines merge with a space unless BOTH boundary chars are
Chinese), markdown/render/layouts.py:22-236 (heading prefixes, asset
blocks, footnote marks), markdown/render/render.py:15-92 (document
assembly + References section).
"""

from __future__ import annotations

from pdf_craft_spark.operators.jointer import parse_content
from pdf_craft_spark.operators.latex import (
    KIND_BRACKET,
    KIND_TEXT,
    to_markdown_string,
)
from pdf_craft_spark.operators.model import (
    Asset,
    Chapter,
    FootnoteRef,
    OutSpan,
    Para,
    Seg,
)
from pdf_craft_spark.operators.textutil import is_chinese_char
from pdf_craft_spark.operators.toclib import TITLE_KINDS

_MAX_TOC_LEVELS = 3
_MAX_TITLE_LEVELS = 6

RefNumbers = dict[tuple[int, int], int]


def _render_seg(seg: Seg, ref_numbers: RefNumbers | None) -> str:
    if seg.kind == KIND_TEXT:
        return to_markdown_string(KIND_TEXT, seg.text)
    if seg.kind == "html":
        return seg.text  # already-sanitized markup, verbatim
    if seg.kind == "ref":
        if ref_numbers is None:
            return ""
        return f"[^{ref_numbers.get(seg.ref_key, 1)}]"
    latex = seg.text.strip()
    if not latex:
        return ""
    return to_markdown_string(seg.kind, latex)


def _normalize_lines(parts: list[str]) -> str:
    """E11: join line fragments with a single space unless both boundary
    chars are Chinese; leading/trailing line whitespace dropped."""
    out: list[str] = []
    last_char: str | None = None
    line_head = True
    flat: list[str] = []
    for part in parts:
        if not part:
            continue
        pieces = part.splitlines()
        flat.append(pieces[0])
        for p in pieces[1:]:
            flat.append("\n")
            flat.append(p)
    for part in flat:
        if part == "\n":
            line_head = True
            continue
        if line_head:
            line_head = False
            part = part.lstrip()
            if part and last_char is not None and (
                not is_chinese_char(last_char) or not is_chinese_char(part[0])
            ):
                out.append(" ")
        if part:
            out.append(part)
            stripped = part.rstrip()
            if stripped:
                last_char = stripped[-1]
    return "".join(out)


def render_paragraph(
    para: Para, toc_level: int, ref_numbers: RefNumbers | None
) -> str:
    prefix = ""
    if para.level >= 0 and para.kind in TITLE_KINDS:
        level = min(toc_level + para.level, _MAX_TITLE_LEVELS)
        prefix = "#" * (level + 1) + " "
    parts: list[str] = []
    for block in para.blocks:
        parts.append(
            _normalize_lines([_render_seg(s, ref_numbers) for s in block.segs])
        )
    return prefix + "".join(parts)


def _render_string_as_paragraph(text: str | None, ref_numbers: RefNumbers | None) -> str:
    if not text:
        return ""
    return _normalize_lines([_render_seg(s, ref_numbers) for s in parse_content(text)])


def render_asset(asset: Asset, ref_numbers: RefNumbers | None) -> str:
    parts: list[str] = []
    has_content = False

    title = _render_string_as_paragraph(asset.title, ref_numbers).strip()
    if title:
        parts.append(title)
        has_content = True

    if asset.kind == "equation":
        content = _render_string_as_paragraph(asset.content, ref_numbers).strip()
        if content:
            if has_content:
                parts.append("\n\n")
            parts.append(to_markdown_string(KIND_BRACKET, content))
        # the reference flags has_content from the RAW field, even when the
        # render came out empty (layouts.py:139-144) — caption spacing
        # depends on it
        if asset.content:
            has_content = True
    elif asset.kind == "table":
        if asset.content:
            if has_content:
                parts.append("\n\n")
            # E9: simple tables become GFM; complex ones keep raw HTML
            from pdf_craft_spark.operators.tables import render_table_content

            parts.append(render_table_content(asset.content))
            has_content = True
    elif asset.kind == "image":
        if asset.media_ref:
            if has_content:
                parts.append("\n\n")
            parts.append(f"![](assets/{asset.media_ref}.png)")
            has_content = True

    caption = _render_string_as_paragraph(asset.caption, ref_numbers).strip()
    if caption:
        if has_content:
            parts.append("\n\n")
        parts.append(caption)
    return "".join(parts)


def collect_reference_keys(chapter: Chapter) -> list[tuple[int, int]]:
    """First-appearance ref keys in one chapter (dedup within chapter)."""
    seen: set[tuple[int, int]] = set()
    out: list[tuple[int, int]] = []
    for item in chapter.items:
        if isinstance(item, Para):
            for block in item.blocks:
                for seg in block.segs:
                    if seg.kind == "ref" and seg.ref_key not in seen:
                        seen.add(seg.ref_key)
                        out.append(seg.ref_key)
    return out


def number_references(chapters: list[Chapter]) -> RefNumbers:
    """Document-wide footnote numbers: every chapter's reference keys,
    deduplicated and sorted by (page, order), numbered from 1 (J6/W7).
    The dict iterates in number order."""
    keys = sorted({key for ch in chapters for key in collect_reference_keys(ch)})
    return {k: i for i, k in enumerate(keys, 1)}


def render_document(
    chapters: list[Chapter],
    refs_by_key: dict[tuple[int, int], FootnoteRef],
) -> tuple[str, list[OutSpan]]:
    """S8: one markdown string + the ordered span sequence for the doc.

    Chapters arrive head-first then by id (reader order, S7).  Footnote
    numbering is global first-appearance order sorted by (page, order)
    (J6/W7).
    """
    ref_numbers = number_references(chapters)

    md_parts: list[str] = []
    spans: list[OutSpan] = []
    offset = 0

    for ch in chapters:
        toc_level = min(ch.level, _MAX_TOC_LEVELS - 1)
        for item in ch.items:
            if isinstance(item, Para):
                text = render_paragraph(item, toc_level, ref_numbers)
                kind = "title" if item.kind in TITLE_KINDS and item.level >= 0 else "text"
                spans.append(
                    OutSpan(
                        kind=kind,
                        text=text,
                        media_ref=None,
                        offset=offset,
                        chapter_id=ch.id,
                    )
                )
            else:
                text = render_asset(item, ref_numbers)
                spans.append(
                    OutSpan(
                        kind=item.kind,
                        text=text,
                        media_ref=item.media_ref,
                        offset=offset,
                        chapter_id=ch.id,
                    )
                )
            md_parts.append(text)
            offset += 1

    # footnotes section (render.py:74-92); the reference opens it with a
    # '---' divider + '## References' heading (render.py:82) — a markdown
    # rendering artifact, so it joins md_parts but is NOT a content span
    divider_pending = True
    for key, i in ref_numbers.items():
        ref = refs_by_key.get(key)
        if ref is None:
            continue
        body_parts: list[str] = []
        for item in ref.items:
            if body_parts:
                body_parts.append("\n\n")
            if isinstance(item, Para):
                body_parts.append(render_paragraph(item, 0, None))
            else:
                body_parts.append(render_asset(item, None))
        text = f"[^{i}]:  " + "".join(body_parts)
        spans.append(
            OutSpan(kind="footnote", text=text, media_ref=None, offset=offset, chapter_id=None)
        )
        if divider_pending:
            md_parts.append("---\n\n## References")
            divider_pending = False
        md_parts.append(text)
        offset += 1

    markdown = "\n\n".join(p for p in md_parts if p is not None)
    return markdown, spans
