"""Per-document extraction orchestration (the §3 lifecycle, minus OCR).

This is the single-doc kernel the Spark plan runs under ``mapInPandas``
over doc-contiguous partitions (plans/pipeline.py): raw classified layout
spans in → ordered output spans + markdown out.  Mirrors
``Transform._extract_from_pdf`` + ``generate_chapter_files`` +
``render_markdown_file``
(/root/reference/pdf_craft/transform.py:192, sequence/generation.py:23,
markdown/render/render.py:15).
"""

from __future__ import annotations

from pdf_craft_spark.operators.footnotes import (
    extract_page_references,
    join_adjacent_texts,
    replace_marks_in_block,
)
from pdf_craft_spark.operators.jointer import joint_document_stream
from pdf_craft_spark.operators.levels import analyse_chapter_internal_levels
from pdf_craft_spark.operators.model import (
    Chapter,
    FootnoteRef,
    OutSpan,
    Para,
    RawLayout,
    RawPage,
)
from pdf_craft_spark.operators.punctuation import normalize_punctuation_in_chapter
from pdf_craft_spark.operators.render import collect_reference_keys, render_document
from pdf_craft_spark.operators.textutil import (
    clamp_det,
    is_degenerate_ocr_text,
    normalize_text,
)
from pdf_craft_spark.operators.toclib import (
    TITLE_KINDS,
    analyse_title_levels,
    analyse_toc_levels,
    find_toc_pages,
    structure_toc,
)


def prepare_layout(
    kind: str,
    text: str | None,
    det: tuple[int, int, int, int],
    media_ref: str | None,
    page_width: int,
    page_height: int,
) -> tuple[str, tuple[int, int, int, int]] | None:
    """Stage-1 per-layout prep (F1 normalize, F2 clamp, F3 degeneration
    filter).  Returns (normalized_text, clamped_det) or None to drop.

    In the Spark plan this runs vectorized BEFORE the per-doc kernel; the
    kernel accepts either prepared or raw layouts (idempotent)."""
    text = normalize_text(text)
    clamped = clamp_det(page_width, page_height, det)
    if clamped is None:
        return None
    if is_degenerate_ocr_text(text):
        return None
    return text, clamped


def prepare_pages(pages: list[RawPage], text_ops: bool = True) -> list[RawPage]:
    """Apply prepare_layout to every layout; re-assign per-area orders
    (the reference numbers layouts after filtering, page_extractor.py:128-134).

    ``text_ops=False`` when the Spark plan's stage 1 already ran F1/F3/F4
    JVM-side — only F2 clamping + renumbering remain.
    """
    out: list[RawPage] = []
    for page in pages:
        new_page = RawPage(index=page.index, width=page.width, height=page.height)
        for area_src, area_dst in ((page.body, new_page.body), (page.footnotes, new_page.footnotes)):
            for lay in area_src:
                if text_ops:
                    prepped = prepare_layout(
                        lay.kind, lay.text, lay.det, lay.media_ref, page.width, page.height
                    )
                    if prepped is None:
                        continue
                    text, det = prepped
                else:
                    clamped = clamp_det(page.width, page.height, lay.det)
                    if clamped is None:
                        continue
                    text, det = lay.text, clamped
                area_dst.append(
                    RawLayout(
                        kind=lay.kind,
                        text=text,
                        det=det,
                        media_ref=lay.media_ref,
                        order=len(area_dst),
                    )
                )
        out.append(new_page)
    return out


def analyse_document(
    pages: list[RawPage],
    toc_assumed: bool = True,
    stage1_done: bool = False,
    boilerplate_strip: bool = False,
):
    """The sink-independent pipeline for one document → (chapters,
    refs_by_key, toc_items).  Markdown (S8) and EPUB-record (S9) sinks
    both consume this — mirroring the reference, where both renderers read
    the same generated chapter files (markdown/render/render.py:15,
    epub/render.py:43).

    Pages go through prepare_pages whether or not they were prepared
    before: it is idempotent, so already-prepared pages come out unchanged.
    ``stage1_done``: F1/F3/F4 already applied (JVM stage 1) — skip the
    Python re-run, keep F2 + renumbering.
    ``boilerplate_strip``: enable the §2.12 frequency-based repeated-line
    demotion (off by default: the reference's model does this upstream,
    so parity mode leaves repeated lines alone)."""
    pages = prepare_pages(pages, text_ops=not stage1_done)
    if boilerplate_strip:
        from pdf_craft_spark.operators.boilerplate import strip_boilerplate

        pages = strip_boilerplate(pages)

    # --- TOC analysis (F6/J4/A5/A6/A3/A7/W8) -------------------------------
    toc_pages = find_toc_pages(pages) if toc_assumed else []
    if toc_pages:
        ref2level = analyse_toc_levels(pages, toc_pages)
        toc_page_indexes = {r.page_index for r in toc_pages}
    else:
        ref2level = analyse_title_levels(pages)
        toc_page_indexes = set()
    toc_items = structure_toc(ref2level)
    ref2toc = {(t.page_index, t.order): t for t in toc_items}
    max_toc_level = max((t.level for t in toc_items), default=0)

    content_pages = [p for p in pages if p.index not in toc_page_indexes]

    # --- jointers (W1 + J1 + E1/E3/E4 + W2/W3/W4) ---------------------------
    body_stream = joint_document_stream([(p.index, p.body) for p in content_pages])
    fn_stream = joint_document_stream([(p.index, p.footnotes) for p in content_pages])

    # --- footnotes (W6): group footnote stream by page ----------------------
    refs_by_key: dict[tuple[int, int], FootnoteRef] = {}
    mark_maps: dict[int, dict] = {}
    page_items: list[tuple[int, list]] = []
    for item in fn_stream:
        pi = item.blocks[0].page_index if isinstance(item, Para) else item.page_index
        if not page_items or page_items[-1][0] != pi:
            page_items.append((pi, []))
        page_items[-1][1].append(item)
    for pi, items in page_items:
        refs, mark2ref = extract_page_references(pi, items)
        for r in refs:
            refs_by_key[r.key] = r
        mark_maps[pi] = mark2ref

    # --- J2 mark replacement + E7 coalescing in body paragraphs -------------
    for item in body_stream:
        if isinstance(item, Para):
            for block in item.blocks:
                m2r = mark_maps.get(block.page_index)
                if m2r:
                    replace_marks_in_block(block, m2r)
                join_adjacent_texts(block.segs)

    # --- chapter segmentation (W5 via J3 key probe) -------------------------
    chapters: list[Chapter] = []
    current: Chapter | None = None
    for item in body_stream:
        matched = False
        if isinstance(item, Para) and item.blocks and item.kind in TITLE_KINDS:
            toc_item = None
            for block in item.blocks:
                toc_item = ref2toc.get((block.page_index, block.order))
                if toc_item:
                    break
            if toc_item:
                if current:
                    chapters.append(current)
                current = Chapter(id=toc_item.id, level=toc_item.level, items=[item])
                matched = True
        if not matched:
            if current is None:
                current = Chapter(id=None, level=max_toc_level, items=[])
            current.items.append(item)
    if current:
        chapters.append(current)

    # reader order: head chapter first, then ascending id (S7)
    chapters.sort(key=lambda c: (0, 0) if c.id is None else (1, c.id))

    # --- F7 punctuation + A4 internal levels per chapter ---------------------
    for ch in chapters:
        ch_refs = [
            refs_by_key[k] for k in collect_reference_keys(ch) if k in refs_by_key
        ]
        normalize_punctuation_in_chapter(ch, ch_refs)
        analyse_chapter_internal_levels(ch)

    return chapters, refs_by_key, toc_items


def extract_document(
    pages: list[RawPage],
    toc_assumed: bool = True,
    stage1_done: bool = False,
    boilerplate_strip: bool = False,
) -> tuple[str, list[OutSpan]]:
    """Full pipeline for one document → (markdown, ordered output spans):
    analyse_document + E11/E12 render + J6/W7 numbering (S8 sink)."""
    chapters, refs_by_key, _ = analyse_document(
        pages,
        toc_assumed=toc_assumed,
        stage1_done=stage1_done,
        boilerplate_strip=boilerplate_strip,
    )
    return render_document(chapters, refs_by_key)


def extract_epub_records(
    pages: list[RawPage],
    toc_assumed: bool = True,
    stage1_done: bool = False,
) -> tuple[list[tuple], list]:
    """S9 sink: analyse_document + EPUB record conversion + TOC collection.
    Returns (record rows, TocRec list) — see operators/epub_records.py."""
    from pdf_craft_spark.operators.epub_records import (
        collect_toc,
        document_epub_records,
    )

    chapters, refs_by_key, toc_items = analyse_document(
        pages, toc_assumed=toc_assumed, stage1_done=stage1_done
    )
    return (
        document_epub_records(chapters, refs_by_key),
        collect_toc(chapters, toc_items),
    )
