"""HTML main-content extraction — the north rule's own words ("HTML
boilerplate strip ... DOM heuristics", BASELINE.json:north_rule) as a
hash-gated operator.

Each document's text is wrapped JVM-side (pure Catalyst concat/slice —
the synthesis IS part of the plan, like the media-container recipes) in a
deterministic page template carrying the classic web boilerplate: a nav
link bar, a site header, an inline ad block, a related-links aside, and
a copyright footer.  The kernel then parses the page back with a REAL
DOM walk (stdlib html.parser: tag stack, per-block text/link-char/word
accounting) and classifies each block with the Boilerpipe/Readability
density heuristic — a block is main content iff it has >= 10 words AND
its link density is under 1/3.  No tag name ever enters the classifier:
moving a paragraph into <aside> keeps it main, and padding the ad to 20
plain words flips it to main (both pinned in tests) — the decision is
density-driven, exactly the heuristic family the north rule names.

The oracle is a LOSSLESS-RECOVERY proof: the main blocks, rejoined, must
be byte-identical to the original document text (md5-compared), and the
block/word ledger (8 + n_paras blocks, 28 boilerplate words) must match
the closed-form template arithmetic DuckDB recomputes from the raw text
alone.  A green hash therefore proves the parser walked real HTML and
the density rule stripped EVERY injected boilerplate block and NOTHING
else — on every document, every round.

Scale: synthesis and paragraph slicing are whole-stage-codegen string
ops; the parse kernel crosses to Python once as Arrow batches
(mapInPandas) with no shuffle on either side — the same zero-exchange
shape as the extraction pipeline's stage 2.  At 100 TB the HTML column
is a source table and the op is scan -> kernel -> scan-shaped output.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_craft_spark.sources import load_table

QUERIES: dict = {}
ORACLES: dict = {}

# template constants (words): title 2, nav 5, h1 2, ad 4, aside 3x2, footer 9
_BOILER_WORDS = 2 + 5 + 2 + 4 + 6 + 9
_MIN_WORDS = 10  # density heuristic: blocks shorter than this are boiler
_PARA = 50  # paragraph chunk size (tokens)
# a trailing chunk shorter than _MIN_WORDS merges into the previous
# paragraph so the template never emits a main-content block the density
# rule would misclassify: docs are 10..99 tokens -> 1 para below 60, 2 at
# 60+ (the split survives only when the tail keeps >= 10 words)

_HTML_SCHEMA = (
    "doc_id bigint, n_blocks int, n_main int, main_words int,"
    " boiler_words int, main_md5 string"
)

_BLOCK_TAGS = frozenset(
    {"title", "nav", "h1", "p", "div", "li", "footer", "header", "aside"}
)


def _page_sql() -> str:
    """The page template as one Catalyst concat over the token slices."""
    toks = "split(text, ' ')"
    n = f"size({toks})"
    cut = f"CASE WHEN {n} < {_PARA + _MIN_WORDS} THEN {n} ELSE {_PARA} END"
    para1 = f"array_join(slice({toks}, 1, {cut}), ' ')"
    para2 = (
        f"CASE WHEN {n} >= {_PARA + _MIN_WORDS} THEN"
        f" concat('<p>', array_join(slice({toks}, {_PARA + 1},"
        f" {n} - {_PARA}), ' '), '</p>') ELSE '' END"
    )
    return (
        "concat("
        "'<html><head><title>doc ', CAST(doc_id AS STRING), '</title></head><body>',"
        "'<nav><a href=\"/\">home</a> <a href=\"/archive\">archive</a>"
        " <a href=\"/tags\">tags</a> <a href=\"/about\">about</a>"
        " <a href=\"/contact\">contact</a></nav>',"
        "'<header><h1>document ', CAST(doc_id AS STRING), '</h1></header>',"
        f"'<article><p>', {para1}, '</p>',"
        "'<div class=\"ad\"><a href=\"/sponsor\">sponsored content click"
        " here</a></div>',"
        f"{para2},"
        "'</article>',"
        "'<aside><ul><li><a href=\"/r1\">related one</a></li>"
        "<li><a href=\"/r2\">related two</a></li>"
        "<li><a href=\"/r3\">related three</a></li></ul></aside>',"
        "'<footer>copyright twenty twenty six corpus press all rights"
        " reserved</footer>',"
        "'</body></html>')"
    )


def extract_blocks(html: str) -> list[tuple[str, int, int]]:
    """Real DOM walk: (block_text, n_words, link_chars) per block element.

    html.parser drives a tag stack; text lands in the innermost open
    block, characters inside any <a> are accounted as link chars.  Blocks
    with zero words (inter-tag whitespace) are dropped."""
    from html.parser import HTMLParser

    blocks: list[tuple[list[str], list[int]]] = []

    class Walk(HTMLParser):
        def __init__(self) -> None:
            super().__init__()
            self.a_depth = 0
            self.cur: list[str] | None = None
            self.cur_link = 0

        def _flush(self) -> None:
            if self.cur is not None:
                blocks.append((self.cur, [self.cur_link]))
            self.cur, self.cur_link = None, 0

        def handle_starttag(self, tag: str, attrs) -> None:
            if tag in _BLOCK_TAGS:
                self._flush()
                self.cur = []
            elif tag == "a":
                self.a_depth += 1

        def handle_endtag(self, tag: str) -> None:
            if tag in _BLOCK_TAGS:
                self._flush()
            elif tag == "a" and self.a_depth:
                self.a_depth -= 1

        def handle_data(self, data: str) -> None:
            if self.cur is not None and data:
                self.cur.append(data)
                if self.a_depth:
                    self.cur_link += len(data)

    w = Walk()
    w.feed(html)
    w.close()
    w._flush()
    out = []
    for parts, (link_chars,) in blocks:
        text = " ".join("".join(parts).split())
        if text:
            out.append((text, len(text.split()), link_chars))
    return out


def classify_main(n_words: int, link_chars: int, n_chars: int) -> bool:
    """Boilerpipe-style density rule: long enough AND link-light."""
    return n_words >= _MIN_WORDS and 3 * link_chars < n_chars


def html_main_content_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    docs = load_table(spark, sf_dir, "documents")
    pages = docs.selectExpr("doc_id", f"{_page_sql()} AS html")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pdf_craft_spark.queries.htmlx import classify_main, extract_blocks

        for b in batches:
            rows = []
            for doc_id, html in zip(b["doc_id"], b["html"]):
                blks = extract_blocks(html)
                main = [
                    t
                    for t, nw, lc in blks
                    if classify_main(nw, lc, len(t))
                ]
                main_text = " ".join(main)
                rows.append(
                    (
                        doc_id,
                        len(blks),
                        len(main),
                        len(main_text.split()) if main_text else 0,
                        sum(
                            nw
                            for t, nw, lc in blks
                            if not classify_main(nw, lc, len(t))
                        ),
                        hashlib.md5(main_text.encode()).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_blocks",
                    "n_main",
                    "main_words",
                    "boiler_words",
                    "main_md5",
                ],
            )

    return pages.mapInPandas(kernel, schema=_HTML_SCHEMA)


# oracle: closed-form template arithmetic + the lossless-recovery hash,
# all recomputed from the RAW text — independent of the parser
HTML_MAIN_CONTENT_EXTRACT_SQL = f"""
WITH d AS (
  SELECT doc_id, text, len(string_split(text, ' ')) AS n
  FROM documents
)
SELECT doc_id,
       CAST(8 + (CASE WHEN n >= {_PARA + _MIN_WORDS} THEN 2 ELSE 1 END)
         AS INT) AS n_blocks,
       CAST(CASE WHEN n >= {_PARA + _MIN_WORDS} THEN 2 ELSE 1 END
         AS INT) AS n_main,
       CAST(n AS INT) AS main_words,
       CAST({_BOILER_WORDS} AS INT) AS boiler_words,
       md5(text) AS main_md5
FROM d
"""

QUERIES["html_main_content_extract"] = html_main_content_extract
ORACLES["html_main_content_extract"] = HTML_MAIN_CONTENT_EXTRACT_SQL
