"""Benchmark inputs.

- Book tables: the nested ``(doc_id, spans)`` contract table, built from
  ``corpus.generate_document`` + ``pages_to_spans``, a pure function of
  ``(seed, size)``.  The file and row-group layout is fixed
  (``BOOK_FILES`` files, ``BOOK_ROW_GROUP`` docs per row group), so the
  scan splits do not depend on the machine that generated them.
  Generated books are cached under ``<checkout>/.bench_cache``, keyed on
  the seed, the size and a hash of the generator sources (``corpus.py``
  and this file), so an edited generator never feeds a run from a stale
  cache.
- Query tables: the ten tables the query registry reads (``region`` …
  ``embeddings``), vendored from the project's test data in
  ``fixtures/``.  The seed only permutes the query order.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BOOK_FILES = 8
BOOK_ROW_GROUP = 16
# short-mix ids start past the corpus's fixed adversarial ids (24-27)
FIRST_DOC_ID = 1000
# the long-tail mix draws its long books from this page band only, so the
# one task a long book pins costs about the same under every seed
LONG_BOOK_PAGES = (800, 1200)

SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), nullable=False),
    ]
)
BOOK_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(SPAN_TYPE), nullable=False),
    ]
)


@dataclass(frozen=True)
class Books:
    """A generated book table on disk plus the counts the checks need."""

    path: str
    doc_ids: tuple[str, ...]
    pages: int
    spans: int


def _source_hash(root: str) -> str:
    h = hashlib.sha256()
    for path in (os.path.join(root, "pdf_craft_spark", "corpus.py"), __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _cached(cache_dir: str, key: str, build) -> str:
    """Return ``cache_dir/key``, building it through a temp dir + rename so
    an interrupted build never leaves a half-written input behind."""
    dest = os.path.join(cache_dir, key)
    if not os.path.isdir(dest):
        tmp = f"{dest}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.replace(tmp, dest)
    return dest


# --- books -------------------------------------------------------------------


def book_ids(seed: int, n_docs: int, heavy_tail: bool) -> list[int]:
    """Doc ids of the mix.  The short mix is ``n_docs`` consecutive ids.  The
    long-tail mix fills fixed quotas by page count: 1% long books (pages in
    ``LONG_BOOK_PAGES``), 4% of 40-120 pages, the rest 4-14 pages."""
    from pdf_craft_spark.corpus import page_count

    if not heavy_tail:
        return list(range(FIRST_DOC_ID, FIRST_DOC_ID + n_docs))
    n_long = max(1, round(n_docs * 0.01))
    n_mid = max(1, round(n_docs * 0.04))
    quota = {"long": n_long, "mid": n_mid, "short": n_docs - n_long - n_mid}
    ids: list[int] = []
    doc_id = FIRST_DOC_ID
    while len(ids) < n_docs:
        pages = page_count(doc_id, seed, heavy_tail=True)
        if pages >= 500:
            stratum = "long" if LONG_BOOK_PAGES[0] <= pages <= LONG_BOOK_PAGES[1] else None
        else:
            stratum = "mid" if pages >= 40 else "short"
        if stratum and quota[stratum]:
            quota[stratum] -= 1
            ids.append(doc_id)
        doc_id += 1
    return ids


def _write_books(dest: str, seed: int, ids: list[int], heavy_tail: bool) -> None:
    from pdf_craft_spark.corpus import generate_document, pages_to_spans

    per_file = -(-len(ids) // BOOK_FILES)
    for k in range(BOOK_FILES):
        doc_ids, spans = [], []
        for doc_id in ids[k * per_file : (k + 1) * per_file]:
            rows = pages_to_spans(generate_document(doc_id, seed, heavy_tail))
            doc_ids.append(str(doc_id))
            spans.append(
                [{"kind": kd, "text": t, "media_ref": m, "offset": o} for kd, t, m, o in rows]
            )
        table = pa.Table.from_pydict({"doc_id": doc_ids, "spans": spans}, schema=BOOK_SCHEMA)
        pq.write_table(
            table, os.path.join(dest, f"part-{k:02d}.parquet"), row_group_size=BOOK_ROW_GROUP
        )


def make_books(root: str, seed: int, n_docs: int, heavy_tail: bool) -> Books:
    ids = book_ids(seed, n_docs, heavy_tail)
    mix = "longtail" if heavy_tail else "short"
    key = f"books-{mix}-s{seed}-n{n_docs}-{_source_hash(root)}"
    path = _cached(
        os.path.join(root, ".bench_cache"),
        key,
        lambda d: _write_books(d, seed, ids, heavy_tail),
    )
    table = pq.read_table(path, columns=["doc_id", "spans"])
    spans = table.column("spans").combine_chunks()
    kinds = pc.list_flatten(spans).field("kind")
    pages = pc.sum(pc.equal(kinds, "page")).as_py() or 0
    pages += pc.sum(pc.equal(kinds, "page_error")).as_py() or 0
    return Books(
        path=path,
        doc_ids=tuple(table.column("doc_id").to_pylist()),
        pages=pages,
        spans=len(kinds),
    )


# --- query tables ------------------------------------------------------------

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def fixture_tables(name: str) -> str:
    """Directory holding ``<table>.parquet`` for every registry table: a
    byte-for-byte copy of the project's read-only test data at one scale
    factor (``sf0.01`` or ``sf0.001``), kept here so a run reads only its
    own checkout."""
    path = os.path.join(FIXTURES, name)
    if not os.path.isdir(path):
        raise FileNotFoundError(f"no query fixture {path}")
    return path
