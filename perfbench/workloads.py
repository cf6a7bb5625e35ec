"""The benchmark workloads.

Each workload drives the program the way a user does — sessions from
``get_spark``, outputs consumed by a full write — and has these parts:

- ``make_inputs``: seeded inputs, generated before the session starts;
- ``prepare``: untimed work inside the session before the measurement;
- ``iteration``: one timed unit of work, returning its wall seconds;
- ``layer_metrics``: per-layer metrics of a traced iteration, from its
  spans and the Spark ledger;
- ``check``: verifies the last iteration's outputs and returns the
  attempted and failed op counts (an op is a document, or a query).
"""

from __future__ import annotations

import hashlib
import importlib
import json
import math
import os
import random
import shutil
import sys
import time
from collections import Counter, defaultdict
from contextlib import nullcontext

import pyarrow.parquet as pq

from inputs import fixture_tables, make_books
from tracing import Tracer, task_skew

# Registry queries that consume session artifacts (dedup.session_artifact),
# trimmed to fit one run: the heavy-tail entries graph_random_walks and
# setsim_prefix_join, and two consumers each of the shingles and custsupp
# artifacts (shingles_cut and minhash_sigs have one).
QUERY_SET = (
    "setsim_prefix_join",  # shingles, shingles_cut
    "dedup_minhash_lsh",  # shingles, minhash_sigs
    "graph_random_walks",  # custsupp
    "pagerank_purchase_graph",  # custsupp
)
ARTIFACTS = ("shingles", "shingles_cut", "minhash_sigs", "custsupp")
WARMUP_QUERY = "dedup_minhash_lsh"
_DOC = "pdf_craft_spark.operators.document"
_EPUB = "pdf_craft_spark.operators.epub_records"
# span name -> (module, attribute): the names document.py and
# epub_records.py look up, plus parse_raw_spans, which the benchmark calls
KERNEL_PHASES = {
    "corpus.parse_raw_spans": ("pdf_craft_spark.corpus", "parse_raw_spans"),
    "document.prepare_pages": (_DOC, "prepare_pages"),
    "toclib.find_toc_pages": (_DOC, "find_toc_pages"),
    "toclib.analyse_toc_levels": (_DOC, "analyse_toc_levels"),
    "toclib.analyse_title_levels": (_DOC, "analyse_title_levels"),
    "toclib.structure_toc": (_DOC, "structure_toc"),
    "jointer.joint_document_stream": (_DOC, "joint_document_stream"),
    "footnotes.extract_page_references": (_DOC, "extract_page_references"),
    "footnotes.replace_marks_in_block": (_DOC, "replace_marks_in_block"),
    "footnotes.join_adjacent_texts": (_DOC, "join_adjacent_texts"),
    "punctuation.normalize_punctuation_in_chapter": (_DOC, "normalize_punctuation_in_chapter"),
    "levels.analyse_chapter_internal_levels": (_DOC, "analyse_chapter_internal_levels"),
    "render.render_document": (_DOC, "render_document"),
    "document.analyse_document": (_DOC, "analyse_document"),
    "epub_records.document_epub_records": (_EPUB, "document_epub_records"),
    "epub_records.collect_toc": (_EPUB, "collect_toc"),
}
# reported kernel metrics; the footnote trio and the two level analysers
# are folded into one metric each
_FOLDED = {
    "toclib.analyse_title_levels": "toclib.analyse_toc_levels",
    "footnotes.extract_page_references": "footnotes.s",
    "footnotes.replace_marks_in_block": "footnotes.s",
    "footnotes.join_adjacent_texts": "footnotes.s",
}
KERNEL_METRICS = tuple(dict.fromkeys(_FOLDED.get(n, n) for n in KERNEL_PHASES))


def _digest(rows) -> str:
    return hashlib.sha1(repr(sorted(rows, key=repr)).encode()).hexdigest()


def _by_doc(rows) -> dict[str, list[tuple]]:
    """(doc_id, *fields) rows -> {doc_id: [fields, ...]}."""
    out: dict[str, list[tuple]] = defaultdict(list)
    for r in rows:
        out[str(r[0])].append(tuple(r[1:]))
    return out


def _parquet_files(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class _Extraction:
    """Shared by the book workloads: inputs, the in-process reference
    kernel over Spark's stage-1 rows, and the pipeline/kernel metrics."""

    heavy_tail = False
    kernel_passes = 1  # kernel jobs over the stage-1 rows in one iteration

    def __init__(self, run, n_docs: int):
        self.run = run
        self.n_docs = n_docs

    def make_inputs(self) -> dict:
        self.books = make_books(self.run.root, self.run.seed, self.n_docs, self.heavy_tail)
        return {"docs": len(self.books.doc_ids), "pages": self.books.pages,
                "spans": self.books.spans}

    def docs(self):
        return self.run.spark.read.parquet(self.books.path)

    def prepare(self) -> None:
        self._reference()
        if self.run.trace:
            self._kernel_phases()
            self._stage1_metrics()

    def _stage1(self):
        from pdf_craft_spark.plans.pipeline import explode_spans, prepare_stage1

        return prepare_stage1(explode_spans(self.docs()))

    def _reference(self) -> None:
        """Per-doc digests of the in-process kernel run over Spark's stage-1
        rows (exactly what the Spark kernel receives), and the per-doc
        seconds of its two entry points, unwrapped."""
        from pdf_craft_spark import corpus
        from pdf_craft_spark.operators import document

        with self.run.ledger.step("prepare:stage1"):
            table = self._stage1().select("doc_id", "kind", "text", "media_ref", "offset")
            table = table.toArrow()
        self.stage1 = _by_doc(zip(*table.to_pydict().values()))
        ref: dict[str, dict[str, str]] = {"spans": {}, "markdown": {}, "records": {}, "toc": {}}
        self.doc_s: dict[str, float] = {}  # extract_document seconds per doc
        self.epub_s: dict[str, float] = {}  # extract_epub_records seconds per doc
        self.stage1_pages = 0
        for doc_id, rows in self.stage1.items():
            pages = corpus.parse_raw_spans(rows)
            self.stage1_pages += len(pages)
            t0 = time.perf_counter()
            md, out = document.extract_document(pages, toc_assumed=True, stage1_done=True)
            t1 = time.perf_counter()
            records, tocs = document.extract_epub_records(pages, stage1_done=True)
            self.epub_s[doc_id] = time.perf_counter() - t1
            self.doc_s[doc_id] = t1 - t0
            ref["spans"][doc_id] = _digest(
                (s.chapter_id, s.kind, s.text, s.media_ref, s.offset) for s in out
            )
            ref["markdown"][doc_id] = _digest([(md, len(out))])
            ref["records"][doc_id] = _digest(tuple(r) for r in records)
            ref["toc"][doc_id] = _digest(
                (t.toc_id, t.parent_id, t.pos, t.title, t.has_chapter) for t in tocs
            )
        self.ref = ref
        self.stage1_rows = table.num_rows
        doc_s = sum(self.doc_s.values())
        self.pages_per_core_s = self.stage1_pages / doc_s if doc_s else 0.0

    def kernel_core_s(self) -> float:
        """In-process kernel seconds of the kernel calls one iteration makes."""
        return sum(self.doc_s.values())

    def _kernel_phases(self) -> None:
        """Self seconds of the kernel phases and the kernel's counts, from a
        second in-process pass with the names ``operators.document`` and
        ``operators.epub_records`` look up wrapped."""
        from pdf_craft_spark import corpus
        from pdf_craft_spark.operators import document

        tracer = Tracer(f"{self.run.run_id}-kernel")
        self.run.tracers.append(tracer)
        for name, (mod, attr) in KERNEL_PHASES.items():
            tracer.wrap(importlib.import_module(mod), attr, name)
        find = document.find_toc_pages
        toc_pages = chapters = spans_out = 0

        def counting_find(pages):
            nonlocal toc_pages
            found = find(pages)
            toc_pages += len(found)
            return found

        tracer.patch(document, "find_toc_pages", counting_find)
        try:
            for rows in self.stage1.values():
                pages = corpus.parse_raw_spans(rows)
                _, out = document.extract_document(pages, toc_assumed=True, stage1_done=True)
                document.extract_epub_records(pages, stage1_done=True)
                spans_out += len(out)
                chapters += len({s.chapter_id for s in out})
        finally:
            tracer.unwrap_all()
        n = max(1, len(self.stage1))
        self.kernel = dict.fromkeys(KERNEL_METRICS, 0.0)
        for name, s in tracer.self_seconds().items():
            self.kernel[_FOLDED.get(name, name)] += s
        self.kernel.update({
            "kernel.toc_pages_per_doc": toc_pages / n,
            "kernel.chapters_per_doc": chapters / n,
            "kernel.spans_out_per_page": spans_out / max(1, self.stage1_pages),
            "kernel.pages_per_core_s": self.pages_per_core_s,
        })

    def _stage1_metrics(self) -> None:
        """explode + prepare_stage1 as its own job into a noop write, and
        the share of scanned spans the F3 filter drops."""
        t0 = time.perf_counter()
        with self.run.ledger.step("trace:stage1"):
            self._stage1().write.format("noop").mode("overwrite").save()
        self.stage1_s = time.perf_counter() - t0

    def compare(self, sink: str, got: dict[str, list], plant_defect: bool = False) -> set[str]:
        """Doc ids whose output rows in ``got`` differ from the reference."""
        if plant_defect:
            victim = sorted(got)[0]
            got[victim] = got[victim][1:]  # one dropped output span
        want = self.ref[sink]
        bad = {d for d in want if _digest(got.get(d, [])) != want[d]}
        return bad | (set(got) - set(want))

    def plausible(self, wall_s: float) -> list[str]:
        """Physically impossible numbers: output pages that differ from the
        generator's, or an iteration faster than its kernel calls can run on
        the cores (in-process kernel seconds > wall x cores x 1.1)."""
        problems = []
        if self.stage1_pages != self.books.pages:
            problems.append(f"stage-1 pages {self.stage1_pages} != generated {self.books.pages}")
        if self.kernel_core_s() > wall_s * self.run.cores * 1.1:
            problems.append(
                f"in-process kernel time of an iteration {self.kernel_core_s():.2f} s exceeds "
                f"wall x cores x 1.1 = {wall_s * self.run.cores * 1.1:.2f} s"
            )
        return problems

    def layer_metrics(self, k: int, wall: float) -> dict[str, float]:
        led = self.run.ledger
        nodes = led.sql_nodes(f"it{k}:")
        kernel_execs = {e for e, name, _ in nodes if name == "MapInPandas"}
        m: dict[str, float] = defaultdict(float)
        rows_out = 0.0
        for eid, name, vals in nodes:
            if eid not in kernel_execs:
                continue
            if name.startswith("Scan"):
                m["pipeline.scan_s"] += vals.get("scan time", 0.0)
            elif name == "Sort":
                m["pipeline.sort_s"] += vals.get("sort time", 0.0)
            elif name == "MapInPandas":
                m["pipeline.python_s"] += vals.get("time to run Python workers", 0.0)
                m["pipeline.bytes_to_python"] += vals.get("data sent to Python workers", 0.0)
                m["pipeline.bytes_from_python"] += vals.get(
                    "data returned from Python workers", 0.0
                )
                rows_out += vals.get("number of output rows", 0.0)
        stages = led.stages(f"it{k}:")
        m.update({
            "pipeline.core_utilization": sum(s["run_s"] for s in stages) / (wall * self.run.cores),
            "pipeline.stage1_s": self.stage1_s,
            "pipeline.stage1_drop_ratio": 1 - self.stage1_rows / self.books.spans,
            "pipeline.python_rows_per_input_span":
                rows_out / (self.stage1_rows * self.kernel_passes),
            "pipeline.shuffle_bytes": sum(s["shuffle_bytes"] for s in stages),
            "pipeline.spill_bytes": sum(s["spill_bytes"] for s in stages),
            "pipeline.tasks": sum(s["tasks"] for s in stages),
            "pipeline.task_max_over_median": task_skew(stages),
            "pipeline.pages_per_s": self.books.pages / wall,
            "pipeline.engine_efficiency": self.kernel_core_s() / (wall * self.run.cores),
        })
        m.update(self.kernel)
        return m


class ExtractLongtail(_Extraction):
    """Heavy-tailed book mix through extract_spans_df into a noop write."""

    heavy_tail = True
    sizes = {"full": 200, "tiny": 20}
    min_iterations = 3

    def iteration(self, k: int, traced: bool) -> float:
        from pdf_craft_spark.plans.pipeline import extract_spans_df

        t0 = time.perf_counter()
        with self.run.ledger.step(f"it{k}:extract"):
            extract_spans_df(self.docs()).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def check(self, plant_defect: bool) -> tuple[int, int]:
        """The noop write keeps nothing, so the plan runs once more and is
        collected."""
        from pdf_craft_spark.plans.pipeline import extract_spans_df

        with self.run.ledger.step("check:extract"):
            table = extract_spans_df(self.docs()).toArrow()
        got = _by_doc(zip(*table.to_pydict().values()))
        bad = self.compare("spans", got, plant_defect)
        return len(self.books.doc_ids), len(bad)


class IngestShortBooks(_Extraction):
    """Short-book mix landed like a production batch: half the documents
    are committed up front (untimed), then run_with_resume writes the rest
    into the bucketed spans table and the markdown, EPUB-record and TOC
    sinks are written as parquet."""

    sizes = {"full": 250, "tiny": 8}
    kernel_passes = 3.5  # resume (half the docs) + markdown + records + toc
    # the first two landings of the session: the first pays for compiling
    # its plans, as a user's does.  Timing one landing alone gave a
    # quartile spread of 0.2-0.3 of the median over seeds on a 4-core VM
    min_iterations = 2

    def kernel_core_s(self) -> float:
        """extract_document for the resumed half and the markdown sink,
        extract_epub_records for the records and toc sinks."""
        todo = sum(self.doc_s[d] for d in self.doc_s if d not in self.committed)
        return todo + sum(self.doc_s.values()) + 2 * sum(self.epub_s.values())

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from pdf_craft_spark.plans.checkpoint import run_with_resume

        super().prepare()
        self.committed = set(self.books.doc_ids[::2])
        self.template = os.path.join(self.run.work, "committed")
        half = self.docs().filter(F.col("doc_id").isin(sorted(self.committed)))
        with self.run.ledger.step("prepare:commit"):
            run_with_resume(self.run.spark, half, self.template, "prepare")

    def _out(self, k: int) -> str:
        return os.path.join(self.run.work, f"it{k}")

    def iteration(self, k: int, traced: bool) -> float:
        from pdf_craft_spark.plans import checkpoint, pipeline
        from pdf_craft_spark.plans.sinks import ParquetBucketSink

        out = self._out(k)
        shutil.copytree(self.template, out)
        shutil.rmtree(self._out(k - 1), ignore_errors=True)
        tracer, led = self.run.tracer, self.run.ledger
        if traced:
            tracer.wrap(checkpoint, "run_with_resume", "checkpoint.run_with_resume")
            for attr in ("committed_doc_ids", "append_spans", "append_manifest", "read_spans"):
                tracer.wrap(ParquetBucketSink, attr, f"sinks.{attr}")
        t0 = time.perf_counter()
        try:
            docs = self.docs()
            with led.step(f"it{k}:resume"):
                checkpoint.run_with_resume(self.run.spark, docs, out, f"it{k}")
            with led.step(f"it{k}:markdown"):
                pipeline.extract_markdown_df(docs).write.parquet(os.path.join(out, "markdown"))
            for which in ("records", "toc"):
                with led.step(f"it{k}:{which}"):
                    pipeline.extract_epub_records_df(docs, which=which).write.parquet(
                        os.path.join(out, which)
                    )
            return time.perf_counter() - t0
        finally:
            tracer.unwrap_all()

    def check(self, plant_defect: bool) -> tuple[int, int]:
        """Per-doc digests of every sink against the reference, plus the
        resume invariants: committed docs == input docs, no repeated
        (doc_id, offset), and this run's manifest n_docs == docs it wrote."""
        k = self.run.last_iteration
        out = self._out(k)
        spans = pq.read_table(os.path.join(out, "spans")).to_pylist()
        rows = [(r["doc_id"], r["chapter_id"], r["kind"], r["text"], r["media_ref"], r["offset"])
                for r in spans]
        repeated = Counter((r[0], r[5]) for r in rows)
        bad = {d for (d, _), n in repeated.items() if n > 1}
        bad |= set(self.books.doc_ids) ^ {r[0] for r in rows}
        bad |= self.compare("spans", _by_doc(rows), plant_defect)
        for sink in ("markdown", "records", "toc"):
            table = pq.read_table(os.path.join(out, sink))
            bad |= self.compare(sink, _by_doc(zip(*table.to_pydict().values())))
        manifest = pq.read_table(os.path.join(out, "manifest")).to_pylist()
        n_run = sum(r["n_docs"] for r in manifest if r["run_id"] == f"it{k}")
        todo = set(self.books.doc_ids) - self.committed
        if n_run != len(todo):
            print(f"manifest n_docs {n_run} != {len(todo)} docs extracted", file=sys.stderr)
            bad |= todo
        return len(self.books.doc_ids), len(bad)

    def layer_metrics(self, k: int, wall: float) -> dict[str, float]:
        m = super().layer_metrics(k, wall)
        tr = self.run.tracer
        for attr in ("committed_doc_ids", "append_spans", "append_manifest"):
            m[f"sinks.{attr}_s"] = tr.total_seconds(f"sinks.{attr}")
        resume = next(s for s in tr.spans if s["name"] == "checkpoint.run_with_resume")
        appended = max(s["end"] for s in tr.spans if s["name"] == "sinks.append_spans")
        m["checkpoint.post_commit_s"] = resume["end"] - appended - m["sinks.append_manifest_s"]
        files, size = _parquet_files(self._out(k))
        t_files, t_size = _parquet_files(self.template)
        m["sinks.files_written"] = files - t_files
        m["sinks.bytes_written"] = size - t_size
        m["checkpoint.skipped_share"] = len(self.committed) / len(self.books.doc_ids)
        return m


class CorpusQueries:
    """Registry queries that share session artifacts, in a seed-permuted
    order, each written as parquet, on the project's test tables.  Every
    iteration reads its own copy of the tables (hard links), so every
    artifact is built afresh."""

    sizes = {"full": "sf0.01", "tiny": "sf0.001"}
    # one pass alone gave a quartile spread of 0.14-0.18 of the median over
    # seeds on a 4-core VM; a third pass would not fit the run budget next
    # to the set-up samples
    min_iterations = 2

    def __init__(self, run, fixture: str):
        self.run = run
        self.fixture = fixture
        self.order = list(QUERY_SET)
        random.Random(run.seed).shuffle(self.order)

    def make_inputs(self) -> dict:
        self.tables = fixture_tables(self.fixture)
        # the IVF/PQ module fits its static oracles on this directory at import
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.tables
        rows = {
            f[: -len(".parquet")]: pq.ParquetFile(os.path.join(self.tables, f)).metadata.num_rows
            for f in os.listdir(self.tables)
        }
        return {"queries": len(self.order), "documents": rows["documents"],
                "lineitem": rows["lineitem"], "embeddings": rows["embeddings"]}

    def prepare(self) -> None:
        """One query on its own copy of the tables: the JVM's first-query
        warm-up (about 5 s) lands here rather than on whichever query the
        seed puts first."""
        from pdf_craft_spark.queries import QUERIES

        data, out = self._dirs("warmup")
        self._link(data)
        with self.run.ledger.step("prepare:warmup"):
            QUERIES[WARMUP_QUERY](self.run.spark, data).write.parquet(
                os.path.join(out, WARMUP_QUERY)
            )
        for d in (data, out):
            shutil.rmtree(d)

    def _dirs(self, k) -> tuple[str, str]:
        return os.path.join(self.run.work, f"data{k}"), os.path.join(self.run.work, f"out{k}")

    def _link(self, data: str) -> None:
        os.makedirs(data)
        for f in os.listdir(self.tables):
            os.link(os.path.join(self.tables, f), os.path.join(data, f))

    def iteration(self, k: int, traced: bool) -> float:
        from pdf_craft_spark.queries import QUERIES, dedup

        data, out = self._dirs(k)
        self._link(data)
        if k:
            for d in self._dirs(k - 1):
                shutil.rmtree(d, ignore_errors=True)
        tracer, led = self.run.tracer, self.run.ledger
        self.events: list[tuple[str, bool]] = []
        self.rdds_before = set(dedup.PROTECTED_RDD_IDS)
        if traced:
            original = dedup.session_artifact

            def session_artifact(spark, name, build):
                art, built = name.split(":")[0], []

                def counted_build():
                    built.append(True)
                    return build()

                with tracer.span(f"artifacts.{art}"):
                    df = original(spark, name, counted_build)
                self.events.append((art, bool(built)))
                return df

            tracer.patch(dedup, "session_artifact", session_artifact)
        t0 = time.perf_counter()
        try:
            for name in self.order:
                span = tracer.span(f"queries.{name}") if traced else nullcontext()
                with span, led.step(f"it{k}:{name}"):
                    try:
                        QUERIES[name](self.run.spark, data).write.parquet(os.path.join(out, name))
                    except Exception as exc:  # counted as a failed op by check()
                        print(f"query {name} failed: {exc!r}"[:2000], file=sys.stderr)
            return time.perf_counter() - t0
        finally:
            tracer.unwrap_all()

    def check(self, plant_defect: bool) -> tuple[int, int]:
        out = self._dirs(self.run.last_iteration)[1]
        oracles = _oracle_digests(self.run.root, self.fixture, self.tables, self.order)
        failed = 0
        for name in self.order:
            path = os.path.join(out, name)
            got = pq.read_table(path).to_pandas() if os.path.isdir(path) else None
            if got is not None and plant_defect and name == self.order[0]:
                got = got.iloc[1:]  # one dropped output row
            if got is None or _canon_digest(got) != oracles[name]:
                print(f"query {name}: output differs from its DuckDB oracle", file=sys.stderr)
                failed += 1
        return len(self.order), failed

    def plausible(self, wall_s: float) -> list[str]:
        return []

    def layer_metrics(self, k: int, wall: float) -> dict[str, float]:
        from pdf_craft_spark.queries import dedup

        led, tr = self.run.ledger, self.run.tracer
        m: dict[str, float] = {
            f"queries.{name}.s": tr.total_seconds(f"queries.{name}") for name in QUERY_SET
        }
        stages = led.stages(f"it{k}:", tasks=False)
        builds = sum(built for _, built in self.events)
        selfs = tr.self_seconds()
        m.update({
            "queries.jobs": led.jobs(f"it{k}:"),
            "queries.stages": len(stages),
            "queries.shuffle_bytes": sum(s["shuffle_bytes"] for s in stages),
            "queries.spill_bytes": sum(s["spill_bytes"] for s in stages),
            "artifacts.builds": builds,
            "artifacts.hits": len(self.events) - builds,
            "artifacts.hit_ratio": (len(self.events) - builds) / max(1, len(self.events)),
            "artifacts.stored_bytes": led.stored_bytes(
                set(dedup.PROTECTED_RDD_IDS) - self.rdds_before
            ),
        })
        for art in ARTIFACTS:
            m[f"artifacts.{art}.build_s"] = selfs.get(f"artifacts.{art}", 0.0)
        return m


def _canon_digest(df) -> str:
    """Order-insensitive digest of a result: sorted column names, sorted
    rows, floats rounded to 9 places, NaN as None and integral floats as
    ints (DuckDB returns some integer sums as float64)."""
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        canon = []
        for v in row:
            if hasattr(v, "item") and not isinstance(v, bytes):
                v = v.item()
            if isinstance(v, float):
                v = None if math.isnan(v) else int(v) if v.is_integer() else round(v, 9)
            canon.append(v)
        rows.append(tuple(canon))
    return _digest(rows + [tuple(df.columns)])


def _oracle_digests(root: str, fixture: str, tables: str, names) -> dict[str, str]:
    """DuckDB oracle digests, cached on the fixture name and the SQL text
    (the fixture tables never change), so later runs skip the oracles."""
    import duckdb

    from pdf_craft_spark.queries import ORACLES
    from pdf_craft_spark.queries.similarity import oracle_overrides

    sql = {**ORACLES, **oracle_overrides(tables)}
    cache = os.path.join(root, ".bench_cache", "oracles")
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    try:
        for name in names:
            key = hashlib.sha256(sql[name].encode()).hexdigest()[:24]
            path = os.path.join(cache, f"{fixture}-{name}-{key}.json")
            if not os.path.exists(path):
                if con is None:
                    con = duckdb.connect()
                    for f in os.listdir(tables):
                        con.execute(f"CREATE VIEW {f[: -len('.parquet')]} AS SELECT * FROM "
                                    f"read_parquet('{os.path.join(tables, f)}')")
                with open(f"{path}.tmp", "w") as fh:
                    json.dump(_canon_digest(con.sql(sql[name]).df()), fh)
                os.replace(f"{path}.tmp", path)
            with open(path) as fh:
                out[name] = json.load(fh)
    finally:
        if con is not None:
            con.close()
    return out


WORKLOADS = {
    "extract_longtail": ExtractLongtail,
    "ingest_short_books": IngestShortBooks,
    "corpus_queries": CorpusQueries,
}


def make(name: str, run, tiny: bool):
    cls = WORKLOADS[name]
    return cls(run, cls.sizes["tiny" if tiny else "full"])
