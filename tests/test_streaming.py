"""Structured-Streaming incremental ingest: files that arrive later are
extracted by later micro-batches; output equals the batch pipeline's; a
replayed micro-batch (foreachBatch is at-least-once) appends nothing; each
epoch's manifest rows agree with the spans it wrote."""

from __future__ import annotations

import os

from pdf_craft_spark.plans.pipeline import corpus_df, extract_spans_df
from pdf_craft_spark.streaming.incremental import (
    make_batch_processor,
    start_incremental_extraction,
)
from tests.test_checkpoint import manifest_matches_spans


def test_incremental_equals_batch(spark, tmp_path):
    inp = str(tmp_path / "incoming")
    out = str(tmp_path / "out")
    os.makedirs(inp)

    # wave 1: docs 0..3
    corpus_df(spark, 4, partitions=2).write.mode("append").parquet(inp)
    q = start_incremental_extraction(spark, inp, out, max_files_per_trigger=2)
    q.processAllAvailable()

    # wave 2 arrives while the query runs: docs 4..7
    docs8 = corpus_df(spark, 8, partitions=2)
    docs8.filter(docs8.doc_id.cast("int") >= 4).write.mode("append").parquet(inp)
    q.processAllAvailable()
    q.stop()

    got = spark.read.parquet(os.path.join(out, "spans"))
    want = extract_spans_df(corpus_df(spark, 8, partitions=2))
    got_rows = sorted(
        (r.doc_id, r.offset, r.kind, r.text, r.media_ref) for r in got.collect()
    )
    want_rows = sorted(
        (r.doc_id, r.offset, r.kind, r.text, r.media_ref) for r in want.collect()
    )
    assert got_rows == want_rows
    runs = {r[0] for r in manifest_matches_spans(spark, out)}
    assert runs and all(run.startswith("epoch_") for run in runs)


def test_batch_replay_is_idempotent(spark, tmp_path):
    """Simulate an at-least-once replay: the same micro-batch processed
    twice (and a second epoch overlapping the first) must not duplicate
    any document's spans."""
    out = str(tmp_path / "out")
    process = make_batch_processor(out)
    batch = corpus_df(spark, 4, partitions=2)

    process(batch, 0)
    once = spark.read.parquet(os.path.join(out, "spans")).count()
    manifest = manifest_matches_spans(spark, out)
    process(batch, 0)  # exact replay of epoch 0
    process(batch, 1)  # overlapping next epoch (same docs re-listed)
    again = spark.read.parquet(os.path.join(out, "spans")).count()
    assert once == again
    assert manifest_matches_spans(spark, out) == manifest

    got = spark.read.parquet(os.path.join(out, "spans"))
    per_doc = {r.doc_id: r.cnt for r in got.groupBy("doc_id").count().withColumnRenamed("count", "cnt").collect()}
    want = extract_spans_df(corpus_df(spark, 4, partitions=2))
    want_per_doc = {r.doc_id: r.cnt for r in want.groupBy("doc_id").count().withColumnRenamed("count", "cnt").collect()}
    assert per_doc == want_per_doc
