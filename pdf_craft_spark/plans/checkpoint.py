"""S10: checkpointed, resumable extraction runs with per-partition lineage.

Behavioral spec: the reference's resume markers — skip page if its XML
exists, skip doc if 'done' exists (/root/reference/pdf_craft/pdf/ocr.py:
92-95,129-136,218-219).  Spark-native equivalent, one landing
(``append_uncommitted``) that batch resume (``run_with_resume``) and
streaming micro-batches (streaming/incremental.py) share:

- output spans land through a TABLE-FORMAT SINK (plans/sinks.py): a
  bucket-partitioned parquet dataset (bucket = sinks.bucket_expr — an
  md5-derived id any engine can recompute).
- outside tables enter here, so the landing rebalances an input with
  fewer partitions than cores before the anti-join.
- resume = LEFT ANTI join of the input docs against the doc_ids already
  committed — only uncommitted documents are recomputed.
- every landing appends a manifest row per touched bucket (run_id,
  bucket, n_docs, n_spans, wall_sec, status) — the per-partition lineage
  + metrics record the north rule asks for.  Its counts are observed on
  the spans write itself, so the manifest costs no scan of the committed
  table.
- both datasets are read through the layouts declared in plans/sinks.py.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pdf_craft_spark.plans.pipeline import extract_spans_df
from pdf_craft_spark.plans.sinks import MANIFEST_SCHEMA, N_BUCKETS, ParquetBucketSink, bucket_expr


def _ensure_parallelism(docs: DataFrame) -> DataFrame:
    """Rebalance ONLY when the source has fewer partitions than cores.

    The rebalance happens at the nested-row level (one row per document),
    so document atomicity — the zero-shuffle plan's precondition — is
    preserved by construction.  A 100 TB table has orders of magnitude
    more splits than executors, so at scale this branch never fires and
    extraction stays fully narrow.  Asked of a scan or a micro-batch, not
    of the anti-join, the partition count runs no job."""
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism, "doc_id")
    return docs


def append_uncommitted(docs: DataFrame, sink, run_id: str) -> None:
    """The one landing: left-anti join ``docs`` against the doc_ids
    already committed in ``sink``, extract the rest, append their spans
    tagged with ``run_id``, then append this run's manifest rows."""
    t0 = time.time()
    spark = docs.sparkSession
    docs = _ensure_parallelism(docs)
    done = sink.committed_doc_ids(spark)
    todo = docs if done is None else docs.join(done, "doc_id", "left_anti")
    spans = extract_spans_df(todo).withColumns(
        {"run_id": F.lit(run_id), "bucket": bucket_expr()}
    )
    # observe() rejects DISTINCT, so documents are counted by their span at
    # offset 0: the kernel numbers each document's output spans from 0
    # (operators/render.py render_document, pinned by
    # test_pipeline_spark.py::test_nested_output_order).  One array per
    # count, written as SQL: building 32 Column trees over py4j added
    # 0.25 s per landing, more than the observation itself.
    def per_bucket(cond: str):
        counts = ", ".join(f"count_if(bucket = {k}{cond})" for k in range(N_BUCKETS))
        return F.expr(f"array({counts})")

    seen = Observation()
    sink.append_spans(spans.observe(
        seen,
        per_bucket("").alias("n_spans"),
        per_bucket(" AND `offset` = 0").alias("n_docs"),
    ))
    got = seen.get
    keep = [k for k in range(N_BUCKETS) if got["n_spans"][k]]
    # the run-level wall clock, identical across its rows
    wall = round(time.time() - t0, 3)
    manifest = pa.table({
        "bucket": keep,
        "n_docs": [got["n_docs"][k] for k in keep],
        "n_spans": [got["n_spans"][k] for k in keep],
        "run_id": [run_id] * len(keep),
        "wall_sec": [wall] * len(keep),
        "status": ["committed"] * len(keep),
    })
    # an Arrow table, one file per landing: rows from a Python list go
    # through a pickled RDD, and the tiny write took 0.8 s instead of
    # 0.13 s (local[4], 4-core VM)
    sink.append_manifest(spark.createDataFrame(manifest, MANIFEST_SCHEMA).coalesce(1))


def run_with_resume(
    spark: SparkSession, docs: DataFrame, out_dir: str, run_id: str
) -> dict:
    """Land ``docs`` in the parquet sink rooted at ``out_dir``, skipping
    documents already committed there; returns the run's wall clock and
    the committed totals."""
    sink = ParquetBucketSink(out_dir)
    t0 = time.time()
    append_uncommitted(docs, sink, run_id)
    wall = time.time() - t0

    # documents counted the way the manifest counts them, by their offset-0
    # span: one int column and no distinct aggregation over every doc_id
    totals = sink.read_spans(spark).agg(
        F.expr("count_if(offset = 0)").alias("docs"), F.count(F.lit(1)).alias("spans")
    ).collect()[0]
    return {
        "run_id": run_id,
        "wall_sec": wall,
        "total_docs_committed": totals["docs"],
        "total_spans_committed": totals["spans"],
    }
