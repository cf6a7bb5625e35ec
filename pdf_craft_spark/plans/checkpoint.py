"""S10: checkpointed, resumable extraction runs with per-partition lineage.

Behavioral spec: the reference's resume markers — skip page if its XML
exists, skip doc if 'done' exists (/root/reference/pdf_craft/pdf/ocr.py:
92-95,129-136,218-219).  Spark-native equivalent:

- output spans land through a TABLE-FORMAT SINK (plans/sinks.py): here a
  bucket-partitioned parquet dataset (bucket = sinks.bucket_expr — an
  md5-derived id any engine can recompute); on Iceberg the native
  bucket(n, doc_id) transform with snapshot-atomic commits — the resume
  logic below is sink-agnostic.
- resume = LEFT ANTI join of the input docs against the doc_ids already
  committed — only uncommitted documents are recomputed.
- every run appends a manifest row per bucket (run_id, bucket, n_docs,
  n_spans, wall_sec) — the per-partition lineage + metrics record the
  north rule asks for.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_craft_spark.plans.pipeline import extract_spans_df
from pdf_craft_spark.plans.sinks import ParquetBucketSink


def append_uncommitted(docs: DataFrame, sink, run_id: str) -> None:
    """The one resume path, shared by batch resume (run_with_resume) and
    streaming micro-batches (streaming/incremental.py): left-anti join
    ``docs`` against the doc_ids already committed in ``sink``, extract
    the rest and append their spans tagged with ``run_id``."""
    done = sink.committed_doc_ids(docs.sparkSession)
    todo = docs if done is None else docs.join(done, "doc_id", "left_anti")

    # every span row carries the run that produced it — row-level lineage,
    # and run_with_resume's per-run manifest delta is a cheap scan filtered
    # on run_id (row-group stats / snapshot metadata prune old runs)
    # instead of a re-extraction
    sink.append_spans(extract_spans_df(todo).withColumn("run_id", F.lit(run_id)))


def run_with_resume(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str,
    sink=None,
) -> dict:
    """Extract `docs`, skipping documents already committed in the sink.

    Returns run stats; output is appended bucket-partitioned, and the
    manifest gains one row per touched bucket.  ``sink`` defaults to the
    parquet sink rooted at out_dir; pass an IcebergSink for a catalog
    table (plans/sinks.py documents the 1:1 mapping).
    """
    if sink is None:
        sink = ParquetBucketSink(out_dir)
    t0 = time.time()
    append_uncommitted(docs, sink, run_id)
    wall = time.time() - t0

    out = sink.read_spans(spark)
    # manifest rows record THIS run's delta per bucket; wall_sec is the
    # run-level wall clock (identical across the run's bucket rows)
    lineage = (
        out.filter(F.col("run_id") == run_id)
        .groupBy("bucket")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_spans"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("wall_sec", F.lit(round(wall, 3)))
        .withColumn("status", F.lit("committed"))
    )
    sink.append_manifest(lineage)

    stats_row = out.agg(
        F.countDistinct("doc_id").alias("docs"), F.count(F.lit(1)).alias("spans")
    ).collect()[0]
    return {
        "run_id": run_id,
        "wall_sec": wall,
        "total_docs_committed": stats_row["docs"],
        "total_spans_committed": stats_row["spans"],
    }
