"""Incremental (streaming) extraction of newly-arriving documents.

The reference is a resumable batch pipeline (SURVEY.md §2.10: no
event-time semantics anywhere), so the Spark-native incremental story is
file-arrival Structured Streaming: new parquet files of interleaved docs
land in a directory; each micro-batch lands through ``foreachBatch`` and
the one landing batch resume takes (plans/checkpoint.append_uncommitted):
the same extraction plan, the same bucket-partitioned spans dataset, and
one manifest row per touched bucket with ``run_id = epoch_<id>``.

Delivery semantics: ``foreachBatch`` is at-least-once — a micro-batch can
REPLAY after a failure between the parquet append and the offset commit.
The landing is idempotent at the document level: each batch is
left-anti-joined against the doc_ids already committed to the output, so
a replayed batch writes no spans and no manifest row, and the OBSERVED
result is effectively-once per document.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pdf_craft_spark.plans.checkpoint import append_uncommitted
from pdf_craft_spark.plans.sinks import ParquetBucketSink
from pdf_craft_spark.schemas import INTERLEAVED_DOC_SCHEMA


def make_batch_processor(out_dir: str) -> Callable[[DataFrame, int], None]:
    """The foreachBatch body, exposed for direct replay testing: dedups
    the batch against committed doc_ids, so re-processing the same batch
    (an at-least-once replay) appends nothing."""
    # write through the SAME sink as batch resume: one bucketing scheme
    # (sinks.bucket_expr) per dataset, so external lineage recompute
    # and mixed batch/stream output dirs stay consistent
    sink = ParquetBucketSink(out_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        append_uncommitted(batch_df, sink, f"epoch_{epoch_id}")

    return process_batch


def start_incremental_extraction(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 8,
):
    """readStream over an interleaved-docs directory → per-micro-batch
    extraction → idempotent append to the bucket-partitioned spans dataset.

    Returns the StreamingQuery (caller stops it / processAllAvailable)."""
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_stream_checkpoint")
    stream = (
        spark.readStream.schema(INTERLEAVED_DOC_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )
    return (
        stream.writeStream.foreachBatch(make_batch_processor(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
