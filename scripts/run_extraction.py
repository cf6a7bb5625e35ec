#!/usr/bin/env python3
"""Cluster entry point for the extraction pipeline.

Usage (cluster):

    zip -r pdf_craft_spark.zip pdf_craft_spark
    spark-submit --py-files pdf_craft_spark.zip \\
        scripts/run_extraction.py \\
        --input  <interleaved docs table/path> \\
        --output <spans output dir> \\
        --run-id r1 [--resume]

Locally the same script runs on local[N] (SPARK_GRAFT_CPUS).  Input is a
parquet dataset of (doc_id, spans); output is the
bucket-partitioned spans dataset + per-bucket manifest lineage
(plans/checkpoint.py).  With --resume, committed documents are skipped
via the left-anti join.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _clear_output(spark, output: str) -> None:
    """Remove a pre-existing output dataset through the Hadoop FileSystem
    API, so hdfs:// and s3a:// URIs are cleared too — a fresh (non-resume)
    run must never silently append into stale spans.  Local paths take the
    cheap os path."""
    if "://" not in output:
        if os.path.isdir(output):
            shutil.rmtree(output)
        return
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hadoop_conf = jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(output)
    fs = path.getFileSystem(hadoop_conf)
    if fs.exists(path):
        fs.delete(path, True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--generate-docs", type=int, default=None,
                    help="generate a synthetic corpus of N docs at --input first")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from pdf_craft_spark.plans.checkpoint import run_with_resume
    from pdf_craft_spark.plans.pipeline import corpus_df
    from pdf_craft_spark.session import get_spark

    # under spark-submit an active session already exists; standalone we
    # build the tuned local one
    spark = SparkSession.getActiveSession() or get_spark(app_name="pdf_craft_extract")

    if args.generate_docs:
        corpus_df(spark, args.generate_docs).write.mode("overwrite").parquet(args.input)

    if not args.resume:
        _clear_output(spark, args.output)

    docs = spark.read.parquet(args.input)
    t0 = time.time()
    stats = run_with_resume(
        spark, docs, args.output, args.run_id or uuid.uuid4().hex[:8]
    )
    stats["total_wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
