"""S10 resume semantics: a second run over a superset input recomputes
ONLY the uncommitted documents; manifest rows accrue per bucket and
always agree with the spans their run wrote."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from pdf_craft_spark.plans.checkpoint import run_with_resume
from pdf_craft_spark.plans.pipeline import corpus_df
from pdf_craft_spark.plans.sinks import ParquetBucketSink

# the manifest layout every earlier landing wrote: old and new manifest
# files must read back as one table
MANIFEST_COLUMNS = (
    "struct<bucket:int,n_docs:bigint,n_spans:bigint,run_id:string,"
    "wall_sec:double,status:string>"
)


def manifest_matches_spans(spark, out_dir: str) -> list:
    """Assert every run's manifest rows equal a groupBy("bucket") of the
    spans carrying its run_id; return the manifest rows."""
    sink = ParquetBucketSink(out_dir)
    manifest = sink.read_manifest(spark)
    assert manifest.schema.simpleString() == MANIFEST_COLUMNS
    got = sorted(
        tuple(r) for r in manifest.select("run_id", "bucket", "n_docs", "n_spans").collect()
    )
    want = sorted(
        tuple(r)
        for r in sink.read_spans(spark)
        .filter(F.col("run_id").isNotNull())
        .groupBy("run_id", "bucket")
        .agg(F.countDistinct("doc_id"), F.count(F.lit(1)))
        .collect()
    )
    assert got == want
    assert {r.status for r in manifest.select("status").collect()} <= {"committed"}
    return got


def test_resume_skips_committed(spark, tmp_path):
    out_dir = str(tmp_path / "out")

    stats1 = run_with_resume(spark, corpus_df(spark, 4, partitions=2), out_dir, "run1")
    assert stats1["total_docs_committed"] == 4

    # superset input: only the 4 new docs should be extracted
    stats2 = run_with_resume(spark, corpus_df(spark, 8, partitions=2), out_dir, "run2")
    assert stats2["total_docs_committed"] == 8

    out = spark.read.parquet(f"{out_dir}/spans")
    # no duplicated work: each (doc_id, offset) appears exactly once
    n = out.count()
    nd = out.select("doc_id", "offset").distinct().count()
    assert n == nd

    manifest = spark.read.parquet(f"{out_dir}/manifest")
    runs = {r.run_id for r in manifest.select("run_id").distinct().collect()}
    assert runs == {"run1", "run2"}
    assert manifest.filter(manifest.status == "committed").count() >= 2
    manifest_matches_spans(spark, out_dir)


def test_resume_into_pre_run_id_output(spark, tmp_path):
    """An output dir written before the run_id column existed (schema
    drift) must resume cleanly: the sink reads through its declared
    layout, so old files surface run_id as NULL and the lineage delta
    filter skips them."""
    from pyspark.sql import functions as F

    from pdf_craft_spark.plans.pipeline import extract_spans_df
    from pdf_craft_spark.plans.sinks import ParquetBucketSink

    out_dir = str(tmp_path / "out")
    legacy = extract_spans_df(corpus_df(spark, 2, partitions=2)).withColumn(
        "bucket", F.pmod(F.hash("doc_id"), F.lit(16))
    )
    legacy.write.mode("append").partitionBy("bucket").parquet(f"{out_dir}/spans")

    stats = run_with_resume(spark, corpus_df(spark, 4, partitions=2), out_dir, "r2")
    assert stats["total_docs_committed"] == 4
    out = ParquetBucketSink(out_dir).read_spans(spark)
    assert out.select("doc_id", "offset").distinct().count() == out.count()
    # legacy rows surface with NULL run_id; new rows carry r2
    assert out.filter(F.col("run_id").isNull()).count() > 0
    assert out.filter(F.col("run_id") == "r2").count() > 0
    assert {r[0] for r in manifest_matches_spans(spark, out_dir)} == {"r2"}


def test_noop_rerun(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    run_with_resume(spark, corpus_df(spark, 3, partitions=2), out_dir, uuid.uuid4().hex)
    before = spark.read.parquet(f"{out_dir}/spans").count()
    manifest = manifest_matches_spans(spark, out_dir)
    run_with_resume(spark, corpus_df(spark, 3, partitions=2), out_dir, uuid.uuid4().hex)
    after = spark.read.parquet(f"{out_dir}/spans").count()
    assert before == after
    assert manifest_matches_spans(spark, out_dir) == manifest


def test_empty_landing_then_landing(spark, tmp_path):
    """An empty landing leaves a spans dir with no data file; it and every
    later landing into that dir read it as an empty table, not as a
    layout to infer."""
    out_dir = str(tmp_path / "out")
    stats = run_with_resume(spark, corpus_df(spark, 8).limit(0), out_dir, "empty")
    assert (stats["total_docs_committed"], stats["total_spans_committed"]) == (0, 0)

    stats = run_with_resume(spark, corpus_df(spark, 4, partitions=2), out_dir, "r2")
    assert stats["total_docs_committed"] == 4
    assert stats["total_spans_committed"] > 0
    assert {r[0] for r in manifest_matches_spans(spark, out_dir)} == {"r2"}
