"""Table-format sink seam for the checkpointed extraction output (S4/S7/S10).

The one landing (plans/checkpoint.append_uncommitted) talks to THIS
interface only.  ParquetBucketSink is what runs: bucket-partitioned
parquet datasets with Spark's _SUCCESS/staging atomicity.  The Iceberg
mapping is documented per method — each names the Iceberg call it stands
for (``writeTo(...).append()`` snapshots, the ``bucket(n, doc_id)``
transform).  An Iceberg code twin needs the iceberg-spark-runtime jar to
be tested at all, so it comes back only once such a jar is in the
repository.

Contract (what checkpoint.py relies on):
- ``append_spans`` is atomic-or-absent per call: a crashed run must never
  leave half a document visible (parquet: staging dir rename + _SUCCESS;
  Iceberg: snapshot commit).
- ``committed_doc_ids`` reflects only fully committed appends (parquet:
  files under the dataset root; Iceberg: the current snapshot).
- ``append_manifest`` records per-run, per-bucket lineage rows; it lands
  AFTER the spans commit, so a manifest row implies its data is queryable.

Every read goes through the declared layouts (SPANS_SCHEMA,
MANIFEST_SCHEMA): no schema inference, and a dataset with no data file
yet reads as an empty table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_craft_spark.schemas import OUT_SPAN_SCHEMA

# the one bucket count of every spans dataset: a dataset written with two
# counts would split one document's lineage across incompatible buckets
N_BUCKETS = 16

# the spans dataset: the kernel's span columns, the landing's run_id and
# the partition column.  Files written before run_id existed read it as NULL.
SPANS_SCHEMA = T.StructType([
    *OUT_SPAN_SCHEMA.fields,
    T.StructField("run_id", T.StringType()),
    T.StructField("bucket", T.IntegerType()),
])
# the layout (nullability included) of every manifest file written so far,
# so that old and new files read back as one table
MANIFEST_SCHEMA = (
    "bucket int, n_docs bigint not null, n_spans bigint not null, "
    "run_id string not null, wall_sec double not null, status string not null"
)


def bucket_expr():
    """Engine-agnostic bucket id: pmod(int(md5(doc_id)[:6] base 16), n)
    with n = N_BUCKETS.

    Content-derived and reproducible in ANY engine (DuckDB recomputes it
    as ``CAST('0x' || substr(md5(doc_id),1,6) AS BIGINT) % n``), which
    makes the per-bucket lineage manifest externally value-checkable —
    the driver's `lineage_manifest` oracle row depends on this.  At prod
    on Iceberg the native ``bucket(n, doc_id)`` transform (Murmur3) is
    the drop-in equivalent: swapping hash functions only changes physical
    placement, never resume semantics (resume anti-joins on doc_id, not
    bucket)."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id")), 1, 6), 16, 10).cast("long"),
        F.lit(N_BUCKETS),
    )


class ParquetBucketSink:
    """Bucket-partitioned parquet with job-commit atomicity.

    Iceberg mapping per method in the docstrings; the bucket column
    (``bucket_expr``) plays the role of Iceberg's ``bucket(n, doc_id)``
    partition transform, so the layout carries over 1:1.
    """

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    # -- paths -----------------------------------------------------------
    def _spans_path(self) -> str:
        return os.path.join(self.out_dir, "spans")

    def _manifest_path(self) -> str:
        return os.path.join(self.out_dir, "manifest")

    # -- interface ---------------------------------------------------------
    def committed_doc_ids(self, spark: SparkSession) -> DataFrame | None:
        """Doc ids already durable, or None on first run.

        Only PATH_NOT_FOUND means "first run" — any other read failure
        (storage hiccup, permissions, corrupt footer) must PROPAGATE:
        treating it as first-run would skip the left-anti join and append
        duplicates of everything already committed.

        Iceberg: ``SELECT DISTINCT doc_id FROM cat.db.spans`` — snapshot
        isolation makes 'committed' exact instead of directory-listing
        approximate; no None case (an empty table is just empty)."""
        from pyspark.errors import AnalysisException

        try:
            return self.read_spans(spark).select("doc_id").distinct()
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" in str(exc):
                return None  # first run: nothing committed yet
            raise

    def append_spans(self, flat: DataFrame) -> None:
        """Append span rows, which carry their ``bucket`` (bucket_expr),
        partitioned by it; Spark's commit protocol (task staging +
        job-level rename + _SUCCESS) gives append-or-absent.

        Iceberg: ``flat.writeTo('cat.db.spans').append()`` — one atomic
        snapshot; concurrent runs serialize via optimistic retry.  Resume
        never rewrites rows, so plain append (not MERGE) is the right op;
        if dedup-on-write were ever needed:
        ``MERGE INTO spans t USING delta s ON t.doc_id = s.doc_id AND
        t.offset = s.offset WHEN NOT MATCHED THEN INSERT *``."""
        flat.write.mode("append").partitionBy("bucket").parquet(self._spans_path())

    def read_spans(self, spark: SparkSession) -> DataFrame:
        """Full committed dataset, read as SPANS_SCHEMA.

        Iceberg: ``spark.table('cat.db.spans')`` — the schema lives in the
        table metadata."""
        return spark.read.schema(SPANS_SCHEMA).parquet(self._spans_path())

    def append_manifest(self, lineage: DataFrame) -> None:
        """Per-run per-bucket lineage rows (run_id, bucket, n_docs,
        n_spans, wall_sec, status).

        Iceberg: append to a ``spans_manifest`` table; half the row's
        content (files/rows per snapshot) also exists natively in
        ``cat.db.spans.snapshots`` / ``.manifests`` metadata tables — the
        explicit table keeps engine-agnostic metrics (wall_sec, status)."""
        lineage.write.mode("append").parquet(self._manifest_path())

    def read_manifest(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(self._manifest_path())

