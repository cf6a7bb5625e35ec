"""Table-format sink seam for the checkpointed extraction output (S4/S7/S10).

The resume/lineage logic in plans/checkpoint.py talks to THIS interface
only; the storage format is a plugin.  Two implementations:

- ParquetBucketSink — what runs in this sandbox: bucket-partitioned
  parquet datasets with Spark's _SUCCESS/staging atomicity.
- IcebergSink — the production mapping, code-shaped: the same four
  operations expressed against Spark's DataSourceV2 ``writeTo`` API.  It
  needs the iceberg-spark-runtime jar + a configured catalog.  Neither
  is available here (no Iceberg jar is installed and there is no network
  to fetch one), so no test exercises the class; it raises a clear error
  without them.  Every method body is the real call, so "use Iceberg at
  prod" is a config change, not a rewrite.

Contract (what checkpoint.py relies on):
- ``append_spans`` is atomic-or-absent per call: a crashed run must never
  leave half a document visible (parquet: staging dir rename + _SUCCESS;
  Iceberg: snapshot commit).
- ``committed_doc_ids`` reflects only fully committed appends (parquet:
  files under the dataset root; Iceberg: the current snapshot).
- ``append_manifest`` records per-run, per-bucket lineage rows; it lands
  AFTER the spans commit, so a manifest row implies its data is queryable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the one bucket count of every spans dataset: a dataset written with two
# counts would split one document's lineage across incompatible buckets
N_BUCKETS = 16


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
            return spark.read.parquet(self._spans_path()).select("doc_id").distinct()
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" in str(exc):
                return None  # first run: nothing committed yet
            raise

    def append_spans(self, flat: DataFrame) -> None:
        """Append span rows bucket-partitioned; Spark's commit protocol
        (task staging + job-level rename + _SUCCESS) gives append-or-absent.

        Iceberg: ``flat.writeTo('cat.db.spans').append()`` — one atomic
        snapshot; concurrent runs serialize via optimistic retry.  Resume
        never rewrites rows, so plain append (not MERGE) is the right op;
        if dedup-on-write were ever needed:
        ``MERGE INTO spans t USING delta s ON t.doc_id = s.doc_id AND
        t.offset = s.offset WHEN NOT MATCHED THEN INSERT *``."""
        flat = flat.withColumn("bucket", bucket_expr())
        flat.write.mode("append").partitionBy("bucket").parquet(self._spans_path())

    def read_spans(self, spark: SparkSession) -> DataFrame:
        """Full committed dataset.  mergeSchema: output dirs written before
        a column existed (e.g. run_id) must union footers, not sample one.

        Iceberg: ``spark.table('cat.db.spans')`` — schema evolution is
        tracked in table metadata, so the mergeSchema workaround drops out."""
        return (
            spark.read.option("mergeSchema", "true").parquet(self._spans_path())
        )

    def append_manifest(self, lineage: DataFrame) -> None:
        """Per-run per-bucket lineage rows (run_id, bucket, n_docs,
        n_spans, wall_sec, status).

        Iceberg: append to a ``spans_manifest`` table; half the row's
        content (files/rows per snapshot) also exists natively in
        ``cat.db.spans.snapshots`` / ``.manifests`` metadata tables — the
        explicit table keeps engine-agnostic metrics (wall_sec, status)."""
        lineage.write.mode("append").parquet(self._manifest_path())

    def read_manifest(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._manifest_path())


class IcebergSink:
    """The same four operations against a real Iceberg catalog table.

    Requires ``iceberg-spark-runtime`` on the classpath and a catalog in
    the session conf, e.g.::

        spark.sql.catalog.cat = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.cat.type = hadoop
        spark.sql.catalog.cat.warehouse = /path/wh

    Not runnable in this sandbox (no jars baked in, no network to fetch
    them) — constructor probes the catalog and fails with instructions.
    """

    def __init__(self, spark: SparkSession, table: str):
        self.table = table
        self.manifest_table = table + "_manifest"
        try:
            spark.sql(f"SELECT 1 FROM {table} LIMIT 0")
            self._exists = True
        except Exception as exc:
            if "TABLE_OR_VIEW_NOT_FOUND" in str(exc):
                self._exists = False  # catalog works, table doesn't exist yet
            else:
                raise RuntimeError(
                    "Iceberg catalog unavailable: add iceberg-spark-runtime "
                    "to spark.jars and configure spark.sql.catalog.<name>"
                ) from exc

    def _with_bucket(self, flat: DataFrame) -> DataFrame:
        # an explicit bucket column (identical hash to the parquet sink)
        # keeps the manifest's per-bucket lineage sink-agnostic; the table
        # is ALSO physically partitioned by it
        return flat.withColumn("bucket", bucket_expr())

    def committed_doc_ids(self, spark: SparkSession) -> DataFrame | None:
        if not self._exists:
            return None
        return spark.table(self.table).select("doc_id").distinct()

    def append_spans(self, flat: DataFrame) -> None:
        flat = self._with_bucket(flat)
        if self._exists:
            flat.writeTo(self.table).append()  # one atomic snapshot
            return
        # the cached _exists probe can be stale (table created concurrently
        # or externally after the constructor ran): treat ALREADY_EXISTS
        # from create() as "someone else won the race" and retry as an
        # append — symmetric with append_manifest's race handling
        try:
            flat.writeTo(self.table).partitionedBy(F.col("bucket")).create()
        except Exception as exc:
            if "ALREADY_EXISTS" not in str(exc):
                raise
            flat.writeTo(self.table).append()
        self._exists = True

    def read_spans(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.table)

    def append_manifest(self, lineage: DataFrame) -> None:
        # only a MISSING table falls back to create(); any other append
        # failure (commit conflict, schema drift) must propagate rather
        # than be masked by a confusing TABLE_ALREADY_EXISTS from create()
        try:
            lineage.writeTo(self.manifest_table).append()
        except Exception as exc:
            if "TABLE_OR_VIEW_NOT_FOUND" not in str(exc):
                raise
            lineage.writeTo(self.manifest_table).create()

    def read_manifest(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.manifest_table)
