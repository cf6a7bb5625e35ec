"""Source/sink format coverage: prove byte-fidelity of the non-parquet
ingest paths (JSON Lines, CSV, and ORC) by actually writing the documents
table out in each format, reading it back with an explicit FAILFAST-style
schema, and fingerprinting the roundtripped rows.

The fingerprint is order-insensitive and content-exact: one md5 per row
over every column, sorted, concatenated, md5'd again.  The DuckDB oracle
computes the same fingerprint straight from the parquet view — so a green
row proves the format roundtrip lost nothing (null/empty-string collapse,
quote/escape damage, encoding drift, or type coercion would all change
the fingerprint).  The parquet row doubles as the baseline.

CSV is configured for full RFC-4180 fidelity up front (quote-doubling
escape + multiLine read) so the path stays correct when real corpus text
contains quotes or newlines, not just on this synthetic table.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_craft_spark.sources import load_table

_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

# NULL-proof row hash: every column is coalesced to a sentinel BEFORE
# concatenation, so a NULL never nulls out the whole hash (plain concat
# would — and NULL rh rows are silently skipped by collect_list /
# string_agg, blinding the fingerprint to corruption in those rows).
# The sentinel only collides with a column whose literal value is the
# sentinel string — acceptable for a fidelity check, impossible in this
# corpus.  Identical text in both engines.
# the sentinel carries a real U+2400 char (embedded by Python, so the SQL
# text is identical in both engines — backslash escapes would not be:
# Spark processes them, DuckDB keeps them literal)
_NULL = "'<␀NULL>'"
_ROW_HASH = (
    "md5(concat("
    f"coalesce(CAST(doc_id AS STRING), {_NULL}), ':', "
    f"coalesce(text, {_NULL}), ':', "
    f"coalesce(lang, {_NULL}), ':', "
    f"coalesce(source, {_NULL}), ':', "
    f"coalesce(CAST(n_chars AS STRING), {_NULL})))"
)


def _fingerprint(df: DataFrame, fmt: str) -> DataFrame:
    return (
        df.selectExpr(f"{_ROW_HASH} AS rh")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("md5(concat_ws('', array_sort(collect_list(rh))))").alias(
                "fingerprint"
            ),
        )
        .select(F.lit(fmt).alias("fmt"), "n_docs", "fingerprint")
    )


def source_roundtrip_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        *[f.name for f in _SCHEMA.fields]
    )
    # per-process, full-path-keyed scratch dir: concurrent processes (or
    # distinct sf_dirs sharing a basename) must never overwrite each
    # other's files mid-read
    import hashlib

    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    base = os.path.join(
        "/tmp/spark_graft_roundtrip", f"{key}_{os.getpid()}"
    )

    jpath = os.path.join(base, "json")
    docs.write.mode("overwrite").json(jpath)
    jdf = spark.read.schema(_SCHEMA).option("mode", "FAILFAST").json(jpath)

    cpath = os.path.join(base, "csv")
    (
        docs.write.mode("overwrite")
        .options(header=True, quote='"', escape='"', quoteAll=True)
        .csv(cpath)
    )
    cdf = (
        spark.read.schema(_SCHEMA)
        .options(
            header=True, quote='"', escape='"', multiLine=True, mode="FAILFAST"
        )
        .csv(cpath)
    )

    opath = os.path.join(base, "orc")
    docs.write.mode("overwrite").orc(opath)
    odf = spark.read.schema(_SCHEMA).orc(opath)

    return (
        _fingerprint(cdf, "csv")
        .unionByName(_fingerprint(jdf, "json"))
        .unionByName(_fingerprint(odf, "orc"))
        .unionByName(_fingerprint(docs, "parquet"))
        .orderBy("fmt")
    )


SOURCE_ROUNDTRIP_FIDELITY_SQL = f"""
WITH h AS (
  SELECT {_ROW_HASH} AS rh
  FROM documents
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         md5(string_agg(rh, '' ORDER BY rh)) AS fingerprint
  FROM h
)
SELECT fmt, n_docs, fingerprint
FROM agg, (VALUES ('csv'), ('json'), ('orc'), ('parquet')) t(fmt)
ORDER BY fmt
"""


QUERIES = {"source_roundtrip_fidelity": source_roundtrip_fidelity}
ORACLES = {"source_roundtrip_fidelity": SOURCE_ROUNDTRIP_FIDELITY_SQL}


# --- semi-structured JSON extraction ----------------------------------------
# The events table carries a JSON props column (the semi-structured
# payload every real event stream has).  Extraction happens ONCE in a
# projection — get_json_object / json_extract_string are engine-native
# JSON path evaluation, no Python — and the typed value then flows into a
# normal grouped aggregate.  NULL-safe by validation, not by luck: the
# extracted string is regex-checked as an integer literal BEFORE the
# cast, because the engines' raw cast edges diverge (Spark 4 ANSI mode
# throws on '6.5', DuckDB CAST rounds it to 7) — a missing key, a
# non-integer number, or malformed JSON all become NULL in BOTH engines
# and drop out of the aggregates identically.  At scale this is the
# schema-on-read pattern: the parse cost rides the scan, and only the
# extracted integer shuffles.
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.expr(
        "CAST(CASE WHEN get_json_object(props, '$.k') RLIKE '^-?[0-9]+$'"
        " THEN get_json_object(props, '$.k') END AS BIGINT)"
    )
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count_distinct(F.col("k")).alias("n_distinct_k"),
        )
        .selectExpr(
            "event_type",
            "CAST(n AS BIGINT) AS n",
            "CAST(n_with_k AS BIGINT) AS n_with_k",
            "CAST(sum_k AS BIGINT) AS sum_k",
            "CAST(min_k AS BIGINT) AS min_k",
            "CAST(max_k AS BIGINT) AS max_k",
            "CAST(n_distinct_k AS BIGINT) AS n_distinct_k",
        )
        .orderBy("event_type")
    )


JSON_EXTRACT_PROPS_SQL = """
WITH raw AS (
  -- TRY_CAST validates: DuckDB's json_extract_string THROWS on
  -- malformed JSON where Spark's get_json_object returns NULL
  SELECT event_type,
         json_extract_string(TRY_CAST(props AS JSON), '$.k') AS ks
  FROM events
), parsed AS (
  SELECT event_type,
         CAST(CASE WHEN regexp_full_match(coalesce(ks, ''), '-?[0-9]+')
               THEN ks END AS BIGINT) AS k
  FROM raw
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k,
       CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
FROM parsed
GROUP BY 1
ORDER BY event_type
"""


QUERIES["json_extract_props"] = json_extract_props
ORACLES["json_extract_props"] = JSON_EXTRACT_PROPS_SQL


# --- bucketed co-located join ------------------------------------------------
# The one shuffle-elimination technique the repo argues for everywhere
# but must also RUN: customer and orders are written as BUCKETED tables
# (8 buckets each on the join key), read back through the catalog, and
# joined — Spark matches the bucket specs and plans the join with ZERO
# exchanges on either side (plan-guarded).  At 100 TB this is the
# difference between re-shuffling the fact table per join and reading
# co-located files; the bucketed layout is written once and amortized
# over every downstream key join.  The oracle runs the same aggregate
# over the raw parquet — equality also proves the bucketed round trip
# lost nothing.  Tables are per-run temp names with LOCATION under a
# scratch dir, dropped in finally (the write is setup, not the measured
# operator).
N_BUCKETS_JOIN = 8

# executed plan of the most recent bucketed join, captured before the
# temp tables drop so the plan guard can assert on it post-hoc
_LAST_BUCKETED_PLAN = ""


def bucketed_join_colocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    tag = uuid.uuid4().hex[:10]
    tc, to = f"bkt_cust_{tag}", f"bkt_ord_{tag}"
    work = tempfile.mkdtemp(prefix="bucketed_join_")
    try:
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        ).write.bucketBy(N_BUCKETS_JOIN, "c_custkey").sortBy(
            "c_custkey"
        ).option("path", os.path.join(work, tc)).saveAsTable(tc)
        load_table(spark, sf_dir, "orders").selectExpr(
            "o_custkey", "CAST(o_totalprice AS DECIMAL(18,2)) AS price"
        ).write.bucketBy(N_BUCKETS_JOIN, "o_custkey").sortBy(
            "o_custkey"
        ).option("path", os.path.join(work, to)).saveAsTable(to)
        # the merge hint forces SortMergeJoin even when one side fits a
        # broadcast (as at test SFs) — the point here is the BUCKETED
        # merge path: matching specs, zero join-side exchanges
        joined = (
            spark.table(tc)
            .hint("merge")
            .join(
                spark.table(to),
                F.col("c_custkey") == F.col("o_custkey"),
            )
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("price").alias("rev"),
            )
            .selectExpr(
                "CAST(c_nationkey AS BIGINT) AS nationkey",
                "CAST(n_orders AS BIGINT) AS n_orders",
                "round(CAST(rev AS DOUBLE), 2) AS revenue",
            )
            .orderBy("nationkey")
        )
        global _LAST_BUCKETED_PLAN
        _LAST_BUCKETED_PLAN = (
            joined._jdf.queryExecution().executedPlan().toString()
        )
        rows = joined.collect()  # materialize before tables drop
        return spark.createDataFrame(rows, joined.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tc}")
        spark.sql(f"DROP TABLE IF EXISTS {to}")
        shutil.rmtree(work, ignore_errors=True)


BUCKETED_JOIN_COLOCATE_SQL = """
SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY 1
ORDER BY nationkey
"""


QUERIES["bucketed_join_colocate"] = bucketed_join_colocate
ORACLES["bucketed_join_colocate"] = BUCKETED_JOIN_COLOCATE_SQL
