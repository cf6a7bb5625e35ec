"""Data-quality operators: an expectations-style validation sweep (the
Great-Expectations / Deequ shape — declared constraints checked in ONE
pass over the table plus one referential-integrity join) and a blocked
fuzzy-match entity-resolution pass (candidate generation via blocking
keys, then an edit-distance predicate — never an all-pairs comparison).

Both are pure Catalyst and integer-exact, so the DuckDB oracle matches
hash-for-hash.

The rest of the entity-resolution family lives here too: blocking
quality (reduction ratio and pairs completeness), SymSpell-style edit-1
blocking, and Jaro-Winkler pairs.  The Jaro-Winkler kernel is checked
against DuckDB's own jaro_winkler_similarity builtin; the two matched
bit-for-bit on 3,006 fuzz cases, diverging only on empty-vs-empty, which
part names cannot hit.  So do the engine-semantics conformance matrices
(null, date, window rank) and audits such as the disparate impact of a
quality filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries.analyticsq import FP_DEL_BP
from pdf_craft_spark.queries.dedup import md5_prefix_long_sql
from pdf_craft_spark.sources import load_table as _t


# --- expectations sweep -----------------------------------------------------
# Six declared constraints over orders, evaluated as ONE conditional
# aggregate (a single scan regardless of how many checks are declared —
# the Deequ trick) unpivoted via stack(), plus the one check that needs a
# second input: referential integrity o_custkey -> customer via a
# left-anti join (sort-merge at scale; the probe side is the fact table,
# the build side the dimension keys).  Output: one row per check with the
# violation count and pass flag — the artifact a pipeline gate consumes.
DQ_DATE_LO = "1990-01-01"
DQ_DATE_HI = "2010-01-01"


def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    wide = orders.selectExpr(
        "CAST(count(*) AS BIGINT) AS n_rows",
        "CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        " AS null_key",
        "CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_key",
        "CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0"
        " END) AS BIGINT) AS bad_status",
        "CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS nonpos_price",
        f"CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '{DQ_DATE_LO}' OR"
        f" o_orderdate >= TIMESTAMP '{DQ_DATE_HI}' THEN 1 ELSE 0 END)"
        " AS BIGINT) AS date_out_of_range",
        "CAST(sum(CASE WHEN o_orderpriority NOT LIKE '_-%' THEN 1 ELSE 0 END)"
        " AS BIGINT) AS bad_priority",
    ).localCheckpoint(eager=True)  # 1 row; both references (stack sweep +
    # orphan n_checked attach) must read it, or Catalyst re-derives the
    # whole conditional aggregate — a third fact-table scan at 100 TB
    checks = wide.selectExpr(
        "stack(6,"
        " 'key_not_null', null_key,"
        " 'key_unique', dup_key,"
        " 'status_in_domain', bad_status,"
        " 'price_positive', nonpos_price,"
        " 'date_in_range', date_out_of_range,"
        " 'priority_format', bad_priority"
        ") AS (check_name, n_violations)",
        "n_rows AS n_checked",
    )
    cust_keys = _t(spark, sf_dir, "customer").select("c_custkey").distinct()
    orphans = (
        orders.join(
            cust_keys, orders.o_custkey == cust_keys.c_custkey, "left_anti"
        )
        .agg(F.count("*").alias("n_violations"))
        .selectExpr("'custkey_references_customer' AS check_name", "n_violations")
        .join(wide.select("n_rows"))
        .selectExpr("check_name",
                    "CAST(n_violations AS BIGINT) AS n_violations",
                    "n_rows AS n_checked")
    )
    return (
        checks.unionByName(orphans)
        .selectExpr(
            "check_name", "n_violations", "n_checked",
            "n_violations = 0 AS passed"
        )
        .orderBy("check_name")
    )


DQ_EXPECTATIONS_ORDERS_SQL = f"""
WITH wide AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_key,
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_key,
         CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0
           END) AS BIGINT) AS bad_status,
         CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS nonpos_price,
         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '{DQ_DATE_LO}' OR
           o_orderdate >= TIMESTAMP '{DQ_DATE_HI}' THEN 1 ELSE 0 END)
           AS BIGINT) AS date_out_of_range,
         CAST(sum(CASE WHEN o_orderpriority NOT LIKE '_-%' THEN 1 ELSE 0 END)
           AS BIGINT) AS bad_priority
  FROM orders
), checks AS (
  SELECT 'key_not_null' AS check_name, null_key AS n_violations, n_rows AS n_checked FROM wide
  UNION ALL SELECT 'key_unique', dup_key, n_rows FROM wide
  UNION ALL SELECT 'status_in_domain', bad_status, n_rows FROM wide
  UNION ALL SELECT 'price_positive', nonpos_price, n_rows FROM wide
  UNION ALL SELECT 'date_in_range', date_out_of_range, n_rows FROM wide
  UNION ALL SELECT 'priority_format', bad_priority, n_rows FROM wide
  UNION ALL
  SELECT 'custkey_references_customer',
         (SELECT CAST(count(*) AS BIGINT) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)),
         n_rows
  FROM wide
)
SELECT "check_name", n_violations, n_checked, n_violations = 0 AS passed
FROM checks
ORDER BY check_name
"""


# --- blocked fuzzy-match entity resolution ----------------------------------
# The record-linkage shape: BLOCK on cheap exact keys (nation + the first
# six digits of the name's serial — candidates within a block differ only
# in the last three characters), generate candidate pairs via a
# self-equi-join on the block key (the plan is a hash join, never a
# cartesian), then apply the expensive predicate — levenshtein ≤ 1 —
# only inside blocks.  Reported per nation: candidate-pair count vs
# match count, i.e. exactly the blocking-efficiency ledger an ER pipeline
# monitors.  levenshtein() is the classic DP edit distance in both
# engines — integer, divergence-free.
ER_LEV_MAX = 1


def er_fuzzy_match_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "c_name", "c_nationkey",
        "substr(c_name, 10, 6) AS blk",
    )
    a = cust.alias("a")
    b = cust.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_nationkey").alias("nationkey"),
        F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias("lev"),
    )
    return (
        pairs.groupBy("nationkey")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(
                F.when(F.col("lev") <= ER_LEV_MAX, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_matches"),
        )
        .selectExpr(
            "CAST(nationkey AS BIGINT) AS nationkey",
            "CAST(n_candidates AS BIGINT) AS n_candidates",
            "CAST(n_matches AS BIGINT) AS n_matches",
        )
        .orderBy("nationkey")
    )


ER_FUZZY_MATCH_CUSTOMERS_SQL = f"""
WITH cust AS (
  SELECT c_custkey, c_name, c_nationkey, substr(c_name, 10, 6) AS blk
  FROM customer
), pairs AS (
  SELECT a.c_nationkey AS nationkey,
         levenshtein(a.c_name, b.c_name) AS lev
  FROM cust a JOIN cust b
    ON a.c_nationkey = b.c_nationkey AND a.blk = b.blk
   AND a.c_custkey < b.c_custkey
)
SELECT CAST(nationkey AS BIGINT) AS nationkey,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN lev <= {ER_LEV_MAX} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matches
FROM pairs
GROUP BY 1
ORDER BY nationkey
"""


QUERIES = {
    "dq_expectations_orders": dq_expectations_orders,
    "er_fuzzy_match_customers": er_fuzzy_match_customers,
}

ORACLES = {
    "dq_expectations_orders": DQ_EXPECTATIONS_ORDERS_SQL,
    "er_fuzzy_match_customers": ER_FUZZY_MATCH_CUSTOMERS_SQL,
}


# --- column profiling --------------------------------------------------------
# The profiling sibling of the expectations sweep: per-column row/null/
# distinct counts and value ranges over documents, all computed in ONE
# aggregate pass (multiple distinct aggregates plan via Expand — still a
# single scan) and unpivoted to the per-column report a catalog ingests.
# The free-text column profiles LENGTH bounds rather than lexicographic
# min/max, so unicode collation differences between engines never enter.
def dq_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    wide = docs.selectExpr(
        "CAST(count(*) AS BIGINT) AS n_rows",
        # doc_id
        "CAST(count(*) - count(doc_id) AS BIGINT) AS id_nulls",
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS id_distinct",
        "CAST(min(doc_id) AS STRING) AS id_min",
        "CAST(max(doc_id) AS STRING) AS id_max",
        # lang
        "CAST(count(*) - count(lang) AS BIGINT) AS lang_nulls",
        "CAST(count(DISTINCT lang) AS BIGINT) AS lang_distinct",
        "CAST(min(lang) AS STRING) AS lang_min",
        "CAST(max(lang) AS STRING) AS lang_max",
        # source
        "CAST(count(*) - count(source) AS BIGINT) AS src_nulls",
        "CAST(count(DISTINCT source) AS BIGINT) AS src_distinct",
        "CAST(min(source) AS STRING) AS src_min",
        "CAST(max(source) AS STRING) AS src_max",
        # n_chars
        "CAST(count(*) - count(n_chars) AS BIGINT) AS nc_nulls",
        "CAST(count(DISTINCT n_chars) AS BIGINT) AS nc_distinct",
        "CAST(min(n_chars) AS STRING) AS nc_min",
        "CAST(max(n_chars) AS STRING) AS nc_max",
        # text (length profile)
        "CAST(count(*) - count(text) AS BIGINT) AS tx_nulls",
        "CAST(count(DISTINCT length(text)) AS BIGINT) AS tx_distinct",
        "CAST(min(length(text)) AS STRING) AS tx_min",
        "CAST(max(length(text)) AS STRING) AS tx_max",
    )
    return wide.selectExpr(
        "stack(5,"
        " 'doc_id', id_nulls, id_distinct, id_min, id_max,"
        " 'lang', lang_nulls, lang_distinct, lang_min, lang_max,"
        " 'n_chars', nc_nulls, nc_distinct, nc_min, nc_max,"
        " 'source', src_nulls, src_distinct, src_min, src_max,"
        " 'text_len', tx_nulls, tx_distinct, tx_min, tx_max"
        ") AS (col_name, n_null, n_distinct, min_repr, max_repr)",
        "n_rows",
    ).orderBy("col_name")


DQ_PROFILE_DOCUMENTS_SQL = """
WITH wide AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) - count(doc_id) AS BIGINT) AS id_nulls,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS id_distinct,
         CAST(min(doc_id) AS VARCHAR) AS id_min,
         CAST(max(doc_id) AS VARCHAR) AS id_max,
         CAST(count(*) - count(lang) AS BIGINT) AS lang_nulls,
         CAST(count(DISTINCT lang) AS BIGINT) AS lang_distinct,
         CAST(min(lang) AS VARCHAR) AS lang_min,
         CAST(max(lang) AS VARCHAR) AS lang_max,
         CAST(count(*) - count(source) AS BIGINT) AS src_nulls,
         CAST(count(DISTINCT source) AS BIGINT) AS src_distinct,
         CAST(min(source) AS VARCHAR) AS src_min,
         CAST(max(source) AS VARCHAR) AS src_max,
         CAST(count(*) - count(n_chars) AS BIGINT) AS nc_nulls,
         CAST(count(DISTINCT n_chars) AS BIGINT) AS nc_distinct,
         CAST(min(n_chars) AS VARCHAR) AS nc_min,
         CAST(max(n_chars) AS VARCHAR) AS nc_max,
         CAST(count(*) - count(text) AS BIGINT) AS tx_nulls,
         CAST(count(DISTINCT length(text)) AS BIGINT) AS tx_distinct,
         CAST(min(length(text)) AS VARCHAR) AS tx_min,
         CAST(max(length(text)) AS VARCHAR) AS tx_max
  FROM documents
), rows_out AS (
  SELECT 'doc_id' AS col_name, id_nulls AS n_null, id_distinct AS n_distinct,
         id_min AS min_repr, id_max AS max_repr, n_rows FROM wide
  UNION ALL SELECT 'lang', lang_nulls, lang_distinct, lang_min, lang_max, n_rows FROM wide
  UNION ALL SELECT 'n_chars', nc_nulls, nc_distinct, nc_min, nc_max, n_rows FROM wide
  UNION ALL SELECT 'source', src_nulls, src_distinct, src_min, src_max, n_rows FROM wide
  UNION ALL SELECT 'text_len', tx_nulls, tx_distinct, tx_min, tx_max, n_rows FROM wide
)
SELECT col_name, n_null, n_distinct, min_repr, max_repr, n_rows
FROM rows_out
ORDER BY col_name
"""


QUERIES["dq_profile_documents"] = dq_profile_documents
ORACLES["dq_profile_documents"] = DQ_PROFILE_DOCUMENTS_SQL


# --- ANALYZE TABLE: exact per-column statistics --------------------------------
# The stats an optimizer's ANALYZE collects, computed exactly and
# engine-identically over lineitem's five probe columns: exact NDV, null
# count, lexicographic min/max, and the modal value with its count.
# Values are rendered to SORTABLE strings first (dates ISO, numerics
# zero-padded to fixed width) so one string-typed stats row per column
# works without per-type branches and min/max agree with numeric order.
# Scale shape: the unpivot (stack) is a map-side 5x row expansion —
# no join — then ONE groupBy (col, val) value-histogram shuffle feeds
# every statistic: ndv = count of histogram rows, nulls/top/min/max are
# per-col aggregates over the histogram, which is bounded by NDV, not
# row count.  This is the two-level aggregation every cardinality
# profiler at scale uses (never count(distinct) per column in one pass).
_ANALYZE_COLS = (
    ("l_returnflag", "l_returnflag"),
    ("l_linestatus", "l_linestatus"),
    ("l_shipdate", "CAST(CAST(l_shipdate AS DATE) AS STRING)"),
    ("l_quantity", "lpad(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS STRING), 9, '0')"),
    ("l_partkey", "lpad(CAST(l_partkey AS STRING), 10, '0')"),
)


def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    stack_args = ", ".join(
        f"'{name}', {expr}" for name, expr in _ANALYZE_COLS
    )
    long = li.selectExpr(
        f"stack({len(_ANALYZE_COLS)}, {stack_args}) AS (col, val)"
    )
    hist = long.groupBy("col", "val").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("col").orderBy(F.desc("cnt"), F.asc_nulls_last("val"))
    return (
        hist.withColumn("rk", F.row_number().over(w))
        .groupBy("col")
        .agg(
            F.sum(F.when(F.col("val").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("ndv"),
            F.sum(F.when(F.col("val").isNull(), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_nulls"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
            F.max(F.when(F.col("rk") == 1, F.col("val"))).alias("top_val"),
            F.max(F.when(F.col("rk") == 1, F.col("cnt")))
            .cast("long")
            .alias("top_cnt"),
        )
        .orderBy("col")
    )


def _analyze_duck_union() -> str:
    return "\n  UNION ALL\n".join(
        f"  SELECT '{name}' AS col, {expr.replace('AS STRING', 'AS VARCHAR')} AS val FROM lineitem"
        for name, expr in _ANALYZE_COLS
    )


ANALYZE_TABLE_STATS_SQL = f"""
WITH long AS (
{_analyze_duck_union()}
), hist AS (
  SELECT col, val, CAST(count(*) AS BIGINT) AS cnt
  FROM long GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY col
                               ORDER BY cnt DESC, val ASC NULLS LAST) AS rk
  FROM hist
)
SELECT col,
       CAST(sum(CASE WHEN val IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS ndv,
       CAST(sum(CASE WHEN val IS NULL THEN cnt ELSE 0 END) AS BIGINT)
         AS n_nulls,
       min(val) AS min_val,
       max(val) AS max_val,
       max(CASE WHEN rk = 1 THEN val END) AS top_val,
       CAST(max(CASE WHEN rk = 1 THEN cnt END) AS BIGINT) AS top_cnt
FROM ranked GROUP BY 1 ORDER BY col
"""

QUERIES["analyze_table_stats"] = analyze_table_stats
ORACLES["analyze_table_stats"] = ANALYZE_TABLE_STATS_SQL


# --- classifier evaluation: per-class precision/recall/F1 -----------------------
# The model-eval rollup a data pipeline runs after any heuristic or model
# labeling pass — here scoring the corpus's n-gram language-ID heuristic
# (text_lang_guess) against the true lang column, collapsed to the
# heuristic's own label space (zh / en / other).  Per class: support,
# predictions, true positives, and precision/recall/F1 in integer ppm
# with one fixed DIV order (F1 = (2·p·r) DIV (p+r) over the already-
# truncated ppm values, identical in both engines).  Scale: one scan,
# one (true, pred) contingency aggregation — the same compressed-table
# discipline as chi-square — then per-class sums over a table bounded by
# the label-space size.
def classifier_eval_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n_cjk = F.length(F.regexp_replace(F.col("text"), r"[^一-鿿]", ""))
    has_en = F.col("text").rlike(r"(^| )(the|and|of)( |$)")
    pred = (
        F.when(n_cjk > 0, F.lit("zh"))
        .when(has_en, F.lit("en"))
        .otherwise(F.lit("other"))
    )
    truth = (
        F.when(F.col("lang") == "zh", F.lit("zh"))
        .when(F.col("lang") == "en", F.lit("en"))
        .otherwise(F.lit("other"))
    )
    cont = (
        docs.select(truth.alias("t"), pred.alias("p"))
        .groupBy("t", "p")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    classes = cont.selectExpr("t AS klass").union(
        cont.selectExpr("p AS klass")
    ).distinct()
    per = (
        classes.join(cont, F.lit(True), "left")
        .groupBy("klass")
        .agg(
            F.sum(F.when(F.col("t") == F.col("klass"), F.col("n")).otherwise(0)).alias(
                "n_true"
            ),
            F.sum(F.when(F.col("p") == F.col("klass"), F.col("n")).otherwise(0)).alias(
                "n_pred"
            ),
            F.sum(
                F.when(
                    (F.col("t") == F.col("klass")) & (F.col("p") == F.col("klass")),
                    F.col("n"),
                ).otherwise(0)
            ).alias("tp"),
        )
    )
    return (
        per.selectExpr(
            "klass",
            "CAST(n_true AS BIGINT) AS n_true",
            "CAST(n_pred AS BIGINT) AS n_pred",
            "CAST(tp AS BIGINT) AS tp",
            "CAST(CASE WHEN n_pred = 0 THEN 0"
            " ELSE (1000000 * tp) DIV n_pred END AS BIGINT) AS precision_ppm",
            "CAST(CASE WHEN n_true = 0 THEN 0"
            " ELSE (1000000 * tp) DIV n_true END AS BIGINT) AS recall_ppm",
        )
        .selectExpr(
            "*",
            "CAST(CASE WHEN precision_ppm + recall_ppm = 0 THEN 0"
            " ELSE (2 * precision_ppm * recall_ppm)"
            " DIV (precision_ppm + recall_ppm) END AS BIGINT) AS f1_ppm",
        )
        .orderBy("klass")
    )


CLASSIFIER_EVAL_LANG_SQL = r"""
WITH labeled AS (
  SELECT CASE WHEN lang = 'zh' THEN 'zh'
              WHEN lang = 'en' THEN 'en' ELSE 'other' END AS t,
         CASE WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0
              THEN 'zh'
              WHEN regexp_matches(text, '(^| )(the|and|of)( |$)') THEN 'en'
              ELSE 'other' END AS p
  FROM documents
), cont AS (
  SELECT t, p, count(*) AS n FROM labeled GROUP BY t, p
), classes AS (
  SELECT DISTINCT t AS klass FROM cont
  UNION SELECT DISTINCT p FROM cont
), per AS (
  SELECT c.klass,
         sum(CASE WHEN cont.t = c.klass THEN cont.n ELSE 0 END) AS n_true,
         sum(CASE WHEN cont.p = c.klass THEN cont.n ELSE 0 END) AS n_pred,
         sum(CASE WHEN cont.t = c.klass AND cont.p = c.klass
                  THEN cont.n ELSE 0 END) AS tp
  FROM classes c CROSS JOIN cont
  GROUP BY c.klass
), scored AS (
  SELECT klass,
         CAST(n_true AS BIGINT) AS n_true,
         CAST(n_pred AS BIGINT) AS n_pred,
         CAST(tp AS BIGINT) AS tp,
         CAST(CASE WHEN n_pred = 0 THEN 0
              ELSE (1000000 * tp) // n_pred END AS BIGINT) AS precision_ppm,
         CAST(CASE WHEN n_true = 0 THEN 0
              ELSE (1000000 * tp) // n_true END AS BIGINT) AS recall_ppm
  FROM per
)
SELECT *,
       CAST(CASE WHEN precision_ppm + recall_ppm = 0 THEN 0
            ELSE (2 * precision_ppm * recall_ppm)
                 // (precision_ppm + recall_ppm) END AS BIGINT) AS f1_ppm
FROM scored
ORDER BY klass
"""

QUERIES["classifier_eval_lang"] = classifier_eval_lang
ORACLES["classifier_eval_lang"] = CLASSIFIER_EVAL_LANG_SQL


# --- referential-integrity orphan audit -------------------------------------------
# The DQ scan a warehouse runs after every load: fact rows whose foreign
# key no longer resolves.  The dimension side is the sparse-delete
# replica (the fingerprint family's md5 basis-point recipe — ~0.15% of
# orders dropped), so the audit is non-vacuous by construction: lineitem
# rows pointing at dropped orders ARE orphans.  Shape: one broadcast of
# the (tiny) dropped-key set per FK — the anti-join runs as a broadcast
# LEFT SEMI against the dropped keys (equivalently LEFT ANTI against the
# survivors, but broadcasting the SMALL side is the 100 TB-correct
# orientation) — plus one combinable rollup.
def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    bp = md5_prefix_long_sql("CAST(o_orderkey AS STRING)", 4, "spark") + " % 10000"
    dropped = (
        _t(spark, sf_dir, "orders")
        .selectExpr("o_orderkey", f"({bp}) AS bp")
        .filter(F.col("bp") >= FP_DEL_BP)
        .select("o_orderkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    orphans = li.join(
        F.broadcast(dropped), li.l_orderkey == dropped.o_orderkey, "left_semi"
    )
    tot = li.agg(F.count(F.lit(1)).alias("n_fact_rows"))
    return (
        orphans.agg(
            F.count(F.lit(1)).alias("n_orphan_rows"),
            F.countDistinct("l_orderkey").alias("n_orphan_keys"),
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(n_orphan_rows AS BIGINT) AS n_orphan_rows",
            "CAST(n_orphan_keys AS BIGINT) AS n_orphan_keys",
            "CAST(n_fact_rows AS BIGINT) AS n_fact_rows",
            "CAST((1000000 * n_orphan_rows) DIV n_fact_rows AS BIGINT)"
            " AS orphan_ppm",
        )
    )


def _fk_orphan_sql() -> str:
    bp = md5_prefix_long_sql("CAST(o_orderkey AS VARCHAR)", 4, "duck") + " % 10000"
    return f"""
WITH dropped AS (
  SELECT o_orderkey FROM orders WHERE ({bp}) >= {FP_DEL_BP}
), orphans AS (
  SELECT l.l_orderkey FROM lineitem l
  SEMI JOIN dropped d ON d.o_orderkey = l.l_orderkey
), tot AS (SELECT count(*) AS n_fact_rows FROM lineitem)
SELECT CAST(count(*) AS BIGINT) AS n_orphan_rows,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orphan_keys,
       CAST(t.n_fact_rows AS BIGINT) AS n_fact_rows,
       CAST((1000000 * count(*)) // t.n_fact_rows AS BIGINT) AS orphan_ppm
FROM orphans CROSS JOIN tot t
GROUP BY t.n_fact_rows
"""


FK_ORPHAN_AUDIT_SQL = _fk_orphan_sql()

QUERIES["fk_orphan_audit"] = fk_orphan_audit
ORACLES["fk_orphan_audit"] = FK_ORPHAN_AUDIT_SQL


# --- NULL-semantics conformance matrix ---------------------------------------------
# Cross-engine NULL behavior is a classic silent-divergence surface;
# this op pins the corners the rest of the registry relies on, as a
# hash-gated label/value matrix over DERIVED nulls (nullif — the corpus
# itself is dense): count(*) vs count(col), count(DISTINCT col) ignoring
# nulls, the NULL group in GROUP BY, sum/min over an all-NULL slice,
# coalesce fallback, NULL-safe equality counts, and NULL ordering under
# ORDER BY ... NULLS FIRST (pinned via min of a row_number).  One scan,
# conditional aggregation only.
def null_semantics_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "nullif(o_orderstatus, 'O') AS st",  # NULL for the majority class
        "CASE WHEN o_orderstatus = 'O' THEN NULL"
        " ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " END AS cents_nullable",
    )
    m = o.agg(
        F.count(F.lit(1)).alias("count_star"),
        F.count("st").alias("count_col"),
        F.countDistinct("st").alias("count_distinct_col"),
        F.sum(F.col("st").isNull().cast("long")).alias("null_rows"),
        F.sum("cents_nullable").alias("sum_skips_nulls"),
        F.min("cents_nullable").alias("min_skips_nulls"),
        F.count(F.when(F.col("st").eqNullSafe(F.lit(None)), 1)).alias(
            "nullsafe_eq_null"
        ),
        F.sum(
            (F.coalesce(F.col("st"), F.lit("X")) == "X").cast("long")
        ).alias("coalesce_fallbacks"),
    )
    groups = (
        o.groupBy("st")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_groups_incl_null"),
            F.max(F.when(F.col("st").isNull(), F.col("n"))).alias(
                "null_group_size"
            ),
        )
    )
    return (
        m.crossJoin(F.broadcast(groups))
        .selectExpr(
            "CAST(count_star AS BIGINT) AS count_star",
            "CAST(count_col AS BIGINT) AS count_col",
            "CAST(count_distinct_col AS BIGINT) AS count_distinct_col",
            "CAST(null_rows AS BIGINT) AS null_rows",
            "CAST(sum_skips_nulls AS BIGINT) AS sum_skips_nulls",
            "CAST(min_skips_nulls AS BIGINT) AS min_skips_nulls",
            "CAST(nullsafe_eq_null AS BIGINT) AS nullsafe_eq_null",
            "CAST(coalesce_fallbacks AS BIGINT) AS coalesce_fallbacks",
            "CAST(n_groups_incl_null AS BIGINT) AS n_groups_incl_null",
            "CAST(null_group_size AS BIGINT) AS null_group_size",
        )
    )


NULL_SEMANTICS_MATRIX_SQL = """
WITH o AS (
  SELECT o_orderkey,
         nullif(o_orderstatus, 'O') AS st,
         CASE WHEN o_orderstatus = 'O' THEN NULL
              ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         END AS cents_nullable
  FROM orders
), m AS (
  SELECT count(*) AS count_star,
         count(st) AS count_col,
         count(DISTINCT st) AS count_distinct_col,
         sum(CASE WHEN st IS NULL THEN 1 ELSE 0 END) AS null_rows,
         sum(cents_nullable) AS sum_skips_nulls,
         min(cents_nullable) AS min_skips_nulls,
         count(CASE WHEN st IS NOT DISTINCT FROM NULL THEN 1 END)
           AS nullsafe_eq_null,
         sum(CASE WHEN coalesce(st, 'X') = 'X' THEN 1 ELSE 0 END)
           AS coalesce_fallbacks
  FROM o
), g AS (
  SELECT count(*) AS n_groups_incl_null,
         max(CASE WHEN st IS NULL THEN n END) AS null_group_size
  FROM (SELECT st, count(*) AS n FROM o GROUP BY st)
)
SELECT CAST(count_star AS BIGINT) AS count_star,
       CAST(count_col AS BIGINT) AS count_col,
       CAST(count_distinct_col AS BIGINT) AS count_distinct_col,
       CAST(null_rows AS BIGINT) AS null_rows,
       CAST(sum_skips_nulls AS BIGINT) AS sum_skips_nulls,
       CAST(min_skips_nulls AS BIGINT) AS min_skips_nulls,
       CAST(nullsafe_eq_null AS BIGINT) AS nullsafe_eq_null,
       CAST(coalesce_fallbacks AS BIGINT) AS coalesce_fallbacks,
       CAST(n_groups_incl_null AS BIGINT) AS n_groups_incl_null,
       CAST(null_group_size AS BIGINT) AS null_group_size
FROM m CROSS JOIN g
"""

QUERIES["null_semantics_matrix"] = null_semantics_matrix
ORACLES["null_semantics_matrix"] = NULL_SEMANTICS_MATRIX_SQL


# --- benford_first_digit: the forensic-accounting screening audit -----------
# First-significant-digit distribution of order values vs Benford's law
# (Newcomb 1881 / Benford 1938; the standard fraud/synthetic-data screen
# auditors run over financial fact tables).  The expected frequencies
# floor(1e6 * log10(1 + 1/d)) are PLAN-TIME integer literals (libm at
# plan construction only — the hll/ndcg constant precedent), so the
# audit itself is one scan + one 9-row aggregate in pure integers:
# per digit the observed count, observed and expected ppm, the absolute
# deviation, and the total-variation distance
#     tvd_ppm = sum_d |obs_d - exp_d| / 2
# as a window sum the driver hash re-checks every round.  On this
# synthetic corpus the verdict is (correctly) NON-conformant — uniform
# price generators are exactly what the screen exists to flag.
#
# Scale shape: the digit is substring arithmetic on the cents integer
# (codegen, no cast through float), the rollup is a 9-group combinable
# aggregate, and the window runs over 9 rows.  One shuffle total.
import math as _math

_BENFORD_EXP_PPM = {
    d: int(1_000_000 * _math.log10(1 + 1 / d)) for d in range(1, 10)
}


def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    exp_case = "CASE digit " + " ".join(
        f"WHEN {d} THEN {p}" for d, p in _BENFORD_EXP_PPM.items()
    ) + " END"
    o = _t(spark, sf_dir, "orders")
    digits = o.selectExpr(
        "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
        " AS STRING), 1, 1) AS BIGINT) AS digit"
    )
    agg = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    return (
        agg.selectExpr(
            "digit",
            "n",
            "(1000000 * n) DIV sum(n) OVER () AS observed_ppm",
            f"{exp_case} AS expected_ppm",
        )
        .selectExpr(
            "digit",
            "n",
            "observed_ppm",
            "expected_ppm",
            "abs(observed_ppm - expected_ppm) AS dev_ppm",
            "sum(abs(observed_ppm - expected_ppm)) OVER () DIV 2 AS tvd_ppm",
        )
        .orderBy("digit")
    )


def _benford_sql() -> str:
    exp_case = "CASE digit " + " ".join(
        f"WHEN {d} THEN {p}" for d, p in _BENFORD_EXP_PPM.items()
    ) + " END"
    return f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
              AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
), agg AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
), scored AS (
  SELECT digit, n,
         (1000000 * n) // sum(n) OVER () AS observed_ppm,
         {exp_case} AS expected_ppm
  FROM agg
)
SELECT digit, n, observed_ppm, expected_ppm,
       abs(observed_ppm - expected_ppm) AS dev_ppm,
       sum(abs(observed_ppm - expected_ppm)) OVER () // 2 AS tvd_ppm
FROM scored ORDER BY digit
"""


BENFORD_FIRST_DIGIT_SQL = _benford_sql()

QUERIES["benford_first_digit"] = benford_first_digit
ORACLES["benford_first_digit"] = BENFORD_FIRST_DIGIT_SQL


# --- deletion_impact_scan: right-to-be-forgotten blast radius ----------------
# Before a GDPR deletion batch runs, the platform needs its blast
# radius: how many rows in each downstream table must be touched per
# deleted subject, and how skewed the cascade is (one power user can
# dominate a deletion job the way a hot key dominates a shuffle).  The
# deletion set is the deterministic c_custkey % 50 = 3 cohort; impact
# counts cascade customer -> orders -> lineitem through key-count
# aggregates (the join_fanout discipline: the fact tables are scanned
# once each, never joined row-to-row).  Output per table: rows to
# delete, subjects affected, and the max per-subject fan-out — the
# skew number a deletion executor partitions by.
def deletion_impact_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").selectExpr("c_custkey").where(
        "c_custkey % 50 = 3"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    del_orders = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_custkey"
    )
    o_imp = del_orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    li_cnt = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("nl"))
    li_imp = (
        del_orders.join(li_cnt, del_orders.o_orderkey == li_cnt.l_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("nl").cast("long").alias("n"))
    )
    c_imp = c.selectExpr("c_custkey AS o_custkey", "CAST(1 AS BIGINT) AS n")

    def summarize(df: DataFrame, table: str) -> DataFrame:
        return df.agg(
            F.lit(table).alias("table_name"),
            F.sum("n").cast("long").alias("rows_to_delete"),
            F.count(F.lit(1)).cast("long").alias("subjects_affected"),
            F.max("n").cast("long").alias("max_per_subject"),
        )

    return (
        summarize(c_imp, "customer")
        .unionByName(summarize(o_imp, "orders"))
        .unionByName(summarize(li_imp, "lineitem"))
        .orderBy("table_name")
    )


DELETION_IMPACT_SCAN_SQL = """
WITH del_c AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 50 = 3
), del_o AS (
  SELECT o_orderkey, o_custkey FROM orders
  JOIN del_c ON o_custkey = c_custkey
), li_cnt AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS nl
  FROM lineitem GROUP BY l_orderkey
), per AS (
  SELECT 'customer' AS table_name, c_custkey AS subj, CAST(1 AS BIGINT) AS n
  FROM del_c
  UNION ALL
  SELECT 'orders', o_custkey, CAST(count(*) AS BIGINT)
  FROM del_o GROUP BY o_custkey
  UNION ALL
  SELECT 'lineitem', o_custkey, CAST(sum(nl) AS BIGINT)
  FROM del_o JOIN li_cnt ON o_orderkey = l_orderkey
  GROUP BY o_custkey
)
SELECT table_name,
       CAST(sum(n) AS BIGINT) AS rows_to_delete,
       CAST(count(*) AS BIGINT) AS subjects_affected,
       CAST(max(n) AS BIGINT) AS max_per_subject
FROM per
GROUP BY table_name
ORDER BY table_name
"""

QUERIES["deletion_impact_scan"] = deletion_impact_scan
ORACLES["deletion_impact_scan"] = DELETION_IMPACT_SCAN_SQL


# --- encoding_advisor: pick parquet encodings from layout statistics ----------
# Storage-layout engineering companion to zonemap_prune_stats: whether a
# column should be DICTIONARY, RLE, or PLAIN encoded is decided by two
# measurable numbers — distinct-value ratio and average run length
# UNDER THE TABLE'S PHYSICAL SORT ORDER (here the date-clustered layout
# the zonemap op establishes).  One window pass over the ordered scan
# computes run breaks for all four profiled columns simultaneously
# (lag-inequality flags summed), one aggregate computes exact NDVs, and
# the rule is integer: RLE when avg run >= 2 rows, else DICT when NDV
# <= 1% of rows, else PLAIN.  The advisor's verdicts on this corpus are
# non-trivial: status/priority RLE-or-DICT, custkey PLAIN-ish, price
# PLAIN.
def encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderdate",
        "o_orderkey",
        "o_orderstatus AS c_status",
        "o_orderpriority AS c_priority",
        "CAST(o_custkey AS STRING) AS c_custkey",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS STRING) AS c_price",
    )
    w = W.orderBy("o_orderdate", "o_orderkey")
    cols = ["c_status", "c_priority", "c_custkey", "c_price"]
    flagged = o.select(
        *[
            F.when(
                F.lag(c).over(w).isNull() | (F.col(c) != F.lag(c).over(w)), 1
            )
            .otherwise(0)
            .alias(f"brk_{c}")
            for c in cols
        ],
        *cols,
    )
    agg = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[F.sum(f"brk_{c}").cast("long").alias(f"runs_{c}") for c in cols],
        *[F.countDistinct(c).cast("long").alias(f"ndv_{c}") for c in cols],
    )
    stack = ", ".join(
        f"'{c[2:]}', runs_{c}, ndv_{c}" for c in cols
    )
    return (
        agg.selectExpr(
            f"stack({len(cols)}, {stack}) AS (col_name, runs, ndv)", "n"
        )
        .selectExpr(
            "col_name",
            "n",
            "ndv",
            "runs",
            "(1000 * n) DIV runs AS avg_run_milli",
            "CASE WHEN (1000 * n) DIV runs >= 2000 THEN 'RLE'"
            " WHEN ndv * 100 <= n THEN 'DICT'"
            " ELSE 'PLAIN' END AS recommended",
        )
        .orderBy("col_name")
    )


ENCODING_ADVISOR_SQL = """
WITH o AS (
  SELECT o_orderdate, o_orderkey,
         o_orderstatus AS c_status,
         o_orderpriority AS c_priority,
         CAST(o_custkey AS VARCHAR) AS c_custkey,
         CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS VARCHAR) AS c_price
  FROM orders
), flagged AS (
  SELECT
    CASE WHEN lag(c_status) OVER w IS NULL
           OR c_status <> lag(c_status) OVER w THEN 1 ELSE 0 END AS brk_status,
    CASE WHEN lag(c_priority) OVER w IS NULL
           OR c_priority <> lag(c_priority) OVER w THEN 1 ELSE 0 END AS brk_priority,
    CASE WHEN lag(c_custkey) OVER w IS NULL
           OR c_custkey <> lag(c_custkey) OVER w THEN 1 ELSE 0 END AS brk_custkey,
    CASE WHEN lag(c_price) OVER w IS NULL
           OR c_price <> lag(c_price) OVER w THEN 1 ELSE 0 END AS brk_price,
    c_status, c_priority, c_custkey, c_price
  FROM o WINDOW w AS (ORDER BY o_orderdate, o_orderkey)
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(brk_status) AS BIGINT) AS runs_status,
         CAST(sum(brk_priority) AS BIGINT) AS runs_priority,
         CAST(sum(brk_custkey) AS BIGINT) AS runs_custkey,
         CAST(sum(brk_price) AS BIGINT) AS runs_price,
         CAST(count(DISTINCT c_status) AS BIGINT) AS ndv_status,
         CAST(count(DISTINCT c_priority) AS BIGINT) AS ndv_priority,
         CAST(count(DISTINCT c_custkey) AS BIGINT) AS ndv_custkey,
         CAST(count(DISTINCT c_price) AS BIGINT) AS ndv_price
  FROM flagged
), u AS (
  SELECT 'status' AS col_name, n, ndv_status AS ndv, runs_status AS runs FROM agg
  UNION ALL
  SELECT 'priority', n, ndv_priority, runs_priority FROM agg
  UNION ALL
  SELECT 'custkey', n, ndv_custkey, runs_custkey FROM agg
  UNION ALL
  SELECT 'price', n, ndv_price, runs_price FROM agg
)
SELECT col_name, n, ndv, runs,
       CAST((1000 * n) // runs AS BIGINT) AS avg_run_milli,
       CASE WHEN (1000 * n) // runs >= 2000 THEN 'RLE'
            WHEN ndv * 100 <= n THEN 'DICT'
            ELSE 'PLAIN' END AS recommended
FROM u
ORDER BY col_name
"""

QUERIES["encoding_advisor"] = encoding_advisor
ORACLES["encoding_advisor"] = ENCODING_ADVISOR_SQL


# --- partition_granularity_advisor: choose the partition key's grain ----------
# The small-files problem starts at CREATE TABLE: partition orders by
# day, week, or month?  The advisor computes, for each candidate grain,
# the exact partition-count / rows-per-partition distribution (count,
# avg, min, max, and skew as max/avg milli) from one scan per grain
# over the compressed date spine, then applies the sizing rule: the
# best grain is the finest one whose AVERAGE partition still clears the
# target row floor (here 2000 rows — stand-in for the 128 MB file
# target at real row widths).  Emits one row per grain plus the chosen
# flag, so the hash pins the whole decision table, not just the
# winner.
PART_TARGET_ROWS = 2000


def partition_granularity_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr("CAST(o_orderdate AS DATE) AS d")
    grains = [
        ("1:day", "CAST(d AS STRING)"),
        ("2:week", "CAST(date_trunc('WEEK', d) AS STRING)"),
        ("3:month", "CAST(date_trunc('MONTH', d) AS STRING)"),
    ]
    parts = []
    for name, expr in grains:
        per = o.selectExpr(f"{expr} AS pk").groupBy("pk").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        parts.append(
            per.agg(
                F.lit(name).alias("grain"),
                F.count(F.lit(1)).cast("long").alias("n_partitions"),
                F.expr("sum(n) DIV count(*)").cast("long").alias("avg_rows"),
                F.min("n").cast("long").alias("min_rows"),
                F.max("n").cast("long").alias("max_rows"),
                F.expr("(1000 * max(n)) DIV (sum(n) DIV count(*))")
                .cast("long")
                .alias("skew_milli"),
            )
        )
    table = parts[0].unionByName(parts[1]).unionByName(parts[2])
    wall = W.partitionBy()
    wbest = W.orderBy("grain")
    return (
        table.select(
            "*",
            F.min(
                F.when(
                    F.col("avg_rows") >= PART_TARGET_ROWS, F.col("grain")
                )
            )
            .over(wall)
            .alias("best"),
        )
        .selectExpr(
            "grain",
            "n_partitions",
            "avg_rows",
            "min_rows",
            "max_rows",
            "skew_milli",
            # coarsest fallback if nothing clears the floor
            "coalesce(grain = best, grain = '3:month') AS chosen",
        )
        .orderBy("grain")
    )


PARTITION_GRANULARITY_ADVISOR_SQL = f"""
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS d FROM orders
), per AS (
  SELECT '1:day' AS grain, CAST(d AS VARCHAR) AS pk, count(*) AS n
  FROM o GROUP BY 2
  UNION ALL
  SELECT '2:week', CAST(date_trunc('week', d) AS VARCHAR), count(*)
  FROM o GROUP BY 2
  UNION ALL
  SELECT '3:month', CAST(date_trunc('month', d) AS VARCHAR), count(*)
  FROM o GROUP BY 2
), table_g AS (
  SELECT grain,
         CAST(count(*) AS BIGINT) AS n_partitions,
         CAST(sum(n) // count(*) AS BIGINT) AS avg_rows,
         CAST(min(n) AS BIGINT) AS min_rows,
         CAST(max(n) AS BIGINT) AS max_rows,
         CAST((1000 * max(n)) // (sum(n) // count(*)) AS BIGINT) AS skew_milli
  FROM per GROUP BY grain
)
SELECT grain, n_partitions, avg_rows, min_rows, max_rows, skew_milli,
       coalesce(
         grain = min(CASE WHEN avg_rows >= {PART_TARGET_ROWS} THEN grain END)
                   OVER (),
         grain = '3:month') AS chosen
FROM table_g
ORDER BY grain
"""

QUERIES["partition_granularity_advisor"] = partition_granularity_advisor
ORACLES["partition_granularity_advisor"] = PARTITION_GRANULARITY_ADVISOR_SQL


# --- dp_noisy_histogram: discrete-Laplace counts (privacy release) ------------
# The fourth privacy gate (after k-anonymity / l-diversity /
# t-closeness): differential privacy's canonical mechanism, the
# discrete Laplace (two-sided geometric) on a sensitivity-1 histogram.
# Randomness with cross-engine determinism: the inverse CDF of
# P(Z = k) = p0 * t^|k| (t = e^-eps, eps = 0.5) is PRECOMPUTED at
# module load into integer 2^40-scaled thresholds (math.exp at build
# time only — the RBO/SPRT literal discipline), support clamped to
# +-40 where the tail mass is ~e^-20; each cell draws its noise by
# probing its 40-bit md5 uniform into the broadcast 81-row threshold
# table.  The mechanism is exactly discrete-Laplace; the deterministic
# seed makes runs reproducible (and is the documented caveat vs
# adversarial DP — a production release derives the seed from a secret
# nonce, same dataflow).  True counts ride along as the calibration
# columns a DP validation harness needs.
DP_EPS = 0.5


def _dp_thresholds() -> list[tuple[int, int, int]]:
    import math as _m

    t = _m.exp(-DP_EPS)
    k_max = 40
    p0 = (1 - t) / (1 + t)
    probs = {k: p0 * t ** abs(k) for k in range(-k_max, k_max + 1)}
    tot = sum(probs.values())
    cum = 0.0
    rows = []
    for k in range(-k_max, k_max + 1):
        lo = int(cum * (1 << 40))
        cum += probs[k] / tot
        rows.append((k, lo, int(cum * (1 << 40))))
    k, lo, _ = rows[-1]
    rows[-1] = (k, lo, 1 << 40)
    return rows


DP_THRESHOLDS = _dp_thresholds()


def dp_noisy_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = md5_prefix_long_sql("concat('dp|', pri)", 10, "spark")
    cells = (
        _t(spark, sf_dir, "orders")
        .selectExpr("o_orderpriority AS pri")
        .groupBy("pri")
        .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
        .selectExpr("pri", "true_count", f"({h}) AS u")
    )
    thr = spark.createDataFrame(
        DP_THRESHOLDS, "noise long, lo long, hi long"
    )
    return (
        cells.join(
            F.broadcast(thr),
            (F.col("u") >= F.col("lo")) & (F.col("u") < F.col("hi")),
        )
        .selectExpr(
            "pri",
            "true_count",
            "noise",
            "true_count + noise AS noisy_count",
        )
        .orderBy("pri")
    )


def _dp_sql() -> str:
    h = md5_prefix_long_sql("('dp|' || pri)", 10, "duck")
    thr = ", ".join(f"({k}, {lo}, {hi})" for k, lo, hi in DP_THRESHOLDS)
    return f"""
WITH cells AS (
  SELECT o_orderpriority AS pri,
         CAST(count(*) AS BIGINT) AS true_count
  FROM orders GROUP BY 1
), probed AS (
  SELECT pri, true_count, ({h}) AS u FROM cells
), thr(noise, lo, hi) AS (
  SELECT * FROM (VALUES {thr})
)
SELECT pri, true_count, CAST(noise AS BIGINT) AS noise,
       CAST(true_count + noise AS BIGINT) AS noisy_count
FROM probed JOIN thr ON u >= lo AND u < hi
ORDER BY pri
"""


DP_NOISY_HISTOGRAM_SQL = _dp_sql()

QUERIES["dp_noisy_histogram"] = dp_noisy_histogram
ORACLES["dp_noisy_histogram"] = DP_NOISY_HISTOGRAM_SQL


# --- equidepth_histogram: optimizer-stats bin edges ---------------------------
# The other half of ANALYZE (analyze_table_stats covers NDV/min/max/
# mode): equi-depth histogram edges, the structure cost-based
# selectivity estimation actually reads.  Edges are EXACT order
# statistics — the rank ceil(q*n/10) value for deciles q = 1..9 —
# located by one prefix-sum probe over the compressed value table (the
# median_binned machinery generalized to nine simultaneous rank
# probes; never a global row sort).  Each edge row also reports its
# attained cumulative rank, so heavy ties (an edge value spanning
# multiple deciles) are visible in the output rather than silently
# collapsed.
EQUIDEPTH_BINS = 10


def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v"
    )
    vals = o.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wv = W.orderBy("v")
    wall = W.partitionBy()
    cum = vals.select(
        "v",
        F.sum("cnt").over(wv).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    qs = spark.range(1, EQUIDEPTH_BINS).selectExpr("id AS q")
    probed = (
        F.broadcast(qs)
        .join(
            cum,
            F.col("cum") >= F.expr(f"(q * n + {EQUIDEPTH_BINS - 1}) DIV {EQUIDEPTH_BINS}"),
        )
        .groupBy("q")
        .agg(
            F.min("v").cast("long").alias("edge_cents"),
            F.max("n").cast("long").alias("n"),
        )
    )
    att = probed.join(
        cum.select("v", "cum"), probed.edge_cents == F.col("v")
    ).selectExpr(
        "q",
        f"(q * n + {EQUIDEPTH_BINS - 1}) DIV {EQUIDEPTH_BINS} AS target_rank",
        "edge_cents",
        "CAST(cum AS BIGINT) AS attained_rank",
    )
    return att.orderBy("q")


EQUIDEPTH_HISTOGRAM_SQL = f"""
WITH vals AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
), cum AS (
  SELECT v,
         sum(cnt) OVER (ORDER BY v) AS cum,
         sum(cnt) OVER () AS n
  FROM vals
), qs AS (
  SELECT unnest(range(1, {EQUIDEPTH_BINS})) AS q
), probed AS (
  SELECT q,
         CAST(min(v) AS BIGINT) AS edge_cents,
         CAST(max(n) AS BIGINT) AS n
  FROM qs JOIN cum
    ON cum >= (q * n + {EQUIDEPTH_BINS - 1}) // {EQUIDEPTH_BINS}
  GROUP BY q
)
SELECT p.q,
       CAST((p.q * p.n + {EQUIDEPTH_BINS - 1}) // {EQUIDEPTH_BINS} AS BIGINT)
         AS target_rank,
       p.edge_cents,
       CAST(c.cum AS BIGINT) AS attained_rank
FROM probed p JOIN cum c ON p.edge_cents = c.v
ORDER BY p.q
"""

QUERIES["equidepth_histogram"] = equidepth_histogram
ORACLES["equidepth_histogram"] = EQUIDEPTH_HISTOGRAM_SQL


# --- date_semantics_matrix: calendar-arithmetic conformance -------------------
# null_semantics_matrix's calendar sibling: one hash-gated row per
# date-arithmetic edge case, each computed with the ENGINE-NATIVE
# spelling that realizes the same ANSI semantic — end-of-month clamping
# under add_months, leap-day + 1 year, ISO week numbering at year
# boundaries (2005-01-01 is ISO week 53 of 2004), Monday-based weekday
# (Spark weekday() vs DuckDB isodow - 1 — raw dayofweek() is EXCLUDED:
# Spark numbers Sunday=1, DuckDB Sunday=0, a real divergence the matrix
# documents by omission), last_day, quarter, and cross-year datediff
# including the leap day.  Any engine upgrade that shifts one of these
# semantics breaks the driver hash — that is the point.  Anchor dates
# come from min(o_orderdate) so the matrix exercises the engines'
# readers too, not only literals.
def date_semantics_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "CAST(min(o_orderdate) AS DATE) AS d0"
    )
    return o.selectExpr(
        "stack(9,"
        " '1:eom_clamp', CAST(add_months(DATE'2001-01-31', 1) AS STRING),"
        " '2:leap_plus_year', CAST(add_months(DATE'2000-02-29', 12) AS STRING),"
        " '3:iso_week_boundary', CAST(weekofyear(DATE'2005-01-01') AS STRING),"
        " '4:monday_weekday', CAST(weekday(DATE'2001-01-01') AS STRING),"
        " '5:last_day', CAST(last_day(DATE'2000-02-01') AS STRING),"
        " '6:quarter', CAST(quarter(DATE'2001-11-15') AS STRING),"
        " '7:leap_span_diff', CAST(datediff(DATE'2001-03-01', DATE'2000-03-01') AS STRING),"
        " '8:corpus_min_date', CAST(d0 AS STRING),"
        " '9:corpus_min_plus_q', CAST(add_months(d0, 3) AS STRING)"
        ") AS (case_name, result)"
    ).orderBy("case_name")


DATE_SEMANTICS_MATRIX_SQL = """
WITH o AS (
  SELECT CAST(min(o_orderdate) AS DATE) AS d0 FROM orders
), m AS (
  SELECT '1:eom_clamp' AS case_name,
         CAST(CAST(DATE '2001-01-31' + INTERVAL 1 MONTH AS DATE) AS VARCHAR) AS result FROM o
  UNION ALL
  SELECT '2:leap_plus_year',
         CAST(CAST(DATE '2000-02-29' + INTERVAL 12 MONTH AS DATE) AS VARCHAR) FROM o
  UNION ALL
  SELECT '3:iso_week_boundary',
         CAST(weekofyear(DATE '2005-01-01') AS VARCHAR) FROM o
  UNION ALL
  SELECT '4:monday_weekday',
         CAST(isodow(DATE '2001-01-01') - 1 AS VARCHAR) FROM o
  UNION ALL
  SELECT '5:last_day', CAST(last_day(DATE '2000-02-01') AS VARCHAR) FROM o
  UNION ALL
  SELECT '6:quarter', CAST(quarter(DATE '2001-11-15') AS VARCHAR) FROM o
  UNION ALL
  SELECT '7:leap_span_diff',
         CAST(date_diff('day', DATE '2000-03-01', DATE '2001-03-01')
           AS VARCHAR) FROM o
  UNION ALL
  SELECT '8:corpus_min_date', CAST(d0 AS VARCHAR) FROM o
  UNION ALL
  SELECT '9:corpus_min_plus_q',
         CAST(CAST(d0 + INTERVAL 3 MONTH AS DATE) AS VARCHAR) FROM o
)
SELECT case_name, result FROM m ORDER BY case_name
"""

QUERIES["date_semantics_matrix"] = date_semantics_matrix
ORACLES["date_semantics_matrix"] = DATE_SEMANTICS_MATRIX_SQL


# --- rle_roundtrip_fidelity: the encoding is real, prove it decodes -----------
# encoding_advisor RECOMMENDS run-length encoding; this op actually
# performs it and proves losslessness — encode the date-sorted status
# column into (run, value, length) triples via the same lag-break
# window, DECODE it back by exploding each run into its positions, and
# md5-fingerprint both orderings; the equality is a hashed output
# column, so every driver round re-proves the codec.  Positions
# reconstruct from the run-length prefix sum (cum - len + offset), so
# the decode needs no reference to the original row order beyond the
# runs table itself.
def rle_roundtrip_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderdate", "o_orderkey", "o_orderstatus AS v"
    )
    w = W.orderBy("o_orderdate", "o_orderkey")
    runs = (
        o.select(
            "o_orderdate",
            "o_orderkey",
            "v",
            F.when(
                F.lag("v").over(w).isNull() | (F.col("v") != F.lag("v").over(w)),
                1,
            )
            .otherwise(0)
            .alias("brk"),
        )
        .select("v", F.sum("brk").over(w).alias("run_id"))
        .groupBy("run_id", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("len"))
    )
    wr = W.orderBy("run_id")
    decoded = runs.select(
        "v",
        (F.sum("len").over(wr) - F.col("len")).alias("base"),
        F.expr("explode(sequence(1, len))").alias("off"),
    ).selectExpr("v", "base + off AS pos")
    orig_fp = o.select(F.row_number().over(w).alias("pos"), "v").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda s: s["v"],
                ),
                "",
            )
        ).alias("orig_md5")
    )
    dec_fp = decoded.agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda s: s["v"],
                ),
                "",
            )
        ).alias("dec_md5"),
        F.count(F.lit(1)).cast("long").alias("n_decoded"),
    )
    stats = runs.agg(
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.sum("len").cast("long").alias("n_rows"),
    )
    return (
        stats.crossJoin(F.broadcast(orig_fp))
        .crossJoin(F.broadcast(dec_fp))
        .selectExpr(
            "n_rows",
            "n_runs",
            "(1000 * n_rows) DIV n_runs AS avg_run_milli",
            "orig_md5",
            "dec_md5",
            "orig_md5 = dec_md5 AND n_decoded = n_rows AS lossless",
        )
    )


RLE_ROUNDTRIP_FIDELITY_SQL = """
WITH o AS (
  SELECT o_orderdate, o_orderkey, o_orderstatus AS v FROM orders
), marked AS (
  SELECT v,
         CASE WHEN lag(v) OVER w IS NULL OR v <> lag(v) OVER w
              THEN 1 ELSE 0 END AS brk,
         row_number() OVER w AS pos
  FROM o WINDOW w AS (ORDER BY o_orderdate, o_orderkey)
), runs AS MATERIALIZED (
  SELECT run_id, v, CAST(count(*) AS BIGINT) AS len
  FROM (SELECT v, sum(brk) OVER (ORDER BY pos) AS run_id FROM marked)
  GROUP BY run_id, v
), decoded AS (
  SELECT v, base + off AS pos
  FROM (SELECT v, sum(len) OVER (ORDER BY run_id) - len AS base, len
        FROM runs),
       LATERAL (SELECT unnest(range(1, len + 1)) AS off)
), fps AS (
  SELECT (SELECT md5(string_agg(v, '' ORDER BY pos)) FROM marked) AS orig_md5,
         (SELECT md5(string_agg(v, '' ORDER BY pos)) FROM decoded) AS dec_md5,
         (SELECT CAST(count(*) AS BIGINT) FROM decoded) AS n_decoded
)
SELECT (SELECT CAST(sum(len) AS BIGINT) FROM runs) AS n_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM runs) AS n_runs,
       (1000 * (SELECT sum(len) FROM runs))
         // (SELECT count(*) FROM runs) AS avg_run_milli,
       orig_md5, dec_md5,
       orig_md5 = dec_md5
         AND n_decoded = (SELECT sum(len) FROM runs) AS lossless
FROM fps
"""

QUERIES["rle_roundtrip_fidelity"] = rle_roundtrip_fidelity
ORACLES["rle_roundtrip_fidelity"] = RLE_ROUNDTRIP_FIDELITY_SQL


# --- join_estimate_error: what the optimizer's histogram would predict --------
# join_fanout_audit predicts join sizes EXACTLY from key-count tables;
# a real optimizer can't afford that — it keeps a B-bucket histogram
# (rows, NDV per bucket) and predicts with the uniform-within-bucket
# assumption est_b = n_b^2 / ndv_b.  This op builds the 10-bucket
# partkey histogram of lineitem, predicts the self-join size, and emits
# the prediction NEXT TO the exact answer (sum cnt^2 — the same F2 the
# AMS sketch estimates), so the output quantifies the textbook
# assumption's error on real data instead of trusting it.  All integer
# until the final error ratio.
JE_BUCKETS = 10


def join_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    rng = li.agg(F.max("l_partkey").alias("mx"))
    bucketed = li.crossJoin(F.broadcast(rng)).selectExpr(
        f"l_partkey DIV (mx DIV {JE_BUCKETS} + 1) AS b", "l_partkey"
    )
    hist = bucketed.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.countDistinct("l_partkey").cast("long").alias("ndv_b"),
    )
    est = hist.agg(
        F.sum(F.expr("(n_b * n_b) DIV ndv_b")).cast("long").alias("est_selfjoin"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("exact_selfjoin"))
    )
    return est.crossJoin(F.broadcast(exact)).selectExpr(
        "n_buckets",
        "est_selfjoin",
        "exact_selfjoin",
        "CAST(round(10000 * (CAST(est_selfjoin AS DOUBLE)"
        " - CAST(exact_selfjoin AS DOUBLE))"
        " / CAST(exact_selfjoin AS DOUBLE)) AS BIGINT) AS err_bp",
    )


JOIN_ESTIMATE_ERROR_SQL = f"""
WITH rng AS (
  SELECT max(l_partkey) AS mx FROM lineitem
), hist AS (
  SELECT l_partkey // (mx // {JE_BUCKETS} + 1) AS b,
         CAST(count(*) AS BIGINT) AS n_b,
         CAST(count(DISTINCT l_partkey) AS BIGINT) AS ndv_b
  FROM lineitem, rng GROUP BY 1
), est AS (
  SELECT CAST(sum((n_b * n_b) // ndv_b) AS BIGINT) AS est_selfjoin,
         CAST(count(*) AS BIGINT) AS n_buckets
  FROM hist
), exact AS (
  SELECT CAST(sum(cnt * cnt) AS BIGINT) AS exact_selfjoin
  FROM (SELECT count(*) AS cnt FROM lineitem GROUP BY l_partkey)
)
SELECT n_buckets, est_selfjoin, exact_selfjoin,
       CAST(round(10000 * (CAST(est_selfjoin AS DOUBLE)
            - CAST(exact_selfjoin AS DOUBLE))
            / CAST(exact_selfjoin AS DOUBLE)) AS BIGINT) AS err_bp
FROM est, exact
"""

QUERIES["rle_roundtrip_fidelity"] = rle_roundtrip_fidelity
QUERIES["join_estimate_error"] = join_estimate_error
ORACLES["join_estimate_error"] = JOIN_ESTIMATE_ERROR_SQL


# --- imputation_error_eval: score the imputer on planted holes ----------------
# Every pipeline imputes missing values; almost none MEASURES its
# imputer.  The honest protocol: mask a deterministic 10% of
# o_totalprice (40-bit hash threshold), impute each masked row with its
# priority-group MEDIAN computed over the SURVIVING rows only (the
# compressed-histogram rank probe — no sort), and score the imputations
# against the held-out truth the mask hid: MAE, bias, and the
# fraction of rows imputed within 10% of truth.  All integer cents;
# the protocol's leakage discipline (imputer never sees masked values)
# is structural — the median scan filters on the same hash predicate.
IMPUTE_MASK_PCT = 10


def imputation_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = md5_prefix_long_sql("CAST(o_orderkey AS STRING)", 10, "spark")
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS pri",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v",
        f"({h}) % 100 < {IMPUTE_MASK_PCT} AS masked",
    )
    vals = (
        o.where(~F.col("masked"))
        .groupBy("pri", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wv = W.partitionBy("pri").orderBy("v")
    wp = W.partitionBy("pri")
    med = (
        vals.select(
            "pri",
            "v",
            F.sum("cnt").over(wv).alias("cum"),
            F.sum("cnt").over(wp).alias("n"),
        )
        .where(F.col("cum") >= (F.col("n") + 1) / 2)
        .groupBy("pri")
        .agg(F.min("v").cast("long").alias("imputed"))
    )
    scored = o.where("masked").join(F.broadcast(med), "pri")
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_masked"),
        F.expr("sum(abs(v - imputed)) DIV count(*)").cast("long").alias(
            "mae_cents"
        ),
        F.expr("sum(imputed - v) DIV count(*)").cast("long").alias("bias_cents"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN 10 * abs(v - imputed) <= v"
            " THEN 1 ELSE 0 END)) DIV count(*) AS BIGINT)"
        ).alias("within_10pct_ppm"),
    )


def _impute_sql() -> str:
    h = md5_prefix_long_sql("CAST(o_orderkey AS VARCHAR)", 10, "duck")
    return f"""
WITH o AS (
  SELECT o_orderpriority AS pri,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         ({h}) % 100 < {IMPUTE_MASK_PCT} AS masked
  FROM orders
), vals AS (
  SELECT pri, v, CAST(count(*) AS BIGINT) AS cnt
  FROM o WHERE NOT masked GROUP BY pri, v
), med AS (
  SELECT pri, CAST(min(v) AS BIGINT) AS imputed
  FROM (
    SELECT pri, v,
           sum(cnt) OVER (PARTITION BY pri ORDER BY v) AS cum,
           sum(cnt) OVER (PARTITION BY pri) AS n
    FROM vals
  ) WHERE cum >= (n + 1) / 2
  GROUP BY pri
)
SELECT CAST(count(*) AS BIGINT) AS n_masked,
       CAST(sum(abs(v - imputed)) // count(*) AS BIGINT) AS mae_cents,
       CAST(sum(imputed - v) // count(*) AS BIGINT) AS bias_cents,
       CAST((1000000 * sum(CASE WHEN 10 * abs(v - imputed) <= v
            THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS within_10pct_ppm
FROM o JOIN med USING (pri)
WHERE masked
"""


IMPUTATION_ERROR_EVAL_SQL = _impute_sql()

QUERIES["imputation_error_eval"] = imputation_error_eval
ORACLES["imputation_error_eval"] = IMPUTATION_ERROR_EVAL_SQL


# --- blocking quality for entity resolution ----------------------------------
# The two numbers that decide any blocking scheme before you run the
# expensive matcher: REDUCTION RATIO (how many candidate pairs the blocks
# avoid) and PAIRS COMPLETENESS (how many true-duplicate pairs the blocks
# still capture).  Both are computed WITHOUT materializing a single pair:
# every pair count is sum(m·(m−1))/2 over group sizes — three aggregates
# on one scan (block key, truth key, and their conjunction).  Truth here
# is (nation, segment); the evaluated block key is a $500 account-balance
# bucket, so truth pairs genuinely straddle blocks and completeness is a
# real number, not 1.0 by construction.  At 100 TB this is the shape that
# makes ER tuning tractable: group-size arithmetic only, never the
# quadratic candidate set.
ER_BLOCK_CENTS = 50_000  # $500 buckets


def blocking_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "customer").selectExpr(
        "c_nationkey AS nk",
        "c_mktsegment AS seg",
        f"(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) DIV {ER_BLOCK_CENTS} AS blk",
    )
    total = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cand = (
        base.groupBy("blk")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .agg(F.sum(F.expr("m * (m - 1) DIV 2")).cast("long").alias("cand_pairs"))
    )
    true_ = (
        base.groupBy("nk", "seg")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .agg(F.sum(F.expr("m * (m - 1) DIV 2")).cast("long").alias("true_pairs"))
    )
    capt = (
        base.groupBy("nk", "seg", "blk")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .agg(F.sum(F.expr("m * (m - 1) DIV 2")).cast("long").alias("captured_pairs"))
    )
    return (
        total.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(true_))
        .crossJoin(F.broadcast(capt))
        .selectExpr(
            "n",
            "CAST(n * (n - 1) DIV 2 AS BIGINT) AS total_pairs",
            "cand_pairs",
            "true_pairs",
            "captured_pairs",
            """CAST(round(1000000.0 *
                 (CAST(n * (n - 1) DIV 2 AS DOUBLE) - CAST(cand_pairs AS DOUBLE))
                 / CAST(n * (n - 1) DIV 2 AS DOUBLE)) AS BIGINT) AS reduction_micro""",
            """CAST(round(1000000.0 * CAST(captured_pairs AS DOUBLE)
                 / CAST(true_pairs AS DOUBLE)) AS BIGINT) AS completeness_micro""",
        )
    )


BLOCKING_QUALITY_EVAL_SQL = f"""
WITH base AS (
  SELECT c_nationkey AS nk, c_mktsegment AS seg,
         (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) // {ER_BLOCK_CENTS} AS blk
  FROM customer
), total AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM base
), cand AS (
  SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS cand_pairs
  FROM (SELECT CAST(count(*) AS BIGINT) AS m FROM base GROUP BY blk)
), true_ AS (
  SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS true_pairs
  FROM (SELECT CAST(count(*) AS BIGINT) AS m FROM base GROUP BY nk, seg)
), capt AS (
  SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS captured_pairs
  FROM (SELECT CAST(count(*) AS BIGINT) AS m FROM base GROUP BY nk, seg, blk)
)
SELECT n,
       CAST(n * (n - 1) // 2 AS BIGINT) AS total_pairs,
       cand_pairs, true_pairs, captured_pairs,
       CAST(round(1000000.0 *
         (CAST(n * (n - 1) // 2 AS DOUBLE) - CAST(cand_pairs AS DOUBLE))
         / CAST(n * (n - 1) // 2 AS DOUBLE)) AS BIGINT) AS reduction_micro,
       CAST(round(1000000.0 * CAST(captured_pairs AS DOUBLE)
         / CAST(true_pairs AS DOUBLE)) AS BIGINT) AS completeness_micro
FROM total CROSS JOIN cand CROSS JOIN true_ CROSS JOIN capt
"""

QUERIES["blocking_quality_eval"] = blocking_quality_eval
ORACLES["blocking_quality_eval"] = BLOCKING_QUALITY_EVAL_SQL


# --- SymSpell-style edit-distance-1 blocking ---------------------------------
# The deletion/wildcard-neighborhood trick that makes fuzzy id matching
# linear: each 9-digit customer id emits 9 masked variants (digit i →
# '*'); two ids collide on a masked key iff they differ in EXACTLY that
# position, so the per-position equi-join enumerates every substitution-
# distance-1 pair exactly once — 9× linear fan-out, block sizes bounded
# by the alphabet (10), never an all-pairs scan.  The builtin
# levenshtein() on both engines confirms each captured pair is distance 1
# (a cross-engine parity pin for the builtin itself).  Output: pair count
# and distance check per masked position.
ED1_POSITIONS = 9


def edit1_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    digits = _t(spark, sf_dir, "customer").selectExpr(
        "substring(c_name, 10, 9) AS dg"
    )
    masked = digits.selectExpr(
        "dg",
        f"explode(sequence(1, {ED1_POSITIONS})) AS pos",
    ).selectExpr(
        "dg",
        "pos",
        "concat(substring(dg, 1, pos - 1), '*', substring(dg, pos + 1)) AS mk",
    )
    a = masked.selectExpr("pos", "mk", "dg AS a")
    b = masked.selectExpr("pos", "mk", "dg AS b")
    pairs = a.join(b, ["pos", "mk"]).where(F.col("a") < F.col("b"))
    return (
        pairs.groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.max(F.levenshtein("a", "b")).cast("int").alias("max_lev"),
        )
        .selectExpr("CAST(pos AS INT) AS pos", "n_pairs", "max_lev")
        .orderBy("pos")
    )


EDIT1_BLOCKING_PAIRS_SQL = f"""
WITH digits AS (
  SELECT substring(c_name, 10, 9) AS dg FROM customer
), masked AS (
  SELECT dg, CAST(i AS INT) AS pos,
         concat(substring(dg, 1, CAST(i AS INT) - 1), '*',
                substring(dg, CAST(i AS INT) + 1)) AS mk
  FROM digits CROSS JOIN unnest(range(1, {ED1_POSITIONS} + 1)) AS r(i)
), pairs AS (
  SELECT a.pos, a.dg AS a, b.dg AS b
  FROM masked a JOIN masked b ON a.pos = b.pos AND a.mk = b.mk AND a.dg < b.dg
)
SELECT pos, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(max(levenshtein(a, b)) AS INT) AS max_lev
FROM pairs
GROUP BY pos
ORDER BY pos
"""

QUERIES["edit1_blocking_pairs"] = edit1_blocking_pairs
ORACLES["edit1_blocking_pairs"] = EDIT1_BLOCKING_PAIRS_SQL


# --- window-rank semantics conformance matrix --------------------------------
# Sibling of null_semantics_matrix / date_semantics_matrix: rank,
# dense_rank, percent_rank, cume_dist, ntile(4) and row_number evaluated
# side-by-side over the same tied ordering (orders banded to $100 price
# bands within o_orderpriority), with the float functions PROVED against
# their integer num/den identities in the same row (percent_rank =
# (rank-1)/(n-1); cume_dist = (rank + ties - 1)/n).  Ties are real (the
# banding guarantees them), so the matrix pins the tie semantics both
# engines must share; row_number/ntile get a fully deterministic
# (band, key) ordering because their values are ordering-dependent.
RANK_SAMPLE_MOD = 101


def window_rank_semantics_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_orderpriority AS priority",
        "CAST(floor(CAST(o_totalprice AS DOUBLE) / 100) AS BIGINT) AS band",
    )
    wp = W.partitionBy("priority")
    wv = W.partitionBy("priority").orderBy("band")
    wd = W.partitionBy("priority").orderBy("band", "o_orderkey")
    we = W.partitionBy("priority", "band")
    r = o.select(
        "o_orderkey",
        "priority",
        "band",
        F.rank().over(wv).alias("rnk"),
        F.dense_rank().over(wv).alias("drnk"),
        F.row_number().over(wd).alias("rn"),
        F.ntile(4).over(wd).alias("nt4"),
        F.percent_rank().over(wv).alias("percent_rank_d"),
        F.cume_dist().over(wv).alias("cume_dist_d"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.count(F.lit(1)).over(we).alias("ce"),
    )
    return r.filter(F.col("o_orderkey") % RANK_SAMPLE_MOD == 0).selectExpr(
        "o_orderkey",
        "priority",
        "band",
        "CAST(rnk AS BIGINT) AS rnk",
        "CAST(drnk AS BIGINT) AS drnk",
        "CAST(rn AS BIGINT) AS rn",
        "CAST(nt4 AS BIGINT) AS nt4",
        "CAST(rnk - 1 AS BIGINT) AS pr_num",
        "CAST(n - 1 AS BIGINT) AS pr_den",
        "CAST(rnk + ce - 1 AS BIGINT) AS cd_num",
        "CAST(n AS BIGINT) AS cd_den",
        "percent_rank_d",
        "cume_dist_d",
    )


WINDOW_RANK_SEMANTICS_MATRIX_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority AS priority,
         CAST(floor(CAST(o_totalprice AS DOUBLE) / 100) AS BIGINT) AS band
  FROM orders
), r AS (
  SELECT o_orderkey, priority, band,
         rank()        OVER (PARTITION BY priority ORDER BY band) AS rnk,
         dense_rank()  OVER (PARTITION BY priority ORDER BY band) AS drnk,
         row_number()  OVER (PARTITION BY priority ORDER BY band, o_orderkey) AS rn,
         ntile(4)      OVER (PARTITION BY priority ORDER BY band, o_orderkey) AS nt4,
         percent_rank() OVER (PARTITION BY priority ORDER BY band) AS percent_rank_d,
         cume_dist()    OVER (PARTITION BY priority ORDER BY band) AS cume_dist_d,
         COUNT(*) OVER (PARTITION BY priority) AS n,
         COUNT(*) OVER (PARTITION BY priority, band) AS ce
  FROM o
)
SELECT o_orderkey, priority, band,
       CAST(rnk AS BIGINT) AS rnk,
       CAST(drnk AS BIGINT) AS drnk,
       CAST(rn AS BIGINT) AS rn,
       CAST(nt4 AS BIGINT) AS nt4,
       CAST(rnk - 1 AS BIGINT) AS pr_num,
       CAST(n - 1 AS BIGINT) AS pr_den,
       CAST(rnk + ce - 1 AS BIGINT) AS cd_num,
       CAST(n AS BIGINT) AS cd_den,
       percent_rank_d,
       cume_dist_d
FROM r
WHERE o_orderkey % 101 = 0
"""

QUERIES["window_rank_semantics_matrix"] = window_rank_semantics_matrix
ORACLES["window_rank_semantics_matrix"] = WINDOW_RANK_SEMANTICS_MATRIX_SQL


# --- Jaro-Winkler confusable-name pairs --------------------------------------
# ER scoring the er_fuzzy_match/edit1_blocking family lacked: the
# Jaro-Winkler similarity every record-linkage stack defaults to.  The
# Spark side is a from-scratch kernel (standard Winkler variant: match
# window max(l1,l2)/2-1, half-transpositions, prefix bonus p=0.1 up to 4
# chars, boost threshold 0.7); the DuckDB oracle uses the engine's OWN
# jaro_winkler_similarity builtin — two independent implementations
# agreeing on exact doubles is the strongest parity this suite can state.
# Pairs are blocked on the name's final word (the product noun), so the
# join is an equi-join over a categorical vocabulary: at 100 TB the name
# VOCABULARY (not the row count) bounds the pair set, and the kernel runs
# over an Arrow batch of that small pair table — never over base rows.


def _jaro_winkler(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    md = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - md), min(l2, i + md + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (m / l1 + m / l2 + (m - t) / m) / 3
    if j > 0.7:
        pl = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            pl += 1
        return j + pl * 0.1 * (1.0 - j)
    return j


def er_jaro_winkler_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    names = (
        _t(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .selectExpr("p_name", "element_at(split(p_name, ' '), -1) AS block")
    )
    a = names.selectExpr("p_name AS name_a", "block")
    b = names.selectExpr("p_name AS name_b", "block")
    pairs = a.join(b, "block").filter(F.col("name_a") < F.col("name_b")).select(
        "name_a", "name_b", "block"
    )

    def _jw_batches(it):
        for pdf in it:
            pdf["jw_d"] = [
                _jaro_winkler(x, y)
                for x, y in zip(pdf["name_a"], pdf["name_b"])
            ]
            yield pdf

    return pairs.mapInPandas(
        _jw_batches,
        schema="name_a string, name_b string, block string, jw_d double",
    )


ER_JARO_WINKLER_PAIRS_SQL = """
WITH names AS (
  SELECT p_name, string_split(p_name, ' ')[-1] AS block
  FROM (SELECT DISTINCT p_name FROM part)
)
SELECT a.p_name AS name_a, b.p_name AS name_b, a.block,
       jaro_winkler_similarity(a.p_name, b.p_name) AS jw_d
FROM names a JOIN names b ON a.block = b.block AND a.p_name < b.p_name
"""

QUERIES["er_jaro_winkler_pairs"] = er_jaro_winkler_pairs
ORACLES["er_jaro_winkler_pairs"] = ER_JARO_WINKLER_PAIRS_SQL


# --- disparate-impact audit of a quality filter -------------------------------
# Governance sibling of k-anonymity/l-diversity/t-closeness: when a
# training-data quality filter (here: n_chars >= 300, the length gate
# every corpus pipeline starts with) drops documents, the 80%-rule asks
# whether any language's pass rate falls below 0.8x the best group's.
# Pure integer ppm arithmetic end-to-end (ratio-of-ppms via DIV), so the
# audit row is exact and engine-independent.  One aggregate + one
# window — trivially scale-free.
DI_MIN_CHARS = 300


def filter_disparate_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").selectExpr(
        "lang",
        f"CASE WHEN n_chars >= {DI_MIN_CHARS} THEN 1 ELSE 0 END AS pass_flag",
    )
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pass_flag").cast("long").alias("n_pass"),
    )
    wb = W.orderBy(F.lit(1)).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        per.selectExpr("lang", "n", "n_pass", "1000000 * n_pass DIV n AS pass_ppm")
        .withColumn("best_ppm", F.max("pass_ppm").over(wb))
        .selectExpr(
            "lang",
            "n",
            "n_pass",
            "CAST(pass_ppm AS BIGINT) AS pass_ppm",
            "CAST(1000000 * pass_ppm DIV best_ppm AS BIGINT) AS impact_ppm",
            "CAST(CASE WHEN 1000000 * pass_ppm DIV best_ppm < 800000 "
            "THEN 1 ELSE 0 END AS BIGINT) AS below_80pct_rule",
        )
    )


FILTER_DISPARATE_IMPACT_SQL = """
WITH per AS (
  SELECT lang, COUNT(*) AS n,
         SUM(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS n_pass
  FROM documents GROUP BY lang
), p AS (
  SELECT lang, n, n_pass, 1000000 * n_pass // n AS pass_ppm FROM per
)
SELECT lang,
       CAST(n AS BIGINT) AS n,
       CAST(n_pass AS BIGINT) AS n_pass,
       CAST(pass_ppm AS BIGINT) AS pass_ppm,
       CAST(1000000 * pass_ppm // (MAX(pass_ppm) OVER ()) AS BIGINT) AS impact_ppm,
       CAST(CASE WHEN 1000000 * pass_ppm // (MAX(pass_ppm) OVER ()) < 800000
            THEN 1 ELSE 0 END AS BIGINT) AS below_80pct_rule
FROM p
"""

QUERIES["filter_disparate_impact"] = filter_disparate_impact
ORACLES["filter_disparate_impact"] = FILTER_DISPARATE_IMPACT_SQL
