"""Relational operators from SURVEY.md §2 expressed as stock DataFrame ops.

Each query here maps a reference dataflow stage (cited by §2 op-id and
reference file:line) onto the idiomatic Catalyst-optimizable primitive, run
against the driver's TPC-H-ish test tables.  Float aggregates go through
decimal(18,2) so Spark and the DuckDB oracle produce bit-identical values
regardless of summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.sources import load_table as _t


def _dec_sum(col: str | F.Column, alias: str, scale: int = 2) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast("decimal(18,2)")).cast("double"), scale).alias(alias)


# --- A1: grouped aggregation (avg/sum/count) -------------------------------
# Reference: common/statistics.py:4-30 (avg/median), token metering sums
# transform.py:223-245.  Spark shape: partial (map-side) agg + final agg —
# one shuffle on the two group keys.
def a1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_price = price * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(price).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price).cast("double"), 2).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


A1_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
           AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- A1/A2: exact median per group -----------------------------------------
# Reference: common/statistics.py:17-30 (sorted-middle median).
def a1_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.median("l_quantity"), 4).alias("median_qty"),
            F.round(F.median("l_extendedprice"), 4).alias("median_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


A1_GROUP_MEDIAN_SQL = """
SELECT l_returnflag,
       round(median(l_quantity), 4) AS median_qty,
       round(median(l_extendedprice), 4) AS median_price,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --- J3: equi-join with broadcast small side --------------------------------
# Reference: toc-item ⋈ title layout hash join, sequence/generation.py:48-74.
# nation (25 rows) is the TOC analog → broadcast; customer⋈orders shuffles
# on the join key only.
def j3_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            _dec_sum("o_totalprice", "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("n_name")
    )


J3_REVENUE_BY_NATION_SQL = """
SELECT n_name,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


# --- W7/J6: global first-appearance numbering -------------------------------
# Reference: footnote refs numbered 1..N by (page_index, order),
# sequence/chapter.py:78-82 + markdown/render/render.py:31-36.
def w7_event_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("bigint").alias("seq_no"),
    ).orderBy("user_id", "seq_no")


W7_EVENT_NUMBERING_SQL = """
SELECT event_id, user_id,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq_no
FROM events ORDER BY user_id, seq_no
"""


# --- W5/W2: sessionization (boundary flag + running sum) --------------------
# Reference: chapter segmentation sequence/generation.py:45-87 and paragraph
# stitching jointer.py:42-96 are both "new-group flag → prefix-sum group id".
def w5_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    # ts is TIMESTAMP_NTZ in parquet; session TZ is pinned UTC, so the cast
    # to (LTZ) timestamp preserves the wall-clock instant for unix_micros.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    with_flag = ev.withColumn(
        "starts_new",
        (us - F.lag(us, 1).over(w) > F.lit(gap_us)).cast("int"),
    ).withColumn("starts_new", F.coalesce("starts_new", F.lit(1)))
    sess = with_flag.withColumn(
        "session_id",
        F.sum("starts_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            _dec_sum("value", "session_value"),
        )
        .orderBy("user_id", "session_id")
    )


W5_SESSIONIZE_EVENTS_SQL = """
WITH flagged AS (
  SELECT *,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
              THEN 1
              WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS starts_new
  FROM events
), sess AS (
  SELECT *, CAST(sum(starts_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS session_value
FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


# --- F1: text normalization (whitespace collapse + trim) --------------------
# Reference: PageExtractorNode._normalize_text pdf/page_extractor.py:168-173.
def f1_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("bigint").alias("norm_len"),
    ).orderBy("doc_id")


F1_NORMALIZE_TEXT_SQL = r"""
SELECT doc_id,
       trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm_text,
       length(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_len
FROM documents ORDER BY doc_id
"""


# --- F4: markdown heading-prefix strip on titles ----------------------------
# Reference: _MARKDOWN_HEAD_PATTERN sequence/jointer.py:17, applied
# jointer.py:181-183 (strip leading '#'s the OCR emits on title layouts).
# Title layouts are synthesized here by prefixing '## ' onto doc text heads.
def f4_strip_heading_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    titled = F.concat(F.lit("## "), F.substring("text", 1, 40))
    return docs.select(
        "doc_id",
        titled.alias("raw_title"),
        F.regexp_replace(titled, r"^#+\s+", "").alias("clean_title"),
    ).orderBy("doc_id")


F4_STRIP_HEADING_PREFIX_SQL = r"""
SELECT doc_id,
       '## ' || substring(text, 1, 40) AS raw_title,
       regexp_replace('## ' || substring(text, 1, 40), '^#+\s+', '') AS clean_title
FROM documents ORDER BY doc_id
"""


# --- F2: bbox clamp + degenerate-drop predicate -----------------------------
# Reference: _normalize_layout_det pdf/page_extractor.py:175-189 (clamp det
# to page bounds, drop if left>=right or top>=bottom).  Boxes synthesized
# deterministically from part columns; clamp to a 600x800 page.
def f2_bbox_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    left = (F.col("p_partkey") * 13 % 700 - 50).cast("int")
    top = (F.col("p_partkey") * 29 % 900 - 50).cast("int")
    right = (left + F.col("p_size") * 9).cast("int")
    bottom = (top + F.col("p_size") * 5).cast("int")
    cl = F.greatest(F.least(left, F.lit(600)), F.lit(0))
    ct = F.greatest(F.least(top, F.lit(800)), F.lit(0))
    cr = F.greatest(F.least(right, F.lit(600)), F.lit(0))
    cb = F.greatest(F.least(bottom, F.lit(800)), F.lit(0))
    return (
        part.select(
            "p_partkey",
            cl.cast("bigint").alias("det_l"),
            ct.cast("bigint").alias("det_t"),
            cr.cast("bigint").alias("det_r"),
            cb.cast("bigint").alias("det_b"),
        )
        .filter((F.col("det_l") < F.col("det_r")) & (F.col("det_t") < F.col("det_b")))
        .orderBy("p_partkey")
    )


F2_BBOX_CLAMP_SQL = """
WITH boxes AS (
  SELECT p_partkey,
         CAST(p_partkey * 13 % 700 - 50 AS INT) AS l,
         CAST(p_partkey * 29 % 900 - 50 AS INT) AS t,
         CAST(p_partkey * 13 % 700 - 50 + p_size * 9 AS INT) AS r,
         CAST(p_partkey * 29 % 900 - 50 + p_size * 5 AS INT) AS b
  FROM part
), clamped AS (
  SELECT p_partkey,
         greatest(least(l, 600), 0) AS det_l,
         greatest(least(t, 800), 0) AS det_t,
         greatest(least(r, 600), 0) AS det_r,
         greatest(least(b, 800), 0) AS det_b
  FROM boxes
)
SELECT * FROM clamped WHERE det_l < det_r AND det_t < det_b ORDER BY p_partkey
"""


# --- F5: exclusion anti-join ------------------------------------------------
# Reference: TOC-page exclusion generation.py:96-110 — pages on the TOC list
# are removed from the body stream.  Analog: drop all events of users who
# ever emitted an 'error' event (left-anti join on the small exclusion set).
def f5_exclusion_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bad_users = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return (
        ev.join(bad_users, "user_id", "left_anti")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


F5_EXCLUSION_ANTI_JOIN_SQL = """
SELECT user_id, count(*) AS n_events
FROM events
WHERE user_id NOT IN (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
GROUP BY user_id ORDER BY user_id
"""


# --- O2/O3: top-k per group -------------------------------------------------
# Reference: TOC candidate top-k toc/toc_pages.py:89-120,136-142 (score-desc
# sort, keep leading slice).
def o2_topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("p_brand", "rank", "p_partkey", "p_retailprice")
        .orderBy("p_brand", "rank")
    )


O2_TOPK_PARTS_PER_BRAND_SQL = """
SELECT p_brand, rank, p_partkey, p_retailprice FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey ASC) AS rank
  FROM part
) WHERE rank <= 3 ORDER BY p_brand, rank
"""


# --- S3: date parse / calendar grouping -------------------------------------
# Reference: PDF ModDate parse pdf/handler.py:90-117 → timestamp extraction.
def s3_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.month("o_orderdate").cast("bigint").alias("mo")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum("o_totalprice", "month_revenue"),
        )
        .orderBy("yr", "mo")
    )


S3_ORDERS_BY_MONTH_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(month(o_orderdate) AS BIGINT) AS mo,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS month_revenue
FROM orders GROUP BY 1, 2 ORDER BY yr, mo
"""


# --- set op: distinct (dedup-by-key) ----------------------------------------
# Reference: asset dedup-by-hash common/asset.py:24-27; seen-set ref dedup
# sequence/chapter.py:69-75.
def set_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("lang", "source").distinct().orderBy("lang", "source")


SET_DISTINCT_PAIRS_SQL = """
SELECT DISTINCT lang, source FROM documents ORDER BY lang, source
"""


# --- A9: per-group metrics table --------------------------------------------
# Reference: OCREvent metrics pdf/ocr.py:22-39 — per-stage counts/timings.
def a9_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum("value", "total_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


A9_EVENT_METRICS_SQL = """
SELECT event_type, count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value,
       round(min(value), 2) AS min_value,
       round(max(value), 2) AS max_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    "a1_pricing_summary": a1_pricing_summary,
    "a1_group_median": a1_group_median,
    "j3_revenue_by_nation": j3_revenue_by_nation,
    "w7_event_numbering": w7_event_numbering,
    "w5_sessionize_events": w5_sessionize_events,
    "f1_normalize_text": f1_normalize_text,
    "f4_strip_heading_prefix": f4_strip_heading_prefix,
    "f2_bbox_clamp": f2_bbox_clamp,
    "f5_exclusion_anti_join": f5_exclusion_anti_join,
    "o2_topk_parts_per_brand": o2_topk_parts_per_brand,
    "s3_orders_by_month": s3_orders_by_month,
    "set_distinct_pairs": set_distinct_pairs,
    "a9_event_metrics": a9_event_metrics,
}

ORACLES = {
    "a1_pricing_summary": A1_PRICING_SUMMARY_SQL,
    "a1_group_median": A1_GROUP_MEDIAN_SQL,
    "j3_revenue_by_nation": J3_REVENUE_BY_NATION_SQL,
    "w7_event_numbering": W7_EVENT_NUMBERING_SQL,
    "w5_sessionize_events": W5_SESSIONIZE_EVENTS_SQL,
    "f1_normalize_text": F1_NORMALIZE_TEXT_SQL,
    "f4_strip_heading_prefix": F4_STRIP_HEADING_PREFIX_SQL,
    "f2_bbox_clamp": F2_BBOX_CLAMP_SQL,
    "f5_exclusion_anti_join": F5_EXCLUSION_ANTI_JOIN_SQL,
    "o2_topk_parts_per_brand": O2_TOPK_PARTS_PER_BRAND_SQL,
    "s3_orders_by_month": S3_ORDERS_BY_MONTH_SQL,
    "set_distinct_pairs": SET_DISTINCT_PAIRS_SQL,
    "a9_event_metrics": A9_EVENT_METRICS_SQL,
}


# --- correlated-subquery decorrelation (TPC-H Q17 shape) --------------------
# The classic "rows below a per-group statistic of their own group" query:
# revenue from lineitems whose quantity is under 20% of their part's average.
# Naively a correlated scalar subquery per row; the scalable plan
# DECORRELATES it into one per-part aggregate + one equi-join — both
# co-partitioned on l_partkey, so Catalyst plans a single shuffle that the
# partial (map-side) aggregate has already thinned.  The 0.2*avg predicate
# is cross-multiplied (5 * qty * cnt < sum_qty) so it stays in exact
# DECIMAL/BIGINT arithmetic — no float division on either engine.
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    stats = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    small = li.join(stats, "l_partkey").filter(
        F.col("l_quantity").cast("decimal(18,2)") * 5 * F.col("cnt")
        < F.col("sum_qty")
    )
    return (
        small.join(F.broadcast(part), small["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            _dec_sum("l_extendedprice", "revenue"),
        )
        .orderBy("p_brand")
    )


Q17_SMALL_QUANTITY_REVENUE_SQL = """
WITH stats AS (
  SELECT l_partkey,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
         count(*) AS cnt
  FROM lineitem GROUP BY 1
), small AS (
  SELECT l.l_partkey, l.l_extendedprice
  FROM lineitem l JOIN stats s USING (l_partkey)
  WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * s.cnt < s.sum_qty
)
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_small,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
FROM small JOIN part p ON p.p_partkey = small.l_partkey
GROUP BY 1 ORDER BY 1
"""

QUERIES["q17_small_quantity_revenue"] = q17_small_quantity_revenue
ORACLES["q17_small_quantity_revenue"] = Q17_SMALL_QUANTITY_REVENUE_SQL
