"""Relational operators from SURVEY.md §2 expressed as stock DataFrame ops.

Each query here maps a reference dataflow stage (cited by §2 op-id and
reference file:line) onto the idiomatic Catalyst-optimizable primitive, run
against the driver's TPC-H-ish test tables.  Float aggregates go through
decimal(18,2) so Spark and the DuckDB oracle produce bit-identical values
regardless of summation order.

Also here, the warehouse shapes Spark lacks natively or that pipelines
lean on: as-of and point-in-time joins, rollup / cube / grouping sets,
pivot / unpivot, SCD2 history and MERGE apply, CDC snapshot diffs,
incremental aggregate maintenance, skew salting, skyline, survival,
winsorized statistics and top-k with an OTHER rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries.dedup import md5_prefix_long_sql as _md5pl, top_k
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
    order = [F.desc("p_retailprice"), F.asc("p_partkey")]
    return (
        top_k(part, ["p_brand"], order, 3, "rank")
        .selectExpr("p_brand", "CAST(rank AS BIGINT) AS rank", "p_partkey", "p_retailprice")
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


# --- as-of join (Spark lacks a native one) ----------------------------------
# For every event: the key's latest order with o_orderdate <= ts, ties on
# the date broken by max orderkey.  Implemented as the classic union +
# last_value(ignore nulls) running window — one shuffle on the key, no
# range explosion; at scale this beats a theta join by orders of magnitude.
def asof_latest_order_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(1).alias("is_event"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("t"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey"),
        F.lit(0).alias("is_event"),
    )
    u = ev.unionByName(orders)
    w = (
        W.partitionBy("key")
        .orderBy("t", "is_event", F.coalesce("o_orderkey", F.lit(-1)))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        u.withColumn("last_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .filter(F.col("is_event") == 1)
        .select(
            "event_id", F.col("key").alias("user_id"), "last_orderkey"
        )
        .orderBy("event_id")
    )


ASOF_LATEST_ORDER_PER_EVENT_SQL = """
WITH u AS (
  SELECT user_id AS key, ts AS t, event_id,
         CAST(NULL AS BIGINT) AS o_orderkey, 1 AS is_event
  FROM events
  UNION ALL
  SELECT o_custkey AS key, o_orderdate AS t, CAST(NULL AS BIGINT) AS event_id,
         o_orderkey, 0 AS is_event
  FROM orders
)
SELECT event_id, key AS user_id, last_orderkey
FROM (
  SELECT *,
         last_value(o_orderkey IGNORE NULLS) OVER (
           PARTITION BY key
           ORDER BY t, is_event, coalesce(o_orderkey, -1)
           ROWS UNBOUNDED PRECEDING
         ) AS last_orderkey
  FROM u
)
WHERE is_event = 1
ORDER BY event_id
"""

QUERIES["asof_latest_order_per_event"] = asof_latest_order_per_event
ORACLES["asof_latest_order_per_event"] = ASOF_LATEST_ORDER_PER_EVENT_SQL


# --- rollup / cube -----------------------------------------------------------
# one revenue aggregation, two grouping-set shapes: the decimal-sum
# float-parity recipe and the null-first ordering live HERE only, so the
# rollup and cube variants can never diverge
def _revenue_grouping(spark: SparkSession, sf_dir: str, shape: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    grouped = getattr(li, shape)("l_returnflag", "l_linestatus")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    return grouped.agg(
        F.round(F.sum(price).cast("double"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    ).orderBy(
        F.col("l_returnflag").asc_nulls_first(),
        F.col("l_linestatus").asc_nulls_first(),
    )


def _revenue_grouping_sql(op: str) -> str:
    return f"""
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
       count(*) AS n
FROM lineitem
GROUP BY {op} (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def a1_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _revenue_grouping(spark, sf_dir, "rollup")


A1_ROLLUP_REVENUE_SQL = _revenue_grouping_sql("ROLLUP")

QUERIES["a1_rollup_revenue"] = a1_rollup_revenue
ORACLES["a1_rollup_revenue"] = A1_ROLLUP_REVENUE_SQL


# --- pivot -------------------------------------------------------------------
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
        .withColumnsRenamed({"F": "n_f", "O": "n_o", "P": "n_p"})
        .orderBy("o_orderpriority")
    )


PIVOT_STATUS_BY_PRIORITY_SQL = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

QUERIES["pivot_status_by_priority"] = pivot_status_by_priority
ORACLES["pivot_status_by_priority"] = PIVOT_STATUS_BY_PRIORITY_SQL


# --- explicit skew salting ----------------------------------------------------
# The north rule names salting as a required technique; this is it run for
# real, not argued: a synthetic 90%-hot join key over lineitem joins a
# tiny rate dimension.  The fact side adds salt = pmod(hash(l_orderkey),
# N_SALT); the dim side EXPLODES N_SALT copies; the join key becomes
# (skew_key, salt), splitting the hot key's rows across N_SALT reducers
# instead of one.  Result values are identical to the unsalted join (the
# DuckDB oracle does the plain join), sums ride DECIMAL(18,2) so the
# float result is order-independent.  At 100 TB the same pattern applies
# wherever AQE's skew-split can't help (e.g. aggregation keys).
N_SALT = 8

_SKEW_KEY = (
    "CASE WHEN l_orderkey % 100 < 90 THEN 'hot' "
    "ELSE 'k' || CAST(l_orderkey % 7 AS STRING) END"
)
_RATE_KEYS = ["hot"] + [f"k{i}" for i in range(7)]


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.expr(_SKEW_KEY).alias("skew_key"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.pmod(F.hash("l_orderkey"), F.lit(N_SALT)).alias("salt"),
    )
    rates = spark.createDataFrame(
        [(k, i + 2) for i, k in enumerate(_RATE_KEYS)], "skew_key string, rate int"
    )
    salted_rates = rates.select(
        "skew_key", "rate", F.explode(F.array(*[F.lit(s) for s in range(N_SALT)])).alias("salt")
    )
    joined = li.join(F.broadcast(salted_rates), ["skew_key", "salt"])
    return (
        joined.groupBy("skew_key")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(F.col("price") * F.col("rate"))).cast("double").alias("weighted_price"),
        )
        .orderBy("skew_key")
    )


SKEW_SALTED_JOIN_SQL = f"""
WITH li AS (
  SELECT {_SKEW_KEY.replace("AS STRING", "AS VARCHAR")} AS skew_key,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS price
  FROM lineitem
), rates(skew_key, rate) AS (
  VALUES {", ".join(f"('{k}', {i + 2})" for i, k in enumerate(_RATE_KEYS))}
)
SELECT li.skew_key,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(price * rate) AS DOUBLE) AS weighted_price
FROM li JOIN rates ON li.skew_key = rates.skew_key
GROUP BY li.skew_key ORDER BY li.skew_key
"""

QUERIES["skew_salted_join"] = skew_salted_join
ORACLES["skew_salted_join"] = SKEW_SALTED_JOIN_SQL


# --- cube --------------------------------------------------------------------
# Completes the multidimensional-aggregation trio (rollup, pivot, cube):
# all four grouping sets in one pass — Catalyst plans a single Expand +
# aggregate, one corpus scan regardless of the number of sets.  Shares
# the rollup's aggregation recipe (see _revenue_grouping).
def a1_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _revenue_grouping(spark, sf_dir, "cube")


A1_CUBE_REVENUE_SQL = _revenue_grouping_sql("CUBE")


# --- unpivot -----------------------------------------------------------------
# The inverse of the pivot above: the wide (n_f, n_o, n_p) counts melt
# back to long (priority, status, n) rows — Spark's native unpivot/melt,
# a pure narrow projection (no shuffle beyond the source aggregation).
# Zero-filled combinations survive the round trip, which is what the
# oracle's priority x status scaffold reproduces.
def unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = pivot_status_by_priority(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["o_orderpriority"],
            values=["n_f", "n_o", "n_p"],
            variableColumnName="status",
            valueColumnName="n",
        )
        .orderBy("o_orderpriority", "status")
    )


UNPIVOT_STATUS_COUNTS_SQL = """
WITH scaffold AS (
  SELECT DISTINCT o_orderpriority, s.status
  FROM orders, (VALUES ('n_f'), ('n_o'), ('n_p')) s(status)
), counts AS (
  SELECT o_orderpriority,
         'n_' || lower(o_orderstatus) AS status,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
)
SELECT sc.o_orderpriority, sc.status, coalesce(c.n, 0) AS n
FROM scaffold sc LEFT JOIN counts c USING (o_orderpriority, status)
ORDER BY sc.o_orderpriority, sc.status
"""


QUERIES["a1_cube_revenue"] = a1_cube_revenue
ORACLES["a1_cube_revenue"] = A1_CUBE_REVENUE_SQL
QUERIES["unpivot_status_counts"] = unpivot_status_counts
ORACLES["unpivot_status_counts"] = UNPIVOT_STATUS_COUNTS_SQL


# --- SCD type-2 merge (the warehouse MERGE shape) ---------------------------
# Slowly-changing-dimension history maintenance: a CDC updates batch is
# merged into the current dimension snapshot; matched keys get their open
# row CLOSED (valid_to = new version, is_current = false) plus a fresh
# open row carrying the new attributes, unmatched keys pass through.
# This is exactly what Delta/Iceberg `MERGE INTO` does under the hood —
# expressed engine-neutrally as one equi-join + union so the plan is
# inspectable: the delta side (~10% of keys here) is broadcast (small
# delta vs big dim is the canonical CDC asymmetry; at equal sizes AQE
# would fall back to sort-merge on the same plan).  Nothing is quadratic,
# nothing is driver-side; version stamps are integers (0 = snapshot,
# 1 = this batch, 9999 = open-row sentinel — NULL avoided deliberately:
# the hash canonicalizers treat NULL ordering engine-specifically).
#
# The updates batch is derived deterministically from the dimension
# itself (md5-percentile of the key < 10 -> segment rewrite + balance
# credit) so both engines see the identical delta without external data.
SCD2_UPD_PCT = 10
SCD2_OPEN = 9999


def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    pct = _md5pl("CAST(c_custkey AS STRING)", 4, "spark") + " % 100"
    cust = _t(spark, sf_dir, "customer")
    upd = cust.selectExpr("c_custkey", "c_acctbal", f"({pct}) AS pct").filter(
        F.col("pct") < SCD2_UPD_PCT
    ).select(
        "c_custkey", (F.col("c_acctbal") + F.lit(100.0)).alias("bal_new")
    )
    old_rows = (
        cust.join(F.broadcast(upd), "c_custkey", "left")
        .selectExpr(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            "CAST(0 AS BIGINT) AS valid_from",
            f"CAST(CASE WHEN bal_new IS NULL THEN {SCD2_OPEN} ELSE 1 END AS BIGINT) AS valid_to",
            "bal_new IS NULL AS is_current",
        )
    )
    new_rows = upd.selectExpr(
        "c_custkey",
        "'REACTIVATED' AS c_mktsegment",
        "bal_new AS c_acctbal",
        "CAST(1 AS BIGINT) AS valid_from",
        f"CAST({SCD2_OPEN} AS BIGINT) AS valid_to",
        "TRUE AS is_current",
    )
    return old_rows.unionByName(new_rows).orderBy("c_custkey", "valid_from")


SCD2_CUSTOMER_HISTORY_SQL = f"""
WITH upd AS (
  SELECT c_custkey, c_acctbal + 100.0 AS bal_new
  FROM customer
  WHERE ({_md5pl("CAST(c_custkey AS VARCHAR)", 4, "duck")} % 100) < {SCD2_UPD_PCT}
), old_rows AS (
  SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
         CAST(0 AS BIGINT) AS valid_from,
         CAST(CASE WHEN u.c_custkey IS NULL THEN {SCD2_OPEN} ELSE 1 END AS BIGINT) AS valid_to,
         u.c_custkey IS NULL AS is_current
  FROM customer c LEFT JOIN upd u USING (c_custkey)
), new_rows AS (
  SELECT c_custkey, 'REACTIVATED' AS c_mktsegment, bal_new AS c_acctbal,
         CAST(1 AS BIGINT) AS valid_from,
         CAST({SCD2_OPEN} AS BIGINT) AS valid_to,
         TRUE AS is_current
  FROM upd
)
SELECT * FROM (SELECT * FROM old_rows UNION ALL SELECT * FROM new_rows)
ORDER BY c_custkey, valid_from
"""


QUERIES["scd2_customer_history"] = scd2_customer_history
ORACLES["scd2_customer_history"] = SCD2_CUSTOMER_HISTORY_SQL


# --- incremental aggregate maintenance (materialized-view refresh) ----------
# The continuous-pipeline shape: a standing (month, status) revenue
# aggregate is maintained INCREMENTALLY — the committed base (md5-pct of
# the order key < 80) was aggregated once; a new ingest batch (pct >= 80)
# is aggregated alone and MERGED into the base via a full-outer
# coalesce-and-add on the group keys.  Because the partials are
# DECIMAL(18,2) sums (exact, associative), merged-partials == full
# recompute bit-for-bit — and that is precisely what the oracle checks:
# the DuckDB side aggregates ALL orders from scratch, so a green hash
# PROVES the incremental maintenance is lossless, not merely plausible.
# At 100 TB this is the only affordable refresh: the delta is a day's
# partition, the base aggregate is ~|groups| rows, and the merge is a
# broadcast-sized join — raw history is never rescanned.
INC_AGG_BASE_PCT = 80


def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    pct = _md5pl("CAST(o_orderkey AS STRING)", 4, "spark") + " % 100"
    orders = _t(spark, sf_dir, "orders").selectExpr(
        "substr(CAST(o_orderdate AS STRING), 1, 7) AS month",
        "o_orderstatus AS status",
        "CAST(o_totalprice AS DECIMAL(18,2)) AS price",
        f"({pct}) AS pct",
    )

    def agg(side: DataFrame) -> DataFrame:
        return side.groupBy("month", "status").agg(
            F.count("*").alias("n"), F.sum("price").alias("rev")
        )

    base = agg(orders.filter(F.col("pct") < INC_AGG_BASE_PCT))
    delta = agg(orders.filter(F.col("pct") >= INC_AGG_BASE_PCT))
    merged = (
        base.alias("b")
        .join(delta.alias("d"), ["month", "status"], "full_outer")
        .selectExpr(
            "month",
            "status",
            "CAST(coalesce(b.n, 0) + coalesce(d.n, 0) AS BIGINT) AS n",
            "round(CAST(coalesce(b.rev, CAST(0 AS DECIMAL(18,2)))"
            " + coalesce(d.rev, CAST(0 AS DECIMAL(18,2))) AS DOUBLE), 2)"
            " AS revenue",
        )
    )
    return merged.orderBy("month", "status")


INCREMENTAL_AGG_MAINTENANCE_SQL = """
SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
       o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS revenue
FROM orders
GROUP BY 1, 2
ORDER BY 1, 2
"""


QUERIES["incremental_agg_maintenance"] = incremental_agg_maintenance
ORACLES["incremental_agg_maintenance"] = INCREMENTAL_AGG_MAINTENANCE_SQL


# --- skyline / Pareto front -------------------------------------------------
# The 2-D skyline: parts (one brand's catalog — dominance only makes
# sense within a comparable family) not dominated on (price low, size
# high).  The Spark side is the SCALABLE formulation: collapse to
# per-price max size (one aggregate), order by price, and keep points
# whose size strictly exceeds the running max over STRICTLY cheaper
# prices (lag of the cumulative max) — O(n log n), window-parallel after
# per-price reduction, no pairwise comparisons.  The DuckDB oracle is the
# INDEPENDENT quadratic definition — NOT EXISTS a dominating row — so a
# green hash proves the window algebra implements dominance, not merely
# that two copies of the same algorithm agree.
SKYLINE_BRAND = "Brand#13"


def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") == SKYLINE_BRAND
    ).select("p_partkey", "p_retailprice", "p_size")
    pp = parts.groupBy("p_retailprice").agg(F.max("p_size").alias("msize"))
    w = W.orderBy("p_retailprice").rowsBetween(W.unboundedPreceding, -1)
    frontier = (
        pp.withColumn("best_before", F.max("msize").over(w))
        .filter(
            F.col("best_before").isNull()
            | (F.col("msize") > F.col("best_before"))
        )
        .select("p_retailprice", "msize")
    )
    return (
        parts.join(frontier, "p_retailprice")
        .filter(F.col("p_size") == F.col("msize"))
        .selectExpr(
            "CAST(p_partkey AS BIGINT) AS p_partkey",
            "p_retailprice",
            "CAST(p_size AS BIGINT) AS p_size",
        )
        .orderBy("p_partkey")
    )


SKYLINE_PARETO_PARTS_SQL = f"""
WITH parts AS (
  SELECT p_partkey, p_retailprice, p_size FROM part
  WHERE p_brand = '{SKYLINE_BRAND}'
)
SELECT CAST(a.p_partkey AS BIGINT) AS p_partkey,
       a.p_retailprice,
       CAST(a.p_size AS BIGINT) AS p_size
FROM parts a
WHERE NOT EXISTS (
  SELECT 1 FROM parts b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
)
ORDER BY p_partkey
"""


QUERIES["skyline_pareto_parts"] = skyline_pareto_parts
ORACLES["skyline_pareto_parts"] = SKYLINE_PARETO_PARTS_SQL


# --- CDC snapshot diff -------------------------------------------------------
# The table-diff operator every ingestion pipeline needs: old snapshot
# vs new snapshot -> typed change rows (I/U/D), computed as ONE
# full-outer join on the key with column comparison — inserts are
# new-side-only keys, deletes old-side-only, updates keys present on
# both sides with any tracked column changed; unchanged rows vanish.
# The "new" snapshot is derived deterministically from the dimension
# itself (md5-pct: <5 deleted, 5..14 balance-updated, >=95 cloned as
# inserts under shifted keys), so both engines diff identical inputs.
# At scale this is a key-partitioned join of two snapshots — the shape
# Iceberg/Delta CDC readers materialize incrementally; doing it
# relationally is the fallback every lakehouse needs when a table has
# no change log.
CDC_DEL_PCT = 5
CDC_UPD_PCT = 15
CDC_INS_PCT = 95
CDC_INS_KEY_SHIFT = 10_000_000


def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    pct = _md5pl("CAST(c_custkey AS STRING)", 4, "spark") + " % 100"
    old = _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "c_mktsegment", "c_acctbal", f"({pct}) AS pct"
    )
    new = old.filter(F.col("pct") >= CDC_DEL_PCT).selectExpr(
        "c_custkey",
        f"CASE WHEN pct < {CDC_UPD_PCT} THEN 'UPDATED' ELSE c_mktsegment END"
        " AS c_mktsegment",
        f"CASE WHEN pct < {CDC_UPD_PCT} THEN c_acctbal + 100.0 ELSE c_acctbal"
        " END AS c_acctbal",
    ).unionByName(
        old.filter(F.col("pct") >= CDC_INS_PCT).selectExpr(
            f"c_custkey + {CDC_INS_KEY_SHIFT} AS c_custkey",
            "'NEW' AS c_mktsegment",
            "c_acctbal",
        )
    )
    o = old.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("old_seg"),
        F.col("c_acctbal").alias("old_bal"),
    )
    n = new.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("new_seg"),
        F.col("c_acctbal").alias("new_bal"),
    )
    return (
        o.join(n, "key", "full_outer")
        .selectExpr(
            "key",
            "CASE WHEN old_seg IS NULL THEN 'I'"
            "     WHEN new_seg IS NULL THEN 'D'"
            "     ELSE 'U' END AS op",
            "old_seg", "new_seg", "old_bal", "new_bal",
        )
        .filter(
            "op != 'U' OR old_seg != new_seg OR old_bal != new_bal"
        )
        .orderBy("key")
    )


CDC_SNAPSHOT_DIFF_SQL = f"""
WITH old AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         ({_md5pl("CAST(c_custkey AS VARCHAR)", 4, "duck")} % 100) AS pct
  FROM customer
), new AS (
  SELECT c_custkey,
         CASE WHEN pct < {CDC_UPD_PCT} THEN 'UPDATED' ELSE c_mktsegment END
           AS c_mktsegment,
         CASE WHEN pct < {CDC_UPD_PCT} THEN c_acctbal + 100.0 ELSE c_acctbal
           END AS c_acctbal
  FROM old WHERE pct >= {CDC_DEL_PCT}
  UNION ALL
  SELECT c_custkey + {CDC_INS_KEY_SHIFT}, 'NEW', c_acctbal
  FROM old WHERE pct >= {CDC_INS_PCT}
), d AS (
  SELECT coalesce(o.c_custkey, n.c_custkey) AS key,
         CASE WHEN o.c_custkey IS NULL THEN 'I'
              WHEN n.c_custkey IS NULL THEN 'D'
              ELSE 'U' END AS op,
         o.c_mktsegment AS old_seg, n.c_mktsegment AS new_seg,
         o.c_acctbal AS old_bal, n.c_acctbal AS new_bal
  FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
)
SELECT key, op, old_seg, new_seg, old_bal, new_bal
FROM d
WHERE op != 'U' OR old_seg != new_seg OR old_bal != new_bal
ORDER BY key
"""


QUERIES["cdc_snapshot_diff"] = cdc_snapshot_diff
ORACLES["cdc_snapshot_diff"] = CDC_SNAPSHOT_DIFF_SQL


# --- point-in-time join against the SCD2 dimension ---------------------------
# The query SCD2 exists to serve: each fact row joins the dimension
# VERSION that was valid at its own time, never the current one (the
# classic training-data leakage bug is joining facts to today's
# attributes).  Facts carry an integer as-of version v (o_orderkey % 2 —
# half the orders happen before the CDC update, half after), and the join
# is custkey-equi + interval containment v in [valid_from, valid_to).
# Scale shape: this is NOT a range join — SCD2 guarantees non-overlapping
# intervals per key, so the equi-join on custkey has per-key fan-out =
# version count (<= 2 here) and the containment filter then keeps exactly
# one version per fact row; one shuffle on custkey, map-side-combined
# rollup after.  PIT correctness is hash-proved: orders with v=0 against
# updated customers aggregate under the OLD segment, v=1 under the new
# one — any drift from exactly-one-version-per-fact changes the counts.
def pit_join_orders_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = scd2_customer_history(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "CAST(o_totalprice AS DECIMAL(18,2)) AS price",
        "CAST(o_orderkey % 2 AS BIGINT) AS v",
    )
    j = orders.join(
        hist,
        (orders["o_custkey"] == hist["c_custkey"])
        & (orders["v"] >= hist["valid_from"])
        & (orders["v"] < hist["valid_to"]),
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("price").cast("double"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


PIT_JOIN_ORDERS_SCD2_SQL = f"""
WITH hist AS ({SCD2_CUSTOMER_HISTORY_SQL}),
facts AS (
  SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         CAST(o_orderkey % 2 AS BIGINT) AS v
  FROM orders
)
SELECT h.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(f.price) AS DOUBLE), 2) AS revenue
FROM facts f JOIN hist h
  ON h.c_custkey = f.o_custkey AND f.v >= h.valid_from AND f.v < h.valid_to
GROUP BY 1 ORDER BY 1
"""

QUERIES["pit_join_orders_scd2"] = pit_join_orders_scd2
ORACLES["pit_join_orders_scd2"] = PIT_JOIN_ORDERS_SCD2_SQL


# --- custom GROUPING SETS ------------------------------------------------------
# The multidimensional family's general form: an explicit set list that
# neither ROLLUP nor CUBE can express — the full pair plus BOTH one-way
# margins, no grand total.  grouping_id() disambiguates a NULL that means
# "aggregated away" from a NULL in the data, which is what makes custom
# sets safe on nullable dimensions.  Same execution shape as cube/rollup:
# Spark expands the sets map-side and aggregates in ONE shuffle (an
# Expand node feeding a partial agg), not one pass per set.
def a1_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], ["l_linestatus"]],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.round(F.sum(price).cast("double"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(
            "gid",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


A1_GROUPING_SETS_REVENUE_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
       count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""

QUERIES["a1_grouping_sets_revenue"] = a1_grouping_sets_revenue
ORACLES["a1_grouping_sets_revenue"] = A1_GROUPING_SETS_REVENUE_SQL


# --- winsorized robust statistics ----------------------------------------------
# Robust aggregation done engine-exactly: per-group p05/p95 bounds as
# ORDER STATISTICS (rank = ceil(p·n) over an explicit sort — NOT
# percentile_approx, whose sketch differs per engine, and NOT interpolated
# percentile, whose float math splits engines), then every value clamps
# into [p05, p95] and aggregates through DECIMAL.  Two window passes over
# the group (rank + count), one clamp projection, one aggregate — all on
# the same l_returnflag shuffle.  The winsorized mean is the standard
# outlier-robust metric a DQ pipeline reports next to the raw mean.
WINSOR_LO_NUM, WINSOR_HI_NUM, WINSOR_DEN = 5, 95, 100


def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("decimal(18,2)").alias("v")
    )
    w = W.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "v",
        F.row_number().over(w.orderBy("v")).alias("rk"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    lo_rk = F.expr(f"CAST(({WINSOR_LO_NUM} * n + {WINSOR_DEN} - 1) DIV {WINSOR_DEN} AS BIGINT)")
    hi_rk = F.expr(f"CAST(({WINSOR_HI_NUM} * n + {WINSOR_DEN} - 1) DIV {WINSOR_DEN} AS BIGINT)")
    bounds = (
        ranked.filter((F.col("rk") == F.greatest(lo_rk, F.lit(1))) | (F.col("rk") == hi_rk))
        .groupBy("l_returnflag")
        .agg(F.min("v").alias("p05"), F.max("v").alias("p95"))
    )
    clamped = li.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        F.greatest(F.col("p05"), F.least(F.col("p95"), F.col("v"))).alias("wv"),
        "v",
    )
    return (
        clamped.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("v").cast("double"), 2).alias("raw_sum"),
            F.round(F.sum("wv").cast("double"), 2).alias("winsor_sum"),
            F.sum((F.col("wv") != F.col("v")).cast("long")).alias("n_clamped"),
        )
        .orderBy("l_returnflag")
    )


WINSORIZED_PRICE_STATS_SQL = f"""
WITH li AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS v FROM lineitem
), ranked AS (
  SELECT l_returnflag, v,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM li
), bounds AS (
  SELECT l_returnflag, min(v) AS p05, max(v) AS p95
  FROM ranked
  WHERE rk = greatest(({WINSOR_LO_NUM} * n + {WINSOR_DEN} - 1) // {WINSOR_DEN}, 1)
     OR rk = ({WINSOR_HI_NUM} * n + {WINSOR_DEN} - 1) // {WINSOR_DEN}
  GROUP BY 1
), clamped AS (
  SELECT li.l_returnflag,
         greatest(b.p05, least(b.p95, li.v)) AS wv, li.v
  FROM li JOIN bounds b USING (l_returnflag)
)
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(v) AS DOUBLE), 2) AS raw_sum,
       round(CAST(sum(wv) AS DOUBLE), 2) AS winsor_sum,
       CAST(sum(CASE WHEN wv <> v THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
FROM clamped GROUP BY 1 ORDER BY 1
"""

QUERIES["winsorized_price_stats"] = winsorized_price_stats
ORACLES["winsorized_price_stats"] = WINSORIZED_PRICE_STATS_SQL


# --- survival / time-to-event --------------------------------------------------
# Time-to-second-purchase with right-censoring — the classic retention
# survival curve's input table.  Per customer: gap in whole days between
# the first and second order (exact integer date_diff), or a CENSORED row
# when only one order exists.  One custkey-keyed window pass over the
# orders (rank by date with orderkey tie-break), a self-aligned filter,
# and an integer bucket rollup — the fact table shuffles once.
def survival_reorder_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
    )
    ranked = top_k(o, ["o_custkey"], [F.asc("d"), F.asc("o_orderkey")], 2, "rk")
    first = ranked.filter("rk = 1").selectExpr("o_custkey", "d AS d1")
    second = ranked.filter("rk = 2").selectExpr("o_custkey", "d AS d2")
    gaps = first.join(second, "o_custkey", "left").select(
        "o_custkey",
        F.when(F.col("d2").isNotNull(), F.datediff("d2", "d1")).alias("gap_days"),
    )
    return (
        gaps.select(
            F.when(F.col("gap_days").isNull(), F.lit(-1))
            .otherwise(F.expr("gap_days DIV 30"))
            .cast("int")
            .alias("gap_bucket_30d")
        )
        .groupBy("gap_bucket_30d")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("gap_bucket_30d")
    )


SURVIVAL_REORDER_TIMES_SQL = """
WITH ranked AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS rk
  FROM orders
), first AS (
  SELECT o_custkey, d AS d1 FROM ranked WHERE rk = 1
), second AS (
  SELECT o_custkey, d AS d2 FROM ranked WHERE rk = 2
), gaps AS (
  SELECT f.o_custkey, date_diff('day', f.d1, s.d2) AS gap_days
  FROM first f LEFT JOIN second s USING (o_custkey)
)
SELECT CAST(CASE WHEN gap_days IS NULL THEN -1 ELSE gap_days // 30 END AS INT)
         AS gap_bucket_30d,
       CAST(count(*) AS BIGINT) AS n_customers
FROM gaps GROUP BY 1 ORDER BY 1
"""

QUERIES["survival_reorder_times"] = survival_reorder_times
ORACLES["survival_reorder_times"] = SURVIVAL_REORDER_TIMES_SQL


# --- MERGE INTO (upsert/delete apply) ------------------------------------------
# The apply half of change-data-capture (cdc_snapshot_diff is the derive
# half): a deterministic change batch — updates for orderkey % 7 == 0
# (price +10.00), deletes for the remaining % 11 == 0 keys, inserts of
# brand-new keys (orderkey + 10^8) for % 13 == 0 — merges into the orders
# snapshot with Delta/Iceberg MERGE semantics: WHEN MATCHED AND op='D'
# DELETE, WHEN MATCHED AND op='U' UPDATE, WHEN NOT MATCHED AND op='I'
# INSERT.  One full-outer equi-join on the key (co-partitioned, AQE
# broadcastable when the batch is small — the 100 TB shape), then an
# exact DECIMAL rollup per priority proving every row landed: counts by
# change class plus the merged balance.
def merge_into_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    changes = o.selectExpr(
        """CASE
             WHEN o_orderkey % 7 = 0 THEN o_orderkey
             WHEN o_orderkey % 11 = 0 THEN o_orderkey
             ELSE o_orderkey + 100000000
           END AS key""",
        """CASE
             WHEN o_orderkey % 7 = 0 THEN 'U'
             WHEN o_orderkey % 11 = 0 THEN 'D'
             ELSE 'I'
           END AS op""",
        "o_orderpriority AS c_priority",
        """CASE
             WHEN o_orderkey % 7 = 0 THEN CAST(price + 10.00 AS DECIMAL(18,2))
             ELSE CAST(100.00 AS DECIMAL(18,2))
           END AS c_price""",
    ).filter(
        "o_orderkey % 7 = 0 OR o_orderkey % 11 = 0 OR o_orderkey % 13 = 0"
    )
    merged = (
        o.join(changes, o.o_orderkey == changes.key, "full_outer")
        .filter(
            (F.col("op").isNull()) | (F.col("op") != "D")
        )
        .select(
            F.coalesce("o_orderpriority", "c_priority").alias("priority"),
            F.when(F.col("op").isin("U", "I"), F.col("c_price"))
            .otherwise(F.col("price"))
            .alias("mprice"),
            F.coalesce("op", F.lit("K")).alias("cls"),
        )
    )
    return (
        merged.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("cls") == "U", 1).otherwise(0))
            .cast("long")
            .alias("n_updated"),
            F.sum(F.when(F.col("cls") == "I", 1).otherwise(0))
            .cast("long")
            .alias("n_inserted"),
            F.round(F.sum("mprice").cast("double"), 2).alias("total_price"),
        )
        .orderBy("priority")
    )


MERGE_INTO_APPLY_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
), changes AS (
  SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_orderkey
              WHEN o_orderkey % 11 = 0 THEN o_orderkey
              ELSE o_orderkey + 100000000 END AS key,
         CASE WHEN o_orderkey % 7 = 0 THEN 'U'
              WHEN o_orderkey % 11 = 0 THEN 'D'
              ELSE 'I' END AS op,
         o_orderpriority AS c_priority,
         CASE WHEN o_orderkey % 7 = 0
              THEN CAST(price + 10.00 AS DECIMAL(18,2))
              ELSE CAST(100.00 AS DECIMAL(18,2)) END AS c_price
  FROM o
  WHERE o_orderkey % 7 = 0 OR o_orderkey % 11 = 0 OR o_orderkey % 13 = 0
), merged AS (
  SELECT coalesce(o.o_orderpriority, c.c_priority) AS priority,
         CASE WHEN c.op IN ('U', 'I') THEN c.c_price
              ELSE o.price END AS mprice,
         coalesce(c.op, 'K') AS cls
  FROM o FULL OUTER JOIN changes c ON o.o_orderkey = c.key
  WHERE c.op IS NULL OR c.op <> 'D'
)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN cls = 'U' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_updated,
       CAST(sum(CASE WHEN cls = 'I' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_inserted,
       round(CAST(sum(mprice) AS DOUBLE), 2) AS total_price
FROM merged GROUP BY 1 ORDER BY 1
"""

QUERIES["merge_into_apply"] = merge_into_apply
ORACLES["merge_into_apply"] = MERGE_INTO_APPLY_SQL


# --- top-k per group with OTHER rollup ------------------------------------------
# The reporting staple BI layers ask of a warehouse: per nation, the
# top-3 suppliers by account balance AND an aggregated OTHER row, so
# every report section sums to the group total (the conservation
# property a bare top-k silently loses).  One dimension aggregate, one
# group-sharded rank window, then a single conditional re-aggregation —
# the fact-side cost is the same as plain top-k; OTHER is free.
# DECIMAL sums, deterministic (balance DESC, suppkey) ranking.
TOPK_OTHER_K = 3


def topk_suppliers_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.col("s_acctbal").cast("decimal(18,2)").alias("bal"),
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    w = W.partitionBy("s_nationkey").orderBy(
        F.desc("bal"), F.asc("s_suppkey")
    )
    ranked = s.withColumn("rk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(n), ranked.s_nationkey == n.n_nationkey)
        .selectExpr(
            "n_name",
            f"CASE WHEN rk <= {TOPK_OTHER_K} THEN CAST(s_suppkey AS STRING)"
            " ELSE 'OTHER' END AS member",
            f"CASE WHEN rk <= {TOPK_OTHER_K} THEN rk ELSE {TOPK_OTHER_K + 1} END"
            " AS slot",
            "bal",
        )
        .groupBy("n_name", "member", "slot")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("bal").cast("double"), 2).alias("balance"),
        )
        .selectExpr(
            "n_name",
            "CAST(slot AS INT) AS slot",
            "member",
            "CAST(n_suppliers AS BIGINT) AS n_suppliers",
            "balance",
        )
        .orderBy("n_name", "slot", "member")
    )


TOPK_SUPPLIERS_WITH_OTHER_SQL = f"""
WITH ranked AS (
  SELECT s_suppkey, s_nationkey,
         CAST(s_acctbal AS DECIMAL(18,2)) AS bal,
         row_number() OVER (PARTITION BY s_nationkey
                            ORDER BY CAST(s_acctbal AS DECIMAL(18,2)) DESC,
                                     s_suppkey ASC) AS rk
  FROM supplier
)
SELECT n.n_name,
       CAST(CASE WHEN rk <= {TOPK_OTHER_K} THEN rk
                 ELSE {TOPK_OTHER_K + 1} END AS INT) AS slot,
       CASE WHEN rk <= {TOPK_OTHER_K} THEN CAST(s_suppkey AS VARCHAR)
            ELSE 'OTHER' END AS member,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       round(CAST(sum(bal) AS DOUBLE), 2) AS balance
FROM ranked r JOIN nation n ON r.s_nationkey = n.n_nationkey
GROUP BY 1, 2, 3
ORDER BY n_name, slot, member
"""

QUERIES["topk_suppliers_with_other"] = topk_suppliers_with_other
ORACLES["topk_suppliers_with_other"] = TOPK_SUPPLIERS_WITH_OTHER_SQL


# --- GROUPING SETS: the generalized multi-grain aggregation -----------------
# a1_cube_revenue / unpivot_status_counts cover CUBE/ROLLUP/PIVOT/UNPIVOT;
# this is the general form they both desugar to — an explicit GROUPING
# SETS list mixing grains that CUBE would over-produce: per
# (returnflag, linestatus), per returnflag, and the grand total, with
# GROUPING() flags distinguishing "NULL because rolled up" from a NULL
# key (the lossless-aggregation subtlety pivot tables get wrong).
# Revenue stays in DECIMAL(18,2) end-to-end (the house float-parity
# rule) and is emitted in exact cents.  One scan, one expand+aggregate —
# Spark's Expand node replicates each row once per set (3x here), all
# partial-aggregable, so the 100 TB cost is the same one shuffle as a
# plain GROUP BY with a constant-factor map-side expand.
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                    AS BIGINT) AS grain,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        ORDER BY returnflag, linestatus
        """
    )


GROUPING_SETS_REVENUE_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
            AS BIGINT) AS grain,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY returnflag, linestatus
"""

QUERIES["grouping_sets_revenue"] = grouping_sets_revenue
ORACLES["grouping_sets_revenue"] = GROUPING_SETS_REVENUE_SQL
