"""Behavioral analytics over the event stream: ordered funnel conversion
and cohort retention — the two classic product-analytics shapes, both
pure date/integer arithmetic (no floats) so cross-engine parity is exact.

Scale notes: both ops shuffle ONCE on user_id (the funnel's three window
passes share the single partitioning; retention's first-day aggregate
and activity dedup both key on the user), then reduce to tiny outputs —
the state per task is bounded by one user's events.  All timestamps in
the corpus are TIMESTAMP_NTZ, so day arithmetic is wall-clock and
session-timezone-free in both engines.  The cohort LTV curve is
retention's revenue twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries.dedup import md5_prefix_long_sql, top_k
from pdf_craft_spark.queries.graphq import basket_cached, copurchase_sup_cached
from pdf_craft_spark.sources import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# --- ordered funnel ----------------------------------------------------------
# signup -> click -> purchase, each stage's timestamp strictly after the
# previous stage's.  Stage timestamps via conditional mins over ONE
# user partition (three window passes, one shuffle): t_click must follow
# the user's first signup, t_purchase must follow that click.
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    w = W.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t_signup",
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_signup")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .select("user_id", "t_signup", "t_click", "t_purchase")
        .distinct()
    )
    # the microsecond-exact conversion-time sum pins the ORDER semantics
    # (t_click strictly after t_signup, t_purchase strictly after
    # t_click): on a corpus where every user converts, the stage counts
    # alone could not distinguish > from >= or a swapped stage order
    return staged.selectExpr(
        "CAST(count(*) AS BIGINT) AS n_users",
        "CAST(count(t_signup) AS BIGINT) AS n_signup",
        "CAST(count(t_click) AS BIGINT) AS n_click_after_signup",
        "CAST(count(t_purchase) AS BIGINT) AS n_purchase_after_click",
        "CAST(sum(timestampdiff(MICROSECOND, t_signup, t_purchase)) AS BIGINT)"
        " AS sum_us_to_purchase",
    )


FUNNEL_CONVERSION_SQL = """
WITH staged AS (
  SELECT DISTINCT user_id, t_signup, t_click, t_purchase
  FROM (
    SELECT user_id, t_signup, t_click,
           min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
             OVER (PARTITION BY user_id) AS t_purchase
    FROM (
      SELECT user_id, event_type, ts, t_signup,
             min(CASE WHEN event_type = 'click' AND ts > t_signup THEN ts END)
               OVER (PARTITION BY user_id) AS t_click
      FROM (
        SELECT user_id, event_type, ts,
               min(CASE WHEN event_type = 'signup' THEN ts END)
                 OVER (PARTITION BY user_id) AS t_signup
        FROM events
      )
    )
  )
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(t_signup) AS BIGINT) AS n_signup,
       CAST(count(t_click) AS BIGINT) AS n_click_after_signup,
       CAST(count(t_purchase) AS BIGINT) AS n_purchase_after_click,
       CAST(sum(date_diff('microsecond', t_signup, t_purchase)) AS BIGINT)
         AS sum_us_to_purchase
FROM staged
"""


# --- cohort retention --------------------------------------------------------
# Users grouped by first-activity day; distinct active users per
# (cohort, day-offset).  The cohort table is the first-day aggregate
# (one row per user) joined back onto the deduped (user, day) activity —
# both sides key on user_id, so the join rides the same shuffle.
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    activity = ev.distinct()
    first = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        activity.join(first, "user_id")
        .groupBy(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


COHORT_RETENTION_SQL = """
WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), first AS (
  SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY 1
)
SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
       datediff('day', cohort_day, day) AS day_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM activity a JOIN first USING (user_id)
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --- Markov transition matrix ------------------------------------------------
# First-order event-type transition counts + probabilities: for every user,
# order events by (ts, event_id) — the id tie-break makes equal-timestamp
# rows deterministic — take lead(event_type), count (from, to) pairs, and
# derive per-from-state probabilities in integer ppm ((1e6 * n) DIV
# row_total, so no float division enters the comparison).  One shuffle on
# user_id for the lead window; the (from, to) aggregate is a ≤25-row
# reduction, and its row-total window runs over that tiny frame.
TRANSITION_PPM = 1_000_000


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count("*").alias("n"))
    )
    return (
        pairs.withColumn("row_total", F.sum("n").over(W.partitionBy("from_type")))
        .selectExpr(
            "from_type",
            "to_type",
            "CAST(n AS BIGINT) AS n",
            f"CAST(({TRANSITION_PPM} * n) DIV row_total AS BIGINT) AS ppm",
        )
        .orderBy("from_type", "to_type")
    )


EVENT_TRANSITION_MATRIX_SQL = f"""
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
), counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST(({TRANSITION_PPM} * n)
            // sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS ppm
FROM counts
ORDER BY from_type, to_type
"""


# --- market-basket affinity --------------------------------------------------
# Frequent co-purchased part pairs with support and integer-ppm lift —
# the Apriori/FP-growth L2 layer expressed relationally.  The pair
# generation is a self-equi-join on the ORDER key (never on part), so
# fan-out is per-basket (≤ C(basket,2), baskets are ≤13 items here) and
# the plan stays a hash join; MB_MIN_SUP then prunes the hapax pair tail
# before the lift joins.  Lift is all-integer ppm:
# (1e6·support·n_orders) DIV (cnt_a·cnt_b) — no float ratio enters the
# comparison.  The per-part counts attach via two joins on the pruned
# pair list (thousands of rows), and the 1-row order count broadcasts.
MB_MIN_SUP = 2
MB_PPM = 1_000_000


def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the deduped basket list and the supported pair table are the shared
    # session artifacts (graphq) every basket/graph consumer reads —
    # the written tables a production run would load (MB_MIN_SUP == the
    # artifact's support-2 threshold)
    li = basket_cached(spark, sf_dir)
    pairs = copurchase_sup_cached(spark, sf_dir).selectExpr(
        "u AS pa", "v AS pb", "sup AS support"
    )
    cnt = li.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    return (
        pairs.join(
            cnt.selectExpr("l_partkey AS pa", "cnt AS cnt_a"), "pa"
        )
        .join(cnt.selectExpr("l_partkey AS pb", "cnt AS cnt_b"), "pb")
        .join(F.broadcast(n_orders))
        .selectExpr(
            "CAST(pa AS BIGINT) AS pa",
            "CAST(pb AS BIGINT) AS pb",
            "CAST(support AS BIGINT) AS support",
            f"CAST(({MB_PPM} * support * n_orders) DIV (cnt_a * cnt_b)"
            " AS BIGINT) AS lift_ppm",
        )
        .orderBy("pa", "pb")
    )


MARKET_BASKET_PAIRS_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
         CAST(count(*) AS BIGINT) AS support
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {MB_MIN_SUP}
), cnt AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt FROM li GROUP BY 1
), n AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li
)
SELECT CAST(p.pa AS BIGINT) AS pa,
       CAST(p.pb AS BIGINT) AS pb,
       p.support,
       CAST(({MB_PPM} * p.support * n.n_orders) // (ca.cnt * cb.cnt)
            AS BIGINT) AS lift_ppm
FROM pairs p
JOIN cnt ca ON ca.l_partkey = p.pa
JOIN cnt cb ON cb.l_partkey = p.pb
CROSS JOIN n
ORDER BY pa, pb
"""


QUERIES = {
    "funnel_conversion": funnel_conversion,
    "cohort_retention": cohort_retention,
    "event_transition_matrix": event_transition_matrix,
    "market_basket_pairs": market_basket_pairs,
}

ORACLES = {
    "funnel_conversion": FUNNEL_CONVERSION_SQL,
    "cohort_retention": COHORT_RETENTION_SQL,
    "event_transition_matrix": EVENT_TRANSITION_MATRIX_SQL,
    "market_basket_pairs": MARKET_BASKET_PAIRS_SQL,
}


# --- RFM segmentation --------------------------------------------------------
# Recency/Frequency/Monetary quartile segmentation — the classic CRM
# cube.  Per-customer metrics come from one orders aggregate (shuffles on
# o_custkey, DECIMAL monetary so ordering and sums are exact); quartiles
# are ntile(4) windows over the CUSTOMER DIMENSION with explicit
# custkey tie-breaks, so the bucket assignment is deterministic and
# engine-identical.  Scale note: the ntile windows sort the ~|customers|
# dimension rows, not the fact table — at 100 TB you'd swap exact ntile
# for approx-percentile cutoffs; the fact-table work (the aggregate) is
# already the scalable shape.  Recency anchors to the corpus's own max
# order date (1-row broadcast), not wall-clock, so results are stable.
def ntile_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon"),
    )
    anchor = orders.agg(F.max("o_orderdate").alias("anchor"))
    base = per_cust.join(F.broadcast(anchor)).withColumn(
        "rec_days", F.datediff(F.col("anchor"), F.col("last_order"))
    )
    r = F.ntile(4).over(W.orderBy("rec_days", "o_custkey"))
    f = F.ntile(4).over(W.orderBy(F.desc("freq"), F.asc("o_custkey")))
    m = F.ntile(4).over(W.orderBy(F.desc("mon"), F.asc("o_custkey")))
    seg = base.select(
        "o_custkey",
        "mon",
        r.alias("r_q"),
        f.alias("f_q"),
        m.alias("m_q"),
    )
    return (
        seg.groupBy("r_q", "f_q", "m_q")
        .agg(F.count("*").alias("n_customers"), F.sum("mon").alias("rev"))
        .selectExpr(
            "CAST(r_q AS BIGINT) AS r_q",
            "CAST(f_q AS BIGINT) AS f_q",
            "CAST(m_q AS BIGINT) AS m_q",
            "CAST(n_customers AS BIGINT) AS n_customers",
            "round(CAST(rev AS DOUBLE), 2) AS revenue",
        )
        .orderBy("r_q", "f_q", "m_q")
    )


NTILE_RFM_SEGMENTS_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS freq,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
  FROM orders GROUP BY 1
), anchor AS (
  SELECT max(o_orderdate) AS anchor FROM orders
), seg AS (
  SELECT o_custkey, mon,
         ntile(4) OVER (ORDER BY datediff('day', last_order, anchor),
                        o_custkey) AS r_q,
         ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f_q,
         ntile(4) OVER (ORDER BY mon DESC, o_custkey) AS m_q
  FROM per_cust CROSS JOIN anchor
)
SELECT CAST(r_q AS BIGINT) AS r_q,
       CAST(f_q AS BIGINT) AS f_q,
       CAST(m_q AS BIGINT) AS m_q,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(mon) AS DOUBLE), 2) AS revenue
FROM seg
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


QUERIES["ntile_rfm_segments"] = ntile_rfm_segments
ORACLES["ntile_rfm_segments"] = NTILE_RFM_SEGMENTS_SQL


# --- sequential pattern mining (trigram paths) -------------------------------
# Top-k most frequent 3-event behavioral paths: two lead() offsets over
# the SAME per-user (ts, event_id) window the transition matrix uses (one
# shuffle, shared ordering), counted and globally ranked with a
# deterministic (count desc, path asc) tie-break.  The path space is
# |types|³ ≤ 125, so the global rank window runs over a tiny aggregate —
# the event volume only ever flows through the lead window.
PATH_TOPK = 20


def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.withColumn("t2", F.lead("event_type", 1).over(w))
        .withColumn("t3", F.lead("event_type", 2).over(w))
        .filter(F.col("t3").isNotNull())
        .groupBy(
            F.col("event_type").alias("e1"),
            F.col("t2").alias("e2"),
            F.col("t3").alias("e3"),
        )
        .agg(F.count("*").alias("n"))
    )
    order = [F.desc("n"), F.asc("e1"), F.asc("e2"), F.asc("e3")]
    return (
        top_k(tri, [], order, PATH_TOPK, "rk")
        .selectExpr("CAST(rk AS BIGINT) AS rk", "e1", "e2", "e3", "CAST(n AS BIGINT) AS n")
        .orderBy("rk")
    )


EVENT_PATH_TRIGRAMS_SQL = f"""
WITH tri AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
         lead(event_type, 2) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS e3
  FROM events
), counts AS (
  SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
  FROM tri WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
), ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY n DESC, e1, e2, e3) AS BIGINT)
              AS rk
  FROM counts
)
SELECT rk, e1, e2, e3, n
FROM ranked WHERE rk <= {PATH_TOPK}
ORDER BY rk
"""


QUERIES["event_path_trigrams"] = event_path_trigrams
ORACLES["event_path_trigrams"] = EVENT_PATH_TRIGRAMS_SQL


# --- CEP pattern match (MATCH_RECOGNIZE-lite) --------------------------------
# Complex-event-processing over per-user event sequences: each user's
# events collapse to an ordered symbol string (first letter of the
# type, (ts, event_id)-sorted so ties are deterministic), and a regular
# expression — 's[vc]*p': signup, then only views/clicks, then purchase
# — classifies the sequence.  This is the portable core of SQL
# MATCH_RECOGNIZE: the sequence build is one user-keyed aggregate, the
# pattern runs engine-native (Java regex vs RE2 agree on this
# alternation-free class), and per-user state is bounded by that user's
# event count.  Pattern symbols: s=signup c=click v=view p=purchase
# e=error.
CEP_PATTERN = "s[vc]*p"


def cep_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    seqs = ev.groupBy("user_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(ts, event_id, event_type))),"
            " x -> substr(x.event_type, 1, 1)), '')"
        ).alias("seq")
    )
    return seqs.selectExpr(
        "user_id",
        "CAST(length(seq) AS BIGINT) AS seq_len",
        "substr(seq, 1, 20) AS seq_head",
        f"seq RLIKE '{CEP_PATTERN}' AS matched",
    ).orderBy("user_id")


CEP_PATTERN_MATCH_SQL = f"""
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS seq
  FROM events GROUP BY 1
)
SELECT user_id,
       CAST(length(seq) AS BIGINT) AS seq_len,
       substr(seq, 1, 20) AS seq_head,
       regexp_matches(seq, '{CEP_PATTERN}') AS matched
FROM seqs
ORDER BY user_id
"""


QUERIES["cep_pattern_match"] = cep_pattern_match
ORACLES["cep_pattern_match"] = CEP_PATTERN_MATCH_SQL


# --- item-item co-occurrence recommender ---------------------------------------
# The classic "customers also bought" scorer at its scalable shape: dedup
# baskets once (materialized — five downstream branches), pair items via
# the orderkey self equi-join (never all-pairs: co-location on the basket
# key bounds the fan-out by basket size), then cosine = c_ij /
# sqrt(c_i * c_j) per DIRECTED pair and row_number top-3 per item.  All
# ranking inputs are exact: integer counts → one sqrt/division per pair,
# identical IEEE doubles in both engines, ties broken by partner key.  At
# 100 TB the basket self-join shuffles once on orderkey and the top-k
# window shards by item — both keys high-cardinality, no single-reducer
# group.
RECSYS_TOPK = 3
RECSYS_MIN_SUP = 2


def recsys_item_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # directed pair support is symmetric (count of orders holding both
    # items), so the directed pair table is the two orientations of the
    # shared undirected artifact — same support-2 threshold, one build
    li = basket_cached(spark, sf_dir)
    und = copurchase_sup_cached(spark, sf_dir)
    pairs = und.selectExpr("u AS item", "v AS rec", "sup AS support").unionAll(
        und.selectExpr("v AS item", "u AS rec", "sup AS support")
    )
    cnt = li.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    scored = (
        pairs.join(cnt.selectExpr("l_partkey AS item", "cnt AS cnt_i"), "item")
        .join(cnt.selectExpr("l_partkey AS rec", "cnt AS cnt_j"), "rec")
        .select(
            "item",
            "rec",
            "support",
            (
                F.col("support").cast("double")
                / F.sqrt((F.col("cnt_i") * F.col("cnt_j")).cast("double"))
            ).alias("score"),
        )
    )
    return (
        top_k(scored, ["item"], [F.desc("score"), F.asc("rec")], RECSYS_TOPK, "rk")
        .select(
            F.col("item").cast("long").alias("item"),
            F.col("rec").cast("long").alias("rec"),
            F.col("support").cast("long").alias("support"),
            F.round("score", 6).alias("score"),
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("item", "rk")
    )


RECSYS_ITEM_COOCCURRENCE_TOPK_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS item, b.l_partkey AS rec, count(*) AS support
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {RECSYS_MIN_SUP}
), cnt AS (
  SELECT l_partkey, count(*) AS cnt FROM li GROUP BY 1
), scored AS (
  SELECT p.item, p.rec, p.support,
         CAST(p.support AS DOUBLE)
           / sqrt(CAST(ci.cnt * cj.cnt AS DOUBLE)) AS score
  FROM pairs p
  JOIN cnt ci ON p.item = ci.l_partkey
  JOIN cnt cj ON p.rec = cj.l_partkey
), ranked AS (
  SELECT item, rec, support, score,
         row_number() OVER (PARTITION BY item
                            ORDER BY score DESC, rec ASC) AS rk
  FROM scored
)
SELECT CAST(item AS BIGINT) AS item, CAST(rec AS BIGINT) AS rec,
       CAST(support AS BIGINT) AS support,
       round(score, 6) AS score, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {RECSYS_TOPK}
ORDER BY item, rk
"""


QUERIES["recsys_item_cooccurrence_topk"] = recsys_item_cooccurrence_topk
ORACLES["recsys_item_cooccurrence_topk"] = RECSYS_ITEM_COOCCURRENCE_TOPK_SQL


# --- event-stream run-length compaction ---------------------------------------
# Telemetry compaction: collapse each user's consecutive same-type events
# into one row per run (run start/end, length, value sum in exact cents).
# The gaps-and-islands shape: a lag() flags run starts, a running sum of
# the flags numbers the runs, one aggregate per (user, run) — two window
# passes over ONE user-keyed shuffle, no joins.  At 100 TB this is the
# standard pre-aggregation that cuts append-only event tables by the
# stutter factor before they ever reach storage; ordering ties are pinned
# by (ts, event_id) so the compaction is deterministic under any
# partitioning.  Timestamps are emitted via date_format (tz-offset-free,
# the proven cross-engine spelling).
def event_compact_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v_cents"),
    )
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_run",
        F.when(
            F.lag("event_type").over(wo).isNull()
            | (F.lag("event_type").over(wo) != F.col("event_type")),
            1,
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "run_id", F.sum("new_run").over(wo.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        runs.groupBy("user_id", "run_id", "event_type")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "run_start"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "run_end"
            ),
            F.count(F.lit(1)).cast("bigint").alias("run_len"),
            F.sum("v_cents").cast("bigint").alias("value_cents"),
        )
        .selectExpr(
            "user_id",
            "CAST(run_id AS BIGINT) AS run_id",
            "event_type",
            "run_start",
            "run_end",
            "run_len",
            "value_cents",
        )
        .orderBy("user_id", "run_id")
    )


EVENT_COMPACT_CONSECUTIVE_SQL = """
WITH e AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
  FROM events
), f AS (
  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
                 THEN 1 ELSE 0 END AS new_run
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), r AS (
  SELECT *, sum(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS run_id
  FROM f
)
SELECT user_id,
       CAST(run_id AS BIGINT) AS run_id,
       event_type,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS run_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS run_end,
       CAST(count(*) AS BIGINT) AS run_len,
       CAST(sum(v_cents) AS BIGINT) AS value_cents
FROM r GROUP BY user_id, run_id, event_type
ORDER BY user_id, run_id
"""

QUERIES["event_compact_consecutive"] = event_compact_consecutive
ORACLES["event_compact_consecutive"] = EVENT_COMPACT_CONSECUTIVE_SQL


# --- FIFO inventory matching -------------------------------------------------
# The classic "hard problem in SQL" — match each issue of stock to the
# receipts that filled it under first-in-first-out — solved with ZERO
# iteration via the prefix-sum interval identity: number supply units
# per part as the running interval [s_hi - qty, s_hi) and demand units
# as [d_hi - qty, d_hi); FIFO pairs exactly the overlapping unit ranges,
# so the allocation of receipt s to issue d is
#   min(s_hi, d_hi) - max(s_lo, d_lo)  where the intervals overlap.
# Shape: two per-part cumulative windows (one shuffle on partkey — both
# windows and the join share it), then an equi-join on partkey with the
# overlap predicate; each receipt overlaps only the issues its units
# span, so match fan-out is linear in receipts+issues per part, never
# quadratic.  Supplies are odd line numbers, demands even (deterministic
# synthetic roles on the corpus).  Quantities are exact integers; the
# output audits the whole matching: global totals, the conservation
# identity sum(alloc) == sum_part min(supply, demand), and a weighted
# pair checksum that pins WHICH receipt fed WHICH issue.
def fifo_inventory_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey AS pk",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        "CAST(l_quantity AS BIGINT) AS qty",
        "l_linenumber % 2 = 1 AS is_supply",
    )
    w = (
        W.partitionBy("pk", "is_supply")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    )
    ranked = li.select(
        "pk",
        "is_supply",
        "qty",
        F.row_number().over(w).cast("long").alias("rk"),
        F.sum("qty").over(w).alias("hi"),
    ).selectExpr("pk", "is_supply", "rk", "hi - qty AS lo", "hi")
    s = ranked.where("is_supply").selectExpr(
        "pk", "rk AS s_rk", "lo AS s_lo", "hi AS s_hi"
    )
    d = ranked.where("NOT is_supply").selectExpr(
        "pk", "rk AS d_rk", "lo AS d_lo", "hi AS d_hi"
    )
    m = (
        s.join(d, "pk")
        .where((F.col("s_lo") < F.col("d_hi")) & (F.col("d_lo") < F.col("s_hi")))
        .selectExpr(
            "pk",
            "s_rk",
            "d_rk",
            "least(s_hi, d_hi) - greatest(s_lo, d_lo) AS alloc",
        )
    )
    tot = ranked.groupBy("pk").agg(
        F.sum(F.when(F.col("is_supply"), F.col("hi") - F.col("lo")).otherwise(0))
        .alias("ts"),
        F.sum(F.when(~F.col("is_supply"), F.col("hi") - F.col("lo")).otherwise(0))
        .alias("td"),
    )
    audit = m.agg(
        F.countDistinct("pk").cast("long").alias("n_parts_matched"),
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.sum("alloc").cast("long").alias("total_alloc"),
        F.sum(
            F.col("alloc") * ((F.col("s_rk") * 1009 + F.col("d_rk")) % 9973)
        )
        .cast("long")
        .alias("pair_checksum"),
    )
    mins = tot.agg(
        F.sum(F.least("ts", "td")).cast("long").alias("expected_alloc")
    )
    return audit.crossJoin(F.broadcast(mins)).selectExpr(
        "n_parts_matched",
        "n_matches",
        "total_alloc",
        "expected_alloc",
        "total_alloc = expected_alloc AS conservation_ok",
        "pair_checksum",
    )


FIFO_INVENTORY_MATCH_SQL = """
WITH li AS (
  SELECT l_partkey AS pk, l_orderkey, l_linenumber, l_shipdate,
         CAST(l_quantity AS BIGINT) AS qty,
         l_linenumber % 2 = 1 AS is_supply
  FROM lineitem
), ranked AS (
  SELECT pk, is_supply,
         CAST(row_number() OVER w AS BIGINT) AS rk,
         CAST(sum(qty) OVER w - qty AS BIGINT) AS lo,
         CAST(sum(qty) OVER w AS BIGINT) AS hi
  FROM li
  WINDOW w AS (PARTITION BY pk, is_supply
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT pk, rk AS s_rk, lo AS s_lo, hi AS s_hi FROM ranked WHERE is_supply
), d AS (
  SELECT pk, rk AS d_rk, lo AS d_lo, hi AS d_hi FROM ranked WHERE NOT is_supply
), m AS (
  SELECT s.pk, s_rk, d_rk,
         least(s_hi, d_hi) - greatest(s_lo, d_lo) AS alloc
  FROM s JOIN d ON s.pk = d.pk AND s_lo < d_hi AND d_lo < s_hi
), tot AS (
  SELECT pk,
         sum(CASE WHEN is_supply THEN hi - lo ELSE 0 END) AS ts,
         sum(CASE WHEN NOT is_supply THEN hi - lo ELSE 0 END) AS td
  FROM ranked GROUP BY pk
), audit AS (
  SELECT CAST(count(DISTINCT pk) AS BIGINT) AS n_parts_matched,
         CAST(count(*) AS BIGINT) AS n_matches,
         CAST(sum(alloc) AS BIGINT) AS total_alloc,
         CAST(sum(alloc * ((s_rk * 1009 + d_rk) % 9973)) AS BIGINT) AS pair_checksum
  FROM m
), mins AS (
  SELECT CAST(sum(least(ts, td)) AS BIGINT) AS expected_alloc FROM tot
)
SELECT n_parts_matched, n_matches, total_alloc, expected_alloc,
       total_alloc = expected_alloc AS conservation_ok,
       pair_checksum
FROM audit, mins
"""

QUERIES["fifo_inventory_match"] = fifo_inventory_match
ORACLES["fifo_inventory_match"] = FIFO_INVENTORY_MATCH_SQL


# --- apriori_triples: frequent 3-itemsets with candidate pruning --------------
# market_basket_pairs stops at 2-itemsets; the step to size-3 is where
# naive mining explodes (C(items,3) per basket) and where Apriori's
# insight earns its name: a triple can only be frequent if ALL THREE of
# its pairs are, so candidates are pruned with broadcast semi-joins
# against the frequent-pair table BEFORE any counting.  Shape: distinct
# (basket, item) rows; frequent items prune the item table (broadcast
# anti of infrequent); the within-basket ordered self-joins are
# equi-joins on the basket key (per-basket fan-out bounded by basket
# size, <= 7 items here); three semi-joins enforce the downward-closure
# property; one final combinable count.  All integer.
APRIORI_MIN_SUP = 2


def apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    # basket + frequent-pair tables are the shared session artifacts.
    # Dropping infrequent items cannot change pair support (a sup>=2 pair
    # implies both members have item-sup>=2), so the artifact's pair
    # table equals the pairs-over-itf aggregate this op used to rebuild.
    it = basket_cached(spark, sf_dir).selectExpr("l_orderkey AS o", "l_partkey AS p")
    freq_items = (
        it.groupBy("p")
        .agg(F.count(F.lit(1)).alias("sup"))
        .where(F.col("sup") >= APRIORI_MIN_SUP)
        .select("p")
    )
    itf = it.join(F.broadcast(freq_items), "p").select("o", "p")
    a, b, c = itf.alias("a"), itf.alias("b"), itf.alias("c")
    pairs = copurchase_sup_cached(spark, sf_dir).selectExpr("u AS pa", "v AS pb")
    cand = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .join(c, (F.col("a.o") == F.col("c.o")) & (F.col("b.p") < F.col("c.p")))
        .select(
            F.col("a.o").alias("o"),
            F.col("a.p").alias("pa"),
            F.col("b.p").alias("pb"),
            F.col("c.p").alias("pc"),
        )
    )
    pruned = (
        cand.join(F.broadcast(pairs), ["pa", "pb"], "left_semi")
        .join(
            F.broadcast(pairs.selectExpr("pa AS pb", "pb AS pc")),
            ["pb", "pc"],
            "left_semi",
        )
        .join(
            F.broadcast(pairs.selectExpr("pa", "pb AS pc")),
            ["pa", "pc"],
            "left_semi",
        )
    )
    return (
        pruned.groupBy("pa", "pb", "pc")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= APRIORI_MIN_SUP)
        .selectExpr(
            "CAST(pa AS BIGINT) AS pa",
            "CAST(pb AS BIGINT) AS pb",
            "CAST(pc AS BIGINT) AS pc",
            "support",
        )
        .orderBy(F.desc("support"), "pa", "pb", "pc")
    )


APRIORI_TRIPLES_SQL = f"""
WITH it AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), freq_items AS (
  SELECT p FROM it GROUP BY p HAVING count(*) >= {APRIORI_MIN_SUP}
), itf AS (
  SELECT o, p FROM it SEMI JOIN freq_items USING (p)
), pairs AS (
  SELECT a.p AS pa, b.p AS pb
  FROM itf a JOIN itf b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= {APRIORI_MIN_SUP}
), cand AS (
  SELECT a.o, a.p AS pa, b.p AS pb, c.p AS pc
  FROM itf a
  JOIN itf b ON a.o = b.o AND a.p < b.p
  JOIN itf c ON a.o = c.o AND b.p < c.p
), pruned AS (
  SELECT cand.* FROM cand
  SEMI JOIN pairs ON cand.pa = pairs.pa AND cand.pb = pairs.pb
), pruned2 AS (
  SELECT pruned.* FROM pruned
  SEMI JOIN pairs ON pruned.pb = pairs.pa AND pruned.pc = pairs.pb
), pruned3 AS (
  SELECT pruned2.* FROM pruned2
  SEMI JOIN pairs ON pruned2.pa = pairs.pa AND pruned2.pc = pairs.pb
)
SELECT CAST(pa AS BIGINT) AS pa, CAST(pb AS BIGINT) AS pb,
       CAST(pc AS BIGINT) AS pc,
       CAST(count(*) AS BIGINT) AS support
FROM pruned3
GROUP BY pa, pb, pc
HAVING count(*) >= {APRIORI_MIN_SUP}
ORDER BY support DESC, pa, pb, pc
"""

QUERIES["apriori_triples"] = apriori_triples
ORACLES["apriori_triples"] = APRIORI_TRIPLES_SQL


# --- event_order_inversions: is the stream actually in order? -----------------
# Watermark tuning starts with measuring DISORDER: how often does the
# arrival order disagree with event time, per user, and by how much?
# The corpus's event_id sequence is PERFECTLY time-aligned (zero
# inversions — measured, and a zero-row audit teaches nothing), so the
# op simulates the network the way a watermark-sizing exercise does:
# arrival order = event time + a deterministic per-event ingest delay
# in [0, 4h) — mobile-client offline buffering scale, sized so delays
# are commensurate with this corpus's ~5h median intra-user event gap
# and disorder actually occurs (a 60s cap produced 4 inversions in 10k
# events — measured) — (40-bit md5 of the event id — reproducible, engine-
# identical).  One user-keyed window pass over that arrival order: an
# inversion is an adjacent pair whose EVENT time steps backward; the
# report compresses to an inversions-per-user band histogram plus the
# global inversion ppm and the worst backward jump — the numbers that
# pick a withWatermark() delay (worst backward jump is bounded by the
# 4h delay cap by construction, and the measured value shows how
# close the corpus gets).  All integer microseconds.
def event_order_inversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = md5_prefix_long_sql("CAST(event_id AS STRING)", 10, "spark")
    ev = _events(spark, sf_dir).selectExpr(
        "user_id",
        "event_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
        f"unix_micros(CAST(ts AS TIMESTAMP)) + ({h}) % 14400000000 AS arrival_us",
    )
    w = W.partitionBy("user_id").orderBy("arrival_us", "event_id")
    per = (
        ev.select(
            "user_id",
            (F.col("us") - F.lag("us").over(w)).alias("step"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_steps"),
            F.sum(F.when(F.col("step") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_inv"),
            F.min(F.when(F.col("step") < 0, F.col("step"))).alias("worst"),
        )
    )
    hist = per.groupBy(
        F.expr(
            "CASE WHEN n_inv = 0 THEN '0'"
            " WHEN n_inv <= 5 THEN '1-5'"
            " WHEN n_inv <= 20 THEN '6-20'"
            " ELSE '21+' END"
        ).alias("inv_band")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_inv").cast("long").alias("inversions"),
        F.sum("n_steps").cast("long").alias("steps"),
        F.min("worst").alias("worst_us"),
    )
    return hist.selectExpr(
        "inv_band",
        "n_users",
        "inversions",
        "CAST((1000000 * inversions) DIV steps AS BIGINT) AS inversion_ppm",
        "CAST(coalesce(worst_us, 0) AS BIGINT) AS worst_backward_us",
    ).orderBy("inv_band")


EVENT_ORDER_INVERSIONS_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         epoch_us(ts) + CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
           1, 10)) AS BIGINT) % 14400000000 AS arrival_us
  FROM events
), stepped AS (
  SELECT user_id,
         us - lag(us) OVER (PARTITION BY user_id
                            ORDER BY arrival_us, event_id) AS step
  FROM ev
), per AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_steps,
         CAST(sum(CASE WHEN step < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inv,
         min(CASE WHEN step < 0 THEN step END) AS worst
  FROM stepped GROUP BY user_id
)
SELECT CASE WHEN n_inv = 0 THEN '0'
            WHEN n_inv <= 5 THEN '1-5'
            WHEN n_inv <= 20 THEN '6-20'
            ELSE '21+' END AS inv_band,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(n_inv) AS BIGINT) AS inversions,
       CAST((1000000 * sum(n_inv)) // sum(n_steps) AS BIGINT) AS inversion_ppm,
       CAST(coalesce(min(worst), 0) AS BIGINT) AS worst_backward_us
FROM per
GROUP BY 1
ORDER BY 1
"""

QUERIES["event_order_inversions"] = event_order_inversions
ORACLES["event_order_inversions"] = EVENT_ORDER_INVERSIONS_SQL


# --- rank_churn_report: who moved in the league table? ------------------------
# Dashboards show ranks; operators ask what CHANGED.  The report ranks
# suppliers by revenue in the corpus's two date-halves (same midpoint
# recipe as pvm_decomposition), joins the rank tables FULL OUTER (a
# supplier can exist in only one half), and emits the top movers by
# absolute rank delta with deterministic tie-breaks — plus entry/exit
# markers coded as rank 0.  Two combinable aggs + two small sorts over
# the ~100-supplier rank tables; the fact table is scanned once.
RANK_CHURN_TOP = 15


def rank_churn_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_suppkey",
        "CAST(l_shipdate AS DATE) AS d",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
    )
    mid = li.agg(
        F.expr("date_add(min(d), CAST(datediff(max(d), min(d)) / 2 AS INT))").alias(
            "mid"
        )
    )
    per = (
        li.crossJoin(F.broadcast(mid))
        .selectExpr(
            "l_suppkey", "CASE WHEN d < mid THEN 1 ELSE 2 END AS period", "cents"
        )
        .groupBy("l_suppkey", "period")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    w1 = W.partitionBy("period").orderBy(F.desc("rev"), "l_suppkey")
    ranked = per.select(
        "l_suppkey", "period", F.row_number().over(w1).cast("long").alias("rk")
    )
    r1 = ranked.where("period = 1").selectExpr("l_suppkey", "rk AS rk1")
    r2 = ranked.where("period = 2").selectExpr("l_suppkey", "rk AS rk2")
    moved = r1.join(r2, "l_suppkey", "full").selectExpr(
        "l_suppkey",
        "coalesce(rk1, 0) AS rank_before",
        "coalesce(rk2, 0) AS rank_after",
        "abs(coalesce(rk1, coalesce(rk2, 0)) - coalesce(rk2, coalesce(rk1, 0)))"
        " AS rank_delta",
    )
    return (
        moved.orderBy(F.desc("rank_delta"), "l_suppkey")
        .limit(RANK_CHURN_TOP)
        .orderBy(F.desc("rank_delta"), "l_suppkey")
    )


RANK_CHURN_REPORT_SQL = f"""
WITH li AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM lineitem
), mid AS (
  SELECT min(d) + CAST(CAST(date_diff('day', min(d), max(d)) / 2 AS INT)
         AS INTEGER) AS mid
  FROM li
), per AS (
  SELECT l_suppkey, CASE WHEN d < mid THEN 1 ELSE 2 END AS period,
         CAST(sum(cents) AS BIGINT) AS rev
  FROM li, mid GROUP BY 1, 2
), ranked AS (
  SELECT l_suppkey, period,
         CAST(row_number() OVER (PARTITION BY period
              ORDER BY rev DESC, l_suppkey) AS BIGINT) AS rk
  FROM per
), moved AS (
  SELECT coalesce(a.l_suppkey, b.l_suppkey) AS l_suppkey,
         coalesce(a.rk, 0) AS rank_before,
         coalesce(b.rk, 0) AS rank_after,
         abs(coalesce(a.rk, coalesce(b.rk, 0))
             - coalesce(b.rk, coalesce(a.rk, 0))) AS rank_delta
  FROM (SELECT * FROM ranked WHERE period = 1) a
  FULL JOIN (SELECT * FROM ranked WHERE period = 2) b USING (l_suppkey)
)
SELECT l_suppkey, rank_before, rank_after, rank_delta
FROM moved
ORDER BY rank_delta DESC, l_suppkey
LIMIT {RANK_CHURN_TOP}
"""

QUERIES["rank_churn_report"] = rank_churn_report
ORACLES["rank_churn_report"] = RANK_CHURN_REPORT_SQL


# --- cohort LTV curve -------------------------------------------------------------
# cohort_retention counts users; this prices them: customers cohorted by
# FIRST order year, revenue accumulated by years-since-first (age), and
# the curve is cumulative revenue per cohort member in micro-cents —
# the lifetime-value table growth teams steer by.  Cohort assignment is
# one min-window, the curve one cumulative-sum window; everything
# integer until the final per-member division.
def ltv_cohort_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "year(o_orderdate) AS yr",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
    )
    wfirst = W.partitionBy("o_custkey")
    coh = o.withColumn("cohort", F.min("yr").over(wfirst))
    cohort_sizes = (
        coh.groupBy("cohort").agg(
            F.countDistinct("o_custkey").cast("long").alias("cohort_users")
        )
    )
    per_age = coh.selectExpr("cohort", "yr - cohort AS age", "cents").groupBy(
        "cohort", "age"
    ).agg(F.sum("cents").cast("long").alias("rev_cents"))
    wc = W.partitionBy("cohort").orderBy("age").rowsBetween(W.unboundedPreceding, 0)
    return (
        per_age.withColumn("cum_rev_cents", F.sum("rev_cents").over(wc))
        .join(F.broadcast(cohort_sizes), "cohort")
        .selectExpr(
            "CAST(cohort AS BIGINT) AS cohort",
            "CAST(age AS BIGINT) AS age",
            "rev_cents",
            "cum_rev_cents",
            "cohort_users",
            "CAST(1000000 * cum_rev_cents DIV cohort_users AS BIGINT) AS ltv_micro_cents",
        )
    )


LTV_COHORT_CURVE_SQL = """
WITH o AS (
  SELECT o_custkey, year(o_orderdate) AS yr,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), coh AS (
  SELECT *, MIN(yr) OVER (PARTITION BY o_custkey) AS cohort FROM o
), sizes AS (
  SELECT cohort, COUNT(DISTINCT o_custkey) AS cohort_users FROM coh GROUP BY cohort
), per_age AS (
  SELECT cohort, yr - cohort AS age, SUM(cents) AS rev_cents
  FROM coh GROUP BY cohort, yr - cohort
), cum AS (
  SELECT cohort, age, rev_cents,
         SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY age ROWS UNBOUNDED PRECEDING)
             AS cum_rev_cents
  FROM per_age
)
SELECT CAST(c.cohort AS BIGINT) AS cohort,
       CAST(c.age AS BIGINT) AS age,
       CAST(c.rev_cents AS BIGINT) AS rev_cents,
       CAST(c.cum_rev_cents AS BIGINT) AS cum_rev_cents,
       CAST(s.cohort_users AS BIGINT) AS cohort_users,
       CAST(1000000 * c.cum_rev_cents // s.cohort_users AS BIGINT) AS ltv_micro_cents
FROM cum c JOIN sizes s ON c.cohort = s.cohort
"""

QUERIES["ltv_cohort_curve"] = ltv_cohort_curve
ORACLES["ltv_cohort_curve"] = LTV_COHORT_CURVE_SQL
