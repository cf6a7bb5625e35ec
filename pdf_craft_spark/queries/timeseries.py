"""Time-series operator shapes Spark lacks natively: a bounded-interval
range join (bucketized to an equi-join — never a theta/cartesian plan)
and a hypertable-style multi-resolution rollup where the coarse grain is
RE-AGGREGATED from the fine grain's partials rather than rescanning raw
rows (the TimescaleDB continuous-aggregate / materialized-rollup shape).

All timestamps in the testdata load as TIMESTAMP_NTZ, so every bucket and
comparison below is wall-clock arithmetic with no session-timezone
dependence; bucket keys are emitted as strings so both engines render the
identical canonical form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries.dedup import top_k
from pdf_craft_spark.sources import load_table as _t


# --- range join: purchase attribution ---------------------------------------
# For every purchase event: the count and value-sum of the same user's
# CLICK events in the 24 hours strictly before the purchase.  Spark has no
# range-join operator, and the naive `ON c.ts BETWEEN p.ts - 24h AND p.ts`
# join over a non-equi predicate plans as BroadcastNestedLoopJoin — a
# cartesian per user at scale.  The scalable shape: bucket both sides by
# calendar day (bucket width == interval width, so a matching click lives
# in the purchase's day bucket or the one before), explode the probe side
# into exactly those two buckets, equi-join on (user_id, day), and apply
# the exact range predicate as a post-join filter.  Fan-out is a constant
# 2x on the (smaller) purchase side; the join shuffles on a composite key
# and stays a hash/sort-merge join — plan-guarded cartesian-free in
# tests/test_plan_shapes.py.  A click joins at most one of a purchase's
# two probe rows (its own day), so no post-join dedup is needed.
def range_join_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # the 2-bucket probe cover assumes tz-free wall-clock days (every
    # calendar day exactly 24h); an LTZ ts under a DST session timezone
    # has 23h days where a qualifying click lands in bucket day-2 and
    # would be silently dropped — enforce the precondition, don't assume
    if dict(ev.dtypes).get("ts") != "timestamp_ntz":
        raise TypeError(
            "range_join_click_attribution requires a TIMESTAMP_NTZ ts "
            "column; cast explicitly (mind the session timezone) first"
        )
    day = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
        F.col("value").cast("decimal(18,3)").alias("c_value"),
        day.alias("bucket"),
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            F.explode(F.array(day - 1, day)).alias("bucket"),
        )
    )
    return (
        purchases.join(clicks, ["user_id", "bucket"])
        .filter(
            (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
            & (F.col("c_ts") < F.col("p_ts"))
        )
        .groupBy("purchase_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.round(F.sum("c_value").cast("double"), 3).alias("click_value"),
        )
        .orderBy("purchase_id")
    )


# DuckDB plans the direct range predicate as an IEJoin, so the oracle can
# state the semantics without the bucket rewrite.
RANGE_JOIN_CLICK_ATTRIBUTION_SQL = """
SELECT p.event_id AS purchase_id,
       p.user_id,
       count(*) AS n_clicks,
       round(CAST(sum(CAST(c.value AS DECIMAL(18,3))) AS DOUBLE), 3) AS click_value
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 24 HOUR
 AND c.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY 1, 2
ORDER BY 1
"""


# --- hypertable rollup: hourly -> daily continuous aggregate -----------------
# Two-resolution rollup of the events stream: hourly (count, value-sum)
# per event_type, and daily aggregates computed by RE-AGGREGATING the
# hourly partials — the coarse grain's input is m-hours, not n-rows.
# DECIMAL sums make the re-aggregation exact (associative), so the daily
# rows are bit-identical to a direct daily scan — which is exactly what
# the oracle computes, proving the mergeability property.  At 100 TB this
# is the materialized-view ladder: raw -> 1h -> 1d, each level written as
# a table and the next level aggregating it, state bounded by bucket
# count rather than row count.  (In this single-query form Spark's union
# re-derives the hourly branch from its own scan — two scans in the
# executed plan; the ladder deployment materializes each level, and the
# daily branch here still exhibits the stacked partial-agg shape the
# ladder relies on, plan-guarded in tests/test_plan_shapes.py.)
def hypertable_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,3)")).alias("sv"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("bucket_ts")).alias("bucket_ts"),
        F.col("event_type"),
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))

    def _level(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            F.col("bucket_ts").cast("string").alias("bucket"),
            "event_type",
            "n",
            F.round(F.col("sv").cast("double"), 3).alias("sum_value"),
        )

    return (
        _level(hourly, "1h")
        .unionByName(_level(daily, "1d"))
        .orderBy("grain", "bucket", "event_type")
    )


HYPERTABLE_ROLLUP_EVENTS_SQL = """
WITH lvl AS (
  SELECT '1h' AS grain,
         CAST(date_trunc('hour', ts) AS VARCHAR) AS bucket,
         event_type,
         count(*) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE), 3) AS sum_value
  FROM events GROUP BY 2, 3
  UNION ALL
  SELECT '1d' AS grain,
         -- date_trunc('day') is a DATE in DuckDB; render as a midnight
         -- timestamp to match Spark's string form
         CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS bucket,
         event_type,
         count(*) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE), 3) AS sum_value
  FROM events GROUP BY 2, 3
)
SELECT * FROM lvl ORDER BY grain, bucket, event_type
"""


# --- as-of join: latest preceding click per purchase -------------------------
# The third canonical join shape Spark lacks (alongside the range join
# above): for every purchase, the SINGLE most recent click by the same
# user strictly before it, with unbounded lookback.  The naive plan is an
# inequality join + argmax per purchase — quadratic per user.  The
# scalable Spark shape is the merge-sorted-streams formulation: union-tag
# both event kinds, sort each user's stream once, and carry the last seen
# click forward with last(..., ignorenulls) over an unbounded-preceding
# row window.  ONE shuffle (the window partition), ZERO joins, linear in
# the stream — the same plan a 1000-executor cluster wants, because each
# user's stream is processed by exactly one task regardless of lookback
# depth.  Determinism: the window orders by (ts, is_click, event_id) with
# purchases (0) before clicks (1) at equal ts, so an equal-ts click is
# NOT visible to the purchase (strictly-before), and ties among clicks at
# the same ts resolve to the max event_id.
#
# The oracle is genuinely independent: DuckDB's native ASOF LEFT JOIN
# operator finds the greatest c.ts < p.ts, and a follow-up equi-join on
# that timestamp applies the same max-event_id tie-break.  -1 sentinels
# keep the no-preceding-click rows non-nullable in both engines.
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    if dict(ev.dtypes).get("ts") != "timestamp_ntz":
        raise TypeError(
            "asof_join_last_click requires a TIMESTAMP_NTZ ts column; "
            "cast explicitly (mind the session timezone) first"
        )
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "click").cast("int").alias("is_click"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_click", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    click_id = F.when(F.col("is_click") == 1, F.col("event_id"))
    click_ts = F.when(F.col("is_click") == 1, F.col("ts"))
    return (
        tagged.withColumn("click_id", F.last(click_id, ignorenulls=True).over(w))
        .withColumn("click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .filter(F.col("is_click") == 0)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.coalesce("click_id", F.lit(-1)).cast("long").alias("click_id"),
            F.coalesce(
                F.expr("timestampdiff(MICROSECOND, click_ts, ts)"), F.lit(-1)
            )
            .cast("long")
            .alias("gap_us"),
        )
        .orderBy("purchase_id")
    )


ASOF_JOIN_LAST_CLICK_SQL = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), m AS (
  SELECT p.purchase_id, p.user_id, p.p_ts, c.ts AS last_ts
  FROM p ASOF LEFT JOIN c
    ON p.user_id = c.user_id AND p.p_ts > c.ts
)
SELECT m.purchase_id,
       m.user_id,
       coalesce(max(c.event_id), -1) AS click_id,
       coalesce(CAST(date_diff('microsecond', m.last_ts, m.p_ts) AS BIGINT),
                -1) AS gap_us
FROM m LEFT JOIN c
  ON c.user_id = m.user_id AND c.ts = m.last_ts
GROUP BY 1, 2, m.last_ts, m.p_ts
ORDER BY 1
"""


QUERIES = {
    "range_join_click_attribution": range_join_click_attribution,
    "hypertable_rollup_events": hypertable_rollup_events,
    "asof_join_last_click": asof_join_last_click,
}

ORACLES = {
    "range_join_click_attribution": RANGE_JOIN_CLICK_ATTRIBUTION_SQL,
    "hypertable_rollup_events": HYPERTABLE_ROLLUP_EVENTS_SQL,
    "asof_join_last_click": ASOF_JOIN_LAST_CLICK_SQL,
}


# --- hourly anomaly flags (integer-exact z-score) ---------------------------
# Operational anomaly detection over the event stream: per event type,
# hourly counts on a COMPLETE hour scaffold (empty hours count as 0 —
# computing stats only over observed hours would bias the mean exactly
# when traffic drops, the case anomaly detection exists for), flagged
# when the count deviates from the type's mean by more than 3 standard
# deviations.
#
# The z-score test is ALL-INTEGER: with S = sum(c), S2 = sum(c^2) over n
# hours, |c - S/n| > 3*sqrt((n*S2 - S^2)/n^2) is equivalent to
#     (n*c - S)^2 > 9*(n*S2 - S^2)
# so no float (mean, stddev, sqrt) ever enters and cross-engine parity is
# exact by construction.  Magnitude bound: |n*c| must fit BIGINT squared —
# fine up to ~3e9 count-hours; beyond that promote to DECIMAL(38,0) on
# both sides.
#
# Plan shape: one 1-row bounds agg exploded into the hour spine, a tiny
# types x hours scaffold (both sides are bounded dims — the nested-loop
# here is over ~10^2 x 10^5 rows at any corpus size, never corpus-driven),
# one hash agg of the raw events, a left join to zero-fill, a per-type
# stats agg re-aggregated FROM the hourly counts (partials, not raw), and
# a broadcast join of the ~|types| stats row back onto the scaffold.
ANOMALY_Z2 = 9  # flag beyond 3 sigma (squared)


def anomaly_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bounds = ev.selectExpr(
        "date_trunc('hour', min(ts)) AS h0", "date_trunc('hour', max(ts)) AS h1"
    )
    hours = bounds.selectExpr(
        "explode(sequence(h0, h1, interval 1 hour)) AS hour_ts"
    )
    types = ev.select("event_type").distinct()
    scaffold = types.crossJoin(F.broadcast(hours))
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("c"))
    # materialize the zero-filled hourly counts ONCE: both the stats agg
    # and the final flag projection read them, and without this Catalyst
    # re-derives the whole scaffold+agg subtree (second events scan,
    # second nested loop) inside the stats branch.  localCheckpoint is
    # the local-mode stand-in for the persisted hourly rollup table a
    # production deployment keeps anyway (see hypertable_rollup_events).
    full = (
        scaffold.join(counts, ["event_type", "hour_ts"], "left")
        .selectExpr("event_type", "hour_ts", "CAST(coalesce(c, 0) AS BIGINT) AS c")
        .localCheckpoint(eager=True)
    )
    stats = full.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.expr("c * c")).alias("s2"),
    )
    return (
        full.join(F.broadcast(stats), "event_type")
        .selectExpr(
            "event_type",
            "date_format(hour_ts, 'yyyy-MM-dd HH:00') AS hour",
            "c AS n_events",
            f"(n * c - s) * (n * c - s) > {ANOMALY_Z2} * (n * s2 - s * s) AS is_anomaly",
        )
        .orderBy("event_type", "hour")
    )


ANOMALY_HOURLY_EVENTS_SQL = f"""
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
), hours AS (
  SELECT unnest(generate_series((SELECT h0 FROM b), (SELECT h1 FROM b),
                                INTERVAL 1 HOUR)) AS hour_ts
), types AS (
  SELECT DISTINCT event_type FROM events
), scaffold AS (
  SELECT t.event_type, h.hour_ts FROM types t CROSS JOIN hours h
), counts AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts, count(*) AS c
  FROM events GROUP BY 1, 2
), filled AS (
  SELECT s.event_type, s.hour_ts,
         CAST(coalesce(c.c, 0) AS BIGINT) AS c
  FROM scaffold s LEFT JOIN counts c USING (event_type, hour_ts)
), stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS s2
  FROM filled GROUP BY event_type
)
SELECT f.event_type,
       strftime(f.hour_ts, '%Y-%m-%d %H:00') AS hour,
       f.c AS n_events,
       (st.n * f.c - st.s) * (st.n * f.c - st.s)
         > {ANOMALY_Z2} * (st.n * st.s2 - st.s * st.s) AS is_anomaly
FROM filled f JOIN stats st USING (event_type)
ORDER BY f.event_type, hour
"""


QUERIES["anomaly_hourly_events"] = anomaly_hourly_events
ORACLES["anomaly_hourly_events"] = ANOMALY_HOURLY_EVENTS_SQL


# --- gap fill + linear interpolation ----------------------------------------
# The observability backfill shape (Timescale `time_bucket_gapfill` +
# `interpolate`): a sparse hourly count series (a rare event slice —
# errors from a 1%-of-users cohort, so every SF has real gaps) is
# completed onto a dense hour scaffold, and missing hours are LINEARLY
# INTERPOLATED between their nearest known neighbors.  The neighbor
# lookup is last/first(ignorenulls) over the hour-ordered frame — the
# classic gap-fill window idiom — and the interpolation is all-integer:
#   (prev_n·(next_h−h) + next_n·(h−prev_h)) DIV (next_h − prev_h)
# keeps the numerator non-negative (both terms are products of counts and
# forward/backward distances), so floor-vs-truncate division divergence
# between engines can never trigger.  The scaffold spans min..max known
# hour, so interior rows always have both neighbors.  Scale: the window
# is a single ordered frame, but its size is the HOUR SPAN of the corpus
# (8.8k rows/year), not the data volume — the heavy work is the grouped
# count, which shuffles once on the hour key.
GAP_FILL_TYPE = "error"
GAP_FILL_USER_MOD = 97


def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    known = (
        ev.filter(
            (F.col("event_type") == GAP_FILL_TYPE)
            & (F.col("user_id") % GAP_FILL_USER_MOD == 0)
        )
        .selectExpr(
            "timestampdiff(HOUR, TIMESTAMP '1970-01-01 00:00:00',"
            " date_trunc('hour', ts)) AS h"
        )
        .groupBy("h")
        .agg(F.count("*").alias("n_known"))
    )
    scaffold = known.agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    ).selectExpr("explode(sequence(lo, hi)) AS h")
    w_prev = W.orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    w_next = W.orderBy("h").rowsBetween(0, W.unboundedFollowing)
    known_h = F.when(F.col("n_known").isNotNull(), F.col("h"))
    filled = (
        scaffold.join(known, "h", "left")
        .withColumn("prev_n", F.last("n_known", ignorenulls=True).over(w_prev))
        .withColumn("prev_h", F.last(known_h, ignorenulls=True).over(w_prev))
        .withColumn("next_n", F.first("n_known", ignorenulls=True).over(w_next))
        .withColumn("next_h", F.first(known_h, ignorenulls=True).over(w_next))
    )
    return filled.selectExpr(
        "CAST(h AS BIGINT) AS h",
        "CAST(timestampadd(HOUR, h, TIMESTAMP '1970-01-01 00:00:00')"
        " AS STRING) AS hour_ts",
        "CAST(CASE WHEN n_known IS NOT NULL THEN n_known"
        "     ELSE (prev_n * (next_h - h) + next_n * (h - prev_h))"
        "          DIV (next_h - prev_h) END AS BIGINT) AS n",
        "n_known IS NULL AS filled",
    ).orderBy("h")


TIMESERIES_GAP_FILL_SQL = f"""
WITH known AS (
  SELECT date_diff('hour', TIMESTAMP '1970-01-01', date_trunc('hour', ts))
           AS h,
         CAST(count(*) AS BIGINT) AS n_known
  FROM events
  WHERE event_type = '{GAP_FILL_TYPE}' AND user_id % {GAP_FILL_USER_MOD} = 0
  GROUP BY 1
), bounds AS (
  SELECT min(h) AS lo, max(h) AS hi FROM known
), scaffold AS (
  SELECT unnest(generate_series((SELECT lo FROM bounds),
                                (SELECT hi FROM bounds), 1)) AS h
), f AS (
  SELECT s.h, k.n_known,
    last_value(k.n_known IGNORE NULLS) OVER
      (ORDER BY s.h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS prev_n,
    last_value(CASE WHEN k.n_known IS NOT NULL THEN s.h END IGNORE NULLS)
      OVER (ORDER BY s.h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS prev_h,
    first_value(k.n_known IGNORE NULLS) OVER
      (ORDER BY s.h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      AS next_n,
    first_value(CASE WHEN k.n_known IS NOT NULL THEN s.h END IGNORE NULLS)
      OVER (ORDER BY s.h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      AS next_h
  FROM scaffold s LEFT JOIN known k USING (h)
)
SELECT CAST(h AS BIGINT) AS h,
       CAST(TIMESTAMP '1970-01-01' + h * INTERVAL 1 HOUR AS VARCHAR)
         AS hour_ts,
       CAST(CASE WHEN n_known IS NOT NULL THEN n_known
            ELSE (prev_n * (next_h - h) + next_n * (h - prev_h))
                 // (next_h - prev_h) END AS BIGINT) AS n,
       n_known IS NULL AS filled
FROM f
ORDER BY h
"""


QUERIES["timeseries_gap_fill"] = timeseries_gap_fill
ORACLES["timeseries_gap_fill"] = TIMESERIES_GAP_FILL_SQL


# --- rolling 7-day revenue (RANGE frame) ------------------------------------
# The moving-aggregate shape with a true RANGE frame: per order DAY, the
# revenue and order count over that day and the 6 VALUE-preceding days —
# a RANGE frame over the integer day key, so calendar gaps are honored
# (a ROWS frame would silently span them).  Daily pre-aggregation first:
# the window then slides over ≤|days| rows, not the fact table, and the
# DECIMAL partials re-aggregate exactly.  One shuffle for the daily agg;
# the ordered window runs over the day spine.
def rolling_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.selectExpr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS day",
            "CAST(o_totalprice AS DECIMAL(18,2)) AS price",
        )
        .groupBy("day")
        .agg(F.count("*").alias("n"), F.sum("price").alias("rev"))
    )
    w = W.orderBy("day").rangeBetween(-6, 0)
    return (
        daily.withColumn("n_7d", F.sum("n").over(w))
        .withColumn("rev_7d", F.sum("rev").over(w))
        .selectExpr(
            "CAST(day AS BIGINT) AS day",
            "CAST(date_add(DATE '1970-01-01', CAST(day AS INT)) AS STRING)"
            " AS day_date",
            "CAST(n AS BIGINT) AS n",
            "CAST(n_7d AS BIGINT) AS n_7d",
            "round(CAST(rev AS DOUBLE), 2) AS revenue",
            "round(CAST(rev_7d AS DOUBLE), 2) AS revenue_7d",
        )
        .orderBy("day")
    )


ROLLING_REVENUE_7D_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(CAST(DATE '1970-01-01' + to_days(CAST(day AS INT)) AS DATE)
            AS VARCHAR) AS day_date,
       n,
       CAST(sum(n) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING AND
                         CURRENT ROW) AS BIGINT) AS n_7d,
       round(CAST(rev AS DOUBLE), 2) AS revenue,
       round(CAST(sum(rev) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING
                                 AND CURRENT ROW) AS DOUBLE), 2)
         AS revenue_7d
FROM daily
ORDER BY day
"""


QUERIES["rolling_revenue_7d"] = rolling_revenue_7d
ORACLES["rolling_revenue_7d"] = ROLLING_REVENUE_7D_SQL


# --- gaps and islands over the event-id sequence ----------------------------
# The sequence-integrity operator: given an id stream with holes (a 3%
# deterministic drop stands in for lost deliveries), report every
# missing RANGE as (gap_start, gap_end, gap_len) — the gaps half of the
# classic gaps-and-islands pattern, via lag() over the ordered surviving
# ids.  The window orders the GLOBAL id sequence; at scale you'd run it
# per partition-key (e.g. per shard/day) — the per-user variant is
# exactly what sessionize already does with time instead of ids.
GAP_DROP_MOD = 31


def sequence_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").selectExpr("event_id AS id").filter(
        F.col("id") % GAP_DROP_MOD != 0
    )
    w = W.orderBy("id")
    return (
        ev.withColumn("prev", F.lag("id").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("id") - F.col("prev") > 1))
        .selectExpr(
            "CAST(prev + 1 AS BIGINT) AS gap_start",
            "CAST(id - 1 AS BIGINT) AS gap_end",
            "CAST(id - prev - 1 AS BIGINT) AS gap_len",
        )
        .orderBy("gap_start")
    )


SEQUENCE_GAP_DETECTION_SQL = f"""
WITH ids AS (
  SELECT event_id AS id FROM events WHERE event_id % {GAP_DROP_MOD} != 0
), lagged AS (
  SELECT id, lag(id) OVER (ORDER BY id) AS prev FROM ids
)
SELECT CAST(prev + 1 AS BIGINT) AS gap_start,
       CAST(id - 1 AS BIGINT) AS gap_end,
       CAST(id - prev - 1 AS BIGINT) AS gap_len
FROM lagged
WHERE prev IS NOT NULL AND id - prev > 1
ORDER BY gap_start
"""


QUERIES["sequence_gap_detection"] = sequence_gap_detection
ORACLES["sequence_gap_detection"] = SEQUENCE_GAP_DETECTION_SQL


# --- exact linear attribution: largest-remainder allocation ------------------
# Split each purchase's value across its prior-24h clicks so the shares
# SUM BACK EXACTLY — the invariant financial allocation needs and float
# division cannot give.  Work in integer mils (value × 1000): base =
# total DIV n per click, and the remainder goes one mil each to the
# earliest `total % n` clicks (largest-remainder / Hamilton method,
# deterministic via the (ts, event_id) click order).  The candidate
# surface reuses the bucketized range-join shape (equi-join on
# (user, day-bucket), constant 2x probe fan-out, cartesian-free); the
# share window partitions per purchase — high cardinality.  The output
# rolls up per purchase day and carries BOTH the allocated total and the
# source total: the hash check itself proves conservation, and
# max_share_spread_mils ≤ 1 pins the fairness property.
def attribution_linear_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    if dict(ev.dtypes).get("ts") != "timestamp_ntz":
        raise TypeError(
            "attribution_linear_exact requires a TIMESTAMP_NTZ ts column"
        )
    day = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
        day.alias("bucket"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        (F.col("value").cast("decimal(18,3)") * 1000)
        .cast("long")
        .alias("total_mils"),
        F.col("ts").cast("date").alias("p_day"),
        F.explode(F.array(day - 1, day)).alias("bucket"),
    )
    pairs = purchases.join(clicks, ["user_id", "bucket"]).filter(
        (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("c_ts") < F.col("p_ts"))
    )
    wp = W.partitionBy("purchase_id")
    shares = (
        pairs.withColumn(
            "rk", F.row_number().over(wp.orderBy("c_ts", "click_id"))
        )
        .withColumn("n", F.count(F.lit(1)).over(wp))
        .selectExpr(
            "purchase_id",
            "p_day",
            "total_mils",
            "total_mils DIV n + CASE WHEN rk <= total_mils % n"
            " THEN 1 ELSE 0 END AS share_mils",
        )
    )
    per_purchase = shares.groupBy("purchase_id", "p_day", "total_mils").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum("share_mils").alias("alloc_mils"),
        (F.max("share_mils") - F.min("share_mils")).alias("spread"),
    )
    return (
        per_purchase.groupBy("p_day")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("n_clicks").cast("long").alias("n_clicks"),
            F.sum("total_mils").cast("long").alias("value_mils"),
            F.sum("alloc_mils").cast("long").alias("alloc_mils"),
            F.max("spread").cast("long").alias("max_share_spread_mils"),
        )
        .selectExpr(
            "CAST(p_day AS STRING) AS p_day",
            "CAST(n_purchases AS BIGINT) AS n_purchases",
            "n_clicks",
            "value_mils",
            "alloc_mils",
            "max_share_spread_mils",
        )
        .orderBy("p_day")
    )


ATTRIBUTION_LINEAR_EXACT_SQL = """
WITH pairs AS (
  SELECT p.event_id AS purchase_id,
         CAST(CAST(p.ts AS DATE) AS VARCHAR) AS p_day,
         CAST(CAST(p.value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS total_mils,
         c.ts AS c_ts, c.event_id AS click_id
  FROM events p
  JOIN events c
    ON c.user_id = p.user_id
   AND c.event_type = 'click'
   AND c.ts >= p.ts - INTERVAL 24 HOUR
   AND c.ts < p.ts
  WHERE p.event_type = 'purchase'
), shares AS (
  SELECT purchase_id, p_day, total_mils,
         total_mils // count(*) OVER (PARTITION BY purchase_id)
         + CASE WHEN row_number() OVER (PARTITION BY purchase_id
                                        ORDER BY c_ts, click_id)
                     <= total_mils % (count(*) OVER (PARTITION BY purchase_id))
                THEN 1 ELSE 0 END AS share_mils
  FROM pairs
), per_purchase AS (
  SELECT purchase_id, p_day, total_mils,
         count(*) AS n_clicks,
         sum(share_mils) AS alloc_mils,
         max(share_mils) - min(share_mils) AS spread
  FROM shares GROUP BY 1, 2, 3
)
SELECT p_day,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(n_clicks) AS BIGINT) AS n_clicks,
       CAST(sum(total_mils) AS BIGINT) AS value_mils,
       CAST(sum(alloc_mils) AS BIGINT) AS alloc_mils,
       CAST(max(spread) AS BIGINT) AS max_share_spread_mils
FROM per_purchase GROUP BY 1 ORDER BY 1
"""

QUERIES["attribution_linear_exact"] = attribution_linear_exact
ORACLES["attribution_linear_exact"] = ATTRIBUTION_LINEAR_EXACT_SQL


# --- exact sliding-window distinct: trailing-7d active users -----------------
# count(DISTINCT user) OVER a sliding range frame is unsupported (Spark)
# or quadratic (naive self-join) — the scalable exact shape: collapse
# the stream to (user, day) once, explode each row to the 7 target days
# it contributes to (CONSTANT 7x fan-out on the pre-aggregated table,
# not the stream), dedup (user, target_day), count per day.  The state
# per target day is bounded by true distinct users, never raw events;
# HLL trades this exactness for a merge — this op is its exact twin for
# windows small enough to afford it.  Only target days with a full
# 7-day history emit (both engines filter identically).
SLIDE_DAYS = 7


def sliding_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    )
    ud = ev.select("user_id", day.alias("day")).distinct()
    bounds = ud.agg(
        F.min("day").alias("min_day"), F.max("day").alias("max_day")
    )
    exploded = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (SLIDE_DAYS - 1))
        ).alias("target_day"),
    )
    return (
        exploded.distinct()
        .groupBy("target_day")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("target_day") >= F.col("min_day") + (SLIDE_DAYS - 1))
            & (F.col("target_day") <= F.col("max_day"))
        )
        .selectExpr(
            "CAST(target_day AS BIGINT) AS day_no",
            "CAST(n_active_users AS BIGINT) AS n_active_users",
        )
        .orderBy("day_no")
    )


SLIDING_DISTINCT_USERS_7D_SQL = f"""
WITH ud AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
  FROM events
), bounds AS (
  SELECT min(day) AS min_day, max(day) AS max_day FROM ud
), exploded AS (
  SELECT DISTINCT user_id, day + u.i AS target_day
  FROM ud, UNNEST(range(0, {SLIDE_DAYS})) AS u(i)
)
SELECT CAST(target_day AS BIGINT) AS day_no,
       CAST(count(*) AS BIGINT) AS n_active_users
FROM exploded, bounds
WHERE target_day >= min_day + {SLIDE_DAYS - 1} AND target_day <= max_day
GROUP BY 1
ORDER BY 1
"""

QUERIES["sliding_distinct_users_7d"] = sliding_distinct_users_7d
ORACLES["sliding_distinct_users_7d"] = SLIDING_DISTINCT_USERS_7D_SQL


# --- ewma_order_smoothing: the exponential-smoothing recurrence ------------
# EWMA / simple exponential smoothing (Holt's level equation) per customer
# over the order-value series:  s_1 = x_1,  s_t = (x_t + 3 * s_{t-1}) DIV 4
# (alpha = 1/4 as an exact dyadic rational; all values are positive cents,
# so truncating and floor division coincide and both engines agree
# bit-for-bit).  Under integer truncation each step depends on the
# truncated previous state, so the recurrence is NOT window-expressible —
# like token_bucket_throttle and clamped_running_balance it runs as a
# shard-amortized applyInPandas kernel (64 user-hash shards, the
# sequential unit stays the single customer's ordered series), and the
# DuckDB oracle walks the identical recurrence with WITH RECURSIVE, so
# the driver hash PROVES the kernel implements the recurrence exactly.
# Ordering is total ((o_orderdate, o_orderkey)), making the walk
# deterministic under any partitioning.
#
# Scale shape: ONE shuffle (groupBy shard); each shard is an independent
# Arrow batch; per-customer state is O(1).  This is the streaming-ready
# formulation — the same kernel body is what applyInPandasWithState would
# run per micro-batch with s carried in state.
_EWMA_NUM, _EWMA_DEN = 3, 4  # s <- (x + 3 s) / 4


def ewma_order_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "CAST(o_custkey % 64 AS INT) AS shard",
        "o_orderkey",
        # raw NTZ timestamp: used for ORDERING only, and kept tz-free so
        # the kernel's sort matches the oracle's ORDER BY o_orderdate
        # under any session timezone
        "o_orderdate AS od",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["o_custkey", "od", "o_orderkey"]).reset_index(
            drop=True
        )
        out = []
        for cust, grp in pdf.groupby("o_custkey", sort=True):
            s = None
            peak = 0
            for cents in grp["cents"]:
                x = int(cents)
                s = x if s is None else (x + _EWMA_NUM * s) // _EWMA_DEN
                peak = max(peak, s)
            out.append((int(cust), len(grp), s, peak))
        return pd.DataFrame(
            out,
            columns=["o_custkey", "n_orders", "final_ewma_cents", "peak_ewma_cents"],
        )

    return (
        o.groupBy("shard")
        .applyInPandas(
            run,
            schema=(
                "o_custkey long, n_orders long, final_ewma_cents long,"
                " peak_ewma_cents long"
            ),
        )
        .orderBy("o_custkey")
    )


EWMA_ORDER_SMOOTHING_SQL = f"""
WITH RECURSIVE o AS (
  SELECT o_custkey, o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
), walk AS (
  SELECT o_custkey, rn, cents AS s, cents AS peak
  FROM o WHERE rn = 1
  UNION ALL
  SELECT nxt.o_custkey, nxt.rn,
         (nxt.cents + {_EWMA_NUM} * w.s) // {_EWMA_DEN},
         greatest(w.peak, (nxt.cents + {_EWMA_NUM} * w.s) // {_EWMA_DEN})
  FROM walk w JOIN o nxt
    ON nxt.o_custkey = w.o_custkey AND nxt.rn = w.rn + 1
)
SELECT o_custkey,
       CAST(max(rn) AS BIGINT) AS n_orders,
       CAST(max_by(s, rn) AS BIGINT) AS final_ewma_cents,
       CAST(max_by(peak, rn) AS BIGINT) AS peak_ewma_cents
FROM walk
GROUP BY o_custkey
ORDER BY o_custkey
"""

QUERIES["ewma_order_smoothing"] = ewma_order_smoothing
ORACLES["ewma_order_smoothing"] = EWMA_ORDER_SMOOTHING_SQL


# --- cusum_changepoint_revenue: offline change-point detection --------------
# The CUSUM / Kolmogorov-style single change-point statistic over the
# daily revenue series: with S_t the cumulative revenue through day t
# (day index t = 1..n over the DENSE day scaffold — days with no orders
# count as zero revenue, they carry evidence too),
#     D_t = | n * S_t - t * S_n |
# is the integer cross-multiplied form of |S_t/S_n - t/n| (no division,
# no floats); the argmax day is the estimated break point and
# stat_cents = max_t D_t / n normalizes back to cents.  Pure Catalyst:
# one day rollup, a sequence() scaffold join to fill gaps, two window
# prefix sums, one argmax via the house (max_by | deterministic-order
# limit) — everything combinable, nothing sequential, so the detector
# is a constant number of shuffles at any scale.  Liveness is pinned by
# the planted-shift random-corpus test (the argmax lands on the planted
# break; the null corpus scores far lower).
def cusum_changepoint_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "CAST(o_orderdate AS DATE) AS day",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
    )
    daily = o.groupBy("day").agg(F.expr("sum(cents)").alias("rev"))
    bounds = daily.agg(
        F.expr("min(day) AS d0"), F.expr("max(day) AS d1")
    )
    scaffold = bounds.selectExpr(
        "explode(sequence(d0, d1, interval 1 day)) AS day"
    )
    dense = (
        scaffold.join(daily, "day", "left")
        .selectExpr("day", "coalesce(rev, CAST(0 AS BIGINT)) AS rev")
    )
    walk = dense.selectExpr(
        "day",
        "rev",
        "row_number() OVER (ORDER BY day) AS t",
        "sum(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW) AS s_t",
        "sum(rev) OVER () AS s_n",
        "count(1) OVER () AS n",
    ).selectExpr(
        "day", "t", "n", "s_t", "s_n", "abs(n * s_t - t * s_n) AS d_stat"
    )
    return (
        walk.orderBy(F.desc("d_stat"), "day")
        .limit(1)
        .selectExpr(
            "CAST(day AS STRING) AS break_day",
            "CAST(t AS BIGINT) AS t_index",
            "CAST(n AS BIGINT) AS n_days",
            "CAST(d_stat DIV n AS BIGINT) AS stat_cents",
            "CAST((1000000 * t) DIV n AS BIGINT) AS position_ppm",
        )
    )


CUSUM_CHANGEPOINT_REVENUE_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1
), bounds AS (
  SELECT min(day) AS d0, max(day) AS d1 FROM daily
), scaffold AS (
  SELECT CAST(unnest(range(CAST(d0 AS TIMESTAMP),
                           CAST(d1 AS TIMESTAMP) + INTERVAL 1 DAY,
                           INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
), dense AS (
  SELECT s.day, coalesce(d.rev, 0) AS rev
  FROM scaffold s LEFT JOIN daily d ON s.day = d.day
), walk AS (
  SELECT day,
         row_number() OVER (ORDER BY day) AS t,
         count(*) OVER () AS n,
         sum(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS s_t,
         sum(rev) OVER () AS s_n
  FROM dense
)
SELECT CAST(day AS VARCHAR) AS break_day,
       CAST(t AS BIGINT) AS t_index,
       CAST(n AS BIGINT) AS n_days,
       CAST(abs(n * s_t - t * s_n) // n AS BIGINT) AS stat_cents,
       CAST((1000000 * t) // n AS BIGINT) AS position_ppm
FROM walk
ORDER BY abs(n * s_t - t * s_n) DESC, day
LIMIT 1
"""

QUERIES["cusum_changepoint_revenue"] = cusum_changepoint_revenue
ORACLES["cusum_changepoint_revenue"] = CUSUM_CHANGEPOINT_REVENUE_SQL


# --- autocorrelation function of daily revenue (lags 1..7) -------------------
# The stationarity probe a forecasting pipeline runs first.  The fact table
# collapses to one row per day (partial-agg shuffle), so every window below
# runs over the ~2.5k-row compressed series, never the orders — the same
# compression argument as spearman's rank join.  Exactness: daily revenue in
# whole DOLLARS (cents DIV 100) and centering by the TRUNCATED global mean
# c = S DIV n — a defined, engine-identical statistic (bias <= $1 per term)
# that keeps every product within int64 through SF1 (y ~ 1e7, y^2*n ~ 3e17).
# num/den are exact integers; acf is the single final double division.  Lag
# is ROW lag over the observed day sequence (the corpus has near-complete
# calendar coverage; gaps are documented semantics, not noise).
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("c"),
    )
    daily = o.groupBy("day").agg(
        F.expr("sum(c) DIV 100").cast("long").alias("x")
    )
    mean = daily.agg(
        F.expr("sum(x) DIV count(*)").cast("long").alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    w = W.orderBy("day")
    cent = daily.crossJoin(F.broadcast(mean)).select(
        "n", (F.col("x") - F.col("m")).alias("y"), F.col("day")
    )
    lagged = cent.select(
        "n",
        "y",
        *[F.lead("y", k).over(w).alias(f"y{k}") for k in range(1, 8)],
    )
    # ONE pass over the series: all seven lag moments in a single aggregate,
    # unpivoted with stack() — never seven re-scans of the lag plan.
    one = lagged.agg(
        F.sum(F.col("y") * F.col("y")).cast("long").alias("den"),
        *[
            c
            for k in range(1, 8)
            for c in (
                F.count(F.col(f"y{k}")).cast("long").alias(f"n_{k}"),
                F.sum(F.col("y") * F.col(f"y{k}")).cast("long").alias(f"num_{k}"),
            )
        ],
    )
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), n_{k}, num_{k}" for k in range(1, 8)
    )
    return one.selectExpr(
        f"stack(7, {stack_args}) AS (lag, n_pairs, num)", "den"
    ).selectExpr(
        "lag",
        "n_pairs",
        "num",
        "den",
        "CAST(round(1000000 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) AS BIGINT)"
        " AS acf_micro",
    ).orderBy("lag")


def _acf_sql() -> str:
    lag_rows = "\n  UNION ALL\n".join(
        f"""  SELECT CAST({k} AS BIGINT) AS lag,
         CAST(count(y{k}) AS BIGINT) AS n_pairs,
         CAST(sum(y * y{k}) AS BIGINT) AS num,
         CAST(sum(y * y) AS BIGINT) AS den
  FROM lagged"""
        for k in range(1, 8)
    )
    leads = ",\n         ".join(
        f"lead(y, {k}) OVER (ORDER BY day) AS y{k}" for k in range(1, 8)
    )
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) // 100
              AS BIGINT) AS x
  FROM orders GROUP BY 1
), m AS (
  SELECT CAST(sum(x) // count(*) AS BIGINT) AS m FROM daily
), cent AS (
  SELECT day, x - m AS y FROM daily, m
), lagged AS (
  SELECT day, y,
         {leads}
  FROM cent
)
SELECT lag, n_pairs, num, den,
       CAST(round(1000000 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) AS BIGINT)
         AS acf_micro
FROM (
{lag_rows}
)
ORDER BY lag
"""


ACF_DAILY_REVENUE_SQL = _acf_sql()

QUERIES["acf_daily_revenue"] = acf_daily_revenue
ORACLES["acf_daily_revenue"] = ACF_DAILY_REVENUE_SQL


# --- additive seasonal decomposition (period 7, centered MA trend) -----------
# Classic decompose(x) = trend + seasonal + remainder: trend is the 7-row centered
# moving average over the daily ORDER COUNT series (exact milli-scale:
# (sum7*1000) DIV 7), the seasonal index is the mean detrended value per
# weekday slot, where the slot is the CALENDAR-FREE residue epoch_day % 7 —
# deterministic in both engines with no locale/week-start trap.  The window
# runs over the compressed per-day table; output is the 7-row seasonal
# profile plus each slot's support.  Scale: the per-day table is bounded by
# the date domain, so this is a broadcast-size series op at any corpus SF.
def seasonal_decompose_ma7(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _t(spark, sf_dir, "orders")
        .select(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
            .cast("long")
            .alias("ed")
        )
        .groupBy("ed")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    w = W.orderBy("ed").rowsBetween(-3, 3)
    trended = daily.select(
        "ed",
        "x",
        F.count(F.lit(1)).over(w).alias("span"),
        (F.sum("x").over(w) * 1000).alias("sum7_milli"),
    ).where(F.col("span") == 7)
    det = trended.selectExpr(
        "ed % 7 AS slot", "x * 1000 - sum7_milli DIV 7 AS d_milli"
    )
    return (
        det.groupBy("slot")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.expr("sum(d_milli) DIV count(*)").cast("long").alias("seasonal_milli"),
        )
        .selectExpr("CAST(slot AS BIGINT) AS slot", "n_days", "seasonal_milli")
        .orderBy("slot")
    )


SEASONAL_DECOMPOSE_MA7_SQL = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS ed,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
), trended AS (
  SELECT ed, x,
         count(*) OVER (ORDER BY ed ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS span,
         sum(x) OVER (ORDER BY ed ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           * 1000 AS sum7_milli
  FROM daily
), det AS (
  SELECT ed % 7 AS slot, x * 1000 - sum7_milli // 7 AS d_milli
  FROM trended WHERE span = 7
)
SELECT CAST(slot AS BIGINT) AS slot,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(d_milli) // count(*) AS BIGINT) AS seasonal_milli
FROM det
GROUP BY slot
ORDER BY slot
"""

QUERIES["seasonal_decompose_ma7"] = seasonal_decompose_ma7
ORACLES["seasonal_decompose_ma7"] = SEASONAL_DECOMPOSE_MA7_SQL


# --- Durbin-Watson statistic of the detrended daily-revenue series -----------
# Regression diagnostics: after fitting the OLS line to daily revenue, is
# there serial correlation left in the residuals (DW ~ 2 means no)?  Runs
# entirely on the ~2.5k-row compressed day series (same argument as ACF).
# Exactness: slope in TRUNCATED milli-dollars/day b_milli = (1000*Sxy) DIV
# Sxx over mean-centered int64 moments (truncation is a defined, engine-
# identical estimator; 1000*Sxy stays within int64 through SF1), scaled
# residuals r_t = 1000*(y_t - m) - b_milli*(t - tm) in int64, and the two
# quadratic sums in DECIMAL(38,0) (products may be wide; divisions never
# are).  DW = sum(dr^2)/sum(r^2) is the one final double expression.
def durbin_watson_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("c"),
    )
    daily = o.groupBy("day").agg(F.expr("sum(c) DIV 100").cast("long").alias("y"))
    wd = W.orderBy("day")
    # t = 0-based day index over the observed series
    ty = daily.select(
        (F.row_number().over(wd) - 1).cast("long").alias("t"), "y", "day"
    )
    m = ty.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(y) DIV count(*)").cast("long").alias("my"),
        F.expr("sum(t) DIV count(*)").cast("long").alias("mt"),
    )
    cent = ty.crossJoin(F.broadcast(m)).select(
        "day",
        (F.col("t") - F.col("mt")).alias("u"),
        (F.col("y") - F.col("my")).alias("v"),
    )
    mom = cent.agg(
        F.sum(F.col("u") * F.col("v")).cast("long").alias("sxy"),
        F.sum(F.col("u") * F.col("u")).cast("long").alias("sxx"),
    )
    res = cent.crossJoin(F.broadcast(mom)).select(
        "day",
        (
            F.lit(1000) * F.col("v")
            - F.expr("(1000 * sxy) DIV sxx").cast("long") * F.col("u")
        ).alias("r"),
    )
    lagged = res.select(
        "r", (F.col("r") - F.lag("r", 1).over(wd)).alias("dr")
    )
    out = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("r")).alias("ss_r"),
        F.sum(F.col("dr").cast("decimal(38,0)") * F.col("dr")).alias("ss_dr"),
    )
    return out.selectExpr(
        "n_days",
        "CAST(ss_r AS DOUBLE) AS ss_r",
        "CAST(ss_dr AS DOUBLE) AS ss_dr",
        "CAST(round(1000000 * CAST(ss_dr AS DOUBLE) / CAST(ss_r AS DOUBLE))"
        " AS BIGINT) AS dw_micro",
    )


DURBIN_WATSON_TREND_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) // 100
              AS BIGINT) AS y
  FROM orders GROUP BY 1
), ty AS (
  SELECT CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS t, y, day
  FROM daily
), m AS (
  SELECT count(*) AS n,
         CAST(sum(y) // count(*) AS BIGINT) AS my,
         CAST(sum(t) // count(*) AS BIGINT) AS mt
  FROM ty
), cent AS (
  SELECT day, t - mt AS u, y - my AS v FROM ty, m
), mom AS (
  SELECT CAST(sum(u * v) AS BIGINT) AS sxy,
         CAST(sum(u * u) AS BIGINT) AS sxx
  FROM cent
), res AS (
  SELECT day, 1000 * v - CAST((1000 * sxy) // sxx AS BIGINT) * u AS r
  FROM cent, mom
), lagged AS (
  SELECT r, r - lag(r, 1) OVER (ORDER BY day) AS dr FROM res
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(CAST(r AS DECIMAL(38,0)) * r) AS DOUBLE) AS ss_r,
       CAST(sum(CAST(dr AS DECIMAL(38,0)) * dr) AS DOUBLE) AS ss_dr,
       CAST(round(1000000 * CAST(sum(CAST(dr AS DECIMAL(38,0)) * dr) AS DOUBLE)
                  / CAST(sum(CAST(r AS DECIMAL(38,0)) * r) AS DOUBLE)) AS BIGINT)
         AS dw_micro
FROM lagged
"""

QUERIES["durbin_watson_trend"] = durbin_watson_trend
ORACLES["durbin_watson_trend"] = DURBIN_WATSON_TREND_SQL


# --- rolling-origin forecast backtest: naive vs seasonal-naive, SMAPE --------
# The honest way to pick a baseline forecaster: replay history, forecast
# each day from what was known before it, and score symmetric percentage
# error.  Per event_type daily counts (one partial-agg shuffle compresses
# the fact table to ~type x days rows); forecasts are ROW lags 1 and 7 over
# the observed day sequence (gap semantics as in acf_daily_revenue); each
# day with both forecasts available scores term = (2e6*|f-y|) DIV (f+y)
# (0 when both are 0), and the per-type SMAPE is the truncated mean of the
# integer terms — every value-deciding step integer, floor-division
# identical in both engines.
def forecast_backtest_smape(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    w = W.partitionBy("event_type").orderBy("day")
    f = daily.select(
        "event_type",
        "y",
        F.lag("y", 1).over(w).alias("f1"),
        F.lag("y", 7).over(w).alias("f7"),
    ).where(F.col("f1").isNotNull() & F.col("f7").isNotNull())

    def term(fc: str) -> str:
        return (
            f"CASE WHEN {fc} + y = 0 THEN 0 "
            f"ELSE (2000000 * abs({fc} - y)) DIV ({fc} + y) END"
        )

    out = f.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_evals"),
        F.expr(f"sum({term('f1')}) DIV count(*)").cast("long").alias(
            "smape_naive_ppm"
        ),
        F.expr(f"sum({term('f7')}) DIV count(*)").cast("long").alias(
            "smape_snaive_ppm"
        ),
    )
    return out.selectExpr(
        "event_type",
        "n_evals",
        "smape_naive_ppm",
        "smape_snaive_ppm",
        "CASE WHEN smape_snaive_ppm < smape_naive_ppm THEN 'seasonal'"
        " WHEN smape_naive_ppm < smape_snaive_ppm THEN 'naive'"
        " ELSE 'tie' END AS winner",
    ).orderBy("event_type")


FORECAST_BACKTEST_SMAPE_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), f AS (
  SELECT event_type, y,
         lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS f1,
         lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS f7
  FROM daily
), scored AS (
  SELECT event_type, y, f1, f7,
         CASE WHEN f1 + y = 0 THEN 0
              ELSE (2000000 * abs(f1 - y)) // (f1 + y) END AS t1,
         CASE WHEN f7 + y = 0 THEN 0
              ELSE (2000000 * abs(f7 - y)) // (f7 + y) END AS t7
  FROM f WHERE f1 IS NOT NULL AND f7 IS NOT NULL
), agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_evals,
         CAST(sum(t1) // count(*) AS BIGINT) AS smape_naive_ppm,
         CAST(sum(t7) // count(*) AS BIGINT) AS smape_snaive_ppm
  FROM scored GROUP BY event_type
)
SELECT event_type, n_evals, smape_naive_ppm, smape_snaive_ppm,
       CASE WHEN smape_snaive_ppm < smape_naive_ppm THEN 'seasonal'
            WHEN smape_naive_ppm < smape_snaive_ppm THEN 'naive'
            ELSE 'tie' END AS winner
FROM agg
ORDER BY event_type
"""

QUERIES["forecast_backtest_smape"] = forecast_backtest_smape
ORACLES["forecast_backtest_smape"] = FORECAST_BACKTEST_SMAPE_SQL


# --- Holt linear trend (double exponential smoothing) -------------------------
# ewma_order_smoothing tracks a LEVEL; Holt's method also tracks a TREND
# with two COUPLED recurrences —
#   l_t = (3 * 1000*y_t + 7 * (l_{t-1} + b_{t-1})) DIV 10      (alpha=0.3)
#   b_t = (1 * (l_t - l_{t-1}) + 9 * b_{t-1}) DIV 10           (beta=0.1)
# — which no window function can express (each state feeds the other).
# Kernel house pattern: the fact table first compresses JVM-side to the
# per-(priority, WEEK) revenue series (one combinable shuffle), so the
# Arrow kernel walks ~5 series of ~350 weeks, not the raw orders (week
# grain also keeps the WITH RECURSIVE oracle's round count at ~350 —
# the day-grain variant measured 20.7s of pure DuckDB recursion);
# applyInPandas over the 5 priority groups; the oracle is the same
# recurrence as a DuckDB WITH RECURSIVE walk, so the driver hash PROVES
# the kernel implements it.  State is milli-scaled integers with floor
# division (engine-identical); the op also backtests itself: sae_milli
# accumulates |one-step forecast - actual| so the hash pins every
# intermediate state, not just the final one.
HOLT_AN, HOLT_AD = 3, 10  # alpha = 0.3
HOLT_BN, HOLT_BD = 1, 10  # beta = 0.1


def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    daily = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "o_orderpriority AS pri",
            "date_trunc('WEEK', CAST(o_orderdate AS DATE)) AS day",
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
        )
        .groupBy("pri", "day")
        .agg(F.expr("sum(cents) DIV 100").cast("long").alias("y"))
    )

    def tdiv(a: int, d: int) -> int:
        # truncate toward zero — Spark DIV / DuckDB // semantics; python
        # // floors, which diverges once the trend state goes negative
        return -((-a) // d) if a < 0 else a // d

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["pri", "day"]).reset_index(drop=True)
        out = []
        for pri, grp in pdf.groupby("pri", sort=True):
            l = b = None
            sae = 0
            n = 0
            for y in grp["y"]:
                y = int(y)
                n += 1
                if l is None:
                    l, b = 1000 * y, 0
                    continue
                f = l + b  # one-step forecast made BEFORE seeing y
                sae += abs(f - 1000 * y)
                l_new = tdiv(HOLT_AN * 1000 * y + (HOLT_AD - HOLT_AN) * (l + b), HOLT_AD)
                b = tdiv(HOLT_BN * (l_new - l) + (HOLT_BD - HOLT_BN) * b, HOLT_BD)
                l = l_new
            out.append((pri, n, l, b, l + b, sae))
        return pd.DataFrame(
            out,
            columns=[
                "pri", "n_weeks", "level_milli", "trend_milli",
                "forecast_next_milli", "sae_milli",
            ],
        )

    return (
        daily.groupBy((F.col("pri")).alias("_g"))
        .applyInPandas(
            lambda pdf: run(pdf.drop(columns=["_g"]) if "_g" in pdf else pdf),
            schema=(
                "pri string, n_weeks long, level_milli long, trend_milli long,"
                " forecast_next_milli long, sae_milli long"
            ),
        )
        .orderBy("pri")
    )


HOLT_LINEAR_FORECAST_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT o_orderpriority AS pri,
         date_trunc('week', CAST(o_orderdate AS DATE)) AS day,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) // 100
              AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
), seq AS (
  SELECT pri, y,
         row_number() OVER (PARTITION BY pri ORDER BY day) AS rn
  FROM daily
), walk AS (
  SELECT pri, rn, 1000 * y AS l, CAST(0 AS BIGINT) AS b,
         CAST(0 AS BIGINT) AS sae
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT nxt.pri, nxt.rn,
         ({HOLT_AN} * 1000 * nxt.y
          + {HOLT_AD - HOLT_AN} * (w.l + w.b)) // {HOLT_AD},
         ({HOLT_BN} * ((({HOLT_AN} * 1000 * nxt.y
             + {HOLT_AD - HOLT_AN} * (w.l + w.b)) // {HOLT_AD}) - w.l)
          + {HOLT_BD - HOLT_BN} * w.b) // {HOLT_BD},
         w.sae + abs(w.l + w.b - 1000 * nxt.y)
  FROM walk w JOIN seq nxt ON nxt.pri = w.pri AND nxt.rn = w.rn + 1
)
SELECT pri,
       CAST(max(rn) AS BIGINT) AS n_weeks,
       CAST(max_by(l, rn) AS BIGINT) AS level_milli,
       CAST(max_by(b, rn) AS BIGINT) AS trend_milli,
       CAST(max_by(l, rn) + max_by(b, rn) AS BIGINT) AS forecast_next_milli,
       CAST(max_by(sae, rn) AS BIGINT) AS sae_milli
FROM walk
GROUP BY pri
ORDER BY pri
"""

QUERIES["holt_linear_forecast"] = holt_linear_forecast
ORACLES["holt_linear_forecast"] = HOLT_LINEAR_FORECAST_SQL


# --- rolling_p90_exact_7d: exact sliding-window percentile --------------------
# rolling_revenue_7d slides a SUM (combinable, cheap); a sliding
# PERCENTILE is the hard one — it needs each window's full value
# multiset.  The sliding_distinct_users_7d trick generalizes: compress
# the facts to per-(day, value) counts first, then explode each
# compressed row into the <= 7 windows it serves (a CONSTANT 7x on the
# compressed table, bounded by days x value-domain — never 7x the raw
# facts), re-aggregate per (window, value), and locate the p90 by prefix
# sum over each window's value histogram (the median_binned_two_pass
# rank-location machinery, one value-ordered window per day).  Exact
# order statistic, zero raw-row re-scans, all integer: the p90 rank is
# ceil(0.9 * n) = (9n + 9) DIV 10.
def rolling_p90_exact_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "CAST(o_orderdate AS DATE) AS day",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v",
    )
    comp = o.groupBy("day", "v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    days = comp.select("day").distinct().selectExpr("day AS w_day")
    fan = comp.selectExpr(
        "v", "cnt", "explode(sequence(0, 6)) AS k", "date_add(day, k) AS w_day"
    ).join(days, "w_day")
    hist = fan.groupBy("w_day", "v").agg(F.sum("cnt").alias("c"))
    wv = W.partitionBy("w_day").orderBy("v")
    wall = W.partitionBy("w_day")
    located = hist.select(
        "w_day",
        "v",
        F.sum("c").over(wv).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    ).selectExpr("w_day", "v", "cum", "n", "(9 * n + 9) DIV 10 AS thr")
    return (
        located.where(F.col("cum") >= F.col("thr"))
        .groupBy("w_day")
        .agg(
            F.max("n").cast("long").alias("n_window"),
            F.min("v").cast("long").alias("p90_cents"),
        )
        .selectExpr("CAST(w_day AS STRING) AS w_day", "n_window", "p90_cents")
        .orderBy("w_day")
    )


ROLLING_P90_EXACT_7D_SQL = """
WITH comp AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1, 2
), days AS (
  SELECT DISTINCT day AS w_day FROM comp
), fan AS (
  SELECT c.v, c.cnt, c.day + CAST(k AS INT) AS w_day
  FROM comp c, (SELECT unnest(range(7)) AS k) kk
  JOIN days d ON c.day + CAST(k AS INT) = d.w_day
), hist AS (
  SELECT w_day, v, CAST(sum(cnt) AS BIGINT) AS c FROM fan GROUP BY w_day, v
), located AS (
  SELECT w_day, v,
         sum(c) OVER (PARTITION BY w_day ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY w_day) AS n
  FROM hist
)
SELECT CAST(w_day AS VARCHAR) AS w_day,
       CAST(max(n) AS BIGINT) AS n_window,
       CAST(min(v) AS BIGINT) AS p90_cents
FROM located
WHERE cum >= (9 * n + 9) // 10
GROUP BY w_day
ORDER BY w_day
"""

QUERIES["rolling_p90_exact_7d"] = rolling_p90_exact_7d
ORACLES["rolling_p90_exact_7d"] = ROLLING_P90_EXACT_7D_SQL


# --- yoy_mom_growth: calendar-aligned growth rates ----------------------------
# The BI staple done right: month-over-month and year-over-year growth
# must align by CALENDAR month, not by row lag — a missing month must
# yield NULL growth, not silently compare against the wrong period.
# Alignment is a self-equi-join on the (year*12 + month - k) month
# index (k = 1, 12) against the compressed month table — no window
# ordering assumption, no row-lag gap bug; growth is integer basis
# points via exact cent sums and one truncated division per rate.
def yoy_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
    )
    m = o.groupBy("mi").agg(F.sum("cents").cast("long").alias("rev"))
    prev = m.selectExpr("mi + 1 AS mi", "rev AS rev_prev")
    yago = m.selectExpr("mi + 12 AS mi", "rev AS rev_yago")
    return (
        m.join(F.broadcast(prev), "mi", "left")
        .join(F.broadcast(yago), "mi", "left")
        .selectExpr(
            "CAST(mi DIV 12 AS BIGINT) AS year",
            "CAST(mi % 12 + 1 AS BIGINT) AS month",
            "rev",
            "CASE WHEN rev_prev IS NULL THEN NULL"
            " ELSE (10000 * (rev - rev_prev)) DIV rev_prev END AS mom_bp",
            "CASE WHEN rev_yago IS NULL THEN NULL"
            " ELSE (10000 * (rev - rev_yago)) DIV rev_yago END AS yoy_bp",
        )
        .orderBy("year", "month")
    )


YOY_MOM_GROWTH_SQL = """
WITH m AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS BIGINT) AS rev
  FROM orders GROUP BY 1
)
SELECT CAST(m.mi // 12 AS BIGINT) AS year,
       CAST(m.mi % 12 + 1 AS BIGINT) AS month,
       m.rev,
       CASE WHEN p.rev IS NULL THEN NULL
            ELSE CAST((10000 * (m.rev - p.rev)) // p.rev AS BIGINT)
       END AS mom_bp,
       CASE WHEN y.rev IS NULL THEN NULL
            ELSE CAST((10000 * (m.rev - y.rev)) // y.rev AS BIGINT)
       END AS yoy_bp
FROM m
LEFT JOIN m p ON p.mi = m.mi - 1
LEFT JOIN m y ON y.mi = m.mi - 12
ORDER BY year, month
"""

QUERIES["yoy_mom_growth"] = yoy_mom_growth
ORACLES["yoy_mom_growth"] = YOY_MOM_GROWTH_SQL


# --- seasonality_strength_index: is the weekly pattern real? ------------------
# seasonal_decompose_ma7 extracts the period-7 component; this op scores
# HOW MUCH of the detrended variance that component explains — Hyndman's
# seasonality strength F_s = max(0, 1 - Var(remainder)/Var(detrended)),
# the number a forecasting pipeline uses to pick between the naive and
# seasonal-naive baselines (forecast_backtest_smape measures the same
# choice empirically; this is the analytic twin).  Exact recipe: the
# detrended series and slot means reuse the decompose arithmetic
# (centered MA7 trend in milli, truncated slot means); variances are
# DECIMAL(38,0) moment sums around truncated means; the ratio is the
# single final double.  One shuffle (day agg) + tiny windows.
def seasonality_strength_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("c"),
    )
    daily = o.groupBy("day").agg(F.expr("sum(c) DIV 100").cast("long").alias("x"))
    w = W.orderBy("day")
    trended = daily.select(
        "day",
        "x",
        F.count(F.lit(1)).over(w.rowsBetween(-3, 3)).alias("span"),
        (F.sum("x").over(w.rowsBetween(-3, 3)) * 1000).alias("sum7_milli"),
    )
    det = (
        trended.where(F.col("span") == 7)
        .selectExpr(
            "day",
            # truncated MA7 trend — the seasonal_decompose_ma7 recipe
            "1000 * x - sum7_milli DIV 7 AS d_milli",
            "CAST(dayofweek(day) AS BIGINT) AS slot",
        )
    )
    slot_means = det.groupBy("slot").agg(
        F.expr("sum(d_milli) DIV count(*)").cast("long").alias("sm")
    )
    scored = det.join(F.broadcast(slot_means), "slot").selectExpr(
        "d_milli", "d_milli - sm AS r_milli"
    )
    mom = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("d_milli").cast("decimal(38,0)") * F.col("d_milli")).alias(
            "ss_d"
        ),
        F.expr("sum(d_milli)").cast("long").alias("s_d"),
        F.sum(F.col("r_milli").cast("decimal(38,0)") * F.col("r_milli")).alias(
            "ss_r"
        ),
        F.expr("sum(r_milli)").cast("long").alias("s_r"),
    )
    fs = (
        "greatest(CAST(0 AS DOUBLE), 1.0 -"
        " (CAST(ss_r AS DOUBLE) - CAST(s_r AS DOUBLE) * s_r / n)"
        " / (CAST(ss_d AS DOUBLE) - CAST(s_d AS DOUBLE) * s_d / n))"
    )
    return mom.selectExpr(
        "n",
        f"CAST(round(1000000 * ({fs})) AS BIGINT) AS strength_ppm",
    )


SEASONALITY_STRENGTH_INDEX_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) // 100
              AS BIGINT) AS x
  FROM orders GROUP BY 1
), trended AS (
  SELECT day, x,
         count(*) OVER w AS span,
         sum(x) OVER w * 1000 AS sum7_milli
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), det AS (
  SELECT day, 1000 * x - sum7_milli // 7 AS d_milli,
         CAST(dayofweek(day) AS BIGINT) AS slot
  FROM trended WHERE span = 7
), slot_means AS (
  SELECT slot, CAST(sum(d_milli) // count(*) AS BIGINT) AS sm
  FROM det GROUP BY slot
), scored AS (
  SELECT d.d_milli, d.d_milli - s.sm AS r_milli
  FROM det d JOIN slot_means s USING (slot)
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(d_milli AS DECIMAL(38,0)) * d_milli) AS ss_d,
         CAST(sum(d_milli) AS BIGINT) AS s_d,
         sum(CAST(r_milli AS DECIMAL(38,0)) * r_milli) AS ss_r,
         CAST(sum(r_milli) AS BIGINT) AS s_r
  FROM scored
)
SELECT n,
       CAST(round(1000000 * greatest(CAST(0 AS DOUBLE), 1.0 -
            (CAST(ss_r AS DOUBLE) - CAST(s_r AS DOUBLE) * s_r / n)
            / (CAST(ss_d AS DOUBLE) - CAST(s_d AS DOUBLE) * s_d / n)))
         AS BIGINT) AS strength_ppm
FROM mom
"""

QUERIES["seasonality_strength_index"] = seasonality_strength_index
ORACLES["seasonality_strength_index"] = SEASONALITY_STRENGTH_INDEX_SQL


# --- forecast_reconciliation: coherent hierarchical forecasts -----------------
# Forecasting a hierarchy (total = sum of priorities) independently
# yields INCOHERENT numbers whenever the forecaster is non-linear —
# medians don't sum — and dashboards then show two different "next
# week"s.  The op uses the robust median-of-last-5-weeks forecaster at
# BOTH levels (per segment, and directly on the weekly totals), so the
# incoherence is real and measured: bottom-up sum vs the direct
# top-level forecast in exact cents and ppm.  The repair is top-down:
# the direct total forecast is allocated over segments by largest
# remainder on the bottom-up shares, emitted per segment so the hash
# pins the whole reconciled vector, whose sum equals the top forecast
# EXACTLY by construction.  Medians of 5 are exact 3rd order stats via
# a row_number window over each series' last five weeks.  Allocation
# weights are staged in hundred-dollar units (fc_seg DIV 10000) so the
# largest-remainder product fc_top * w stays within int64 through SF10
# (the raw-cents product overflowed at sf0.1 — caught by the 10x parity
# gate); the exact-sum property is unaffected, proportionality is exact
# to one weight quantum (~0.001% here).
def forecast_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS seg",
        "date_trunc('WEEK', CAST(o_orderdate AS DATE)) AS wk",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
    )
    weekly = o.groupBy("seg", "wk").agg(F.sum("cents").cast("long").alias("rev"))
    last5 = top_k(weekly, ["seg"], [F.desc("wk")], 5, "rn")
    wmed = W.partitionBy("seg").orderBy("rev")
    seg_fc = (
        last5.withColumn("mr", F.row_number().over(wmed))
        .where("mr = 3")
        .selectExpr("seg", "rev AS fc_seg")
    )
    totals = weekly.groupBy("wk").agg(F.sum("rev").cast("long").alias("trev"))
    wtm = W.orderBy("trev")
    top_fc = (
        top_k(totals, [], [F.desc("wk")], 5, "rn")
        .withColumn("mr", F.row_number().over(wtm))
        .where("mr = 3")
        .selectExpr("CAST(trev AS BIGINT) AS fc_top")
    )
    tot_seg = seg_fc.agg(F.sum("fc_seg").cast("long").alias("bu_sum"))
    wrem = W.orderBy(F.desc("rem"), "seg")
    wall = W.partitionBy()
    alloc = (
        seg_fc.crossJoin(F.broadcast(top_fc))
        .crossJoin(F.broadcast(tot_seg))
        .selectExpr(
            "seg",
            "fc_seg",
            "fc_top",
            "bu_sum",
            "greatest(CAST(1 AS BIGINT), fc_seg DIV 10000) AS w",
        )
        .selectExpr(
            "seg",
            "fc_seg",
            "fc_top",
            "bu_sum",
            "w",
            "sum(w) OVER () AS wt",
        )
        .selectExpr(
            "seg",
            "fc_seg",
            "fc_top",
            "bu_sum",
            "(fc_top * w) DIV wt AS base",
            "(fc_top * w) % wt AS rem",
        )
        .select(
            "*",
            (F.col("fc_top") - F.sum("base").over(wall)).alias("leftover"),
            F.row_number().over(wrem).alias("rk"),
        )
        .selectExpr(
            "seg",
            "fc_seg AS bottom_up_cents",
            "base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END"
            " AS reconciled_cents",
            "fc_top",
            "bu_sum",
            "fc_top - bu_sum AS discrepancy_cents",
            "CAST((1000000 * abs(fc_top - bu_sum)) DIV fc_top AS BIGINT)"
            " AS discrepancy_ppm",
        )
    )
    return alloc.orderBy("seg")


FORECAST_RECONCILIATION_SQL = """
WITH weekly AS (
  SELECT o_orderpriority AS seg,
         date_trunc('week', CAST(o_orderdate AS DATE)) AS wk,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS BIGINT) AS rev
  FROM orders GROUP BY 1, 2
), last5 AS (
  SELECT seg, rev FROM (
    SELECT seg, rev,
           row_number() OVER (PARTITION BY seg ORDER BY wk DESC) AS rn
    FROM weekly
  ) WHERE rn <= 5
), seg_fc AS (
  SELECT seg, rev AS fc_seg FROM (
    SELECT seg, rev, row_number() OVER (PARTITION BY seg ORDER BY rev) AS mr
    FROM last5
  ) WHERE mr = 3
), top5 AS (
  SELECT trev FROM (
    SELECT trev, row_number() OVER (ORDER BY wk DESC) AS rn
    FROM (SELECT wk, CAST(sum(rev) AS BIGINT) AS trev FROM weekly GROUP BY wk)
  ) WHERE rn <= 5
), top_fc AS (
  SELECT CAST(trev AS BIGINT) AS fc_top FROM (
    SELECT trev, row_number() OVER (ORDER BY trev) AS mr FROM top5
  ) WHERE mr = 3
), tot_seg AS (
  SELECT CAST(sum(fc_seg) AS BIGINT) AS bu_sum FROM seg_fc
), alloc AS (
  SELECT seg, fc_seg, fc_top, bu_sum,
         (fc_top * w) // wt AS base,
         (fc_top * w) % wt AS rem
  FROM (
    SELECT seg, fc_seg, fc_top, bu_sum,
           greatest(CAST(1 AS BIGINT), fc_seg // 10000) AS w,
           sum(greatest(CAST(1 AS BIGINT), fc_seg // 10000)) OVER () AS wt
    FROM seg_fc, top_fc, tot_seg
  )
)
SELECT seg,
       fc_seg AS bottom_up_cents,
       base + CASE WHEN row_number() OVER (ORDER BY rem DESC, seg)
              <= fc_top - sum(base) OVER () THEN 1 ELSE 0 END
         AS reconciled_cents,
       fc_top, bu_sum,
       fc_top - bu_sum AS discrepancy_cents,
       CAST((1000000 * abs(fc_top - bu_sum)) // fc_top AS BIGINT)
         AS discrepancy_ppm
FROM alloc
ORDER BY seg
"""

QUERIES["forecast_reconciliation"] = forecast_reconciliation
ORACLES["forecast_reconciliation"] = FORECAST_RECONCILIATION_SQL


# --- forecast_interval_empirical: honest prediction intervals -----------------
# conformal_interval_orders gives distribution-free intervals for a
# REGRESSION; a forecaster needs the time-series version — empirical
# residual quantiles with a TEMPORAL split (shuffled folds would leak
# the future).  Per event_type: seasonal-naive (lag 7) residuals over
# the training days (all but the last 7), exact p10/p90 of those
# residuals by rank probe (rank = ceil(q*(n+1)), clamped), then the
# interval [fc + r10, fc + r90] is EVALUATED on the 7 held-out days —
# empirical coverage lands near the nominal 80% if residuals are
# stationary, and the op emits the per-type coverage so drift shows up
# as a coverage collapse.  All integer counts; one day-grain shuffle.
FI_HOLDOUT_DAYS = 7


def forecast_interval_empirical(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type AS et", "CAST(ts AS DATE) AS day"
    )
    daily = e.groupBy("et", "day").agg(F.count(F.lit(1)).cast("long").alias("y"))
    w = W.partitionBy("et").orderBy("day")
    wd = W.partitionBy("et").orderBy(F.desc("day"))
    base = daily.select(
        "et",
        "day",
        "y",
        F.lag("y", 7).over(w).alias("fc"),
        F.row_number().over(wd).alias("recency"),
    ).where(F.col("fc").isNotNull())
    train = base.where(F.col("recency") > FI_HOLDOUT_DAYS).selectExpr(
        "et", "y - fc AS r"
    )
    wr = W.partitionBy("et").orderBy("r")
    wn = W.partitionBy("et")
    ranked = train.select(
        "et",
        "r",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    qs = ranked.groupBy("et").agg(
        F.max("n").cast("long").alias("n_train"),
        F.min(
            F.when(
                F.col("rk") >= F.expr("greatest(1, (n + 1) DIV 10)"), F.col("r")
            )
        )
        .cast("long")
        .alias("r_lo"),
        F.min(
            F.when(
                F.col("rk") >= F.expr("least(n, (9 * (n + 1) + 9) DIV 10)"),
                F.col("r"),
            )
        )
        .cast("long")
        .alias("r_hi"),
    )
    ev = base.where(F.col("recency") <= FI_HOLDOUT_DAYS).join(
        F.broadcast(qs), "et"
    )
    return (
        ev.groupBy("et", "n_train", "r_lo", "r_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(
                F.when(
                    (F.col("y") >= F.col("fc") + F.col("r_lo"))
                    & (F.col("y") <= F.col("fc") + F.col("r_hi")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
        .selectExpr(
            "et AS event_type",
            "n_train",
            "r_lo",
            "r_hi",
            "n_eval",
            "n_covered",
            "CAST((1000000 * n_covered) DIV n_eval AS BIGINT) AS coverage_ppm",
        )
        .orderBy("event_type")
    )


FORECAST_INTERVAL_EMPIRICAL_SQL = f"""
WITH daily AS (
  SELECT event_type AS et, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), base AS (
  SELECT et, day, y,
         lag(y, 7) OVER (PARTITION BY et ORDER BY day) AS fc,
         row_number() OVER (PARTITION BY et ORDER BY day DESC) AS recency
  FROM daily
), base_f AS (
  SELECT * FROM base WHERE fc IS NOT NULL
), train AS (
  SELECT et, y - fc AS r FROM base_f WHERE recency > {FI_HOLDOUT_DAYS}
), ranked AS (
  SELECT et, r,
         row_number() OVER (PARTITION BY et ORDER BY r) AS rk,
         count(*) OVER (PARTITION BY et) AS n
  FROM train
), qs AS (
  SELECT et, CAST(max(n) AS BIGINT) AS n_train,
         CAST(min(CASE WHEN rk >= greatest(1, (n + 1) // 10) THEN r END)
           AS BIGINT) AS r_lo,
         CAST(min(CASE WHEN rk >= least(n, (9 * (n + 1) + 9) // 10) THEN r END)
           AS BIGINT) AS r_hi
  FROM ranked GROUP BY et
)
SELECT b.et AS event_type, q.n_train, q.r_lo, q.r_hi,
       CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(CASE WHEN b.y >= b.fc + q.r_lo AND b.y <= b.fc + q.r_hi
            THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       CAST((1000000 * sum(CASE WHEN b.y >= b.fc + q.r_lo
            AND b.y <= b.fc + q.r_hi THEN 1 ELSE 0 END)) // count(*)
         AS BIGINT) AS coverage_ppm
FROM base_f b JOIN qs q USING (et)
WHERE b.recency <= {FI_HOLDOUT_DAYS}
GROUP BY b.et, q.n_train, q.r_lo, q.r_hi
ORDER BY event_type
"""

QUERIES["forecast_interval_empirical"] = forecast_interval_empirical
ORACLES["forecast_interval_empirical"] = FORECAST_INTERVAL_EMPIRICAL_SQL
