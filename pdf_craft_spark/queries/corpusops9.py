"""Batch 9: network-structure + survey-design + causal operators —
degree assortativity of the copurchase graph, cluster-sampling design
effect (equal-take ANOVA), difference-in-differences estimate, and the
cohort LTV curve.

House rules: int64 moment sums everywhere; doubles only in one final
expression.  sqrt IS allowed there (IEEE requires correctly-rounded
sqrt, so identical integer inputs give identical doubles in both
engines — the corpusops3/behavior precedent), unlike ln/exp which carry
no such guarantee."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.sources import load_table as _t


QUERIES: dict = {}
ORACLES: dict = {}


# --- degree assortativity ------------------------------------------------------
# Newman's degree assortativity of the co-purchase graph (same edge
# recipe as sssp_weighted_copurchase: parts co-ordered >= 2 times):
# the Pearson correlation of endpoint degrees over the DIRECTED edge
# list (both orientations, which symmetrizes the undirected graph).
# Positive r = hubs link hubs (social nets); negative = hub-and-spoke
# (catalogs).  Every moment is an int64 sum over edges; r happens once
# in doubles with two correctly-rounded sqrts.
ASSORT_MIN_SUP = 2


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared co-purchase edge artifact (corpusops3) — one edge rule,
    # built once per session (ASSORT_MIN_SUP == its support-2 threshold)
    from pdf_craft_spark.queries.corpusops3 import copurchase_sup_cached

    und = copurchase_sup_cached(spark, sf_dir).selectExpr("u AS pa", "v AS pb")
    edges = und.selectExpr("pa AS src", "pb AS dst").unionAll(
        und.selectExpr("pb AS src", "pa AS dst")
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    ed = (
        edges.join(deg.withColumnRenamed("src", "s2"), F.col("src") == F.col("s2"))
        .selectExpr("dst", "deg AS dx")
        .join(
            deg.selectExpr("src AS d2", "deg AS dy"), F.col("dst") == F.col("d2")
        )
        .select("dx", "dy")
    )
    m = ed.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    return m.selectExpr(
        "m AS n_directed_edges",
        """CAST(round(1000000.0 *
             (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           ) AS BIGINT) AS assortativity_micro""",
    )


GRAPH_DEGREE_ASSORTATIVITY_SQL = """
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= 2
), edges AS (
  SELECT pa AS src, pb AS dst FROM und
  UNION ALL
  SELECT pb AS src, pa AS dst FROM und
), deg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
), ed AS (
  SELECT da.deg AS dx, db.deg AS dy
  FROM edges e
  JOIN deg da ON e.src = da.src
  JOIN deg db ON e.dst = db.src
), m AS (
  SELECT COUNT(*) AS m, SUM(dx) AS sx, SUM(dy) AS sy,
         SUM(dx*dy) AS sxy, SUM(dx*dx) AS sxx, SUM(dy*dy) AS syy
  FROM ed
)
SELECT CAST(m AS BIGINT) AS n_directed_edges,
       CAST(round(1000000.0 *
            (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          ) AS BIGINT) AS assortativity_micro
FROM m
"""

QUERIES["graph_degree_assortativity"] = graph_degree_assortativity
ORACLES["graph_degree_assortativity"] = GRAPH_DEGREE_ASSORTATIVITY_SQL


# --- cluster-sampling design effect ---------------------------------------------
# Survey-design sibling of neyman_allocation: when you sample USERS and
# take their events (cluster sampling), correlated within-user values
# inflate variance by DEFF = 1 + (m - 1) * ICC.  Equal-take design: the
# first m=20 events per user (by ts, event_id) from users with >= 20
# events, so the one-way ANOVA is the balanced case and every sum of
# squares is an exact integer (SSB = sum(s_i^2)/m - S^2/n multiplies
# through by m*n into pure int64 arithmetic).  ICC is the ANOVA
# (MSB - MSW) / (MSB + (m-1) * MSW) estimator.
CLUSTER_TAKE = 20


def cluster_sample_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id",
        "event_id",
        "ts",
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y",
    )
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    taken = (
        ev.withColumn("rn", F.row_number().over(wo))
        .filter(F.col("rn") <= CLUSTER_TAKE)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("mi"),
            F.sum("y").cast("long").alias("s"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("q"),
        )
        .filter(F.col("mi") == CLUSTER_TAKE)
    )
    agg = taken.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("s").cast("long").alias("stot"),
        F.sum("q").cast("long").alias("qtot"),
        F.sum(F.col("s") * F.col("s")).cast("long").alias("ssq"),
    )
    # balanced one-way ANOVA, multiplied through to integers:
    #   n = k*m;  SSB*m*n = n*ssq - m*stot^2;  SSW*m = m*qtot - ssq
    #   MSB = SSB/(k-1), MSW = SSW/(n-k)
    m = CLUSTER_TAKE
    return agg.selectExpr(
        "k AS n_clusters",
        f"CAST(k * {m} AS BIGINT) AS n_events",
        f"""CAST(round(1000000.0 * (
             (CAST(k * {m} AS DOUBLE) * CAST(ssq AS DOUBLE) - {m} * CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
               / ({m} * CAST(k * {m} AS DOUBLE) * (k - 1))
             - (CAST({m} AS DOUBLE) * CAST(qtot AS DOUBLE) - CAST(ssq AS DOUBLE))
               / ({m} * CAST(k * {m} - k AS DOUBLE))
           ) / (
             (CAST(k * {m} AS DOUBLE) * CAST(ssq AS DOUBLE) - {m} * CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
               / ({m} * CAST(k * {m} AS DOUBLE) * (k - 1))
             + ({m} - 1) * (CAST({m} AS DOUBLE) * CAST(qtot AS DOUBLE) - CAST(ssq AS DOUBLE))
               / ({m} * CAST(k * {m} - k AS DOUBLE))
           )) AS BIGINT) AS icc_micro""",
        f"""CAST(round(1000000.0 * (1 + ({m} - 1) * (
             (CAST(k * {m} AS DOUBLE) * CAST(ssq AS DOUBLE) - {m} * CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
               / ({m} * CAST(k * {m} AS DOUBLE) * (k - 1))
             - (CAST({m} AS DOUBLE) * CAST(qtot AS DOUBLE) - CAST(ssq AS DOUBLE))
               / ({m} * CAST(k * {m} - k AS DOUBLE))
           ) / (
             (CAST(k * {m} AS DOUBLE) * CAST(ssq AS DOUBLE) - {m} * CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
               / ({m} * CAST(k * {m} AS DOUBLE) * (k - 1))
             + ({m} - 1) * (CAST({m} AS DOUBLE) * CAST(qtot AS DOUBLE) - CAST(ssq AS DOUBLE))
               / ({m} * CAST(k * {m} - k AS DOUBLE))
           ))) AS BIGINT) AS deff_micro""",
    )


CLUSTER_SAMPLE_DESIGN_EFFECT_SQL = f"""
WITH taken AS (
  SELECT user_id, mi, s, q FROM (
    SELECT user_id, COUNT(*) AS mi, SUM(y) AS s, SUM(y*y) AS q
    FROM (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn <= {CLUSTER_TAKE}
    GROUP BY user_id
  ) WHERE mi = {CLUSTER_TAKE}
), agg AS (
  SELECT COUNT(*) AS k, SUM(s) AS stot, SUM(q) AS qtot, SUM(s*s) AS ssq
  FROM taken
)
SELECT CAST(k AS BIGINT) AS n_clusters,
       CAST(k * {CLUSTER_TAKE} AS BIGINT) AS n_events,
       CAST(round(1000000.0 * (
            (CAST(k * {CLUSTER_TAKE} AS DOUBLE) * CAST(ssq AS DOUBLE) - {CLUSTER_TAKE} * CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
              / ({CLUSTER_TAKE} * CAST(k * {CLUSTER_TAKE} AS DOUBLE) * (k - 1))
            - (CAST({CLUSTER_TAKE} AS DOUBLE) * CAST(qtot AS DOUBLE) - CAST(ssq AS DOUBLE))
              / ({CLUSTER_TAKE} * CAST(k * {CLUSTER_TAKE} - k AS DOUBLE))
          ) / (
            (CAST(k * {CLUSTER_TAKE} AS DOUBLE) * CAST(ssq AS DOUBLE) - {CLUSTER_TAKE} * CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
              / ({CLUSTER_TAKE} * CAST(k * {CLUSTER_TAKE} AS DOUBLE) * (k - 1))
            + ({CLUSTER_TAKE} - 1) * (CAST({CLUSTER_TAKE} AS DOUBLE) * CAST(qtot AS DOUBLE) - CAST(ssq AS DOUBLE))
              / ({CLUSTER_TAKE} * CAST(k * {CLUSTER_TAKE} - k AS DOUBLE))
          )) AS BIGINT) AS icc_micro,
       CAST(round(1000000.0 * (1 + ({CLUSTER_TAKE} - 1) * (
            (CAST(k * {CLUSTER_TAKE} AS DOUBLE) * CAST(ssq AS DOUBLE) - {CLUSTER_TAKE} * CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
              / ({CLUSTER_TAKE} * CAST(k * {CLUSTER_TAKE} AS DOUBLE) * (k - 1))
            - (CAST({CLUSTER_TAKE} AS DOUBLE) * CAST(qtot AS DOUBLE) - CAST(ssq AS DOUBLE))
              / ({CLUSTER_TAKE} * CAST(k * {CLUSTER_TAKE} - k AS DOUBLE))
          ) / (
            (CAST(k * {CLUSTER_TAKE} AS DOUBLE) * CAST(ssq AS DOUBLE) - {CLUSTER_TAKE} * CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
              / ({CLUSTER_TAKE} * CAST(k * {CLUSTER_TAKE} AS DOUBLE) * (k - 1))
            + ({CLUSTER_TAKE} - 1) * (CAST({CLUSTER_TAKE} AS DOUBLE) * CAST(qtot AS DOUBLE) - CAST(ssq AS DOUBLE))
              / ({CLUSTER_TAKE} * CAST(k * {CLUSTER_TAKE} - k AS DOUBLE))
          ))) AS BIGINT) AS deff_micro
FROM agg
"""

QUERIES["cluster_sample_design_effect"] = cluster_sample_design_effect
ORACLES["cluster_sample_design_effect"] = CLUSTER_SAMPLE_DESIGN_EFFECT_SQL


# --- difference-in-differences ---------------------------------------------------
# The causal-inference estimator next to cuped_adjustment (same arming:
# user_id % 2; same pre/post cutoff): DiD = (T_post - T_pre) -
# (C_post - C_pre) on per-user mean event value.  The four cell means
# come from one aggregate of integer cents; the estimate is one double
# expression.  Unlike CUPED (variance reduction for an A/B readout), DiD
# identifies the effect when assignment correlates with level — both
# belong in the toolbox and they cross-check each other.
DID_CUTOFF = "2024-01-15"


def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id % 2 AS arm",
        f"CASE WHEN CAST(ts AS DATE) < DATE '{DID_CUTOFF}' THEN 0 ELSE 1 END AS period",
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
    )
    cells = ev.groupBy("arm", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    one = cells.agg(
        F.sum(F.when((F.col("arm") == 1) & (F.col("period") == 1), F.col("s"))).alias("s11"),
        F.sum(F.when((F.col("arm") == 1) & (F.col("period") == 1), F.col("n"))).alias("n11"),
        F.sum(F.when((F.col("arm") == 1) & (F.col("period") == 0), F.col("s"))).alias("s10"),
        F.sum(F.when((F.col("arm") == 1) & (F.col("period") == 0), F.col("n"))).alias("n10"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("period") == 1), F.col("s"))).alias("s01"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("period") == 1), F.col("n"))).alias("n01"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("period") == 0), F.col("s"))).alias("s00"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("period") == 0), F.col("n"))).alias("n00"),
    )
    return one.selectExpr(
        "CAST(n11 AS BIGINT) AS n_treat_post",
        "CAST(n10 AS BIGINT) AS n_treat_pre",
        "CAST(n01 AS BIGINT) AS n_ctrl_post",
        "CAST(n00 AS BIGINT) AS n_ctrl_pre",
        """CAST(round(1000000.0 * (
             (CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE) - CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE))
             - (CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) - CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE))
           )) AS BIGINT) AS did_micro_cents""",
    )


DID_ESTIMATOR_SQL = f"""
WITH ev AS (
  SELECT user_id % 2 AS arm,
         CASE WHEN CAST(ts AS DATE) < DATE '{DID_CUTOFF}' THEN 0 ELSE 1 END AS period,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
), one AS (
  SELECT SUM(CASE WHEN arm=1 AND period=1 THEN cents END) AS s11,
         SUM(CASE WHEN arm=1 AND period=1 THEN 1 END) AS n11,
         SUM(CASE WHEN arm=1 AND period=0 THEN cents END) AS s10,
         SUM(CASE WHEN arm=1 AND period=0 THEN 1 END) AS n10,
         SUM(CASE WHEN arm=0 AND period=1 THEN cents END) AS s01,
         SUM(CASE WHEN arm=0 AND period=1 THEN 1 END) AS n01,
         SUM(CASE WHEN arm=0 AND period=0 THEN cents END) AS s00,
         SUM(CASE WHEN arm=0 AND period=0 THEN 1 END) AS n00
  FROM ev
)
SELECT CAST(n11 AS BIGINT) AS n_treat_post,
       CAST(n10 AS BIGINT) AS n_treat_pre,
       CAST(n01 AS BIGINT) AS n_ctrl_post,
       CAST(n00 AS BIGINT) AS n_ctrl_pre,
       CAST(round(1000000.0 * (
            (CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE) - CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE))
            - (CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) - CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE))
          )) AS BIGINT) AS did_micro_cents
FROM one
"""

QUERIES["did_estimator"] = did_estimator
ORACLES["did_estimator"] = DID_ESTIMATOR_SQL


# --- cohort LTV curve -------------------------------------------------------------
# cohort_retention counts users; this prices them: customers cohorted by
# FIRST order year, revenue accumulated by years-since-first (age), and
# the curve is cumulative revenue per cohort member in micro-cents —
# the lifetime-value table growth teams steer by.  Cohort assignment is
# one min-window, the curve one cumulative-sum window; everything
# integer until the final per-member division.
def ltv_cohort_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
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
