"""Distributed classical inference, exactly: Mann-Whitney U (tie-corrected),
jackknife variance of a ratio estimator, one-way ANOVA F, Kendall tau-b, and
Theil-Sen robust slope.

House rules (see statsq.py): every value-deciding intermediate is integer or
DECIMAL; doubles appear only in the final projection as a single expression
over identical exact inputs (IEEE-deterministic in both engines).  Engine
trap pinned this session: ``DIV`` on DECIMAL(38,0) silently overflows to
BIGINT in Spark and DuckDB ``//`` on HUGEINT returns DOUBLE — so every
integral DIVISION here keeps both operands within int64 (products may go
DECIMAL(38,0)/HUGEINT; divisions may not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.sources import load_table as _t


QUERIES: dict = {}
ORACLES: dict = {}


# --- Mann-Whitney U (Wilcoxon rank-sum), tie-corrected ----------------------
# Distribution-free "are URGENT orders priced differently from LOW?" — the
# workhorse two-sample test when normality is off the table.  Ranks use the
# doubled-average-rank identity (2*avg_rank = 2*cnt_below + cnt + 1, always
# integral), computed over the COMPRESSED distinct-value table (cents ->
# count), never the fact table: at 100 TB the rank window runs over at most
# |price domain| rows.  U, its null mean, and the tie-corrected variance
# Var(U) = na*nb*((n+1)*n*(n-1) - SUM(t^3-t)) / (12*n*(n-1)) are assembled
# from exact integer aggregates (the big product in DECIMAL(38,0)); the
# z-score is the one final double expression.  Single shuffle on the value
# key plus one global agg.
MW_A = "1-URGENT"
MW_B = "5-LOW"


def mannwhitney_u_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority").isin(MW_A, MW_B))
        .select(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("x"),
            F.when(F.col("o_orderpriority") == MW_A, 1)
            .otherwise(0)
            .cast("long")
            .alias("is_a"),
        )
    )
    vals = o.groupBy("x").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("is_a").alias("cnt_a")
    )
    w = W.orderBy("x").rowsBetween(W.unboundedPreceding, -1)
    ranked = vals.select(
        "cnt",
        "cnt_a",
        (2 * F.coalesce(F.sum("cnt").over(w), F.lit(0)) + F.col("cnt") + 1).alias(
            "u2"
        ),
        (F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias("t3t"),
    )
    agg = ranked.agg(
        F.sum(F.col("cnt_a") * F.col("u2")).cast("long").alias("r_a2"),
        F.sum("cnt_a").cast("long").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("long").alias("n_b"),
        F.sum("t3t").cast("long").alias("t_sum"),
    )
    return agg.selectExpr(
        "n_a",
        "n_b",
        "t_sum",
        "CAST(r_a2 - n_a * (n_a + 1) AS BIGINT) AS u_a_x2",
        "CAST(n_a * n_b AS BIGINT) AS mu_x2",
        """CAST(round(
             1000000 * (CAST(r_a2 - n_a * (n_a + 1) AS DOUBLE) - CAST(n_a * n_b AS DOUBLE)) / 2
             / sqrt(
                 CAST(CAST(n_a AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0))
                      * (CAST(n_a + n_b + 1 AS DECIMAL(38,0))
                         * CAST(n_a + n_b AS DECIMAL(38,0))
                         * CAST(n_a + n_b - 1 AS DECIMAL(38,0))
                         - CAST(t_sum AS DECIMAL(38,0))) AS DOUBLE)
                 / CAST(12 * (n_a + n_b) * (n_a + n_b - 1) AS DOUBLE)
             )
           ) AS BIGINT) AS z_micro""",
    )


MANNWHITNEY_U_PRIORITY_SQL = f"""
WITH o AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         CASE WHEN o_orderpriority = '{MW_A}' THEN 1 ELSE 0 END AS is_a
  FROM orders
  WHERE o_orderpriority IN ('{MW_A}', '{MW_B}')
), vals AS (
  SELECT x, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(is_a) AS BIGINT) AS cnt_a
  FROM o GROUP BY x
), ranked AS (
  SELECT cnt, cnt_a,
         2 * coalesce(sum(cnt) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS u2,
         cnt * cnt * cnt - cnt AS t3t
  FROM vals
), agg AS (
  SELECT CAST(sum(cnt_a * u2) AS BIGINT) AS r_a2,
         CAST(sum(cnt_a) AS BIGINT) AS n_a,
         CAST(sum(cnt - cnt_a) AS BIGINT) AS n_b,
         CAST(sum(t3t) AS BIGINT) AS t_sum
  FROM ranked
)
SELECT n_a, n_b, t_sum,
       CAST(r_a2 - n_a * (n_a + 1) AS BIGINT) AS u_a_x2,
       CAST(n_a * n_b AS BIGINT) AS mu_x2,
       CAST(round(
         1000000 * (CAST(r_a2 - n_a * (n_a + 1) AS DOUBLE) - CAST(n_a * n_b AS DOUBLE)) / 2
         / sqrt(
             CAST(CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
                  * (CAST(n_a + n_b + 1 AS HUGEINT)
                     * CAST(n_a + n_b AS HUGEINT)
                     * CAST(n_a + n_b - 1 AS HUGEINT)
                     - CAST(t_sum AS HUGEINT)) AS DOUBLE)
             / CAST(12 * (n_a + n_b) * (n_a + n_b - 1) AS DOUBLE)
         )
       ) AS BIGINT) AS z_micro
FROM agg
"""

QUERIES["mannwhitney_u_priority"] = mannwhitney_u_priority
ORACLES["mannwhitney_u_priority"] = MANNWHITNEY_U_PRIORITY_SQL


# --- jackknife variance of a ratio estimator --------------------------------
# The delete-one jackknife for the NONLINEAR statistic revenue/quantity per
# (returnflag, linestatus) — the estimator a plain variance formula can't
# serve.  Shape: one partial-agg shuffle for (S_r, S_q, n), a broadcast join
# back, then each row's leave-one-out ratio theta_i = (S_r - r_i)*100 DIV
# (S_q - q_i) as an int64 scaled integer (deterministic truncation in both
# engines; S_r*100 stays within int64 through SF>=1 — revenue is metered in
# 1e-4 dollars).  The spread aggregates as exact integer sums of deviations
# from the point estimate; only the final standard-error projection is
# double.  Two shuffles total, both partial-aggregated.
def jackknife_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        (
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
            * (100 - (F.col("l_discount").cast("decimal(18,2)") * 100).cast("long"))
        ).alias("r"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    tot = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("r").cast("long").alias("sr"),
        F.sum("q").cast("long").alias("sq"),
        F.count(F.lit(1)).alias("n"),
    )
    loo = li.join(F.broadcast(tot), ["l_returnflag", "l_linestatus"]).selectExpr(
        "l_returnflag",
        "l_linestatus",
        "n",
        "sr",
        "sq",
        "((sr - r) * 100) DIV (sq - q) - (sr * 100) DIV sq AS d",
    )
    return (
        loo.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.max("n").alias("n"),
            F.max(F.expr("(sr * 100) DIV sq")).alias("theta_c"),
            F.sum("d").cast("long").alias("sd"),
            F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
        )
        .selectExpr(
            "l_returnflag",
            "l_linestatus",
            "CAST(n AS BIGINT) AS n",
            "theta_c",
            "sd",
            "sdd",
            """CAST(round(1000 * sqrt(
                 CAST(CAST(n - 1 AS DECIMAL(38,0))
                      * (CAST(n AS DECIMAL(38,0)) * CAST(sdd AS DECIMAL(38,0))
                         - CAST(sd AS DECIMAL(38,0)) * CAST(sd AS DECIMAL(38,0)))
                      AS DOUBLE)
                 / CAST(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))
                        * CAST(n AS DECIMAL(38,0)) AS DOUBLE)
               )) AS BIGINT) AS jk_se_milli""",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


JACKKNIFE_RATIO_CI_SQL = """
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)) AS r,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem
), tot AS (
  SELECT l_returnflag, l_linestatus,
         CAST(sum(r) AS BIGINT) AS sr, CAST(sum(q) AS BIGINT) AS sq,
         CAST(count(*) AS BIGINT) AS n
  FROM li GROUP BY 1, 2
), loo AS (
  SELECT li.l_returnflag, li.l_linestatus, n, sr, sq,
         ((sr - r) * 100) // (sq - q) - (sr * 100) // sq AS d
  FROM li JOIN tot USING (l_returnflag, l_linestatus)
)
SELECT l_returnflag, l_linestatus,
       CAST(max(n) AS BIGINT) AS n,
       CAST(max((sr * 100) // sq) AS BIGINT) AS theta_c,
       CAST(sum(d) AS BIGINT) AS sd,
       CAST(sum(d * d) AS BIGINT) AS sdd,
       CAST(round(1000 * sqrt(
         CAST(CAST(max(n) - 1 AS HUGEINT)
              * (CAST(max(n) AS HUGEINT) * CAST(sum(d * d) AS HUGEINT)
                 - CAST(sum(d) AS HUGEINT) * CAST(sum(d) AS HUGEINT)) AS DOUBLE)
         / CAST(CAST(max(n) AS HUGEINT) * CAST(max(n) AS HUGEINT)
                * CAST(max(n) AS HUGEINT) AS DOUBLE)
       )) AS BIGINT) AS jk_se_milli
FROM loo
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

QUERIES["jackknife_ratio_ci"] = jackknife_ratio_ci
ORACLES["jackknife_ratio_ci"] = JACKKNIFE_RATIO_CI_SQL


# --- one-way ANOVA F (exact integer sums of squares) ------------------------
# Does brand explain retail price?  Sums of squares in cents, EXACT via the
# shift-by-reference trick: deviations from a fixed integer reference
# (ANOVA_REF cents, the domain midpoint) keep every square-sum within int64
# far past SF1 (|x-ref| <= 5e3 on this corpus, so S'_g^2*1000 <= ~1.6e16 at
# SF0.1 and ~1.6e18 at SF1); SSB/SSW are shift-invariant.  The grand term
# divides in two exact steps (quotient + scaled remainder) so no DIV operand
# leaves int64.  One partial-agg shuffle over brand; everything after is a
# 25-row reduction.  At true scale the only growing quantity is S' — shard
# the reference per partition range and the trick extends indefinitely.
ANOVA_REF = 95000  # cents; corpus price domain is [90000, 99990]


def anova_f_price_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_brand",
        (
            (F.col("p_retailprice").cast("decimal(18,2)") * 100).cast("long")
            - ANOVA_REF
        ).alias("x"),
    )
    g = p.groupBy("p_brand").agg(
        F.sum("x").cast("long").alias("sg"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("qg"),
        F.count(F.lit(1)).alias("ng"),
    )
    agg = g.agg(
        F.sum(F.expr("(sg * sg * 1000) DIV ng")).cast("long").alias("a_milli"),
        F.sum("sg").cast("long").alias("s"),
        F.sum("qg").cast("long").alias("q"),
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return agg.selectExpr(
        "k",
        "n",
        """CAST(
             a_milli - (((s * s) DIV n) * 1000 + ((s * s - ((s * s) DIV n) * n) * 1000) DIV n)
           AS BIGINT) AS ssb_milli""",
        "CAST(q * 1000 - a_milli AS BIGINT) AS ssw_milli",
        """CAST(round(
             1000000
             * (CAST(a_milli - (((s * s) DIV n) * 1000 + ((s * s - ((s * s) DIV n) * n) * 1000) DIV n) AS DOUBLE)
                / CAST(k - 1 AS DOUBLE))
             / (CAST(q * 1000 - a_milli AS DOUBLE) / CAST(n - k AS DOUBLE))
           ) AS BIGINT) AS f_micro""",
    )


ANOVA_F_PRICE_BY_BRAND_SQL = f"""
WITH p AS (
  SELECT p_brand,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) - {ANOVA_REF} AS x
  FROM part
), g AS (
  SELECT p_brand, CAST(sum(x) AS BIGINT) AS sg,
         CAST(sum(x * x) AS BIGINT) AS qg, CAST(count(*) AS BIGINT) AS ng
  FROM p GROUP BY 1
), agg AS (
  SELECT CAST(sum((sg * sg * 1000) // ng) AS BIGINT) AS a_milli,
         CAST(sum(sg) AS BIGINT) AS s, CAST(sum(qg) AS BIGINT) AS q,
         CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k
  FROM g
)
SELECT k, n,
       CAST(a_milli - (((s * s) // n) * 1000 + ((s * s - ((s * s) // n) * n) * 1000) // n)
            AS BIGINT) AS ssb_milli,
       CAST(q * 1000 - a_milli AS BIGINT) AS ssw_milli,
       CAST(round(
         1000000
         * (CAST(a_milli - (((s * s) // n) * 1000 + ((s * s - ((s * s) // n) * n) * 1000) // n) AS DOUBLE)
            / CAST(k - 1 AS DOUBLE))
         / (CAST(q * 1000 - a_milli AS DOUBLE) / CAST(n - k AS DOUBLE))
       ) AS BIGINT) AS f_micro
FROM agg
"""

QUERIES["anova_f_price_by_brand"] = anova_f_price_by_brand
ORACLES["anova_f_price_by_brand"] = ANOVA_F_PRICE_BY_BRAND_SQL


# --- Kendall tau-b per brand -------------------------------------------------
# Concordance between size and price within each brand, with the tie-aware
# tau-b denominator.  Pair enumeration is an EQUI-join on brand plus a key
# inequality — bounded-group semantics (groups here are ~100 rows; the
# O(g^2) fan-out is the textbook exact method and stays shuffle-local per
# brand).  At 100 TB with unbounded groups you'd switch to the merge-sort
# inversion count per group (same statistic, O(g log g)); this entry is the
# exact ground truth that variant would be checked against.  Counts are
# pure integers; tau_b is the single final double (sqrt of exact products).
def kendall_tau_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_brand",
        F.col("p_partkey").alias("k"),
        F.col("p_size").cast("long").alias("x"),
        (F.col("p_retailprice").cast("decimal(18,2)") * 100).cast("long").alias("y"),
    )
    a, b = p.alias("a"), p.alias("b")
    pairs = a.join(b, "p_brand").where(F.expr("a.k < b.k")).selectExpr(
        "p_brand",
        "CAST(sign(a.x - b.x) AS BIGINT) AS dx",
        "CAST(sign(a.y - b.y) AS BIGINT) AS dy",
    )
    return (
        pairs.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n0"),
            F.sum(F.expr("CASE WHEN dx * dy = 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("nc"),
            F.sum(F.expr("CASE WHEN dx * dy = -1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("nd"),
            F.sum(F.expr("CASE WHEN dx = 0 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("tx"),
            F.sum(F.expr("CASE WHEN dy = 0 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("ty"),
        )
        .selectExpr(
            "p_brand",
            "n0",
            "nc",
            "nd",
            "tx",
            "ty",
            """CASE WHEN (n0 - tx) * (n0 - ty) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(round(1000000 * CAST(nc - nd AS DOUBLE)
                    / sqrt(CAST((n0 - tx) AS DOUBLE) * CAST((n0 - ty) AS DOUBLE)))
               AS BIGINT) END AS tau_b_micro""",
        )
        .orderBy("p_brand")
    )


KENDALL_TAU_PRICE_SIZE_SQL = """
WITH p AS (
  SELECT p_brand, p_partkey AS k, CAST(p_size AS BIGINT) AS x,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM part
), pairs AS (
  SELECT a.p_brand,
         CAST(sign(a.x - b.x) AS BIGINT) AS dx,
         CAST(sign(a.y - b.y) AS BIGINT) AS dy
  FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.k < b.k
)
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n0,
       CAST(sum(CASE WHEN dx * dy = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
       CAST(sum(CASE WHEN dx * dy = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
       CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
       CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty,
       CASE WHEN (count(*) - sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END))
               * (count(*) - sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END)) = 0
            THEN CAST(0 AS BIGINT)
            ELSE CAST(round(1000000
                 * CAST(sum(CASE WHEN dx * dy = 1 THEN 1 ELSE 0 END)
                        - sum(CASE WHEN dx * dy = -1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / sqrt(CAST(count(*) - sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                        * CAST(count(*) - sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS DOUBLE)))
            AS BIGINT) END AS tau_b_micro
FROM pairs
GROUP BY p_brand
ORDER BY p_brand
"""

QUERIES["kendall_tau_price_size"] = kendall_tau_price_size
ORACLES["kendall_tau_price_size"] = KENDALL_TAU_PRICE_SIZE_SQL


# --- Theil-Sen robust slope per customer -------------------------------------
# The median-of-pairwise-slopes trend (robust to 29% outliers) of order value
# over time, per customer — the robust twin of trend_slope_per_customer's
# OLS.  Slopes are scaled integers (micro-cents/day via DIV, truncation
# identical in both engines); the median is an ORDER STATISTIC (lower median
# at rank (m+1) DIV 2), never interpolation.  Pairs stay within a customer
# (~10 orders -> ~45 pairs) so the equi-join fan-out is bounded and
# shuffle-local on o_custkey; the rank window partitions by customer.
def theil_sen_slope_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).cast("long").alias("d"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("c"),
    )
    a, b = o.alias("a"), o.alias("b")
    slopes = (
        a.join(b, "o_custkey")
        .where(F.expr("a.d < b.d"))
        .selectExpr("o_custkey", "((b.c - a.c) * 1000000) DIV (b.d - a.d) AS s")
    )
    w = W.partitionBy("o_custkey").orderBy("s")
    return (
        slopes.select(
            "o_custkey",
            "s",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("o_custkey")).alias("m"),
        )
        .where(F.expr("rn = (m + 1) DIV 2"))
        .selectExpr(
            "o_custkey",
            "CAST(m AS BIGINT) AS n_pairs",
            "CAST(s AS BIGINT) AS ts_slope_micro",
        )
        .orderBy("o_custkey")
    )


THEIL_SEN_SLOPE_CUSTOMER_SQL = """
WITH o AS (
  SELECT o_custkey,
         CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM orders
), slopes AS (
  SELECT a.o_custkey, ((b.c - a.c) * 1000000) // (b.d - a.d) AS s
  FROM o a JOIN o b ON a.o_custkey = b.o_custkey AND a.d < b.d
), ranked AS (
  SELECT o_custkey, s,
         row_number() OVER (PARTITION BY o_custkey ORDER BY s) AS rn,
         count(*) OVER (PARTITION BY o_custkey) AS m
  FROM slopes
)
SELECT o_custkey, CAST(m AS BIGINT) AS n_pairs, CAST(s AS BIGINT) AS ts_slope_micro
FROM ranked
WHERE rn = (m + 1) // 2
ORDER BY o_custkey
"""

QUERIES["theil_sen_slope_customer"] = theil_sen_slope_customer
ORACLES["theil_sen_slope_customer"] = THEIL_SEN_SLOPE_CUSTOMER_SQL
