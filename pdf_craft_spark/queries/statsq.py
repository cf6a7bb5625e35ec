"""Exact distributed statistics: rank correlation and classical tests
(Spearman, Kendall tau-b, Mann-Whitney U, one-way ANOVA, chi-squared),
robust scale (MAD, median/MAD outliers, Theil-Sen), resampling
(jackknife, Poisson bootstrap, permutation), experiment and survey design
(CUPED, difference-in-differences, cluster-sampling design effect, SPRT,
IPW, Neyman allocation), corpus drift (total variation, chi-squared
terms), and the TPC-H Q21-style exclusive-blame self-aggregation.

House rules applied throughout: every intermediate that decides a value is
integer or DECIMAL (engine-exact); doubles appear only in the final
projection where IEEE determinism holds (sqrt/division of identical exact
inputs); percentiles are ORDER STATISTICS, never interpolation or sketches.
No ln/exp on a value path (IEEE guarantees correct rounding for sqrt, not
for them).  Engine trap: ``DIV`` on DECIMAL(38,0) silently overflows to
BIGINT in Spark and DuckDB ``//`` on HUGEINT returns DOUBLE, so every
integral DIVISION keeps both operands within int64 (products may go
DECIMAL(38,0)/HUGEINT; divisions may not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries.dedup import md5_prefix_long_sql, top_k
from pdf_craft_spark.sources import load_table as _t

QUERIES: dict = {}
ORACLES: dict = {}


# --- Spearman rank correlation (integer-exact ranks) -----------------------
# Per brand: Spearman rho between retail price and size.  Ranks are the
# classic average-of-ties, kept integral by doubling: with cnt_less = rows
# strictly below and cnt_eq = tie-group size, 2*avg_rank = 2*cnt_less +
# cnt_eq + 1 (always an integer).  rho is Pearson over the doubled ranks
# (tie-correct by construction); all moment sums run in DECIMAL(38,0) so
# both engines agree bit-for-bit before the one final double projection.
#
# Scale shape: ranks are NOT computed with a per-row window over the fact
# table.  Each column first collapses to (brand, value, cnt) — bounded by
# distinct values, orders of magnitude smaller than the rows — the
# cumulative count runs over that compressed table, and the doubled rank
# joins back on (brand, value).  At 100 TB the two rank joins are
# broadcastable whenever the distinct-value table is small, and the final
# moment aggregation is a single partial-agg shuffle on brand.
def spearman_brand_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_brand",
        F.col("p_size").cast("long").alias("x"),
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
    )

    def doubled_rank(col: str) -> DataFrame:
        cv = p.groupBy("p_brand", col).agg(F.count(F.lit(1)).alias("cnt"))
        w = (
            W.partitionBy("p_brand")
            .orderBy(col)
            .rowsBetween(W.unboundedPreceding, -1)
        )
        return cv.select(
            "p_brand",
            col,
            (
                2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
                + F.col("cnt")
                + 1
            ).alias(f"u_{col}"),
        )

    ranked = (
        p.join(doubled_rank("x"), ["p_brand", "x"])
        .join(doubled_rank("y"), ["p_brand", "y"])
        .select(
            "p_brand",
            F.col("u_x").cast("decimal(38,0)").alias("u"),
            F.col("u_y").cast("decimal(38,0)").alias("v"),
        )
    )
    agg = ranked.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("u").alias("su"),
        F.sum("v").alias("sv"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
        F.sum(F.col("u") * F.col("v")).alias("suv"),
        F.sum(
            (F.col("u") - F.col("v")) * (F.col("u") - F.col("v"))
        ).alias("sum_d2_x4"),
    )
    n = F.col("n").cast("decimal(38,0)")
    cov = (n * F.col("suv") - F.col("su") * F.col("sv")).cast("double")
    varu = (n * F.col("suu") - F.col("su") * F.col("su")).cast("double")
    varv = (n * F.col("svv") - F.col("sv") * F.col("sv")).cast("double")
    return agg.select(
        "p_brand",
        F.col("n").cast("long").alias("n"),
        F.col("sum_d2_x4").cast("decimal(38,0)").alias("sum_d2_x4"),
        F.when(
            (varu > 0) & (varv > 0),
            F.round(cov / F.sqrt(varu * varv), 6),
        ).alias("rho"),
    ).orderBy("p_brand")


SPEARMAN_BRAND_PRICE_SIZE_SQL = """
WITH p AS (
  SELECT p_brand, CAST(p_size AS BIGINT) AS x,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM part
), rx AS (
  SELECT p_brand, x,
         2 * coalesce(sum(cnt) OVER (PARTITION BY p_brand ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS u_x
  FROM (SELECT p_brand, x, count(*) AS cnt FROM p GROUP BY 1, 2)
), ry AS (
  SELECT p_brand, y,
         2 * coalesce(sum(cnt) OVER (PARTITION BY p_brand ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS u_y
  FROM (SELECT p_brand, y, count(*) AS cnt FROM p GROUP BY 1, 2)
), ranked AS (
  SELECT p.p_brand, CAST(rx.u_x AS DECIMAL(38,0)) AS u,
         CAST(ry.u_y AS DECIMAL(38,0)) AS v
  FROM p JOIN rx ON p.p_brand = rx.p_brand AND p.x = rx.x
         JOIN ry ON p.p_brand = ry.p_brand AND p.y = ry.y
), agg AS (
  SELECT p_brand, count(*) AS n,
         sum(u) AS su, sum(v) AS sv,
         sum(u * u) AS suu, sum(v * v) AS svv, sum(u * v) AS suv,
         sum((u - v) * (u - v)) AS sum_d2_x4
  FROM ranked GROUP BY 1
)
SELECT p_brand, CAST(n AS BIGINT) AS n,
       CAST(sum_d2_x4 AS DECIMAL(38,0)) AS sum_d2_x4,
       CASE WHEN CAST(CAST(n AS DECIMAL(38,0)) * suu - su * su AS DOUBLE) > 0
             AND CAST(CAST(n AS DECIMAL(38,0)) * svv - sv * sv AS DOUBLE) > 0
            THEN round(
              CAST(CAST(n AS DECIMAL(38,0)) * suv - su * sv AS DOUBLE)
              / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * suu - su * su AS DOUBLE)
                   * CAST(CAST(n AS DECIMAL(38,0)) * svv - sv * sv AS DOUBLE)),
              6)
       END AS rho
FROM agg ORDER BY p_brand
"""

QUERIES["spearman_brand_price_size"] = spearman_brand_price_size
ORACLES["spearman_brand_price_size"] = SPEARMAN_BRAND_PRICE_SIZE_SQL


# --- robust outliers: median / MAD, order-statistic exact ------------------
# Per part type: modified z-score outliers on retail price.  Median and
# MAD are order statistics kept integral by doubling/quadrupling (med_x2 =
# the sum of the two middle order stats in cents; mad_x4 likewise over
# |2v - med_x2|), and the 3.5-modified-z cut (|x-med| > 3.5 * 1.4826*MAD)
# becomes the pure-integer predicate 200000*|2v-med_x2| > 518910*mad_x4.
# No floats anywhere, so both engines agree exactly.
#
# Scale shape: two rank passes, each a window partitioned by p_type — the
# group key's cardinality grows with the catalog (150 types at SF1, more
# with richer catalogs), so group-local sorts shard across executors.  For
# a low-cardinality group key at 100 TB the same recipe runs on the
# (group, value, cnt) compressed table exactly like spearman's rank join.
def robust_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_type",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v"),
    )
    w = W.partitionBy("p_type")
    ranked = p.select(
        "p_type",
        "v",
        F.row_number().over(w.orderBy("v")).alias("rk"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    lo = F.expr("(n + 1) DIV 2")
    hi = F.expr("(n + 2) DIV 2")
    med = (
        ranked.filter((F.col("rk") == lo) | (F.col("rk") == hi))
        .groupBy("p_type")
        .agg(F.expr("CAST((sum(v) * 2) DIV count(*) AS BIGINT)").alias("med_x2"))
    )
    dev = p.join(F.broadcast(med), "p_type").select(
        "p_type",
        "v",
        "med_x2",
        F.abs(2 * F.col("v") - F.col("med_x2")).alias("ad2"),
    )
    ranked2 = dev.select(
        "p_type",
        "ad2",
        F.row_number().over(w.orderBy("ad2")).alias("rk"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    mad = (
        ranked2.filter((F.col("rk") == lo) | (F.col("rk") == hi))
        .groupBy("p_type")
        .agg(
            F.expr("CAST((sum(ad2) * 2) DIV count(*) AS BIGINT)").alias("mad_x4")
        )
    )
    flagged = dev.join(F.broadcast(mad), "p_type").select(
        "p_type",
        "med_x2",
        "mad_x4",
        (200000 * F.col("ad2") > 518910 * F.col("mad_x4"))
        .cast("long")
        .alias("is_out"),
    )
    return (
        flagged.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("med_x2").alias("med_x2_cents"),
            F.max("mad_x4").alias("mad_x4_cents"),
            F.sum("is_out").alias("n_outliers"),
        )
        .orderBy("p_type")
    )


ROBUST_PRICE_OUTLIERS_SQL = """
WITH p AS (
  SELECT p_type,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM part
), ranked AS (
  SELECT p_type, v,
         row_number() OVER (PARTITION BY p_type ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY p_type) AS n
  FROM p
), med AS (
  SELECT p_type, CAST((sum(v) * 2) // count(*) AS BIGINT) AS med_x2
  FROM ranked
  WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
  GROUP BY 1
), dev AS (
  SELECT p.p_type, p.v, m.med_x2, abs(2 * p.v - m.med_x2) AS ad2
  FROM p JOIN med m USING (p_type)
), ranked2 AS (
  SELECT p_type, ad2,
         row_number() OVER (PARTITION BY p_type ORDER BY ad2) AS rk,
         count(*) OVER (PARTITION BY p_type) AS n
  FROM dev
), mad AS (
  SELECT p_type, CAST((sum(ad2) * 2) // count(*) AS BIGINT) AS mad_x4
  FROM ranked2
  WHERE rk = (n + 1) // 2 OR rk = (n + 2) // 2
  GROUP BY 1
)
SELECT d.p_type,
       CAST(count(*) AS BIGINT) AS n,
       max(d.med_x2) AS med_x2_cents,
       max(ma.mad_x4) AS mad_x4_cents,
       CAST(sum(CASE WHEN 200000 * d.ad2 > 518910 * ma.mad_x4
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad ma USING (p_type)
GROUP BY 1 ORDER BY 1
"""

QUERIES["robust_price_outliers"] = robust_price_outliers
ORACLES["robust_price_outliers"] = ROBUST_PRICE_OUTLIERS_SQL


# --- TPC-H Q21 analog: exclusive-blame supplier self-aggregation -----------
# "Suppliers who kept multi-supplier orders waiting, alone": for finished
# orders with at least two distinct suppliers, count per supplier the
# orders where that supplier shipped late (l_shipdate > o_orderdate + 90
# days on any of its lines) and NO other supplier did.  The reference
# formulation is EXISTS + NOT EXISTS self-joins on the fact table
# (tpch q21, lineitem l2/l3); here the same semantics compress to one
# aggregation: per (orderkey, suppkey) fold late-ness, then per orderkey
# count suppliers and late suppliers — exclusive blame is a late supplier
# row where n_supp >= 2 and n_late = 1.  Two shuffles total (orderkey,
# then suppkey rollup) instead of three fact-table self-joins; at 100 TB
# the orderkey aggregations co-partition and AQE collapses them into one
# exchange reuse.  Total order (numwait DESC, s_name) makes LIMIT stable.
LATE_DAYS = 90
Q21_TOPN = 20


def q21_late_exclusive_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate").cast("date")
                > F.date_add(F.col("o_orderdate").cast("date"), LATE_DAYS)
            )
            .cast("int")
            .alias("late"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("is_late"))
        # feeds two plan branches (the per-order rollup AND the blamed
        # filter); materialize once or Catalyst re-derives the fact scan
        # + aggregate per branch.  localCheckpoint == the written
        # intermediate table a production run would reuse.
        .localCheckpoint(eager=True)
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").alias("n_late"),
    )
    blamed = (
        per_supp.filter(F.col("is_late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blamed.join(F.broadcast(s), blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(Q21_TOPN)
    )


Q21_LATE_EXCLUSIVE_SUPPLIERS_SQL = f"""
WITH per_supp AS (
  SELECT l.l_orderkey, l.l_suppkey,
         max(CASE WHEN CAST(l.l_shipdate AS DATE)
                       > CAST(o.o_orderdate AS DATE) + {LATE_DAYS}
                  THEN 1 ELSE 0 END) AS is_late
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY 1, 2
), per_order AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(is_late) AS n_late
  FROM per_supp GROUP BY 1
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_supp ps
JOIN per_order po USING (l_orderkey)
JOIN supplier s ON ps.l_suppkey = s.s_suppkey
WHERE ps.is_late = 1 AND po.n_supp >= 2 AND po.n_late = 1
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT {Q21_TOPN}
"""

QUERIES["q21_late_exclusive_suppliers"] = q21_late_exclusive_suppliers
ORACLES["q21_late_exclusive_suppliers"] = Q21_LATE_EXCLUSIVE_SUPPLIERS_SQL


# --- chi-square independence: event type × user segment --------------------
# The contingency-table independence test every experimentation pipeline
# runs, engine-exact by construction: observed counts, row/column
# marginals and n are integers; each cell's chi-square contribution is
# (o·n − r·c)² / (n·r·c) computed as ONE double expression over exact
# integer inputs (identical IEEE ops in both engines), then rounded into
# INTEGER MICRO-UNITS — so the corpus-level chi2 total, a SUM over cells,
# adds integers exactly and is immune to float summation order (a raw
# double SUM would be nondeterministic across partitionings).
# One groupBy shuffle on the cell key; marginals broadcast back.
CHISQ_SEGMENTS = 4


def chisq_type_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type", f"CAST(user_id % {CHISQ_SEGMENTS} AS BIGINT) AS segment"
    )
    cells = ev.groupBy("event_type", "segment").agg(
        F.count(F.lit(1)).alias("o")
    )
    rows = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols = cells.groupBy("segment").agg(F.sum("o").alias("c"))
    n = cells.agg(F.sum("o").alias("n"))
    return (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "segment")
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "event_type",
            "segment",
            "CAST(o AS BIGINT) AS o",
            "CAST((1000000 * r * c) DIV n AS BIGINT) AS expected_ppm",
            "CAST(round(1000000 * CAST(o * n - r * c AS DOUBLE)"
            " * CAST(o * n - r * c AS DOUBLE)"
            " / CAST(n AS DOUBLE) / CAST(r AS DOUBLE) / CAST(c AS DOUBLE))"
            " AS BIGINT) AS contrib_micro",
        )
        .orderBy("event_type", "segment")
    )


CHISQ_TYPE_BY_SEGMENT_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(user_id % {CHISQ_SEGMENTS} AS BIGINT) AS segment
  FROM events
), cells AS (
  SELECT event_type, segment, CAST(count(*) AS BIGINT) AS o
  FROM ev GROUP BY 1, 2
), rows_m AS (
  SELECT event_type, sum(o) AS r FROM cells GROUP BY 1
), cols_m AS (
  SELECT segment, sum(o) AS c FROM cells GROUP BY 1
), n_m AS (
  SELECT sum(o) AS n FROM cells
)
SELECT ce.event_type, ce.segment, ce.o,
       CAST((1000000 * r * c) // n AS BIGINT) AS expected_ppm,
       CAST(round(1000000 * CAST(ce.o * n - r * c AS DOUBLE)
                  * CAST(ce.o * n - r * c AS DOUBLE)
                  / CAST(n AS DOUBLE) / CAST(r AS DOUBLE) / CAST(c AS DOUBLE))
            AS BIGINT) AS contrib_micro
FROM cells ce
JOIN rows_m USING (event_type)
JOIN cols_m USING (segment), n_m
ORDER BY event_type, segment
"""

QUERIES["chisq_type_by_segment"] = chisq_type_by_segment
ORACLES["chisq_type_by_segment"] = CHISQ_TYPE_BY_SEGMENT_SQL


# --- exact z-score normalization summary ------------------------------------
# Feature standardization with engine-exact moments: per return flag,
# mean and variance come from DECIMAL sums of cents (sum, sum-of-squares
# in DECIMAL(38,0)), the per-row z is ONE double expression over those
# exact inputs, and the output reports only order-free reductions of z —
# outlier counts and min/max of the 6-digit rounding — never a float SUM
# whose value depends on partition order.  Sample (n-1) variance.  One
# fact shuffle for the moments, then a broadcast join back for the
# per-row pass.
def zscore_normalize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("decimal(38,0)")
        .alias("v"),
    )
    mom = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"),
    )
    z = (
        li.join(F.broadcast(mom), "l_returnflag")
        .selectExpr(
            "l_returnflag",
            "n",
            "(CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
            " / sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)"
            "         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
            "        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))"
            " AS z",
        )
    )
    return (
        z.groupBy("l_returnflag")
        .agg(
            F.max("n").alias("n"),
            F.sum((F.abs(F.col("z")) > 2).cast("long")).alias("n_beyond_2"),
            F.sum((F.abs(F.col("z")) > 3).cast("long")).alias("n_beyond_3"),
            F.min(F.round("z", 6)).alias("z_min6"),
            F.max(F.round("z", 6)).alias("z_max6"),
        )
        .selectExpr(
            "l_returnflag",
            "CAST(n AS BIGINT) AS n",
            "n_beyond_2",
            "n_beyond_3",
            "z_min6",
            "z_max6",
        )
        .orderBy("l_returnflag")
    )


ZSCORE_NORMALIZE_PRICES_SQL = """
WITH li AS (
  SELECT l_returnflag,
         CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              AS DECIMAL(38,0)) AS v
  FROM lineitem
), mom AS (
  SELECT l_returnflag, count(*) AS n, sum(v) AS s, sum(v * v) AS ss
  FROM li GROUP BY 1
), z AS (
  SELECT li.l_returnflag, m.n,
         (CAST(li.v AS DOUBLE) - CAST(m.s AS DOUBLE) / CAST(m.n AS DOUBLE))
         / sqrt((CAST(m.n AS DOUBLE) * CAST(m.ss AS DOUBLE)
                 - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE))
                / (CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE) - 1))) AS z
  FROM li JOIN mom m USING (l_returnflag)
)
SELECT l_returnflag,
       CAST(max(n) AS BIGINT) AS n,
       CAST(sum(CASE WHEN abs(z) > 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_beyond_2,
       CAST(sum(CASE WHEN abs(z) > 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_beyond_3,
       min(round(z, 6)) AS z_min6,
       max(round(z, 6)) AS z_max6
FROM z GROUP BY 1 ORDER BY 1
"""

QUERIES["zscore_normalize_prices"] = zscore_normalize_prices
ORACLES["zscore_normalize_prices"] = ZSCORE_NORMALIZE_PRICES_SQL


# --- exact median WITHOUT a global sort: two-pass binned selection -----------
# median()/percentile at 100 TB cannot sort the corpus.  The scalable
# exact algorithm is two passes:
#
#   pass 1: histogram the value into fixed-width integer bins (one
#           map-side-combinable groupBy over (group, bin) — histogram
#           size is bins x groups, independent of row count);
#   locate: a prefix sum over the TINY histogram finds which bin holds
#           each target order statistic (lower/upper middle) and how many
#           rows precede that bin;
#   pass 2: re-scan ONLY rows landing in the located bins (broadcast
#           semi-join), rank within bin (window bounded by bin
#           population), offset by the bin's prefix count = global rank,
#           pick the target rows.
#
# No stage ever sorts or shuffles more than a bin's population.  Values
# are exact integer cents (floor(x*100 + 0.5) — identical in both
# engines for 2dp money doubles); the doubled median (lo + hi) stays in
# BIGINT so even-count interpolation never produces a float.  The DuckDB
# oracle computes the same order statistics by a FULL sort
# (row_number over every row) — the hash match proves the two-pass
# selection equals the naive global sort.
MEDIAN_BIN_CENTS = 100_000  # $1000-wide bins


def median_binned_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    v = li.selectExpr(
        "l_returnflag AS f",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v",
    )
    hist = (
        v.selectExpr("f", f"v DIV {MEDIAN_BIN_CENTS} AS bin")
        .groupBy("f", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)  # feeds prefix sum + target join
    )
    cum = hist.select(
        "f",
        "bin",
        "cnt",
        F.sum("cnt")
        .over(W.partitionBy("f").orderBy("bin").rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
    ).withColumn("prev", F.col("cum") - F.col("cnt"))
    ranks = hist.groupBy("f").agg(F.sum("cnt").alias("n")).selectExpr(
        "f", "n", "(n + 1) DIV 2 AS k1", "(n + 2) DIV 2 AS k2"
    )
    targets = (
        cum.join(F.broadcast(ranks), "f")
        .filter((F.col("prev") < F.col("k2")) & (F.col("cum") >= F.col("k1")))
        .select("f", "bin", "prev", "k1", "k2", "n")
    )
    pass2 = v.selectExpr("f", "v", f"v DIV {MEDIAN_BIN_CENTS} AS bin").join(
        F.broadcast(targets), ["f", "bin"]
    )
    wb = W.partitionBy("f", "bin").orderBy("v")
    picked = pass2.withColumn(
        "grank", F.col("prev") + F.row_number().over(wb)
    ).filter((F.col("grank") == F.col("k1")) | (F.col("grank") == F.col("k2")))
    return (
        picked.groupBy("f", "n")
        .agg(
            F.max(F.when(F.col("grank") == F.col("k1"), F.col("v"))).alias("lo"),
            F.max(F.when(F.col("grank") == F.col("k2"), F.col("v"))).alias("hi"),
        )
        .selectExpr(
            "f AS l_returnflag",
            "CAST(n AS BIGINT) AS n",
            "CAST(lo AS BIGINT) AS med_lo_cents",
            "CAST(hi AS BIGINT) AS med_hi_cents",
            "CAST(lo + hi AS BIGINT) AS median2_cents",
        )
        .orderBy("l_returnflag")
    )


MEDIAN_BINNED_TWO_PASS_SQL = """
WITH v AS (
  SELECT l_returnflag AS f,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
  FROM lineitem
), r AS (
  SELECT f, v, row_number() OVER (PARTITION BY f ORDER BY v) AS rk FROM v
), n AS (
  SELECT f, count(*) AS n FROM v GROUP BY 1
)
SELECT r.f AS l_returnflag,
       CAST(n.n AS BIGINT) AS n,
       CAST(max(CASE WHEN rk = (n.n + 1) // 2 THEN v END) AS BIGINT)
         AS med_lo_cents,
       CAST(max(CASE WHEN rk = (n.n + 2) // 2 THEN v END) AS BIGINT)
         AS med_hi_cents,
       CAST(max(CASE WHEN rk = (n.n + 1) // 2 THEN v END)
          + max(CASE WHEN rk = (n.n + 2) // 2 THEN v END) AS BIGINT)
         AS median2_cents
FROM r JOIN n ON r.f = n.f
GROUP BY r.f, n.n ORDER BY l_returnflag
"""

QUERIES["median_binned_two_pass"] = median_binned_two_pass
ORACLES["median_binned_two_pass"] = MEDIAN_BINNED_TWO_PASS_SQL


# --- poisson_bootstrap_ci: distributed statistical inference -------------
# The bootstrap is THE nonparametric CI, and the Poisson bootstrap is its
# distributed form: classic resampling (draw n of n with replacement)
# needs global coordination, but for large n the multinomial weight of
# each row converges to independent Poisson(1) draws — so every row can
# compute its own weight in every resample from a hash, one scan, no
# coordination, perfectly combinable aggregation (the Google/Meta
# large-scale CI recipe; Chamandy et al., "Estimating Uncertainty for
# Massive Data Streams").  Determinism discipline: the Poisson(1)
# inverse-CDF is applied to the shared 60-bit md5 uniform via INTEGER
# thresholds floor(cdf_k * 2^60) rendered once in Python and embedded as
# the same literals in both engines — no libm at query time, identical
# weights everywhere.  Per (priority group, resample b in 0..63) the
# weighted mean is exact integer milli-cents; the 95% CI is the 2nd and
# 63rd order statistic of the 64 resample means (window rank, 320 rows).
# Output also carries the exact group mean, so the driver hash gates
# BOTH the CI construction and the claim that it brackets the truth.
#
# Scale: the explode is a constant 64x map-side multiplier feeding ONE
# partial-agg shuffle keyed by (group, b) — 5*64 = 320 reduce rows; no
# row-level state, no second scan.
_BOOT_B = 64
_R60_BOOT = 1 << 60


def _poisson_thresholds() -> list[int]:
    # cdf of Poisson(1) up to k=8 (tail mass ~1e-6 collapses into k=8)
    import math

    cdf, acc = [], 0.0
    for k in range(9):
        acc += math.exp(-1.0) / math.factorial(k)
        cdf.append(min(acc, 1.0))
    return [int(c * _R60_BOOT) for c in cdf]


_BOOT_T = _poisson_thresholds()


def _boot_weight_case(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_T)
    )
    return f"CASE {branches} ELSE 8 END"


def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    h = md5_prefix_long_sql("concat(o_orderkey, '|', b)", 15, "spark")
    means = (
        orders.selectExpr(
            "o_orderpriority AS grp",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
            "o_orderkey",
        )
        .selectExpr("grp", "cents", "o_orderkey", f"explode(sequence(0, {_BOOT_B - 1})) AS b")
        .selectExpr("grp", "cents", "b", f"{_boot_weight_case(f'({h})')} AS w")
        .groupBy("grp", "b")
        .agg(
            F.expr("sum(w * cents)").alias("sw_cents"),
            F.expr("sum(w)").alias("sw"),
        )
        .selectExpr("grp", "b", "(1000 * sw_cents) DIV sw AS mean_mc")
    )
    ranked = means.selectExpr(
        "grp",
        "mean_mc",
        "row_number() OVER (PARTITION BY grp ORDER BY mean_mc, b) AS rk",
    )
    ci = ranked.groupBy("grp").agg(
        F.expr("min(CASE WHEN rk = 2 THEN mean_mc END)").alias("ci_lo_mc"),
        F.expr(f"min(CASE WHEN rk = {_BOOT_B - 1} THEN mean_mc END)").alias(
            "ci_hi_mc"
        ),
    )
    exact = orders.selectExpr(
        "o_orderpriority AS grp",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
    ).groupBy("grp").agg(
        F.expr("(1000 * sum(cents)) DIV count(1)").alias("mean_exact_mc"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return (
        ci.join(exact, "grp")
        .selectExpr(
            "grp",
            "n",
            "mean_exact_mc",
            "ci_lo_mc",
            "ci_hi_mc",
            "ci_hi_mc - ci_lo_mc AS ci_width_mc",
            "CASE WHEN mean_exact_mc BETWEEN ci_lo_mc AND ci_hi_mc"
            " THEN 1 ELSE 0 END AS covers_truth",
        )
    )


def _bootstrap_sql() -> str:
    h = md5_prefix_long_sql("(o_orderkey || '|' || b)", 15, "duck")
    return f"""
WITH expl AS (
  SELECT o_orderpriority AS grp,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderkey, unnest(range({_BOOT_B})) AS b
  FROM orders
), w AS (
  SELECT grp, cents, b, {_boot_weight_case(f'({h})')} AS w FROM expl
), means AS (
  SELECT grp, b, (1000 * sum(w * cents)) // sum(w) AS mean_mc
  FROM w GROUP BY grp, b
), ranked AS (
  SELECT grp, mean_mc,
         row_number() OVER (PARTITION BY grp ORDER BY mean_mc, b) AS rk
  FROM means
), ci AS (
  SELECT grp,
         min(CASE WHEN rk = 2 THEN mean_mc END) AS ci_lo_mc,
         min(CASE WHEN rk = {_BOOT_B - 1} THEN mean_mc END) AS ci_hi_mc
  FROM ranked GROUP BY grp
), exact AS (
  SELECT o_orderpriority AS grp,
         (1000 * sum(CAST(round(o_totalprice * 100) AS BIGINT)))
           // count(*) AS mean_exact_mc,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
)
SELECT ci.grp AS grp, n, mean_exact_mc, ci_lo_mc, ci_hi_mc,
       ci_hi_mc - ci_lo_mc AS ci_width_mc,
       CASE WHEN mean_exact_mc BETWEEN ci_lo_mc AND ci_hi_mc
            THEN 1 ELSE 0 END AS covers_truth
FROM ci JOIN exact ON exact.grp = ci.grp
"""


POISSON_BOOTSTRAP_CI_SQL = _bootstrap_sql()

QUERIES["poisson_bootstrap_ci"] = poisson_bootstrap_ci
ORACLES["poisson_bootstrap_ci"] = POISSON_BOOTSTRAP_CI_SQL


# --- permutation_test_diff: the testing half of resampling inference ----
# poisson_bootstrap_ci estimates uncertainty; this op TESTS a hypothesis
# the same distributed way.  H0: URGENT and LOW orders have the same mean
# value.  B random relabelings approximate the permutation null: in
# resample b, each row joins pseudo-group A iff
#     md5_40bit(o_orderkey | b) < t,   t = n_a * 2^40 DIV n
# (the 40-bit uniform is the 60-bit md5 DIV 2^20 — n_a * 2^40 stays in
# int64 up to n_a ~ 8e6; t is DATA-DERIVED inside the query — a division both engines
# compute identically — not a literal, so the relabeling preserves the
# observed group fraction at any input).  The permuted statistic is the
# absolute difference of pseudo-group means in milli-cents (pure integer
# DIVs); the p-value is the standard add-one estimate
#     p_milli = 1000 * (#{|perm| >= |obs|} + 1) DIV (B + 1).
# One scan, a constant 128x map multiplier, one combinable (b) agg —
# the exact same scale shape as the bootstrap.  Measured at sf0.01 the
# URGENT-LOW gap is $7.8k on ~$250k means (~2 sigma) and the test calls
# it at p_milli = 15 — a marginal real effect resolved, not a degenerate
# always-0/always-1000 output.  The property tests pin both tails: a
# planted shift drives p to the add-one floor, and a same-distribution
# split keeps p high.  obs_diff and p_milli are driver-hashed.
_PERM_B = 128


def permutation_test_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    base = orders.selectExpr(
        "o_orderkey",
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_a",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
    ).localCheckpoint(eager=True)  # scanned by obs, sizes and the explode
    sizes = base.agg(
        F.expr("sum(is_a)").alias("n_a"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    obs = base.agg(
        F.expr(
            "abs((1000 * sum(CASE WHEN is_a = 1 THEN cents END))"
            " DIV sum(is_a)"
            " - (1000 * sum(CASE WHEN is_a = 0 THEN cents END))"
            " DIV sum(1 - is_a)) AS obs_diff_mc"
        )
    )
    h = md5_prefix_long_sql("concat(o_orderkey, '|', b)", 15, "spark")
    perm = (
        base.selectExpr(
            "o_orderkey", "cents", f"explode(sequence(0, {_PERM_B - 1})) AS b"
        )
        .crossJoin(F.broadcast(sizes))
        .selectExpr(
            "b",
            "cents",
            f"CASE WHEN ({h}) DIV {1 << 20} < (n_a * {1 << 40}) DIV n"
            " THEN 1 ELSE 0 END AS pa",
        )
        .groupBy("b")
        .agg(
            F.expr(
                "abs((1000 * sum(CASE WHEN pa = 1 THEN cents END))"
                " DIV nullif(sum(pa), 0)"
                " - (1000 * sum(CASE WHEN pa = 0 THEN cents END))"
                " DIV nullif(sum(1 - pa), 0)) AS perm_diff_mc"
            )
        )
    )
    return (
        perm.crossJoin(F.broadcast(obs))
        .agg(
            F.expr("count(1)").cast("long").alias("n_resamples"),
            F.expr(
                "sum(CASE WHEN perm_diff_mc >= obs_diff_mc THEN 1 ELSE 0 END)"
            ).alias("n_ge"),
            F.first("obs_diff_mc").alias("obs_diff_mc"),
        )
        .crossJoin(F.broadcast(sizes))
        .selectExpr(
            "CAST(n_a AS BIGINT) AS n_a",
            "CAST(n - n_a AS BIGINT) AS n_b",
            "CAST(obs_diff_mc AS BIGINT) AS obs_diff_mc",
            "CAST(n_resamples AS BIGINT) AS n_resamples",
            f"CAST((1000 * (n_ge + 1)) DIV (n_resamples + 1) AS BIGINT)"
            " AS p_milli",
        )
    )


def _perm_sql() -> str:
    h = md5_prefix_long_sql("(o_orderkey || '|' || b)", 15, "duck")
    return f"""
WITH base AS (
  SELECT o_orderkey,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_a,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), sizes AS (
  SELECT CAST(sum(is_a) AS BIGINT) AS n_a, CAST(count(*) AS BIGINT) AS n
  FROM base
), obs AS (
  SELECT abs((1000 * sum(CASE WHEN is_a = 1 THEN cents END)) // sum(is_a)
           - (1000 * sum(CASE WHEN is_a = 0 THEN cents END))
             // sum(1 - is_a)) AS obs_diff_mc
  FROM base
), expl AS (
  SELECT o_orderkey, cents, unnest(range({_PERM_B})) AS b FROM base
), labeled AS (
  SELECT b, cents,
         CASE WHEN ({h}) // {1 << 20} < (s.n_a * {1 << 40}) // s.n
              THEN 1 ELSE 0 END AS pa
  FROM expl CROSS JOIN sizes s
), perm AS (
  SELECT b,
         abs((1000 * sum(CASE WHEN pa = 1 THEN cents END))
               // nullif(sum(pa), 0)
           - (1000 * sum(CASE WHEN pa = 0 THEN cents END))
               // nullif(sum(1 - pa), 0)) AS perm_diff_mc
  FROM labeled GROUP BY b
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_resamples,
         sum(CASE WHEN perm_diff_mc >= obs.obs_diff_mc THEN 1 ELSE 0 END)
           AS n_ge,
         max(obs.obs_diff_mc) AS obs_diff_mc
  FROM perm CROSS JOIN obs
)
SELECT CAST(s.n_a AS BIGINT) AS n_a,
       CAST(s.n - s.n_a AS BIGINT) AS n_b,
       CAST(obs_diff_mc AS BIGINT) AS obs_diff_mc,
       n_resamples,
       CAST((1000 * (n_ge + 1)) // (n_resamples + 1) AS BIGINT) AS p_milli
FROM agg CROSS JOIN sizes s
"""


PERMUTATION_TEST_DIFF_SQL = _perm_sql()

QUERIES["permutation_test_diff"] = permutation_test_diff
ORACLES["permutation_test_diff"] = PERMUTATION_TEST_DIFF_SQL


# --- bh_fdr_scan: many hypotheses at once + Benjamini-Hochberg ----------
# The field-significance problem: scan all 15 (priority x status) segments
# for "does this segment's mean order value differ from the rest?" and
# control the FALSE DISCOVERY RATE across the family — the multiple-
# testing discipline every metrics platform needs before flagging
# segments.  Permutation nulls for ALL groups from ONE relabeling stream:
# resample b gives each row one 40-bit uniform u = md5(key|b) DIV 2^20,
# and group g's pseudo-group is the NESTED prefix set {u < t_g},
# t_g = n_g * 2^40 DIV n (data-derived, engine-identical).  Marginally
# each pseudo-group is a valid size-preserving relabeling; across groups
# the prefix sets are positively dependent (PRDS), exactly the regime
# where BH keeps its FDR guarantee (Benjamini-Yekutieli 2001).  The cost
# win: because sum_g n_g/n = 1, the broadcast range join u < t_g fans
# out to ~ONE row per (row, b) — all 15 null distributions for the price
# of one.  BH step-up is exact integer arithmetic: discovery at level
# alpha = 0.1 iff rank k satisfies (n_ge+1) * 10 * m <= (B+1) * k, with
# K = max such k and every rank <= K discovered.  B = 192 puts the
# add-one p floor (1/163) below alpha * 1/m (1/150), so a rank-1
# discovery is reachable — a smaller B would silently make the scan
# unable to reject anything at rank 1.  Cost engineering (the sweep's
# one outlier, 57s at sf0.1 before): uniforms are 20-bit (ample for
# 1/15-fraction thresholds) so ONE md5 digest yields SIX independent
# uniforms from disjoint 5-hex substrings — 27 digests per row for 162
# resamples; measured 57s -> ~8s at sf0.1 with identical semantics.
_BH_B = 162  # 27 digests x 6 uniforms
_BH_ALPHA_INV = 10  # alpha = 1/10


def bh_fdr_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_orderpriority AS pri",
        "o_orderstatus AS st",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
    ).localCheckpoint(eager=True)
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s_all"),
    )
    sizes = (
        base.groupBy("pri", "st")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("cents").cast("long").alias("s_g"),
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "pri",
            "st",
            "n_g",
            "s_g",
            "n",
            "s_all",
            f"(n_g * {1 << 20}) DIV n AS t_g",
            "abs((1000 * s_g) DIV n_g"
            " - (1000 * (s_all - s_g)) DIV (n - n_g)) AS obs_diff_mc",
        )
        .localCheckpoint(eager=True)
    )
    # hash amortization (the minhash discipline): one md5 per (row,
    # block) yields SIX independent 20-bit uniforms from disjoint 5-hex
    # digest substrings — 27 digests per row for the 162 resamples
    stack_args = ", ".join(
        f"blk * 6 + {j},"
        f" CAST(conv(substring(h, {1 + 5 * j}, 5), 16, 10) AS BIGINT)"
        for j in range(6)
    )
    # the sf0.1 orders table is ONE parquet split; without a spread the
    # whole 162x explode+digest chain runs on a single core (measured:
    # 10s single-task vs <1s wide)
    wide = base.repartition(spark.sparkContext.defaultParallelism)
    expl = (
        wide.selectExpr(
            "cents", f"explode(sequence(0, {_BH_B // 6 - 1})) AS blk",
            "o_orderkey",
        )
        .selectExpr(
            "cents", "blk", "md5(concat(o_orderkey, '|', blk)) AS h"
        )
        .selectExpr("cents", f"stack(6, {stack_args}) AS (b, u)")
    )
    # membership WITHOUT a 15-way nested-loop join: thresholds pivot to
    # 15 scalar columns (one broadcast ROW), each exploded row computes
    # c = #{thresholds above u} as 15 whole-stage-codegen comparisons,
    # and because the pseudo-groups are NESTED prefix sets, group rank r
    # (ascending threshold) owns exactly the rows with c >= M+1-r — a
    # suffix-sum over the tiny (b, c) grid recovers every group's
    # pseudo-aggregate.  (Measured: the BNLJ formulation was 2x the
    # remaining md5 cost at sf0.1.)
    M = 15  # pri x st cells on this corpus; absent cells pivot to NULL
    wrk_t = W.orderBy("t_g", "pri", "st")
    ranked_t = sizes.select(
        "pri", "st", "t_g", F.row_number().over(wrk_t).alias("trk")
    ).localCheckpoint(eager=True)
    thr_row = ranked_t.agg(
        *[
            F.max(F.when(F.col("trk") == r, F.col("t_g"))).alias(f"t{r}")
            for r in range(1, M + 1)
        ]
    )
    c_expr = " + ".join(
        f"CASE WHEN t{r} IS NOT NULL AND u < t{r} THEN 1 ELSE 0 END"
        for r in range(1, M + 1)
    )
    grid = (
        expl.crossJoin(F.broadcast(thr_row))
        .selectExpr("cents", "b", f"({c_expr}) AS c")
        .groupBy("b", "c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("gc"),
            F.sum("cents").cast("long").alias("gs"),
        )
    )
    perm = (
        grid.join(
            F.broadcast(ranked_t),
            F.col("c") >= F.lit(M + 1) - F.col("trk"),
        )
        .groupBy("pri", "st", "b")
        .agg(
            F.sum("gc").cast("long").alias("cnt_p"),
            F.sum("gs").cast("long").alias("sum_p"),
        )
    )
    pvals = (
        perm.join(F.broadcast(sizes), ["pri", "st"])
        .selectExpr(
            "pri",
            "st",
            "CASE WHEN cnt_p = 0 OR cnt_p = n THEN NULL"
            " ELSE abs((1000 * sum_p) DIV cnt_p"
            "  - (1000 * (s_all - sum_p)) DIV (n - cnt_p)) END AS perm_diff_mc",
            "obs_diff_mc",
        )
        .groupBy("pri", "st")
        .agg(
            F.count("perm_diff_mc").cast("long").alias("n_resamples"),
            F.sum(
                F.when(F.col("perm_diff_mc") >= F.col("obs_diff_mc"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_ge"),
            F.first("obs_diff_mc").alias("obs_diff_mc"),
        )
    )
    wrk = W.orderBy("n_ge", "pri", "st")
    wall = W.partitionBy()
    ranked = pvals.select(
        "pri",
        "st",
        "obs_diff_mc",
        "n_resamples",
        "n_ge",
        F.row_number().over(wrk).cast("long").alias("bh_rank"),
        F.count(F.lit(1)).over(wall).cast("long").alias("m"),
    ).selectExpr(
        "pri",
        "st",
        "obs_diff_mc",
        "n_resamples",
        "n_ge",
        "CAST((1000 * (n_ge + 1)) DIV (n_resamples + 1) AS BIGINT) AS p_milli",
        "bh_rank",
        "m",
        f"(n_ge + 1) * {_BH_ALPHA_INV} * m <= (n_resamples + 1) * bh_rank AS bh_cond",
    )
    return (
        ranked.select(
            "*",
            F.max(F.when(F.col("bh_cond"), F.col("bh_rank")).otherwise(0))
            .over(wall)
            .alias("bh_k"),
        )
        .selectExpr(
            "pri",
            "st",
            "obs_diff_mc",
            "n_resamples",
            "n_ge",
            "p_milli",
            "bh_rank",
            "bh_rank <= bh_k AS discovery",
        )
        .orderBy("bh_rank")
    )


def _bh_sql() -> str:
    h = md5_prefix_long_sql("(o_orderkey || '|' || b)", 15, "duck")
    return f"""
WITH base AS (
  SELECT o_orderkey, o_orderpriority AS pri, o_orderstatus AS st,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s_all
  FROM base
), sizes AS (
  SELECT pri, st, CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(cents) AS BIGINT) AS s_g, n, s_all,
         (CAST(count(*) AS BIGINT) * {1 << 20}) // n AS t_g,
         abs((1000 * CAST(sum(cents) AS BIGINT)) // count(*)
           - (1000 * (s_all - CAST(sum(cents) AS BIGINT)))
             // (n - count(*))) AS obs_diff_mc
  FROM base, tot GROUP BY pri, st, n, s_all
), digests AS (
  SELECT cents, blk, md5(o_orderkey || '|' || blk) AS h
  FROM base, (SELECT unnest(range({_BH_B // 6})) AS blk) bb
), expl AS (
  SELECT cents, blk * 6 + j AS b,
         CAST(('0x' || substr(h, 1 + 5 * j, 5)) AS BIGINT) AS u
  FROM digests, (SELECT unnest(range(6)) AS j) jj
), ranked_t AS (
  SELECT pri, st, t_g,
         row_number() OVER (ORDER BY t_g, pri, st) AS trk
  FROM sizes
), thr_row AS (
  SELECT {", ".join(f"max(CASE WHEN trk = {r} THEN t_g END) AS t{r}" for r in range(1, 16))}
  FROM ranked_t
), cgrid AS (
  SELECT b,
         ({" + ".join(f"CASE WHEN t{r} IS NOT NULL AND u < t{r} THEN 1 ELSE 0 END" for r in range(1, 16))}) AS c,
         CAST(count(*) AS BIGINT) AS gc,
         CAST(sum(cents) AS BIGINT) AS gs
  FROM expl, thr_row
  GROUP BY 1, 2
), perm AS (
  SELECT r.pri, r.st, g.b,
         CAST(sum(g.gc) AS BIGINT) AS cnt_p,
         CAST(sum(g.gs) AS BIGINT) AS sum_p
  FROM cgrid g JOIN ranked_t r ON g.c >= 16 - r.trk
  GROUP BY r.pri, r.st, g.b
), pv AS (
  SELECT p.pri, p.st,
         CAST(count(CASE WHEN p.cnt_p > 0 AND p.cnt_p < s.n THEN 1 END)
           AS BIGINT) AS n_resamples,
         CAST(sum(CASE WHEN p.cnt_p > 0 AND p.cnt_p < s.n
              AND abs((1000 * p.sum_p) // p.cnt_p
                    - (1000 * (s.s_all - p.sum_p)) // (s.n - p.cnt_p))
                  >= s.obs_diff_mc THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
         max(s.obs_diff_mc) AS obs_diff_mc
  FROM perm p JOIN sizes s ON p.pri = s.pri AND p.st = s.st
  GROUP BY p.pri, p.st
), ranked AS (
  SELECT pri, st, obs_diff_mc, n_resamples, n_ge,
         CAST((1000 * (n_ge + 1)) // (n_resamples + 1) AS BIGINT) AS p_milli,
         CAST(row_number() OVER (ORDER BY n_ge, pri, st) AS BIGINT) AS bh_rank,
         CAST(count(*) OVER () AS BIGINT) AS m,
         (n_ge + 1) * {_BH_ALPHA_INV} * (count(*) OVER ())
           <= (n_resamples + 1) * row_number() OVER (ORDER BY n_ge, pri, st)
           AS bh_cond
  FROM pv
)
SELECT pri, st, obs_diff_mc, n_resamples, n_ge, p_milli, bh_rank,
       bh_rank <= max(CASE WHEN bh_cond THEN bh_rank ELSE 0 END) OVER ()
         AS discovery
FROM ranked
ORDER BY bh_rank
"""


BH_FDR_SCAN_SQL = _bh_sql()

QUERIES["bh_fdr_scan"] = bh_fdr_scan
ORACLES["bh_fdr_scan"] = BH_FDR_SCAN_SQL


# --- sequential_ab_sprt: Wald's sequential probability ratio test --------
# The fixed-horizon tests above decide once; a LAUNCH GATE watches the
# metric daily and wants to stop early without inflating error — Wald's
# SPRT is the optimal such rule.  H0: purchase share p = 0.18 vs
# H1: p = 0.20 at alpha = beta = 0.05; each event contributes a
# LOG-LIKELIHOOD-RATIO increment — log(p1/p0) for a purchase,
# log((1-p1)/(1-p0)) otherwise — and the test stops the first day the
# running sum leaves (log(beta/(1-alpha)), log((1-beta)/alpha)).  The
# log constants are MODULE-TIME literals in micro-nats (math.log runs at
# build, never at query time — the same discipline as RBO's geometric
# weights), so the daily walk is pure integer: the event stream first
# compresses to per-day (purchases, others) counts — one combinable
# shuffle, ~30 rows — and the cumulative LLR is a window over that tiny
# series; increments enter multiplied by counts, exact.  On this corpus
# the true share (~0.198) favors H1 and the gate fires mid-stream; the
# property tests plant low-rate and boundary streams for the other
# outcomes.
import math as _math

SPRT_P0, SPRT_P1 = 0.18, 0.20
SPRT_C1 = round(1_000_000 * _math.log(SPRT_P1 / SPRT_P0))  # purchase
SPRT_C0 = round(1_000_000 * _math.log((1 - SPRT_P1) / (1 - SPRT_P0)))
SPRT_UPPER = round(1_000_000 * _math.log(0.95 / 0.05))
SPRT_LOWER = -SPRT_UPPER


def sequential_ab_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").selectExpr(
        "CAST(ts AS DATE) AS day",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p",
    )
    daily = ev.groupBy("day").agg(
        F.sum("is_p").cast("long").alias("n_p"),
        F.sum(1 - F.col("is_p")).cast("long").alias("n_o"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum(
            F.col("n_p") * SPRT_C1 + F.col("n_o") * SPRT_C0
        )
        .over(w)
        .cast("long")
        .alias("llr"),
    )
    crossed = cum.where(
        (F.col("llr") >= SPRT_UPPER) | (F.col("llr") <= SPRT_LOWER)
    )
    first = crossed.orderBy("day").limit(1)
    final = cum.orderBy(F.desc("day")).limit(1).selectExpr(
        "CAST(llr AS BIGINT) AS final_llr_micro",
        "CAST(day AS STRING) AS last_day",
    )
    n = cum.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    dec = first.selectExpr(
        "CAST(day AS STRING) AS decision_day",
        "CAST(llr AS BIGINT) AS llr_at_decision_micro",
        f"CASE WHEN llr >= {SPRT_UPPER} THEN 'accept_h1'"
        " ELSE 'accept_h0' END AS decision",
    )
    return (
        n.crossJoin(F.broadcast(final))
        .join(F.broadcast(dec), F.lit(True), "left")
        .selectExpr(
            "n_days",
            "coalesce(decision, 'continue') AS decision",
            "coalesce(decision_day, '') AS decision_day",
            "coalesce(llr_at_decision_micro, 0) AS llr_at_decision_micro",
            "final_llr_micro",
        )
    )


SEQUENTIAL_AB_SPRT_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_p,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
           AS BIGINT) AS n_o
  FROM events GROUP BY 1
), cum AS (
  SELECT day,
         CAST(sum(n_p * {SPRT_C1} + n_o * {SPRT_C0})
              OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS llr
  FROM daily
), first_cross AS (
  SELECT CAST(day AS VARCHAR) AS decision_day,
         llr AS llr_at_decision_micro,
         CASE WHEN llr >= {SPRT_UPPER} THEN 'accept_h1'
              ELSE 'accept_h0' END AS decision
  FROM cum WHERE llr >= {SPRT_UPPER} OR llr <= {SPRT_LOWER}
  ORDER BY day LIMIT 1
), fin AS (
  SELECT CAST(max_by(llr, day) AS BIGINT) AS final_llr_micro,
         CAST(count(*) AS BIGINT) AS n_days
  FROM cum
)
SELECT n_days,
       coalesce(decision, 'continue') AS decision,
       coalesce(decision_day, '') AS decision_day,
       CAST(coalesce(llr_at_decision_micro, 0) AS BIGINT)
         AS llr_at_decision_micro,
       final_llr_micro
FROM fin LEFT JOIN first_cross ON TRUE
"""

QUERIES["sequential_ab_sprt"] = sequential_ab_sprt
ORACLES["sequential_ab_sprt"] = SEQUENTIAL_AB_SPRT_SQL


# --- ipw_bias_correction: Horvitz-Thompson under unequal sampling --------
# Every production corpus is a biased sample of something (dedup keeps
# one copy, sampling favors long docs, traffic skews to power users);
# the survey-statistics fix is inverse-probability weighting.  Here the
# bias is PLANTED with known design probabilities — an order in price
# band k (k = 1..6, $100k bands) is selected iff its 40-bit md5 uniform
# < k * 2^40 / 6, so expensive orders are oversampled 6:1 — and the op
# reports the naive sample mean (biased up), the Horvitz-Thompson
# estimate sum(w*x)/sum(w) with w = 6/k scaled to the integer weights
# 60/k in {60,30,20,15,12,10}, and the true population mean.  All
# integer: thresholds are literal k * 2^40 // 6, weights exact, means
# truncated cents; err columns are the one final double family.  One
# scan computes population truth, the sample, and both estimators.
IPW_BANDS = 6


def ipw_bias_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = md5_prefix_long_sql("CAST(o_orderkey AS STRING)", 10, "spark")
    o = _t(spark, sf_dir, "orders").selectExpr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x",
        f"({h}) AS h",
    ).selectExpr(
        "x",
        "h",
        f"least(CAST({IPW_BANDS} AS BIGINT), 1 + x DIV 10000000) AS band",
    ).selectExpr(
        "x",
        "band",
        f"h < band * {(1 << 40) // IPW_BANDS} AS selected",
        f"CAST(60 DIV band AS BIGINT) AS w",
    )
    return o.agg(
        F.count(F.lit(1)).cast("long").alias("n_pop"),
        F.expr("sum(x) DIV count(*)").cast("long").alias("true_mean_cents"),
        F.sum(F.when(F.col("selected"), 1).otherwise(0)).cast("long").alias(
            "n_sample"
        ),
        F.expr(
            "sum(CASE WHEN selected THEN x END)"
            " DIV sum(CASE WHEN selected THEN 1 END)"
        )
        .cast("long")
        .alias("naive_mean_cents"),
        F.expr(
            "sum(CASE WHEN selected THEN w * x END)"
            " DIV sum(CASE WHEN selected THEN w END)"
        )
        .cast("long")
        .alias("ipw_mean_cents"),
    ).selectExpr(
        "n_pop",
        "n_sample",
        "true_mean_cents",
        "naive_mean_cents",
        "ipw_mean_cents",
        "CAST(round(10000 * (CAST(naive_mean_cents AS DOUBLE)"
        " - CAST(true_mean_cents AS DOUBLE)) / CAST(true_mean_cents AS DOUBLE))"
        " AS BIGINT) AS naive_err_bp",
        "CAST(round(10000 * (CAST(ipw_mean_cents AS DOUBLE)"
        " - CAST(true_mean_cents AS DOUBLE)) / CAST(true_mean_cents AS DOUBLE))"
        " AS BIGINT) AS ipw_err_bp",
    )


def _ipw_sql() -> str:
    h = md5_prefix_long_sql("CAST(o_orderkey AS VARCHAR)", 10, "duck")
    return f"""
WITH o AS (
  SELECT x, band,
         ({h}) < band * {(1 << 40) // IPW_BANDS} AS selected,
         CAST(60 // band AS BIGINT) AS w
  FROM (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
           least(CAST({IPW_BANDS} AS BIGINT),
                 1 + CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // 10000000) AS band,
           o_orderkey
    FROM orders
  )
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pop,
         CAST(sum(x) // count(*) AS BIGINT) AS true_mean_cents,
         CAST(sum(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
         CAST(sum(CASE WHEN selected THEN x END)
              // sum(CASE WHEN selected THEN 1 END) AS BIGINT)
           AS naive_mean_cents,
         CAST(sum(CASE WHEN selected THEN w * x END)
              // sum(CASE WHEN selected THEN w END) AS BIGINT)
           AS ipw_mean_cents
  FROM o
)
SELECT n_pop, n_sample, true_mean_cents, naive_mean_cents, ipw_mean_cents,
       CAST(round(10000 * (CAST(naive_mean_cents AS DOUBLE)
            - CAST(true_mean_cents AS DOUBLE))
            / CAST(true_mean_cents AS DOUBLE)) AS BIGINT) AS naive_err_bp,
       CAST(round(10000 * (CAST(ipw_mean_cents AS DOUBLE)
            - CAST(true_mean_cents AS DOUBLE))
            / CAST(true_mean_cents AS DOUBLE)) AS BIGINT) AS ipw_err_bp
FROM agg
"""


IPW_BIAS_CORRECTION_SQL = _ipw_sql()

QUERIES["ipw_bias_correction"] = ipw_bias_correction
ORACLES["ipw_bias_correction"] = IPW_BIAS_CORRECTION_SQL


# --- median_ci_orderstat: distribution-free CI for the median ------------
# The bootstrap gives CIs for means; for the MEDIAN there is a cleaner
# classical answer needing no resampling at all: order statistics.
# P(X_(l) <= median <= X_(u)) follows the binomial, and the normal
# approximation puts l, u at n/2 -+ z/2 * sqrt(n).  Ranks are computed
# once from exact n (the sqrt is a single deterministic double
# expression, floor/ceil to integer ranks), then BOTH interval endpoints
# and the exact median come from the same compressed value-histogram
# prefix scan — the median_binned machinery, three rank probes for the
# price of one.  No global sort: the cumsum window runs over the value
# DOMAIN (distinct cents), not the rows.
MEDIAN_CI_Z_MILLI = 1960  # z = 1.96 (95%)


def median_ci_orderstat(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    probed = cum.selectExpr(
        "v",
        "cum",
        "n",
        f"CAST(floor(n / 2.0 - {MEDIAN_CI_Z_MILLI} / 1000.0 / 2.0 * sqrt(n))"
        " AS BIGINT) AS r_lo",
        "CAST((n + 1) DIV 2 AS BIGINT) AS r_med",
        f"CAST(ceil(n / 2.0 + 1 + {MEDIAN_CI_Z_MILLI} / 1000.0 / 2.0 * sqrt(n))"
        " AS BIGINT) AS r_hi",
    )
    return probed.agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("cum") >= F.col("r_lo"), F.col("v"))).alias(
            "ci_lo_cents"
        ),
        F.min(F.when(F.col("cum") >= F.col("r_med"), F.col("v"))).alias(
            "median_cents"
        ),
        F.min(F.when(F.col("cum") >= F.col("r_hi"), F.col("v"))).alias(
            "ci_hi_cents"
        ),
        F.max("r_lo").alias("rank_lo"),
        F.max("r_hi").alias("rank_hi"),
    ).selectExpr(
        "CAST(n AS BIGINT) AS n",
        "ci_lo_cents",
        "median_cents",
        "ci_hi_cents",
        "rank_lo",
        "rank_hi",
    )


MEDIAN_CI_ORDERSTAT_SQL = f"""
WITH vals AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
), cum AS (
  SELECT v,
         sum(cnt) OVER (ORDER BY v) AS cum,
         sum(cnt) OVER () AS n
  FROM vals
), probed AS (
  SELECT v, cum, n,
         CAST(floor(n / 2.0 - {MEDIAN_CI_Z_MILLI} / 1000.0 / 2.0 * sqrt(n))
           AS BIGINT) AS r_lo,
         CAST((n + 1) // 2 AS BIGINT) AS r_med,
         CAST(ceil(n / 2.0 + 1 + {MEDIAN_CI_Z_MILLI} / 1000.0 / 2.0 * sqrt(n))
           AS BIGINT) AS r_hi
  FROM cum
)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST(min(CASE WHEN cum >= r_lo THEN v END) AS BIGINT) AS ci_lo_cents,
       CAST(min(CASE WHEN cum >= r_med THEN v END) AS BIGINT) AS median_cents,
       CAST(min(CASE WHEN cum >= r_hi THEN v END) AS BIGINT) AS ci_hi_cents,
       CAST(max(r_lo) AS BIGINT) AS rank_lo,
       CAST(max(r_hi) AS BIGINT) AS rank_hi
FROM probed
"""

QUERIES["median_ci_orderstat"] = median_ci_orderstat
ORACLES["median_ci_orderstat"] = MEDIAN_CI_ORDERSTAT_SQL


# --- neyman_allocation: optimal stratified sampling budgets --------------
# Given a fixed sampling budget, Neyman allocation samples each stratum
# proportionally to n_h * sd_h — the provably variance-minimal split.
# Moments are exact DECIMAL(38,0) sums; each stratum's sd becomes ONE
# rounded double expression (micro-cents), after which the allocation is
# pure integer: weights w_h = n_h * sd_milli_h, base shares
# (B * w_h) DIV W, and the leftover units distributed by LARGEST
# REMAINDER (the attribution_linear_exact discipline) with deterministic
# ties — so the emitted allocations sum to the budget EXACTLY, every
# engine, every time.  One scan, 5-row arithmetic.
NEYMAN_BUDGET = 10_000


def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS stratum",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x",
    )
    mom = o.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("ss"),
    )
    sd = mom.selectExpr(
        "stratum",
        "n_h",
        "CAST(round(1000 * sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)"
        " * CAST(s AS DOUBLE) / n_h) / (n_h - 1)) / 100) AS BIGINT)"
        " AS sd_milli_dollars",
    ).selectExpr(
        "stratum", "n_h", "sd_milli_dollars",
        "n_h * sd_milli_dollars AS w",
    )
    tot = sd.agg(F.sum("w").cast("long").alias("wt"))
    base = sd.crossJoin(F.broadcast(tot)).selectExpr(
        "stratum",
        "n_h",
        "sd_milli_dollars",
        "w",
        f"({NEYMAN_BUDGET} * w) DIV wt AS alloc_base",
        f"({NEYMAN_BUDGET} * w) % wt AS rem",
        "wt",
    )
    wall = W.partitionBy()
    wrem = W.orderBy(F.desc("rem"), "stratum")
    return (
        base.select(
            "*",
            (F.lit(NEYMAN_BUDGET) - F.sum("alloc_base").over(wall)).alias(
                "leftover"
            ),
            F.row_number().over(wrem).alias("rk"),
        )
        .selectExpr(
            "stratum",
            "n_h",
            "sd_milli_dollars",
            "CAST(alloc_base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END"
            " AS BIGINT) AS alloc",
            "CAST((1000000 * w) DIV wt AS BIGINT) AS share_ppm",
        )
        .orderBy("stratum")
    )


NEYMAN_ALLOCATION_SQL = f"""
WITH mom AS (
  SELECT o_orderpriority AS stratum,
         CAST(count(*) AS BIGINT) AS n_h,
         sum(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS DECIMAL(38,0))) AS s,
         sum(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS DECIMAL(38,0))
             * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS ss
  FROM orders GROUP BY 1
), sd AS (
  SELECT stratum, n_h,
         CAST(round(1000 * sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
              * CAST(s AS DOUBLE) / n_h) / (n_h - 1)) / 100) AS BIGINT)
           AS sd_milli_dollars
  FROM mom
), w AS (
  SELECT stratum, n_h, sd_milli_dollars,
         n_h * sd_milli_dollars AS w,
         sum(n_h * sd_milli_dollars) OVER () AS wt
  FROM sd
), base AS (
  SELECT stratum, n_h, sd_milli_dollars, w, wt,
         ({NEYMAN_BUDGET} * w) // wt AS alloc_base,
         ({NEYMAN_BUDGET} * w) % wt AS rem
  FROM w
)
SELECT stratum, n_h, sd_milli_dollars,
       CAST(alloc_base + CASE WHEN row_number()
              OVER (ORDER BY rem DESC, stratum)
            <= {NEYMAN_BUDGET} - sum(alloc_base) OVER ()
            THEN 1 ELSE 0 END AS BIGINT) AS alloc,
       CAST((1000000 * w) // wt AS BIGINT) AS share_ppm
FROM base
ORDER BY stratum
"""

QUERIES["neyman_allocation"] = neyman_allocation
ORACLES["neyman_allocation"] = NEYMAN_ALLOCATION_SQL


# --- wilson_lower_bound_ranking: rank proportions honestly ---------------
# "Sort by average rating" promotes a 1-for-1 item over a 980-for-1000
# one; the fix everyone ships (Evan Miller's classic) is ranking by the
# WILSON score interval's lower bound, which penalizes small samples
# exactly as much as the binomial says to.  Here: rank part brands by
# return rate (l_returnflag = 'R') — counts (k, n) per brand are one
# combinable agg, and the Wilson lower bound
#   (p + z^2/2n - z*sqrt(p(1-p)/n + z^2/4n^2)) / (1 + z^2/n)
# is a single deterministic double expression per 25-row output from
# exact integers (z = 1.96 literal).  The op emits both the naive rate
# and the Wilson bound with both rank orders, so the hash pins exactly
# where the two rankings disagree.
WILSON_Z = 1.96


def wilson_lower_bound_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    agg = base.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("k"),
    )
    z = WILSON_Z
    wilson = (
        f"(CAST(k AS DOUBLE) / n + {z * z} / (2 * n)"
        f" - {z} * sqrt(CAST(k AS DOUBLE) / n * (1 - CAST(k AS DOUBLE) / n) / n"
        f" + {z * z} / (4.0 * n * n))) / (1 + {z * z} / n)"
    )
    scored = agg.selectExpr(
        "p_brand",
        "n",
        "k",
        "CAST((1000000 * k) DIV n AS BIGINT) AS naive_ppm",
        f"CAST(round(1000000 * ({wilson})) AS BIGINT) AS wilson_lb_ppm",
    )
    wn = W.orderBy(F.desc("naive_ppm"), "p_brand")
    ww = W.orderBy(F.desc("wilson_lb_ppm"), "p_brand")
    return scored.select(
        "p_brand",
        "n",
        "k",
        "naive_ppm",
        "wilson_lb_ppm",
        F.row_number().over(wn).cast("long").alias("rank_naive"),
        F.row_number().over(ww).cast("long").alias("rank_wilson"),
    ).orderBy("rank_wilson")


def _wilson_sql() -> str:
    z = WILSON_Z
    wilson = (
        f"(CAST(k AS DOUBLE) / n + {z * z} / (2 * n)"
        f" - {z} * sqrt(CAST(k AS DOUBLE) / n * (1 - CAST(k AS DOUBLE) / n) / n"
        f" + {z * z} / (4.0 * n * n))) / (1 + {z * z} / n)"
    )
    return f"""
WITH agg AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS k
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
), scored AS (
  SELECT p_brand, n, k,
         CAST((1000000 * k) // n AS BIGINT) AS naive_ppm,
         CAST(round(1000000 * ({wilson})) AS BIGINT) AS wilson_lb_ppm
  FROM agg
)
SELECT p_brand, n, k, naive_ppm, wilson_lb_ppm,
       CAST(row_number() OVER (ORDER BY naive_ppm DESC, p_brand) AS BIGINT)
         AS rank_naive,
       CAST(row_number() OVER (ORDER BY wilson_lb_ppm DESC, p_brand) AS BIGINT)
         AS rank_wilson
FROM scored
ORDER BY rank_wilson
"""


WILSON_LOWER_BOUND_RANKING_SQL = _wilson_sql()

QUERIES["wilson_lower_bound_ranking"] = wilson_lower_bound_ranking
ORACLES["wilson_lower_bound_ranking"] = WILSON_LOWER_BOUND_RANKING_SQL


# --- percentile_cont_exact: interpolated quartiles without a sort --------
# price_percentile_exact handles PERCENTILE_DISC; the CONTINUOUS variant
# interpolates between order statistics — rank r = 1 + p*(n-1) lands
# between floor(r) and ceil(r) with fraction f, value = v_lo + f*(v_hi -
# v_lo).  Exact integer recipe: r is carried as r100 = 100 + p100*(n-1)
# (integer, p in percent), the two order statistics come from the same
# compressed-histogram prefix probes as median_ci_orderstat, and the
# interpolated value is emitted in CENTI-CENTS
#   v100 = 100*v_lo + (r100 % 100) * (v_hi - v_lo)
# — no floats anywhere, matching DuckDB's quantile_cont * 100 exactly
# on integer inputs (quartiles of cents never need finer fractions than
# hundredths at p in {25, 50, 75}).
PCT_POINTS = (25, 50, 75)


def percentile_cont_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    qs = spark.createDataFrame([(p,) for p in PCT_POINTS], "p long")
    probed = (
        F.broadcast(qs)
        .join(cum, F.lit(True))
        .selectExpr("p", "v", "cum", "n", "100 + p * (n - 1) AS r100")
        .selectExpr(
            "p",
            "v",
            "cum",
            "r100",
            "r100 DIV 100 AS r_lo",
            "(r100 + 99) DIV 100 AS r_hi",
        )
    )
    lohi = probed.groupBy("p", "r100").agg(
        F.min(F.when(F.col("cum") >= F.col("r_lo"), F.col("v"))).alias("v_lo"),
        F.min(F.when(F.col("cum") >= F.col("r_hi"), F.col("v"))).alias("v_hi"),
    )
    return lohi.selectExpr(
        "p",
        "CAST(v_lo AS BIGINT) AS v_lo_cents",
        "CAST(v_hi AS BIGINT) AS v_hi_cents",
        "CAST(100 * v_lo + (r100 % 100) * (v_hi - v_lo) AS BIGINT)"
        " AS pct_centicents",
    ).orderBy("p")


PERCENTILE_CONT_EXACT_SQL = f"""
WITH vals AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
), cum AS (
  SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS n
  FROM vals
), probed AS (
  SELECT p, v, cum, 100 + p * (n - 1) AS r100
  FROM cum, (SELECT unnest([{", ".join(str(p) for p in PCT_POINTS)}]) AS p) ps
), lohi AS (
  SELECT p, r100,
         min(CASE WHEN cum >= r100 // 100 THEN v END) AS v_lo,
         min(CASE WHEN cum >= (r100 + 99) // 100 THEN v END) AS v_hi
  FROM probed GROUP BY p, r100
)
SELECT p,
       CAST(v_lo AS BIGINT) AS v_lo_cents,
       CAST(v_hi AS BIGINT) AS v_hi_cents,
       CAST(100 * v_lo + (r100 % 100) * (v_hi - v_lo) AS BIGINT)
         AS pct_centicents
FROM lohi
ORDER BY p
"""

QUERIES["percentile_cont_exact"] = percentile_cont_exact
ORACLES["percentile_cont_exact"] = PERCENTILE_CONT_EXACT_SQL


# --- total-variation vocabulary drift per source -----------------------------
# "Does source S's token distribution diverge from the corpus?" — the
# curriculum/mixing health check — measured as EXACT total variation
# TV(P_s, Q) = 1/2 Σ_t |c_s(t)/n_s − c(t)/N| over the FULL vocabulary,
# with zero cross product: tokens absent from S contribute
# Σ_{c_s=0} c(t)·n_s = n_s·(N − Σ_{t∈S} c(t)), so the absent-token mass
# folds into one subtraction and only the (source, token)-present join is
# ever materialized.  All numerators are int64 (c_s·N ≤ n_s·N < 2^53 at
# sf0.1; DECIMAL(38,0) headroom is noted for the 100 TB spelling); TV is
# the single final double division, reported in micro.  One token shuffle,
# one broadcast of the vocab-sized global count table.
def corpus_tv_distance_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    toks = docs.select(
        "source",
        F.explode(F.expr("regexp_extract_all(text, '[a-z]+', 0)")).alias("t"),
    )
    st = toks.groupBy("source", "t").agg(F.count(F.lit(1)).cast("long").alias("cs"))
    glob = toks.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    ns = st.groupBy("source").agg(F.sum("cs").cast("long").alias("n_s"))
    ntot = glob.agg(F.sum("ct").cast("long").alias("n_tot"))
    joined = (
        st.join(F.broadcast(glob), "t")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(ntot))
    )
    per_source = joined.groupBy("source").agg(
        F.first("n_s").alias("n_s"),
        F.first("n_tot").alias("n_tot"),
        F.count(F.lit(1)).cast("long").alias("vocab_present"),
        F.sum(F.abs(F.col("cs") * F.col("n_tot") - F.col("ct") * F.col("n_s")))
        .cast("long")
        .alias("present_num"),
        F.sum("ct").cast("long").alias("ct_present"),
    )
    return per_source.selectExpr(
        "source",
        "n_s",
        "vocab_present",
        "CAST(present_num + n_s * (n_tot - ct_present) AS BIGINT) AS tv_num",
        """CAST(round(1000000.0 *
             CAST(present_num + n_s * (n_tot - ct_present) AS DOUBLE)
             / (2.0 * CAST(n_s AS DOUBLE) * CAST(n_tot AS DOUBLE))
           ) AS BIGINT) AS tv_micro""",
    ).orderBy("source")


CORPUS_TV_DISTANCE_BY_SOURCE_SQL = f"""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(text, '[a-z]+')) AS t FROM documents
), st AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS cs FROM toks GROUP BY source, t
), gtok AS (
  SELECT t, CAST(count(*) AS BIGINT) AS ct FROM toks GROUP BY t
), ns AS (
  SELECT source, CAST(sum(cs) AS BIGINT) AS n_s FROM st GROUP BY source
), ntot AS (
  SELECT CAST(sum(ct) AS BIGINT) AS n_tot FROM gtok
), per_source AS (
  SELECT st.source,
         any_value(ns.n_s) AS n_s,
         any_value(ntot.n_tot) AS n_tot,
         CAST(count(*) AS BIGINT) AS vocab_present,
         CAST(sum(abs(st.cs * ntot.n_tot - gtok.ct * ns.n_s)) AS BIGINT) AS present_num,
         CAST(sum(gtok.ct) AS BIGINT) AS ct_present
  FROM st JOIN gtok USING (t) JOIN ns USING (source) CROSS JOIN ntot
  GROUP BY st.source
)
SELECT source, n_s, vocab_present,
       CAST(present_num + n_s * (n_tot - ct_present) AS BIGINT) AS tv_num,
       CAST(round(1000000.0 *
         CAST(present_num + n_s * (n_tot - ct_present) AS DOUBLE)
         / (2.0 * CAST(n_s AS DOUBLE) * CAST(n_tot AS DOUBLE))
       ) AS BIGINT) AS tv_micro
FROM per_source
ORDER BY source
"""

QUERIES["corpus_tv_distance_by_source"] = corpus_tv_distance_by_source
ORACLES["corpus_tv_distance_by_source"] = CORPUS_TV_DISTANCE_BY_SOURCE_SQL


# --- chi-squared discriminative terms per source -----------------------------
# Feature selection for a source/quality classifier: for every (source,
# term) 2x2 contingency cell, chi² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)),
# keeping the top-3 terms per source.  All contingency components are
# int64-exact aggregates (a = c_{s,t}; row/column margins by broadcast of
# the 20-row source totals and the vocab-sized term totals); every factor
# stays below 2^53 so the double products are exact before the single
# final division.  The per-source top-k window partitions by source —
# bounded fan-in, no global sort.
CHI2_TOPK = 3


def chi2_terms_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    toks = docs.select(
        "source",
        F.explode(F.expr("regexp_extract_all(text, '[a-z]+', 0)")).alias("t"),
    )
    st = toks.groupBy("source", "t").agg(F.count(F.lit(1)).cast("long").alias("a"))
    ns = st.groupBy("source").agg(F.sum("a").cast("long").alias("n_s"))
    ct = st.groupBy("t").agg(F.sum("a").cast("long").alias("c_t"))
    ntot = ns.agg(F.sum("n_s").cast("long").alias("n_tot"))
    cells = (
        st.join(F.broadcast(ns), "source")
        .join(F.broadcast(ct), "t")
        .crossJoin(F.broadcast(ntot))
        .selectExpr(
            "source",
            "t",
            "a",
            "CAST(n_s - a AS BIGINT) AS b",
            "CAST(c_t - a AS BIGINT) AS c",
            "CAST(n_tot - n_s - (c_t - a) AS BIGINT) AS d",
            "n_tot",
        )
    )
    scored = cells.selectExpr(
        "source",
        "t",
        "a",
        """CAST(round(1000000.0 * CAST(n_tot AS DOUBLE)
             * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
             * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
             / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))
           ) AS BIGINT) AS chi2_micro""",
    )
    order = [F.col("chi2_micro").desc(), F.col("t")]
    return (
        top_k(scored, ["source"], order, CHI2_TOPK, "rk")
        .select(
            "source", F.col("rk").cast("int").alias("rk"), "t", "a", "chi2_micro"
        )
        .orderBy("source", "rk")
    )


CHI2_TERMS_BY_SOURCE_SQL = f"""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(text, '[a-z]+')) AS t FROM documents
), st AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS a FROM toks GROUP BY source, t
), ns AS (
  SELECT source, CAST(sum(a) AS BIGINT) AS n_s FROM st GROUP BY source
), ct AS (
  SELECT t, CAST(sum(a) AS BIGINT) AS c_t FROM st GROUP BY t
), ntot AS (
  SELECT CAST(sum(n_s) AS BIGINT) AS n_tot FROM ns
), cells AS (
  SELECT st.source, st.t, st.a,
         CAST(ns.n_s - st.a AS BIGINT) AS b,
         CAST(ct.c_t - st.a AS BIGINT) AS c,
         CAST(ntot.n_tot - ns.n_s - (ct.c_t - st.a) AS BIGINT) AS d,
         ntot.n_tot AS n_tot
  FROM st JOIN ns USING (source) JOIN ct USING (t) CROSS JOIN ntot
), scored AS (
  SELECT source, t, a,
         CAST(round(1000000.0 * CAST(n_tot AS DOUBLE)
           * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
              - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
           * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
              - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
           / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
              * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))
         ) AS BIGINT) AS chi2_micro
  FROM cells
), ranked AS (
  SELECT source, t, a, chi2_micro,
         CAST(row_number() OVER (PARTITION BY source
              ORDER BY chi2_micro DESC, t) AS INT) AS rk
  FROM scored
)
SELECT source, rk, t, a, chi2_micro
FROM ranked
WHERE rk <= {CHI2_TOPK}
ORDER BY source, rk
"""

QUERIES["chi2_terms_by_source"] = chi2_terms_by_source
ORACLES["chi2_terms_by_source"] = CHI2_TERMS_BY_SOURCE_SQL


# --- exact MAD per brand -----------------------------------------------------
# The robust scale estimator the IQR op (robust_price_outliers) doesn't
# give: median absolute deviation, computed EXACTLY in integer cents —
# lower median (rank (m+1)//2, the Theil-Sen house convention) of the
# prices per brand, then lower median of |x − med| after one broadcast
# join of the 25-row medians table back onto the facts.  Two per-brand
# rank windows (bounded groups), zero doubles anywhere: MAD in cents is
# the deliverable.
def mad_price_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_brand",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100).cast("long").alias("v"),
    )
    w1 = W.partitionBy("p_brand").orderBy("v")
    med = (
        p.select(
            "p_brand",
            "v",
            F.row_number().over(w1).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("p_brand")).alias("m"),
        )
        .where(F.expr("rn = (m + 1) DIV 2"))
        .selectExpr("p_brand", "v AS med_cents", "m AS n")
    )
    dev = p.join(F.broadcast(med), "p_brand").selectExpr(
        "p_brand", "n", "med_cents", "abs(v - med_cents) AS av"
    )
    w2 = W.partitionBy("p_brand").orderBy("av")
    return (
        dev.select(
            "p_brand",
            "n",
            "med_cents",
            "av",
            F.row_number().over(w2).alias("rn"),
        )
        .where(F.expr("rn = (n + 1) DIV 2"))
        .selectExpr(
            "p_brand",
            "CAST(n AS BIGINT) AS n",
            "med_cents",
            "av AS mad_cents",
        )
        .orderBy("p_brand")
    )


MAD_PRICE_BY_BRAND_SQL = """
WITH p AS (
  SELECT p_brand, CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM part
), med AS (
  SELECT p_brand, v AS med_cents, m AS n
  FROM (SELECT p_brand, v,
               row_number() OVER (PARTITION BY p_brand ORDER BY v) AS rn,
               count(*) OVER (PARTITION BY p_brand) AS m
        FROM p)
  WHERE rn = (m + 1) // 2
), dev AS (
  SELECT p.p_brand, med.n, med.med_cents, abs(p.v - med.med_cents) AS av
  FROM p JOIN med USING (p_brand)
)
SELECT p_brand, CAST(n AS BIGINT) AS n, med_cents, av AS mad_cents
FROM (SELECT p_brand, n, med_cents, av,
             row_number() OVER (PARTITION BY p_brand ORDER BY av) AS rn
      FROM dev)
WHERE rn = (n + 1) // 2
ORDER BY p_brand
"""

QUERIES["mad_price_by_brand"] = mad_price_by_brand
ORACLES["mad_price_by_brand"] = MAD_PRICE_BY_BRAND_SQL


# --- CUPED variance-reduced experiment readout -------------------------------
# The experimentation family (sequential_ab_sprt, permutation_test_diff,
# ipw_bias_correction) was missing the workhorse: CUPED.  Users are
# deterministically armed (user_id % 2), the pre-period covariate X is
# each user's event-value cents before 2024-01-15 and the outcome Y the
# cents from then on; theta = cov(X,Y)/var(X) from pooled int64 moments
# (the ols_normal_equations determinant recipe), and the readout is the
# raw vs CUPED-adjusted treatment effect plus the achieved variance
# reduction rho^2.  One narrow shuffle on user_id, then a single-row
# moment aggregate — the 100 TB shape for any per-unit experiment
# readout.  Date (not timestamp) comparison keeps the pre/post split
# session-tz-proof (parquet NTZ loads, verify-skill gotcha).
CUPED_CUTOFF = "2024-01-15"


def cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id",
        "CAST(ts AS DATE) AS d",
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
    )
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("d") < F.lit(CUPED_CUTOFF).cast("date"), F.col("cents")).otherwise(0)
        )
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(F.col("d") >= F.lit(CUPED_CUTOFF).cast("date"), F.col("cents")).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    m = per_user.selectExpr("user_id % 2 AS arm", "x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0)).cast("long").alias("sx1"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0)).cast("long").alias("sy1"),
    )
    return m.selectExpr(
        "n",
        "n1",
        "CAST(n - n1 AS BIGINT) AS n0",
        """CAST(round(1000000.0 *
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           ) AS BIGINT) AS theta_micro""",
        """CAST(round(1000000.0 *
             (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(sy - sy1 AS DOUBLE) / CAST(n - n1 AS DOUBLE))
           ) AS BIGINT) AS diff_raw_micro""",
        """CAST(round(1000000.0 * (
             (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(sy - sy1 AS DOUBLE) / CAST(n - n1 AS DOUBLE))
             - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
               * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                  - CAST(sx - sx1 AS DOUBLE) / CAST(n - n1 AS DOUBLE))
           )) AS BIGINT) AS diff_cuped_micro""",
        """CAST(round(1000000.0 *
             ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           ) AS BIGINT) AS rho2_ppm""",
    )


CUPED_ADJUSTMENT_SQL = """
WITH per_user AS (
  SELECT user_id,
         SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) AS x,
         SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-15'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) ELSE 0 END) AS y
  FROM events GROUP BY user_id
), m AS (
  SELECT COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy,
         SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN user_id % 2 = 1 THEN x ELSE 0 END) AS sx1,
         SUM(CASE WHEN user_id % 2 = 1 THEN y ELSE 0 END) AS sy1
  FROM per_user
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(n1 AS BIGINT) AS n1,
       CAST(n - n1 AS BIGINT) AS n0,
       CAST(round(1000000.0 *
            (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          ) AS BIGINT) AS theta_micro,
       CAST(round(1000000.0 *
            (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(sy - sy1 AS DOUBLE) / CAST(n - n1 AS DOUBLE))
          ) AS BIGINT) AS diff_raw_micro,
       CAST(round(1000000.0 * (
            (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(sy - sy1 AS DOUBLE) / CAST(n - n1 AS DOUBLE))
            - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
              * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 - CAST(sx - sx1 AS DOUBLE) / CAST(n - n1 AS DOUBLE))
          )) AS BIGINT) AS diff_cuped_micro,
       CAST(round(1000000.0 *
            ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
            / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          ) AS BIGINT) AS rho2_ppm
FROM m
"""

QUERIES["cuped_adjustment"] = cuped_adjustment
ORACLES["cuped_adjustment"] = CUPED_ADJUSTMENT_SQL


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
    taken = (
        top_k(ev, ["user_id"], [F.asc("ts"), F.asc("event_id")], CLUSTER_TAKE, "rn")
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
