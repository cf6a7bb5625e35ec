"""The remaining classic TPC-H query shapes (Q2, Q6, Q7, Q10, Q11, Q12,
Q14, Q15, Q16, Q20 analogs) — completing the full 22-query suite of plan
shapes over the synthetic corpus's actual columns and value domains.

"Analog" means the SHAPE is faithful (the join topology, the
decorrelation, the threshold-vs-global-share, the conditional-sum pivot)
while predicates are re-aimed at this corpus (dates 1995-2001, types
{ECONOMY,STANDARD,LARGE,MEDIUM,SMALL,PROMO}, no partsupp table — lineitem
serves as the part-supplier fact where the classic uses partsupp).  Money
is exact integer cents / cent-percent everywhere (the q19 discipline);
every aggregate is combinable; dimensions broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_craft_spark.queries.dedup import md5_prefix_long_sql as _md5pl
from pdf_craft_spark.sources import load_table as _t


_CENTS = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
_DISC = "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"


# --- Q6: forecasting revenue change (pure pushdown single-scan agg) -----------
# The simplest shape done right: both predicates and the 3-column
# projection reach the parquet scan; one partial-agg, zero joins.
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_shipdate",
        "l_quantity",
        f"{_CENTS} AS cents",
        f"{_DISC} AS disc",
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("disc").between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("cents") * F.col("disc")).alias("revenue_centpct"),
        )
        .selectExpr(
            "CAST(n_items AS BIGINT) AS n_items",
            "CAST(revenue_centpct AS BIGINT) AS revenue_centpct",
        )
    )


Q6_FORECAST_REVENUE_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum({_CENTS} * {_DISC}) AS BIGINT) AS revenue_centpct
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND {_DISC} BETWEEN 5 AND 7
  AND l_quantity < 24
"""


# --- Q14: promotion effect (conditional ratio in one pass) --------------------
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey",
        "l_shipdate",
        f"{_CENTS} AS cents",
        f"{_DISC} AS disc",
    ).filter(
        (F.col("l_shipdate") >= "1996-06-01")
        & (F.col("l_shipdate") < "1996-09-01")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return (
        j.agg(
            F.sum(
                F.when(
                    F.col("p_type") == "PROMO",
                    F.col("cents") * (100 - F.col("disc")),
                ).otherwise(0)
            ).alias("promo_centpct"),
            F.sum(F.col("cents") * (100 - F.col("disc"))).alias(
                "total_centpct"
            ),
        )
        .selectExpr(
            "CAST(promo_centpct AS BIGINT) AS promo_centpct",
            "CAST(total_centpct AS BIGINT) AS total_centpct",
            "CAST((1000000 * promo_centpct) DIV total_centpct AS BIGINT)"
            " AS promo_share_ppm",
        )
    )


Q14_PROMO_SHARE_SQL = f"""
WITH j AS (
  SELECT p.p_type, {_CENTS} AS cents, {_DISC} AS disc
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-06-01'
    AND l.l_shipdate < TIMESTAMP '1996-09-01'
)
SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN cents * (100 - disc) ELSE 0 END) AS BIGINT)
         AS promo_centpct,
       CAST(sum(cents * (100 - disc)) AS BIGINT) AS total_centpct,
       CAST((1000000 * sum(CASE WHEN p_type = 'PROMO'
                                THEN cents * (100 - disc) ELSE 0 END))
            // sum(cents * (100 - disc)) AS BIGINT) AS promo_share_ppm
FROM j
"""


# --- Q12: priority counts by line status (conditional-sum pivot) --------------
# The classic pivots shipmode x priority; this corpus has no shipmode, so
# the same CASE-sum pivot runs over l_linestatus (the Q12 plan shape: one
# fact->orders join, one combinable agg of conditional sums).
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linestatus")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    return (
        j.groupBy("l_linestatus")
        .agg(
            F.sum(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            ).alias("high_priority"),
            F.sum(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0
                ).otherwise(1)
            ).alias("low_priority"),
        )
        .selectExpr(
            "l_linestatus",
            "CAST(high_priority AS BIGINT) AS high_priority",
            "CAST(low_priority AS BIGINT) AS low_priority",
        )
        .orderBy("l_linestatus")
    )


Q12_PRIORITY_BY_STATUS_SQL = """
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_priority
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY l.l_linestatus
ORDER BY l.l_linestatus
"""


# --- Q7: volume shipping between two nations ----------------------------------
# The two-sided nation join with the disjunctive nation-pair filter:
# lineitem -> supplier nation, lineitem -> orders -> customer nation; keep
# (NATION_1, NATION_2) in either direction, group by the pair and ship
# year.  Dimensions broadcast; the one big shuffle is lineitem x orders.
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey",
        "l_suppkey",
        "year(l_shipdate) AS l_year",
        f"{_CENTS} AS cents",
        f"{_DISC} AS disc",
    ).filter("l_year IN (1996, 1997)")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.sum(F.col("cents") * (100 - F.col("disc"))).alias(
                "volume_centpct"
            )
        )
        .selectExpr(
            "supp_nation",
            "cust_nation",
            "CAST(l_year AS BIGINT) AS l_year",
            "CAST(volume_centpct AS BIGINT) AS volume_centpct",
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_NATION_VOLUME_SQL = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       CAST(sum({_CENTS} * (100 - {_DISC})) AS BIGINT) AS volume_centpct
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE year(l.l_shipdate) IN (1996, 1997)
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
"""


# --- Q10: returned item reporting (top-20 lossy customers) ---------------------
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey",
        "l_returnflag",
        f"{_CENTS} AS cents",
        f"{_DISC} AS disc",
    ).filter("l_returnflag = 'R'")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_nationkey")
        .agg(
            F.sum(F.col("cents") * (100 - F.col("disc"))).alias(
                "revenue_centpct"
            )
        )
        .orderBy(F.col("revenue_centpct").desc(), F.col("c_custkey"))
        .limit(20)
        .selectExpr(
            "c_custkey",
            "c_name",
            "CAST(c_nationkey AS BIGINT) AS c_nationkey",
            "CAST(revenue_centpct AS BIGINT) AS revenue_centpct",
        )
    )


Q10_RETURNED_REVENUE_SQL = f"""
SELECT c.c_custkey, c.c_name,
       CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
       CAST(sum({_CENTS} * (100 - {_DISC})) AS BIGINT) AS revenue_centpct
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c.c_custkey, c.c_name, c.c_nationkey
ORDER BY revenue_centpct DESC, c.c_custkey
LIMIT 20
"""


# --- Q15: top supplier (ties kept — max via broadcast 1-row join) --------------
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .selectExpr("l_suppkey", f"{_CENTS} AS cents", f"{_DISC} AS disc")
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("cents") * (100 - F.col("disc"))).alias(
                "total_centpct"
            )
        )
    )
    mx = rev.agg(F.max("total_centpct").alias("mx"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_centpct") == F.col("mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .selectExpr(
            "s_suppkey",
            "s_name",
            "CAST(total_centpct AS BIGINT) AS total_centpct",
        )
        .orderBy("s_suppkey")
    )


Q15_TOP_SUPPLIER_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
         sum({_CENTS} * (100 - {_DISC})) AS total_centpct
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(r.total_centpct AS BIGINT) AS total_centpct
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_centpct = (SELECT max(total_centpct) FROM rev)
ORDER BY s.s_suppkey
"""


# --- Q2: minimum-cost supplier per part (decorrelated min subquery) ------------
# No partsupp table: lineitem is the part-supplier fact, cost := the
# minimum line price (cents) this supplier ever quoted the part.  The Q2
# shape survives intact: the correlated min subquery decorrelates to a
# per-part min aggregation joined back on equality, region-filtered
# through broadcast nation.  Ties break on the smaller suppkey (the
# classic orders by supplier), enforced via one more min aggregation.
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey", "l_suppkey", f"{_CENTS} AS cents"
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    asia_sup = (
        sup.join(
            F.broadcast(nat), sup.s_nationkey == nat.n_nationkey
        )
        .filter(F.col("n_regionkey") == 2)
        .select("s_suppkey")
    )
    cost = (
        li.join(F.broadcast(asia_sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("cents").alias("cost"))
    )
    best = cost.groupBy("l_partkey").agg(F.min("cost").alias("min_cost"))
    chosen = (
        cost.join(best, "l_partkey")
        .filter(F.col("cost") == F.col("min_cost"))
        .groupBy("l_partkey", "min_cost")
        .agg(F.min("l_suppkey").alias("s_suppkey"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") == 10).select(
        "p_partkey", "p_brand"
    )
    return (
        chosen.join(F.broadcast(part), chosen.l_partkey == part.p_partkey)
        .selectExpr(
            "p_partkey",
            "p_brand",
            "CAST(s_suppkey AS BIGINT) AS s_suppkey",
            "CAST(min_cost AS BIGINT) AS min_cost_cents",
        )
        .orderBy("p_partkey")
    )


Q2_MIN_COST_SUPPLIER_SQL = f"""
WITH asia_sup AS (
  SELECT s.s_suppkey FROM supplier s
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_regionkey = 2
), cost AS (
  SELECT l.l_partkey, l.l_suppkey, min({_CENTS}) AS cost
  FROM lineitem l JOIN asia_sup a ON a.s_suppkey = l.l_suppkey
  GROUP BY l.l_partkey, l.l_suppkey
), best AS (
  SELECT l_partkey, min(cost) AS min_cost FROM cost GROUP BY l_partkey
), chosen AS (
  SELECT c.l_partkey, b.min_cost, min(c.l_suppkey) AS s_suppkey
  FROM cost c JOIN best b
    ON b.l_partkey = c.l_partkey AND c.cost = b.min_cost
  GROUP BY c.l_partkey, b.min_cost
)
SELECT p.p_partkey, p.p_brand,
       CAST(ch.s_suppkey AS BIGINT) AS s_suppkey,
       CAST(ch.min_cost AS BIGINT) AS min_cost_cents
FROM chosen ch JOIN part p ON p.p_partkey = ch.l_partkey
WHERE p.p_size = 10
ORDER BY p.p_partkey
"""


# --- Q11: important stock (group share above a global-threshold) ----------------
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey", "l_suppkey", f"{_CENTS} AS cents"
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat1 = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .filter(F.col("s_nationkey") == 1)
    )
    per_part = nat1.groupBy("l_partkey").agg(F.sum("cents").alias("value"))
    total = per_part.agg(F.sum("value").alias("tot"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(2000 * F.col("value") > F.col("tot"))
        .selectExpr(
            "l_partkey",
            "CAST(value AS BIGINT) AS value_cents",
            "CAST((1000000 * value) DIV tot AS BIGINT) AS share_ppm",
        )
        .orderBy(F.col("value_cents").desc(), F.col("l_partkey"))
    )


Q11_IMPORTANT_STOCK_SQL = f"""
WITH nat1 AS (
  SELECT l.l_partkey, {_CENTS} AS cents
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE s.s_nationkey = 1
), per_part AS (
  SELECT l_partkey, sum(cents) AS value FROM nat1 GROUP BY l_partkey
), tot AS (SELECT sum(value) AS tot FROM per_part)
SELECT l_partkey,
       CAST(value AS BIGINT) AS value_cents,
       CAST((1000000 * value) // tot AS BIGINT) AS share_ppm
FROM per_part CROSS JOIN tot
WHERE 2000 * value > tot
ORDER BY value_cents DESC, l_partkey
"""


# --- Q16: supplier counts with a NOT-IN exclusion --------------------------------
# Distinct suppliers per (brand, size) for non-PROMO parts, excluding a
# deterministic md5-derived supplier blacklist (the classic excludes
# complaint suppliers) — the NOT IN runs as a broadcast anti-join.
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    bl = _md5pl("CAST(s_suppkey AS STRING)", 4, "spark") + " % 100"
    blacklist = _t(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey", f"({bl}) AS pct"
    ).filter("pct < 5").select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_type") != "PROMO"
    ).select("p_partkey", "p_brand", "p_size")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(blacklist),
            li.l_suppkey == blacklist.s_suppkey,
            "left_anti",
        )
    )
    return (
        j.groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .selectExpr(
            "p_brand",
            "CAST(p_size AS BIGINT) AS p_size",
            "CAST(supplier_cnt AS BIGINT) AS supplier_cnt",
        )
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


_Q16_BL_DUCK = _md5pl("CAST(s_suppkey AS VARCHAR)", 4, "duck") + " % 100"

Q16_SUPPLIER_COUNTS_SQL = f"""
WITH blacklist AS (
  SELECT s_suppkey FROM supplier WHERE ({_Q16_BL_DUCK}) < 5
)
SELECT p.p_brand,
       CAST(p.p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_type <> 'PROMO'
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM blacklist)
GROUP BY p.p_brand, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
"""


# --- Q20: potential part promotion (nested semi-join chain) ----------------------
# Suppliers who moved more than a threshold quantity of LARGE parts in
# 1996 — part-filter -> per-(supplier, part) quantity sum -> threshold ->
# DISTINCT suppliers -> names.  The classic's availqty>half-shipped turns
# into a fixed quantity threshold calibrated to the corpus (45 — above the
# per-(supp,part) p90 at sf0.01 so the filter is selective-but-populated
# at every test scale; no partsupp); the semi-join chain and
# the distinct-suppliers projection are the shape.
Q20_QTY_THRESHOLD = 45


def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_type") == "LARGE"
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey",
        "l_suppkey",
        "CAST(l_quantity AS BIGINT) AS qty",
        "l_shipdate",
    ).filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    moved = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("qty").alias("total_qty"))
        .filter(F.col("total_qty") > Q20_QTY_THRESHOLD)
        .select("l_suppkey")
        .distinct()
    )
    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    return (
        moved.join(F.broadcast(sup), moved.l_suppkey == sup.s_suppkey)
        .selectExpr(
            "s_suppkey",
            "s_name",
            "CAST(s_nationkey AS BIGINT) AS s_nationkey",
        )
        .orderBy("s_suppkey")
    )


Q20_PART_PROMOTION_SQL = f"""
WITH moved AS (
  SELECT DISTINCT l.l_suppkey
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'LARGE'
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l.l_suppkey, l.l_partkey
  HAVING sum(CAST(l.l_quantity AS BIGINT)) > {Q20_QTY_THRESHOLD}
)
SELECT s.s_suppkey, s.s_name,
       CAST(s.s_nationkey AS BIGINT) AS s_nationkey
FROM moved m JOIN supplier s ON s.s_suppkey = m.l_suppkey
ORDER BY s.s_suppkey
"""


QUERIES = {
    "q6_forecast_revenue": q6_forecast_revenue,
    "q14_promo_share": q14_promo_share,
    "q12_priority_by_status": q12_priority_by_status,
    "q7_nation_volume": q7_nation_volume,
    "q10_returned_revenue": q10_returned_revenue,
    "q15_top_supplier": q15_top_supplier,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q11_important_stock": q11_important_stock,
    "q16_supplier_counts": q16_supplier_counts,
    "q20_part_promotion": q20_part_promotion,
}

ORACLES = {
    "q6_forecast_revenue": Q6_FORECAST_REVENUE_SQL,
    "q14_promo_share": Q14_PROMO_SHARE_SQL,
    "q12_priority_by_status": Q12_PRIORITY_BY_STATUS_SQL,
    "q7_nation_volume": Q7_NATION_VOLUME_SQL,
    "q10_returned_revenue": Q10_RETURNED_REVENUE_SQL,
    "q15_top_supplier": Q15_TOP_SUPPLIER_SQL,
    "q2_min_cost_supplier": Q2_MIN_COST_SUPPLIER_SQL,
    "q11_important_stock": Q11_IMPORTANT_STOCK_SQL,
    "q16_supplier_counts": Q16_SUPPLIER_COUNTS_SQL,
    "q20_part_promotion": Q20_PART_PROMOTION_SQL,
}
