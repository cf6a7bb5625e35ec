"""The classic TPC-H query shapes (Q2-Q16, Q18-Q20 and Q22 analogs; Q1 is
relational's a1_pricing_summary, Q17 sits with relational's decorrelation
and Q21 with statsq) — the full 22-query suite of plan shapes over the
synthetic corpus's actual columns and value domains.

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


# --- TPC-H Q5 analog: snowflake 5-way join --------------------------------------
# Local-supplier volume: revenue by nation where the customer and the
# line's supplier share a nation — the deepest join chain in the classic
# suite (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation) and the query
# optimizers use to prove join ordering: the dimensions broadcast, the
# two fact-side joins co-partition on orderkey, and the same-nation
# constraint lands as a post-join filter on two already-joined columns
# (never a theta join).  Revenue through DECIMAL.  Restricted to one
# order year by a pushed-down date predicate.
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("rev"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("rev").cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_LOCAL_SUPPLIER_VOLUME_SQL = """
SELECT n.n_name,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2))
                         - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE),
             2) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE c.c_nationkey = s.s_nationkey
  AND o.o_orderdate >= DATE '1996-01-01'
  AND o.o_orderdate <  DATE '1997-01-01'
GROUP BY 1
ORDER BY revenue DESC, n_name
"""

QUERIES["q5_local_supplier_volume"] = q5_local_supplier_volume
ORACLES["q5_local_supplier_volume"] = Q5_LOCAL_SUPPLIER_VOLUME_SQL


# --- TPC-H Q8 analog: market share ratio -----------------------------------------
# Nation market share per order year: the share of total revenue carried
# by suppliers of ONE nation — the nested-aggregation-ratio pattern.
# Both the numerator (conditional sum) and denominator aggregate in
# DECIMAL in the SAME pass (one shuffle, no second scan), and the share
# ships as integer ppm via exact DECIMAL division floored — no float
# ratio ever computed.
Q8_NATION = "GERMANY"


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year(F.col("o_orderdate").cast("date")).alias("yr")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("rev"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "n_name"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .groupBy("yr")
        .agg(
            F.sum(
                F.when(F.col("n_name") == Q8_NATION, F.col("rev")).otherwise(
                    F.lit(0).cast("decimal(18,2)")
                )
            ).alias("nat_rev"),
            F.sum("rev").alias("tot_rev"),
        )
        .selectExpr(
            "CAST(yr AS INT) AS yr",
            "round(CAST(nat_rev AS DOUBLE), 2) AS nation_revenue",
            "round(CAST(tot_rev AS DOUBLE), 2) AS total_revenue",
            "CAST((nat_rev * 1000000) DIV tot_rev AS BIGINT) AS share_ppm",
        )
        .orderBy("yr")
    )


Q8_MARKET_SHARE_SQL = f"""
WITH j AS (
  SELECT year(CAST(o.o_orderdate AS DATE)) AS yr,
         n.n_name,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2))
              - CAST(l.l_discount AS DECIMAL(18,2))) AS rev
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
), agg AS (
  SELECT yr,
         sum(CASE WHEN n_name = '{Q8_NATION}' THEN rev
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS nat_rev,
         sum(rev) AS tot_rev
  FROM j GROUP BY 1
)
SELECT CAST(yr AS INT) AS yr,
       round(CAST(nat_rev AS DOUBLE), 2) AS nation_revenue,
       round(CAST(tot_rev AS DOUBLE), 2) AS total_revenue,
       CAST((nat_rev * 1000000) // tot_rev AS BIGINT) AS share_ppm
FROM agg ORDER BY yr
"""

QUERIES["q8_market_share"] = q8_market_share
ORACLES["q8_market_share"] = Q8_MARKET_SHARE_SQL


# --- TPC-H Q13 analog: customer order-count distribution -------------------------
# The histogram-of-counts shape: how many customers placed 0, 1, 2, …
# orders — the LEFT join is the point (zero-order customers must appear),
# followed by the double aggregation (count per customer, then customers
# per count).  Two shuffles, both on shrinking keys; the left side never
# loses rows.
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .selectExpr(
            "CAST(n_orders AS BIGINT) AS n_orders",
            "CAST(n_customers AS BIGINT) AS n_customers",
        )
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


Q13_CUSTOMER_DISTRIBUTION_SQL = """
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY 1
)
SELECT CAST(n_orders AS BIGINT) AS n_orders,
       CAST(count(*) AS BIGINT) AS n_customers
FROM per_cust GROUP BY 1
ORDER BY n_customers DESC, n_orders DESC
"""

QUERIES["q13_customer_distribution"] = q13_customer_distribution
ORACLES["q13_customer_distribution"] = Q13_CUSTOMER_DISTRIBUTION_SQL


# --- TPC-H Q3 analog: shipping priority ------------------------------------------
# Top-10 unshipped orders by revenue at a cut date inside the corpus's
# 1995-2001 span: orders placed before the cut whose lineitems ship
# after it.  The classic two-fact equi-join + filtered aggregate +
# TakeOrdered top-k; the date predicates push into both scans.  Revenue
# through DECIMAL; (revenue DESC, orderkey) is a total order so LIMIT is
# engine-stable.
Q3_CUT = "1997-06-01"


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q3_CUT)
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(Q3_CUT)
    ).select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("rev"),
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum("rev").cast("double"), 2).alias("revenue"))
        .selectExpr(
            "CAST(o_orderkey AS BIGINT) AS o_orderkey",
            "CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_orderdate",
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


Q3_SHIPPING_PRIORITY_SQL = f"""
SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
       CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
       o.o_orderpriority,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2))
                         - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE),
             2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate < TIMESTAMP '{Q3_CUT} 00:00:00'
  AND l.l_shipdate > TIMESTAMP '{Q3_CUT} 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""

QUERIES["q3_shipping_priority"] = q3_shipping_priority
ORACLES["q3_shipping_priority"] = Q3_SHIPPING_PRIORITY_SQL


# --- TPC-H Q9 analog: product-line profit by nation and year ----------------------
# Profit rollup across the full star (lineitem ⋈ orders ⋈ part ⋈
# supplier ⋈ nation), margin defined against the catalog price (the
# corpus has no partsupp table, so supply cost is proxied as 80% of
# p_retailprice — a fixed DECIMAL(3,2) factor, exact in both engines):
# margin = extprice·(1−disc) − 0.80·retail·qty, filtered to the part
# name family like the original's LIKE predicate (this corpus's part
# vocabulary is color+noun; 'red' selects ~13% of the catalog).  The p_name predicate
# prunes parts BEFORE the broadcast, so the fact join only carries the
# matching part family.
Q9_PART_LIKE = "red"


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").contains(Q9_PART_LIKE)
    ).select("p_partkey", F.col("p_retailprice").cast("decimal(18,2)").alias("retail"))
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year(F.col("o_orderdate").cast("date")).alias("yr")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("ext"),
        F.col("l_discount").cast("decimal(18,2)").alias("disc"),
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .selectExpr(
            "n_name",
            "yr",
            "CAST(ext * (CAST(1 AS DECIMAL(18,2)) - disc) AS DECIMAL(28,6))"
            " - CAST(CAST(0.80 AS DECIMAL(3,2)) * retail AS DECIMAL(18,4))"
            " * CAST(qty AS DECIMAL(10,2)) AS margin",
        )
        .groupBy("n_name", "yr")
        .agg(F.round(F.sum("margin").cast("double"), 2).alias("profit"))
        .selectExpr("n_name", "CAST(yr AS INT) AS yr", "profit")
        .orderBy("n_name", "yr")
    )


Q9_PRODUCT_PROFIT_SQL = f"""
SELECT n.n_name,
       CAST(year(CAST(o.o_orderdate AS DATE)) AS INT) AS yr,
       round(CAST(sum(
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2))
                   - CAST(l.l_discount AS DECIMAL(18,2))) AS DECIMAL(28,6))
           - CAST(CAST(0.80 AS DECIMAL(3,2))
                  * CAST(p.p_retailprice AS DECIMAL(18,2)) AS DECIMAL(18,4))
             * CAST(CAST(l.l_quantity AS DECIMAL(18,2)) AS DECIMAL(10,2))
         ) AS DOUBLE), 2) AS profit
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%{Q9_PART_LIKE}%'
GROUP BY 1, 2
ORDER BY n_name, yr
"""

QUERIES["q9_product_profit"] = q9_product_profit
ORACLES["q9_product_profit"] = Q9_PRODUCT_PROFIT_SQL


# --- Q4 analog: order-priority checking (EXISTS semi-join) -------------------
# TPC-H Q4's shape: a date-windowed order scan counted by priority, kept
# only when at least one line item violates a delivery promise.  The
# corpus has no commit/receipt dates, so the violation is "shipped more
# than 60 days after the order date" — same EXISTS semantics, same plan:
# the correlated EXISTS decorrelates to a LEFT SEMI join on the order key
# with the violation predicate in the join condition; lineitem is never
# aggregated or deduplicated first.  Both date bounds push into the
# orders scan.
def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.expr("o_orderdate + INTERVAL 60 DAYS")),
        "leftsemi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


Q4_PRIORITY_LATE_SHIP_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

QUERIES["q4_priority_late_ship"] = q4_priority_late_ship
ORACLES["q4_priority_late_ship"] = Q4_PRIORITY_LATE_SHIP_SQL


# --- Q18 analog: large-volume orders (HAVING subquery -> semi-join) ----------
# TPC-H Q18: orders whose total quantity clears a threshold, with customer
# detail, largest first.  The IN (GROUP BY ... HAVING) subquery is one
# aggregation over the fact table reused as a semi-join spine; customer
# is broadcast.  Money is exact integer cents; quantities are exact
# integers (floor(q + 0.5) — the corpus stores integral quantities as
# doubles).
Q18_QTY_THRESHOLD = 200


def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey", "CAST(floor(l_quantity + 0.5) AS BIGINT) AS q"
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("q").alias("sum_qty"))
        .filter(F.col("sum_qty") > Q18_QTY_THRESHOLD)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .selectExpr(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate",
            "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS totalprice_cents",
            "CAST(sum_qty AS BIGINT) AS sum_qty",
        )
        .orderBy(F.desc("totalprice_cents"), "o_orderkey")
        .limit(20)
    )


Q18_LARGE_VOLUME_ORDERS_SQL = f"""
WITH big AS (
  SELECT l_orderkey, sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS sum_qty
  FROM lineitem GROUP BY 1
  HAVING sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) > {Q18_QTY_THRESHOLD}
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS totalprice_cents,
       CAST(b.sum_qty AS BIGINT) AS sum_qty
FROM orders o JOIN big b ON b.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY totalprice_cents DESC, o_orderkey LIMIT 20
"""

QUERIES["q18_large_volume_orders"] = q18_large_volume_orders
ORACLES["q18_large_volume_orders"] = Q18_LARGE_VOLUME_ORDERS_SQL


# --- Q19 analog: disjunctive predicate revenue (OR-of-ANDs pushdown) ---------
# TPC-H Q19's point is the optimizer: three (brand AND qty-range AND
# size-range) disjuncts over a part ⋈ lineitem join.  Catalyst extracts
# the common p_brand IN (...) prefilter and pushes it into the part scan,
# and the small filtered part side broadcasts.  Revenue is exact BIGINT
# cent-percent units (price cents x (100 - discount pct)) — no float ever
# aggregates, so the disjunct-branch totals are order-free.
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey",
        "CAST(floor(l_quantity + 0.5) AS BIGINT) AS q",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents",
        "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct",
    )
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).filter(
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("q").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("q").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("q").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.col("price_cents") * (100 - F.col("disc_pct")))
            .cast("bigint")
            .alias("revenue_centpct"),
        )
        .orderBy("p_brand")
    )


Q19_DISJUNCTIVE_REVENUE_SQL = """
WITH li AS (
  SELECT l_partkey,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct
  FROM lineitem
)
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(price_cents * (100 - disc_pct)) AS BIGINT) AS revenue_centpct
FROM li JOIN part p ON p.p_partkey = li.l_partkey
WHERE (p.p_brand = 'Brand#1' AND q BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 5)
   OR (p.p_brand = 'Brand#2' AND q BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 10)
   OR (p.p_brand = 'Brand#3' AND q BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 15)
GROUP BY 1 ORDER BY 1
"""

QUERIES["q19_disjunctive_revenue"] = q19_disjunctive_revenue
ORACLES["q19_disjunctive_revenue"] = Q19_DISJUNCTIVE_REVENUE_SQL


# --- Q22 analog: wealthy inactive customers (anti-join + scalar agg) ---------
# TPC-H Q22's shape: a scalar aggregate threshold (average positive
# balance) feeds a filter, and a NOT EXISTS anti-join removes customers
# with recent orders.  The threshold is an exact integer floor
# (sum-cents DIV count — both engines' // on BIGINT), broadcast as a
# 1-row table, so no float average ever crosses the engines.  The corpus
# gives every customer at least one order, so inactivity is "no order on
# or after 2000-01-01" — 55 survivors at sf0.01, a real check.
def q22_wealthy_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        "c_nationkey",
        "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents",
    )
    thr = (
        cust.filter(F.col("bal_cents") > 0)
        .agg(
            F.expr("sum(bal_cents) DIV count(*)").alias("thr_cents")
        )
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    wealthy = cust.join(F.broadcast(thr)).filter(
        F.col("bal_cents") > F.col("thr_cents")
    )
    inactive = wealthy.join(
        recent, wealthy["c_custkey"] == recent["o_custkey"], "left_anti"
    )
    return (
        inactive.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.sum("bal_cents").cast("bigint").alias("total_bal_cents"),
        )
        .orderBy("c_nationkey")
    )


Q22_WEALTHY_INACTIVE_SQL = """
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
  FROM customer
), thr AS (
  SELECT sum(bal_cents) // count(*) AS thr_cents FROM c WHERE bal_cents > 0
)
SELECT c.c_nationkey,
       CAST(count(*) AS BIGINT) AS n_cust,
       CAST(sum(c.bal_cents) AS BIGINT) AS total_bal_cents
FROM c CROSS JOIN thr
WHERE c.bal_cents > thr.thr_cents
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1 ORDER BY 1
"""

QUERIES["q22_wealthy_inactive"] = q22_wealthy_inactive
ORACLES["q22_wealthy_inactive"] = Q22_WEALTHY_INACTIVE_SQL
