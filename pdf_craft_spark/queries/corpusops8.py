"""Batch 8: corpus-planning + profiling operators — exact integer
water-filling of a token budget across sources, hierarchical
share-of-parent rollup, functional-dependency discovery matrix, and the
Pareto top-p% concentration report.

House rules: int64 arithmetic end-to-end (DIV for levels/shares — both
engines truncate toward zero), window cumulative sums instead of
driver-side loops, and every output column exactly mirrored in the
DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.sources import load_table as _t


QUERIES: dict = {}
ORACLES: dict = {}


# --- token-budget water-filling -----------------------------------------------
# The sampling planner behind every "cap each domain at L tokens" recipe
# (Gopher/LLaMA-style source balancing): given per-source token counts
# c_i and a total budget B (60% of the corpus), find the unique level L
# such that sum(min(c_i, L)) <= B with every source below L fully kept.
# Exact integer algorithm, fully distributed: sort sources by c asc,
# full_i <=> P_{i-1} + (n-i+1)*c_i <= B (a prefix, by monotonicity), and
# L = (B - P_{k*}) DIV (n - k*) over the k* fully-funded sources — three
# window functions, no driver loop, no floats.  The same plan at 100 TB
# runs over the per-source aggregate (|sources| rows), not base data.
WF_BUDGET_NUM, WF_BUDGET_DEN = 6, 10  # B = 60% of total tokens


def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_src = (
        _t(spark, sf_dir, "documents")
        .select(
            "source",
            F.size(F.expr("regexp_extract_all(text, '[a-z]{3,}', 0)")).alias("nt"),
        )
        .groupBy("source")
        .agg(F.sum("nt").cast("long").alias("c"))
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    wo = W.orderBy("c", "source")
    wcum = wo.rowsBetween(W.unboundedPreceding, 0)
    staged = (
        per_src.withColumn("n", F.count(F.lit(1)).over(wall))
        .withColumn("total", F.sum("c").over(wall))
        .withColumn("i", F.row_number().over(wo))
        .withColumn("p", F.sum("c").over(wcum))
        .withColumn(
            "budget",
            F.expr(f"{WF_BUDGET_NUM} * total DIV {WF_BUDGET_DEN}"),
        )
        .withColumn(
            "fullk",
            F.expr("CASE WHEN p - c + (n - i + 1) * c <= budget THEN 1 ELSE 0 END"),
        )
    )
    lev = staged.withColumn("kstar", F.sum("fullk").over(wall)).withColumn(
        "pk",
        F.max(F.when(F.col("i") == F.col("kstar"), F.col("p")).otherwise(0)).over(
            wall
        ),
    )
    return lev.selectExpr(
        "source",
        "c AS tokens",
        "budget",
        """CAST(CASE WHEN kstar = n THEN c
                WHEN fullk = 1 THEN c
                ELSE (budget - pk) DIV (n - kstar) END AS BIGINT) AS alloc""",
        "CAST(1 - fullk AS BIGINT) AS capped",
        """CAST(CASE WHEN kstar = n THEN -1
                ELSE (budget - pk) DIV (n - kstar) END AS BIGINT) AS level""",
    )


TOKEN_BUDGET_WATERFILL_SQL = """
WITH per_src AS (
  SELECT source, SUM(len(regexp_extract_all(text, '[a-z]{3,}'))) AS c
  FROM documents GROUP BY source
), staged AS (
  SELECT source, c,
         COUNT(*) OVER () AS n,
         SUM(c) OVER () AS total,
         row_number() OVER (ORDER BY c, source) AS i,
         SUM(c) OVER (ORDER BY c, source ROWS UNBOUNDED PRECEDING) AS p
  FROM per_src
), flagged AS (
  SELECT *, 6 * total // 10 AS budget,
         CASE WHEN p - c + (n - i + 1) * c <= 6 * total // 10 THEN 1 ELSE 0 END AS fullk
  FROM staged
), ks AS (
  SELECT *, SUM(fullk) OVER () AS kstar FROM flagged
), lev AS (
  SELECT *, MAX(CASE WHEN i = kstar THEN p ELSE 0 END) OVER () AS pk
  FROM ks
)
SELECT source,
       CAST(c AS BIGINT) AS tokens,
       CAST(budget AS BIGINT) AS budget,
       CAST(CASE WHEN kstar = n THEN c
             WHEN fullk = 1 THEN c
             ELSE (budget - pk) // (n - kstar) END AS BIGINT) AS alloc,
       CAST(1 - fullk AS BIGINT) AS capped,
       CAST(CASE WHEN kstar = n THEN -1
             ELSE (budget - pk) // (n - kstar) END AS BIGINT) AS level
FROM lev
"""

QUERIES["token_budget_waterfill"] = token_budget_waterfill
ORACLES["token_budget_waterfill"] = TOKEN_BUDGET_WATERFILL_SQL


# --- hierarchical share-of-parent rollup --------------------------------------
# The OLAP readout a1_rollup_revenue doesn't give: each node's share of
# its PARENT level (nation within region, region within grand total) as
# exact ppm — the drill-down percentages every BI hierarchy renders.
# Revenue in cents (DECIMAL bridge), shares by integer DIV; two window
# partitions express the whole hierarchy with zero self-joins.
def hierarchy_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per_nation = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    wr = W.partitionBy("r_name").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    wg = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        per_nation.withColumn("region_cents", F.sum("rev_cents").over(wr))
        .withColumn("grand_cents", F.sum("rev_cents").over(wg))
        .selectExpr(
            "r_name",
            "n_name",
            "rev_cents",
            "CAST(1000000 * rev_cents DIV region_cents AS BIGINT) AS nation_share_ppm",
            "CAST(1000000 * region_cents DIV grand_cents AS BIGINT) AS region_share_ppm",
        )
    )


HIERARCHY_SHARE_OF_PARENT_SQL = """
WITH per_nation AS (
  SELECT r.r_name, n.n_name,
         SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT r_name, n_name,
       CAST(rev_cents AS BIGINT) AS rev_cents,
       CAST(1000000 * rev_cents // (SUM(rev_cents) OVER (PARTITION BY r_name)) AS BIGINT)
           AS nation_share_ppm,
       CAST(1000000 * (SUM(rev_cents) OVER (PARTITION BY r_name))
            // (SUM(rev_cents) OVER ()) AS BIGINT) AS region_share_ppm
FROM per_nation
"""

QUERIES["hierarchy_share_of_parent"] = hierarchy_share_of_parent
ORACLES["hierarchy_share_of_parent"] = HIERARCHY_SHARE_OF_PARENT_SQL


# --- functional-dependency discovery matrix -----------------------------------
# Profiling sibling of fd_violation_check (which audits ONE declared FD):
# discovery sweeps all ordered pairs of candidate columns and measures
# how far each A -> B is from holding — FD holds iff
# count(distinct A) == count(distinct (A, B)); violation_ppm is the
# normalized gap.  One aggregate row computes all 25 distinct-counts in
# a single pass (Spark's multi-COUNT(DISTINCT) expands to one plan), then
# stack() pivots to the long matrix — no per-pair rescans.
FD_COLS = ("status", "prio", "yr", "mon", "bucket")


def fd_discovery_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderstatus AS status",
        "o_orderpriority AS prio",
        "year(o_orderdate) AS yr",
        "month(o_orderdate) AS mon",
        "o_custkey % 100 AS bucket",
    )
    singles = [f"COUNT(DISTINCT {c}) AS d_{c}" for c in FD_COLS]
    pairs = [
        f"COUNT(DISTINCT {a}, {b}) AS d_{a}_{b}"
        for a in FD_COLS
        for b in FD_COLS
        if a != b
    ]
    one = o.selectExpr(*(singles + pairs))
    stacked = ", ".join(
        f"'{a}', '{b}', d_{a}, d_{a}_{b}"
        for a in FD_COLS
        for b in FD_COLS
        if a != b
    )
    n_pairs = len(FD_COLS) * (len(FD_COLS) - 1)
    return one.selectExpr(
        f"stack({n_pairs}, {stacked}) AS (det, dep, n_det, n_pair)"
    ).selectExpr(
        "det",
        "dep",
        "CAST(n_det AS BIGINT) AS n_det",
        "CAST(n_pair AS BIGINT) AS n_pair",
        "CAST(CASE WHEN n_det = n_pair THEN 1 ELSE 0 END AS BIGINT) AS fd_holds",
        "CAST(1000000 * (n_pair - n_det) DIV n_pair AS BIGINT) AS violation_ppm",
    )


_FD_ORACLE_ROWS = "\nUNION ALL\n".join(
    f"SELECT '{a}' AS det, '{b}' AS dep, COUNT(DISTINCT {a}) AS n_det, "
    f"COUNT(DISTINCT ({a}, {b})) AS n_pair FROM o"
    for a in FD_COLS
    for b in FD_COLS
    if a != b
)

FD_DISCOVERY_MATRIX_SQL = f"""
WITH o AS (
  SELECT o_orderstatus AS status,
         o_orderpriority AS prio,
         year(o_orderdate) AS yr,
         month(o_orderdate) AS mon,
         o_custkey % 100 AS bucket
  FROM orders
), m AS (
{_FD_ORACLE_ROWS}
)
SELECT det, dep,
       CAST(n_det AS BIGINT) AS n_det,
       CAST(n_pair AS BIGINT) AS n_pair,
       CAST(CASE WHEN n_det = n_pair THEN 1 ELSE 0 END AS BIGINT) AS fd_holds,
       CAST(1000000 * (n_pair - n_det) // n_pair AS BIGINT) AS violation_ppm
FROM m
"""

QUERIES["fd_discovery_matrix"] = fd_discovery_matrix
ORACLES["fd_discovery_matrix"] = FD_DISCOVERY_MATRIX_SQL


# --- Pareto top-p% concentration report ---------------------------------------
# The 80/20 table next to gini_revenue_concentration: what share of total
# revenue do the top 1/5/10/20/50% of customers hold?  k = ceil(p*n/100)
# by integer arithmetic, the cumulative sum rides one descending window,
# and each report row is the single rank-k row — an equi-join against the
# 5-row p table, never a scan per p.
PARETO_PCTS = (1, 5, 10, 20, 50)


def pareto_concentration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_cust = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "o_custkey",
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    wo = W.orderBy(F.desc("rev"), F.asc("o_custkey"))
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = (
        per_cust.withColumn("rn", F.row_number().over(wo))
        .withColumn("cum_rev", F.sum("rev").over(wo.rowsBetween(W.unboundedPreceding, 0)))
        .withColumn("n", F.count(F.lit(1)).over(wall))
        .withColumn("total", F.sum("rev").over(wall))
    )
    ps = spark.range(1).selectExpr(
        f"explode(array({', '.join(str(p) for p in PARETO_PCTS)})) AS p"
    )
    return (
        F.broadcast(ps)
        .join(cum, F.expr("rn = (p * n + 99) DIV 100"))
        .selectExpr(
            "CAST(p AS BIGINT) AS top_pct",
            "CAST(rn AS BIGINT) AS k_customers",
            "cum_rev AS top_rev_cents",
            "total AS total_rev_cents",
            "CAST(1000000 * cum_rev DIV total AS BIGINT) AS share_ppm",
        )
    )


PARETO_CONCENTRATION_REPORT_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS rev
  FROM orders GROUP BY o_custkey
), cum AS (
  SELECT o_custkey, rev,
         row_number() OVER (ORDER BY rev DESC, o_custkey ASC) AS rn,
         SUM(rev) OVER (ORDER BY rev DESC, o_custkey ASC ROWS UNBOUNDED PRECEDING) AS cum_rev,
         COUNT(*) OVER () AS n,
         SUM(rev) OVER () AS total
  FROM per_cust
), ps AS (
  SELECT unnest([1, 5, 10, 20, 50]) AS p
)
SELECT CAST(p AS BIGINT) AS top_pct,
       CAST(rn AS BIGINT) AS k_customers,
       CAST(cum_rev AS BIGINT) AS top_rev_cents,
       CAST(total AS BIGINT) AS total_rev_cents,
       CAST(1000000 * cum_rev // total AS BIGINT) AS share_ppm
FROM ps JOIN cum ON rn = (p * n + 99) // 100
"""

QUERIES["pareto_concentration_report"] = pareto_concentration_report
ORACLES["pareto_concentration_report"] = PARETO_CONCENTRATION_REPORT_SQL
