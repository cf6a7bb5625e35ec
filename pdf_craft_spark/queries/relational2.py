"""Second wave of relational operators: the shapes Spark lacks natively
(as-of join) plus multidimensional aggregation (rollup, pivot) and
embedding near-dup verification."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries.dedup import md5_prefix_long_sql as _md5pl
from pdf_craft_spark.queries.similarity import _DOT
from pdf_craft_spark.sources import load_table as _t


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


# --- embedding near-dup within blocking buckets ------------------------------
# The IVF-style verify step: candidate pairs are blocked by label (the
# coarse quantizer stand-in), then exact cosine >= 0.35 confirms near-dups
# (threshold sized to the synthetic embeddings: same-label q99 ~ 0.30).
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", F.expr(_DOT.format(a="embedding", b="embedding")).alias("nrm")
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, "label").filter(F.col("vec_a") < F.col("vec_b"))
    cos = F.round(
        F.expr(_DOT.format(a="ea", b="eb")) / F.sqrt(F.col("na") * F.col("nb")), 6
    )
    return (
        pairs.select("label", "vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.35)
        .orderBy("label", "vec_a", "vec_b")
    )


_DOT_DUCK64 = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, v) -> acc + v)"
)

DEDUP_EMBEDDING_COSINE_SQL = f"""
WITH e AS (
  SELECT vec_id, label, embedding,
         {_DOT_DUCK64.format(a="embedding", b="embedding")} AS nrm
  FROM embeddings
)
SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_DOT_DUCK64.format(a="a.embedding", b="b.embedding")}
             / sqrt(a.nrm * b.nrm), 6) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_DOT_DUCK64.format(a="a.embedding", b="b.embedding")}
            / sqrt(a.nrm * b.nrm), 6) >= 0.35
ORDER BY label, vec_a, vec_b
"""


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


QUERIES = {
    "asof_latest_order_per_event": asof_latest_order_per_event,
    "a1_rollup_revenue": a1_rollup_revenue,
    "pivot_status_by_priority": pivot_status_by_priority,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "skew_salted_join": skew_salted_join,
}

ORACLES = {
    "asof_latest_order_per_event": ASOF_LATEST_ORDER_PER_EVENT_SQL,
    "a1_rollup_revenue": A1_ROLLUP_REVENUE_SQL,
    "pivot_status_by_priority": PIVOT_STATUS_BY_PRIORITY_SQL,
    "dedup_embedding_cosine": DEDUP_EMBEDDING_COSINE_SQL,
    "skew_salted_join": SKEW_SALTED_JOIN_SQL,
}


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


# --- k-NN graph construction (blocked) --------------------------------------
# The neighbor-graph build step underlying NN-descent / HNSW / spectral
# methods: for EVERY vector, its top-K exact-cosine neighbors within its
# label block (the coarse-quantizer blocking dedup_embedding_cosine
# already uses — at scale the blocks come from IVF assignment, and
# NN-descent refines across blocks).  One block-keyed self-equi-join,
# per-vector row_number over (cos desc, neighbor asc) — ties broken by
# id so the graph is deterministic; cosines rounded to 6 places before
# ranking so both engines rank identical values.  Fan-out is block-
# bounded (|block|² per label), never corpus².
KNN_K = 3


def knn_graph_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        "embedding",
        F.expr(_DOT.format(a="embedding", b="embedding")).alias("nrm"),
    )
    a = emb.selectExpr("vec_id AS va", "label", "embedding AS ea", "nrm AS na")
    b = emb.selectExpr("vec_id AS vb", "label", "embedding AS eb", "nrm AS nb")
    cos = F.round(
        F.expr(_DOT.format(a="ea", b="eb")) / F.sqrt(F.col("na") * F.col("nb")),
        6,
    )
    # cosine is symmetric bit-for-bit (elementwise products commute and
    # the fold order is unchanged), so evaluate the interpreted
    # higher-order dot once per UNORDERED pair (va < vb), materialize,
    # and mirror — halves the dominant per-pair fold work (guide §1.2:
    # fix the per-task work).  The checkpoint stops Catalyst re-deriving
    # the join (and re-paying the dots) into each union branch.
    half = (
        a.join(b, "label")
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb", cos.alias("cos_sim"))
        .localCheckpoint(eager=True)
    )
    pairs = half.unionAll(half.selectExpr("vb AS va", "va AS vb", "cos_sim"))
    rk = F.row_number().over(
        W.partitionBy("va").orderBy(F.desc("cos_sim"), F.asc("vb"))
    )
    return (
        pairs.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= KNN_K)
        .selectExpr("va AS vec_id", "rk", "vb AS neighbor", "cos_sim")
        .orderBy("vec_id", "rk")
    )


KNN_GRAPH_BLOCK_SQL = f"""
WITH e AS (
  SELECT vec_id, label, embedding,
         {_DOT_DUCK64.format(a="embedding", b="embedding")} AS nrm
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         round({_DOT_DUCK64.format(a="a.embedding", b="b.embedding")}
               / sqrt(a.nrm * b.nrm), 6) AS cos_sim
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id
), ranked AS (
  SELECT va, vb, cos_sim,
         CAST(row_number() OVER (PARTITION BY va
                                 ORDER BY cos_sim DESC, vb) AS BIGINT) AS rk
  FROM pairs
)
SELECT va AS vec_id, rk, vb AS neighbor, cos_sim
FROM ranked WHERE rk <= {KNN_K}
ORDER BY vec_id, rk
"""


QUERIES["knn_graph_block"] = knn_graph_block
ORACLES["knn_graph_block"] = KNN_GRAPH_BLOCK_SQL


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
    w = W.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    ranked = o.select(
        "o_custkey", "d", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 2)
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
