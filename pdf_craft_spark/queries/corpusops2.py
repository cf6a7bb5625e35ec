"""Second corpus-mining batch: blocking quality for entity resolution,
space-filling-curve locality comparison, SymSpell-style edit-1 blocking,
Zipf rank-frequency audit, and group-aware k-fold assignment.

House rules as in corpusops.py: int64-exact intermediates, one final
double expression per metric, integer division spelled Spark ``DIV`` /
DuckDB ``//`` (both truncate toward zero), no transcendental functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries.dedup import md5_prefix_long_sql
from pdf_craft_spark.queries.indexing import Z_EPOCH, _hilbert_step, _zorder_terms
from pdf_craft_spark.sources import load_table as _t


QUERIES: dict = {}
ORACLES: dict = {}


# --- blocking quality for entity resolution ----------------------------------
# The two numbers that decide any blocking scheme before you run the
# expensive matcher: REDUCTION RATIO (how many candidate pairs the blocks
# avoid) and PAIRS COMPLETENESS (how many true-duplicate pairs the blocks
# still capture).  Both are computed WITHOUT materializing a single pair:
# every pair count is sum(m·(m−1))/2 over group sizes — three aggregates
# on one scan (block key, truth key, and their conjunction).  Truth here
# is (nation, segment); the evaluated block key is a $500 account-balance
# bucket, so truth pairs genuinely straddle blocks and completeness is a
# real number, not 1.0 by construction.  At 100 TB this is the shape that
# makes ER tuning tractable: group-size arithmetic only, never the
# quadratic candidate set.
ER_BLOCK_CENTS = 50_000  # $500 buckets


def blocking_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "customer").selectExpr(
        "c_nationkey AS nk",
        "c_mktsegment AS seg",
        f"(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) DIV {ER_BLOCK_CENTS} AS blk",
    )
    total = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cand = (
        base.groupBy("blk")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .agg(F.sum(F.expr("m * (m - 1) DIV 2")).cast("long").alias("cand_pairs"))
    )
    true_ = (
        base.groupBy("nk", "seg")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .agg(F.sum(F.expr("m * (m - 1) DIV 2")).cast("long").alias("true_pairs"))
    )
    capt = (
        base.groupBy("nk", "seg", "blk")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .agg(F.sum(F.expr("m * (m - 1) DIV 2")).cast("long").alias("captured_pairs"))
    )
    return (
        total.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(true_))
        .crossJoin(F.broadcast(capt))
        .selectExpr(
            "n",
            "CAST(n * (n - 1) DIV 2 AS BIGINT) AS total_pairs",
            "cand_pairs",
            "true_pairs",
            "captured_pairs",
            """CAST(round(1000000.0 *
                 (CAST(n * (n - 1) DIV 2 AS DOUBLE) - CAST(cand_pairs AS DOUBLE))
                 / CAST(n * (n - 1) DIV 2 AS DOUBLE)) AS BIGINT) AS reduction_micro""",
            """CAST(round(1000000.0 * CAST(captured_pairs AS DOUBLE)
                 / CAST(true_pairs AS DOUBLE)) AS BIGINT) AS completeness_micro""",
        )
    )


BLOCKING_QUALITY_EVAL_SQL = f"""
WITH base AS (
  SELECT c_nationkey AS nk, c_mktsegment AS seg,
         (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) // {ER_BLOCK_CENTS} AS blk
  FROM customer
), total AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM base
), cand AS (
  SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS cand_pairs
  FROM (SELECT CAST(count(*) AS BIGINT) AS m FROM base GROUP BY blk)
), true_ AS (
  SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS true_pairs
  FROM (SELECT CAST(count(*) AS BIGINT) AS m FROM base GROUP BY nk, seg)
), capt AS (
  SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS captured_pairs
  FROM (SELECT CAST(count(*) AS BIGINT) AS m FROM base GROUP BY nk, seg, blk)
)
SELECT n,
       CAST(n * (n - 1) // 2 AS BIGINT) AS total_pairs,
       cand_pairs, true_pairs, captured_pairs,
       CAST(round(1000000.0 *
         (CAST(n * (n - 1) // 2 AS DOUBLE) - CAST(cand_pairs AS DOUBLE))
         / CAST(n * (n - 1) // 2 AS DOUBLE)) AS BIGINT) AS reduction_micro,
       CAST(round(1000000.0 * CAST(captured_pairs AS DOUBLE)
         / CAST(true_pairs AS DOUBLE)) AS BIGINT) AS completeness_micro
FROM total CROSS JOIN cand CROSS JOIN true_ CROSS JOIN capt
"""

QUERIES["blocking_quality_eval"] = blocking_quality_eval
ORACLES["blocking_quality_eval"] = BLOCKING_QUALITY_EVAL_SQL


# --- space-filling-curve locality comparison ---------------------------------
# Settles "ZORDER or Hilbert?" with a measurement instead of folklore: lay
# the same (custkey, order-day) points on an 8-bit grid, order them by
# row-major key, Morton code, and Hilbert index (the latter two reuse the
# exact key builders behind zorder_cluster_key / hilbert_cluster_key), and
# measure the average L1 step between CONSECUTIVE rows of each ordering —
# the locality a range scan actually experiences.  All three keys come
# from one scan (stack(3)); the consecutive-pair window runs per 1024-key
# shard (64 independent windows, seam pairs skipped identically in both
# engines), never a global sort.  Key↔(x,y) is a bijection for all three
# curves, so tie order between equal keys cannot change any delta.
CURVE_BITS = 8
CURVE_N = 1 << CURVE_BITS
CURVE_SHARD = 1024


def _curve_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "orders").selectExpr(
        f"CAST(o_custkey & {CURVE_N - 1} AS BIGINT) AS x0",
        f"CAST(datediff(CAST(o_orderdate AS DATE), DATE '{Z_EPOCH}')"
        f" & {CURVE_N - 1} AS BIGINT) AS y0",
    )
    df = base.selectExpr(
        "x0",
        "y0",
        "x0 AS x",
        "y0 AS y",
        "CAST(0 AS BIGINT) AS d",
        f"CAST(x0 * {CURVE_N} + y0 AS BIGINT) AS key_r",
        f"CAST({_zorder_terms('x0', 'y0', 'spark')} AS BIGINT) AS key_z",
    )
    for b in range(CURVE_BITS - 1, -1, -1):
        d, nx, ny = _hilbert_step(b, "spark")
        df = df.selectExpr(
            "x0", "y0", f"{nx} AS x", f"{ny} AS y", f"{d} AS d", "key_r", "key_z"
        )
    return df.selectExpr("x0", "y0", "key_r", "key_z", "d AS key_h")


def curve_locality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    keyed = _curve_base(spark, sf_dir).selectExpr(
        "x0",
        "y0",
        "stack(3, 'rowmajor', key_r, 'zorder', key_z, 'hilbert', key_h)"
        " AS (ordering, k)",
    ).selectExpr("ordering", "k", f"k DIV {CURVE_SHARD} AS shard", "x0", "y0")
    w = W.partitionBy("ordering", "shard").orderBy("k", "x0", "y0")
    stepped = keyed.select(
        "ordering",
        (F.abs(F.col("x0") - F.lag("x0").over(w)) + F.abs(F.col("y0") - F.lag("y0").over(w))).alias(
            "l1"
        ),
    ).where(F.col("l1").isNotNull())
    return (
        stepped.groupBy("ordering")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("l1").cast("long").alias("sum_l1"),
        )
        .selectExpr(
            "ordering",
            "n_pairs",
            "sum_l1",
            """CAST(round(1000000.0 * CAST(sum_l1 AS DOUBLE)
                 / CAST(n_pairs AS DOUBLE)) AS BIGINT) AS avg_l1_micro""",
        )
        .orderBy("ordering")
    )


def _curve_duck_ctes() -> tuple[str, str]:
    steps = []
    prev = "base"
    for i, b in enumerate(range(CURVE_BITS - 1, -1, -1)):
        d, nx, ny = _hilbert_step(b, "duck")
        steps.append(
            f"s{i} AS (SELECT x0, y0, {nx} AS x, {ny} AS y, {d} AS d,"
            f" key_r, key_z FROM {prev})"
        )
        prev = f"s{i}"
    return ", ".join(steps), prev


_C_CTES, _C_LAST = _curve_duck_ctes()

_DUCK_X = f"(o_custkey & {CURVE_N - 1})"
_DUCK_Y = (
    f"(date_diff('day', DATE '{Z_EPOCH}', CAST(o_orderdate AS DATE))"
    f" & {CURVE_N - 1})"
)

CURVE_LOCALITY_EVAL_SQL = f"""
WITH base AS (
  SELECT CAST(o_custkey & {CURVE_N - 1} AS BIGINT) AS x0,
         CAST(date_diff('day', DATE '{Z_EPOCH}', CAST(o_orderdate AS DATE))
              & {CURVE_N - 1} AS BIGINT) AS y0,
         CAST(o_custkey & {CURVE_N - 1} AS BIGINT) AS x,
         CAST(date_diff('day', DATE '{Z_EPOCH}', CAST(o_orderdate AS DATE))
              & {CURVE_N - 1} AS BIGINT) AS y,
         CAST(0 AS BIGINT) AS d,
         CAST((o_custkey & {CURVE_N - 1}) * {CURVE_N}
              + (date_diff('day', DATE '{Z_EPOCH}', CAST(o_orderdate AS DATE))
                 & {CURVE_N - 1}) AS BIGINT) AS key_r,
         CAST({_zorder_terms(_DUCK_X, _DUCK_Y, 'duck')} AS BIGINT) AS key_z
  FROM orders
), {_C_CTES}, keyed AS (
  SELECT ordering, k, k // {CURVE_SHARD} AS shard, x0, y0
  FROM (
    SELECT 'rowmajor' AS ordering, key_r AS k, x0, y0 FROM {_C_LAST}
    UNION ALL
    SELECT 'zorder' AS ordering, key_z AS k, x0, y0 FROM {_C_LAST}
    UNION ALL
    SELECT 'hilbert' AS ordering, d AS k, x0, y0 FROM {_C_LAST}
  )
), stepped AS (
  SELECT ordering,
         abs(x0 - lag(x0) OVER w) + abs(y0 - lag(y0) OVER w) AS l1
  FROM keyed
  WINDOW w AS (PARTITION BY ordering, shard ORDER BY k, x0, y0)
)
SELECT ordering,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(l1) AS BIGINT) AS sum_l1,
       CAST(round(1000000.0 * CAST(sum(l1) AS DOUBLE)
         / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_l1_micro
FROM stepped
WHERE l1 IS NOT NULL
GROUP BY ordering
ORDER BY ordering
"""

QUERIES["curve_locality_eval"] = curve_locality_eval
ORACLES["curve_locality_eval"] = CURVE_LOCALITY_EVAL_SQL


# --- SymSpell-style edit-distance-1 blocking ---------------------------------
# The deletion/wildcard-neighborhood trick that makes fuzzy id matching
# linear: each 9-digit customer id emits 9 masked variants (digit i →
# '*'); two ids collide on a masked key iff they differ in EXACTLY that
# position, so the per-position equi-join enumerates every substitution-
# distance-1 pair exactly once — 9× linear fan-out, block sizes bounded
# by the alphabet (10), never an all-pairs scan.  The builtin
# levenshtein() on both engines confirms each captured pair is distance 1
# (a cross-engine parity pin for the builtin itself).  Output: pair count
# and distance check per masked position.
ED1_POSITIONS = 9


def edit1_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    digits = _t(spark, sf_dir, "customer").selectExpr(
        "substring(c_name, 10, 9) AS dg"
    )
    masked = digits.selectExpr(
        "dg",
        f"explode(sequence(1, {ED1_POSITIONS})) AS pos",
    ).selectExpr(
        "dg",
        "pos",
        "concat(substring(dg, 1, pos - 1), '*', substring(dg, pos + 1)) AS mk",
    )
    a = masked.selectExpr("pos", "mk", "dg AS a")
    b = masked.selectExpr("pos", "mk", "dg AS b")
    pairs = a.join(b, ["pos", "mk"]).where(F.col("a") < F.col("b"))
    return (
        pairs.groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.max(F.levenshtein("a", "b")).cast("int").alias("max_lev"),
        )
        .selectExpr("CAST(pos AS INT) AS pos", "n_pairs", "max_lev")
        .orderBy("pos")
    )


EDIT1_BLOCKING_PAIRS_SQL = f"""
WITH digits AS (
  SELECT substring(c_name, 10, 9) AS dg FROM customer
), masked AS (
  SELECT dg, CAST(i AS INT) AS pos,
         concat(substring(dg, 1, CAST(i AS INT) - 1), '*',
                substring(dg, CAST(i AS INT) + 1)) AS mk
  FROM digits CROSS JOIN unnest(range(1, {ED1_POSITIONS} + 1)) AS r(i)
), pairs AS (
  SELECT a.pos, a.dg AS a, b.dg AS b
  FROM masked a JOIN masked b ON a.pos = b.pos AND a.mk = b.mk AND a.dg < b.dg
)
SELECT pos, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(max(levenshtein(a, b)) AS INT) AS max_lev
FROM pairs
GROUP BY pos
ORDER BY pos
"""

QUERIES["edit1_blocking_pairs"] = edit1_blocking_pairs
ORACLES["edit1_blocking_pairs"] = EDIT1_BLOCKING_PAIRS_SQL


# --- Zipf rank-frequency audit -----------------------------------------------
# The classic corpus sanity table: rank tokens by frequency and report
# rank·frequency, whose stability is Zipf's law (r·f ≈ f1).  The deviation
# dev = |r·f − f1| / f1 is rational — no log-log fit, no libm — and the
# ranking window runs over the VOCABULARY-sized aggregate (30 rows here;
# bounded vocab at any corpus scale), never the token stream.  The one
# data-sized operation is the token count shuffle.
ZIPF_TOPK = 20


def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("text")
    toks = docs.select(
        F.explode(F.expr("regexp_extract_all(text, '[a-z]+', 0)")).alias("t")
    )
    freq = toks.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("f"))
    f1 = freq.agg(F.max("f").cast("long").alias("f1"))
    wk = W.orderBy(F.col("f").desc(), F.col("t"))
    return (
        freq.withColumn("r", F.row_number().over(wk))
        .where(F.col("r") <= ZIPF_TOPK)
        .crossJoin(F.broadcast(f1))
        .selectExpr(
            "CAST(r AS INT) AS r",
            "t",
            "f",
            "CAST(r * f AS BIGINT) AS rf",
            """CAST(round(1000000.0 * abs(CAST(r * f AS DOUBLE) - CAST(f1 AS DOUBLE))
                 / CAST(f1 AS DOUBLE)) AS BIGINT) AS dev_micro""",
        )
        .orderBy("r")
    )


ZIPF_RANK_FREQUENCY_SQL = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS t FROM documents
), freq AS (
  SELECT t, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY t
), f1 AS (
  SELECT CAST(max(f) AS BIGINT) AS f1 FROM freq
), ranked AS (
  SELECT t, f, CAST(row_number() OVER (ORDER BY f DESC, t) AS INT) AS r FROM freq
)
SELECT r, t, f, CAST(r * f AS BIGINT) AS rf,
       CAST(round(1000000.0 * abs(CAST(r * f AS DOUBLE) - CAST(f1.f1 AS DOUBLE))
         / CAST(f1.f1 AS DOUBLE)) AS BIGINT) AS dev_micro
FROM ranked CROSS JOIN f1
WHERE r <= {ZIPF_TOPK}
ORDER BY r
"""

QUERIES["zipf_rank_frequency"] = zipf_rank_frequency
ORACLES["zipf_rank_frequency"] = ZIPF_RANK_FREQUENCY_SQL


# --- group-aware k-fold assignment -------------------------------------------
# Leakage-proof cross-validation at corpus scale: the fold is a pure hash
# of the GROUP key (user_id), so a user's events can never straddle folds
# — the invariant that plain row-hash k-fold (cv_kfold_mse) silently
# violates when rows are correlated within a user.  Pure projection + one
# aggregate; stable under rerun, append, and repartition exactly like
# split_train_val_test.  Output: per-fold distinct users, rows, and row
# share (the balance check).
KFOLDS = 5


def group_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    fold = (
        md5_prefix_long_sql("concat('gkf:', CAST(user_id AS STRING))", 6, "spark")
        + f" % {KFOLDS}"
    )
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id", f"CAST({fold} AS INT) AS fold"
    )
    total = ev.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    return (
        ev.groupBy("fold")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "fold",
            "n_users",
            "n_rows",
            """CAST(round(1000000.0 * CAST(n_rows AS DOUBLE)
                 / CAST(n_tot AS DOUBLE)) AS BIGINT) AS rows_share_micro""",
        )
        .orderBy("fold")
    )


_GKF_DUCK = (
    md5_prefix_long_sql("concat('gkf:', CAST(user_id AS VARCHAR))", 6, "duck")
    + f" % {KFOLDS}"
)

GROUP_KFOLD_ASSIGNMENT_SQL = f"""
WITH ev AS (
  SELECT user_id, CAST({_GKF_DUCK} AS INT) AS fold FROM events
), total AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tot FROM ev
)
SELECT fold,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(round(1000000.0 * CAST(count(*) AS DOUBLE)
         / CAST(any_value(n_tot) AS DOUBLE)) AS BIGINT) AS rows_share_micro
FROM ev CROSS JOIN total
GROUP BY fold
ORDER BY fold
"""

QUERIES["group_kfold_assignment"] = group_kfold_assignment
ORACLES["group_kfold_assignment"] = GROUP_KFOLD_ASSIGNMENT_SQL
