"""Batch 6: evaluation + market-structure operators — exact tied-rank
ROC AUC, CUPED variance-reduced experiment readout, a window-rank
semantics conformance matrix, per-term burstiness (variance-to-mean
dispersion), and per-market HHI revenue concentration.

House rules (statsq.py / corpusops.py): every value-deciding
intermediate is an int64; doubles appear only in the final projection as
a single expression over identical exact inputs, so both engines round
the same IEEE result.  No transcendental functions anywhere — AUC is the
rank-sum identity (rational), dispersion is variance-to-mean (rational),
concentration is HHI (rational), and CUPED's theta is a ratio of integer
moment determinants (the ols_normal_equations recipe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.sources import load_table as _t


QUERIES: dict = {}
ORACLES: dict = {}


# --- exact tied-rank ROC AUC -------------------------------------------------
# The retrieval/classifier eval the ML-eval family was missing: AUC of a
# nearest-centroid scorer on the embeddings table, computed EXACTLY via
# the Mann-Whitney rank-sum identity with average ranks for ties
# (2*avg_rank = 2*min_rank + n_ties - 1 stays integer).  Embeddings are
# quantized to milli-ints first (the kmeans_int_embeddings recipe,
# similarity.py) so centroid sums and dot products are int64 — no float
# aggregation anywhere, hence no cross-engine sum-order divergence.  At
# scale this is two narrow aggregates plus one broadcast join (the
# centroid table is |labels| x dim rows): corpus-linear, shuffle on
# (label, vec_id) only.
AUC_LABELS = (0, 1, 2)


def auc_exact_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", "label", F.posexplode("embedding").alias("pos", "x"))
        .select(
            "vec_id",
            "label",
            "pos",
            F.floor(F.col("x").cast("double") * 1000).cast("long").alias("qv"),
        )
    )
    cent = (
        q.filter(F.col("label").isin(*AUC_LABELS))
        .groupBy(F.col("label").alias("cl"), "pos")
        .agg(F.sum("qv").alias("csum"))
    )
    scored = (
        q.join(F.broadcast(cent), "pos")
        .groupBy("cl", "vec_id")
        .agg(
            F.min("label").alias("lbl"),
            F.sum(F.col("qv") * F.col("csum")).alias("score"),
        )
    )
    wr = W.partitionBy("cl").orderBy("score")
    we = W.partitionBy("cl", "score")
    r = scored.select(
        "cl",
        "lbl",
        F.rank().over(wr).alias("rnk"),
        F.count(F.lit(1)).over(we).alias("ce"),
    )
    return (
        r.groupBy("cl")
        .agg(
            F.sum(F.when(F.col("lbl") == F.col("cl"), 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.sum(F.when(F.col("lbl") != F.col("cl"), 1).otherwise(0))
            .cast("long")
            .alias("n_neg"),
            F.sum(
                F.when(
                    F.col("lbl") == F.col("cl"),
                    2 * F.col("rnk") + F.col("ce") - 1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("sum2r"),
        )
        .selectExpr(
            "CAST(cl AS BIGINT) AS label",
            "n_pos",
            "n_neg",
            """CAST(round(1000000.0 *
                 (CAST(sum2r AS DOUBLE) - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1))
                 / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
               ) AS BIGINT) AS auc_micro""",
        )
    )


AUC_EXACT_EVAL_SQL = """
WITH q AS (
  SELECT vec_id, label, i AS pos,
         CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT) AS qv
  FROM (SELECT vec_id, label,
               unnest(embedding) AS e,
               unnest(range(len(embedding))) AS i
        FROM embeddings)
), cent AS (
  SELECT label AS cl, pos, SUM(qv) AS csum
  FROM q WHERE label IN (0, 1, 2) GROUP BY 1, 2
), scored AS (
  SELECT cl, vec_id, MIN(label) AS lbl, SUM(qv * csum) AS score
  FROM q JOIN cent USING (pos) GROUP BY cl, vec_id
), r AS (
  SELECT cl, lbl,
         rank() OVER (PARTITION BY cl ORDER BY score) AS rnk,
         COUNT(*) OVER (PARTITION BY cl, score) AS ce
  FROM scored
), agg AS (
  SELECT cl,
         SUM(CASE WHEN lbl = cl THEN 1 ELSE 0 END) AS n_pos,
         SUM(CASE WHEN lbl <> cl THEN 1 ELSE 0 END) AS n_neg,
         SUM(CASE WHEN lbl = cl THEN 2 * rnk + ce - 1 ELSE 0 END) AS sum2r
  FROM r GROUP BY cl
)
SELECT CAST(cl AS BIGINT) AS label,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       CAST(round(1000000.0 *
            (CAST(sum2r AS DOUBLE) - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1))
            / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
          ) AS BIGINT) AS auc_micro
FROM agg
"""

QUERIES["auc_exact_eval"] = auc_exact_eval
ORACLES["auc_exact_eval"] = AUC_EXACT_EVAL_SQL


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


# --- window-rank semantics conformance matrix --------------------------------
# Sibling of null_semantics_matrix / date_semantics_matrix: rank,
# dense_rank, percent_rank, cume_dist, ntile(4) and row_number evaluated
# side-by-side over the same tied ordering (orders banded to $100 price
# bands within o_orderpriority), with the float functions PROVED against
# their integer num/den identities in the same row (percent_rank =
# (rank-1)/(n-1); cume_dist = (rank + ties - 1)/n).  Ties are real (the
# banding guarantees them), so the matrix pins the tie semantics both
# engines must share; row_number/ntile get a fully deterministic
# (band, key) ordering because their values are ordering-dependent.
RANK_SAMPLE_MOD = 101


def window_rank_semantics_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_orderpriority AS priority",
        "CAST(floor(CAST(o_totalprice AS DOUBLE) / 100) AS BIGINT) AS band",
    )
    wp = W.partitionBy("priority")
    wv = W.partitionBy("priority").orderBy("band")
    wd = W.partitionBy("priority").orderBy("band", "o_orderkey")
    we = W.partitionBy("priority", "band")
    r = o.select(
        "o_orderkey",
        "priority",
        "band",
        F.rank().over(wv).alias("rnk"),
        F.dense_rank().over(wv).alias("drnk"),
        F.row_number().over(wd).alias("rn"),
        F.ntile(4).over(wd).alias("nt4"),
        F.percent_rank().over(wv).alias("percent_rank_d"),
        F.cume_dist().over(wv).alias("cume_dist_d"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.count(F.lit(1)).over(we).alias("ce"),
    )
    return r.filter(F.col("o_orderkey") % RANK_SAMPLE_MOD == 0).selectExpr(
        "o_orderkey",
        "priority",
        "band",
        "CAST(rnk AS BIGINT) AS rnk",
        "CAST(drnk AS BIGINT) AS drnk",
        "CAST(rn AS BIGINT) AS rn",
        "CAST(nt4 AS BIGINT) AS nt4",
        "CAST(rnk - 1 AS BIGINT) AS pr_num",
        "CAST(n - 1 AS BIGINT) AS pr_den",
        "CAST(rnk + ce - 1 AS BIGINT) AS cd_num",
        "CAST(n AS BIGINT) AS cd_den",
        "percent_rank_d",
        "cume_dist_d",
    )


WINDOW_RANK_SEMANTICS_MATRIX_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority AS priority,
         CAST(floor(CAST(o_totalprice AS DOUBLE) / 100) AS BIGINT) AS band
  FROM orders
), r AS (
  SELECT o_orderkey, priority, band,
         rank()        OVER (PARTITION BY priority ORDER BY band) AS rnk,
         dense_rank()  OVER (PARTITION BY priority ORDER BY band) AS drnk,
         row_number()  OVER (PARTITION BY priority ORDER BY band, o_orderkey) AS rn,
         ntile(4)      OVER (PARTITION BY priority ORDER BY band, o_orderkey) AS nt4,
         percent_rank() OVER (PARTITION BY priority ORDER BY band) AS percent_rank_d,
         cume_dist()    OVER (PARTITION BY priority ORDER BY band) AS cume_dist_d,
         COUNT(*) OVER (PARTITION BY priority) AS n,
         COUNT(*) OVER (PARTITION BY priority, band) AS ce
  FROM o
)
SELECT o_orderkey, priority, band,
       CAST(rnk AS BIGINT) AS rnk,
       CAST(drnk AS BIGINT) AS drnk,
       CAST(rn AS BIGINT) AS rn,
       CAST(nt4 AS BIGINT) AS nt4,
       CAST(rnk - 1 AS BIGINT) AS pr_num,
       CAST(n - 1 AS BIGINT) AS pr_den,
       CAST(rnk + ce - 1 AS BIGINT) AS cd_num,
       CAST(n AS BIGINT) AS cd_den,
       percent_rank_d,
       cume_dist_d
FROM r
WHERE o_orderkey % 101 = 0
"""

QUERIES["window_rank_semantics_matrix"] = window_rank_semantics_matrix
ORACLES["window_rank_semantics_matrix"] = WINDOW_RANK_SEMANTICS_MATRIX_SQL


# --- per-term burstiness (variance-to-mean dispersion) -----------------------
# Corpus-linguistics sibling of zipf_rank_frequency / chi2_terms: a term
# that appears in bursts (high per-doc counts in few docs) is topical; a
# term spread evenly (VMR near its Bernoulli floor) is function-word-like
# — the standard keyword-vs-boilerplate signal.  Over ALL N docs
# (zero-inflated): mean = sc/N, var = (N*sq - sc^2)/N^2, so
# VMR = (N*sq - sc^2) / (N*sc) — rational, int64-exact until the single
# final double division.  One token explode + one groupBy(token): the
# same two-shuffle shape at any corpus size; N rides in as a broadcast
# one-row cross join (the dedup.py house pattern).
BURST_TOK_RE = "[a-z]{3,}"


def term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    per_dt = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(f"regexp_extract_all(text, '{BURST_TOK_RE}', 0)")
            ).alias("t"),
        )
        .groupBy("t", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_t = per_dt.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sq"),
    )
    return per_t.crossJoin(F.broadcast(n_docs)).selectExpr(
        "t AS token",
        "df",
        "sc AS tf_sum",
        "CAST(1000000 * df DIV n_docs AS BIGINT) AS df_ppm",
        """CAST(round(1000000.0 *
             (CAST(n_docs AS DOUBLE) * CAST(sq AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
             / (CAST(n_docs AS DOUBLE) * CAST(sc AS DOUBLE))
           ) AS BIGINT) AS vmr_micro""",
    )


TERM_BURSTINESS_SQL = """
WITH nd AS (SELECT COUNT(*) AS n_docs FROM documents),
per_dt AS (
  SELECT t, doc_id, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{3,}')) AS t
        FROM documents)
  GROUP BY t, doc_id
), per_t AS (
  SELECT t, COUNT(*) AS df, SUM(c) AS sc, SUM(c * c) AS sq
  FROM per_dt GROUP BY t
)
SELECT t AS token,
       CAST(df AS BIGINT) AS df,
       CAST(sc AS BIGINT) AS tf_sum,
       CAST(1000000 * df // n_docs AS BIGINT) AS df_ppm,
       CAST(round(1000000.0 *
            (CAST(n_docs AS DOUBLE) * CAST(sq AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
            / (CAST(n_docs AS DOUBLE) * CAST(sc AS DOUBLE))
          ) AS BIGINT) AS vmr_micro
FROM per_t, nd
"""

QUERIES["term_burstiness"] = term_burstiness
ORACLES["term_burstiness"] = TERM_BURSTINESS_SQL


# --- per-market HHI revenue concentration ------------------------------------
# Market-structure sibling of gini_revenue_concentration (which measures
# inequality across customers globally): the Herfindahl-Hirschman index
# of brand revenue shares WITHIN each nation — the antitrust
# concentration readout, and a per-group share-of-sum pattern every BI
# stack needs.  Revenue is truncated to whole dollars (floor on the same
# parquet double is engine-identical) so s, T, and sum(s^2) stay int64
# at any realistic group cardinality; HHI = sum(s^2)/T^2 happens once in
# doubles at the end.  Plan: star joins (orders->customer->nation,
# lineitem->part) then two nested aggregates — all equi-joins, the small
# dims broadcast by AQE.
def market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey",
        "l_partkey",
        "CAST(floor(CAST(l_extendedprice AS DOUBLE)) AS BIGINT) AS dollars",
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_nb = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("n_name", "p_brand")
        .agg(F.sum("dollars").cast("long").alias("s"))
    )
    return (
        per_nb.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_brands"),
            F.sum("s").cast("long").alias("t_dollars"),
            F.sum(F.col("s") * F.col("s")).cast("long").alias("ssq"),
        )
        .selectExpr(
            "n_name",
            "n_brands",
            "t_dollars",
            """CAST(round(1000000.0 * CAST(ssq AS DOUBLE)
                 / (CAST(t_dollars AS DOUBLE) * CAST(t_dollars AS DOUBLE))
               ) AS BIGINT) AS hhi_micro""",
        )
    )


MARKET_CONCENTRATION_HHI_SQL = """
WITH per_nb AS (
  SELECT n.n_name, p.p_brand,
         SUM(CAST(floor(CAST(l.l_extendedprice AS DOUBLE)) AS BIGINT)) AS s
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  JOIN part p     ON l.l_partkey = p.p_partkey
  GROUP BY n.n_name, p.p_brand
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_brands,
       CAST(SUM(s) AS BIGINT) AS t_dollars,
       CAST(round(1000000.0 * CAST(SUM(s * s) AS DOUBLE)
            / (CAST(SUM(s) AS DOUBLE) * CAST(SUM(s) AS DOUBLE))
          ) AS BIGINT) AS hhi_micro
FROM per_nb
GROUP BY n_name
"""

QUERIES["market_concentration_hhi"] = market_concentration_hhi
ORACLES["market_concentration_hhi"] = MARKET_CONCENTRATION_HHI_SQL
