"""Distributed supervised-learning primitives with exact cross-engine
parity — the model-TRAINING side of the training-data engine (the
registry's eval side being classifier_eval_lang / sim_recall).

decision_stump_train: the canonical distributed tree-learner step (the
inner loop of every boosted-tree / random-forest trainer): over every
candidate (feature, threshold) split, compute the weighted Gini impurity
of the induced partition and take the argmin.  The classic scale shape —
XGBoost/LightGBM's histogram method — is reproduced faithfully: the
full fact table compresses to per-(feature, value) count/positive pairs
in ONE aggregation (60k rows -> ~100), prefix-sum windows over the tiny
compressed table enumerate every threshold's left/right counts without
touching raw rows again, and the argmin is a one-row sort of ~100
candidates.  All arithmetic is integer (counts, and ppm impurities via
floor division — identical truncation in both engines), so the chosen
split is bit-identical everywhere.  The ppm formulation is exact-enough
by construction: overflow-free up to ~6e5 positives per side; beyond
that a production job widens to DECIMAL(38,0) (the spearman/tfidf
precedent).

pca_power_iteration: see its docstring below.

Also here: exact OLS by normal equations, and the eval side's exact
tied-rank ROC AUC and decile lift/gains table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries.dedup import md5_prefix_long_sql, top_k
from pdf_craft_spark.sources import load_table as _t

QUERIES: dict = {}
ORACLES: dict = {}

_PPM = 1_000_000


def decision_stump_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    base = li.selectExpr(
        "CAST(l_quantity AS BIGINT) AS qty",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " DIV 100000 AS price_kilo",
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y",
    )
    comp = (
        base.selectExpr("'qty' AS feat", "qty AS val", "y")
        .unionByName(base.selectExpr("'price_kilo' AS feat", "price_kilo AS val", "y"))
        .groupBy("feat", "val")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    cand = comp.selectExpr(
        "feat",
        "val",
        "sum(n) OVER (PARTITION BY feat ORDER BY val) AS n_l",
        "sum(pos) OVER (PARTITION BY feat ORDER BY val) AS pos_l",
        "sum(n) OVER (PARTITION BY feat) AS n_t",
        "sum(pos) OVER (PARTITION BY feat) AS pos_t",
    ).filter("n_l < n_t")
    g = (
        lambda p, n: f"(2 * {p} * ({n} - {p}) * {_PPM}) DIV ({n} * {n})"
    )
    scored = cand.selectExpr(
        "feat",
        "val",
        "n_l",
        "pos_l",
        "n_t - n_l AS n_r",
        "pos_t - pos_l AS pos_r",
        f"(n_l * ({g('pos_l', 'n_l')})"
        f" + (n_t - n_l) * ({g('(pos_t - pos_l)', '(n_t - n_l)')}))"
        " DIV n_t AS score_ppm",
        f"{g('pos_t', 'n_t')} AS base_gini_ppm",
    )
    return (
        scored.orderBy("score_ppm", "feat", "val")
        .limit(1)
        .selectExpr(
            "feat AS feature",
            "CAST(val AS BIGINT) AS threshold",
            "CAST(n_l AS BIGINT) AS n_left",
            "CAST(pos_l AS BIGINT) AS pos_left",
            "CAST(n_r AS BIGINT) AS n_right",
            "CAST(pos_r AS BIGINT) AS pos_right",
            "CAST(score_ppm AS BIGINT) AS score_ppm",
            "CAST(base_gini_ppm - score_ppm AS BIGINT) AS gain_ppm",
        )
    )


def _stump_g(p: str, n: str) -> str:
    return f"(2 * {p} * ({n} - {p}) * {_PPM}) // ({n} * {n})"


DECISION_STUMP_TRAIN_SQL = f"""
WITH base AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           // 100000 AS price_kilo,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
), comp AS (
  SELECT feat, val, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM (
    SELECT 'qty' AS feat, qty AS val, y FROM base
    UNION ALL
    SELECT 'price_kilo' AS feat, price_kilo AS val, y FROM base
  ) GROUP BY feat, val
), cand AS (
  SELECT feat, val,
         sum(n) OVER (PARTITION BY feat ORDER BY val) AS n_l,
         sum(pos) OVER (PARTITION BY feat ORDER BY val) AS pos_l,
         sum(n) OVER (PARTITION BY feat) AS n_t,
         sum(pos) OVER (PARTITION BY feat) AS pos_t
  FROM comp
), scored AS (
  SELECT feat, val, n_l, pos_l, n_t - n_l AS n_r, pos_t - pos_l AS pos_r,
         (n_l * ({_stump_g('pos_l', 'n_l')})
          + (n_t - n_l) * ({_stump_g('(pos_t - pos_l)', '(n_t - n_l)')}))
           // n_t AS score_ppm,
         {_stump_g('pos_t', 'n_t')} AS base_gini_ppm
  FROM cand WHERE n_l < n_t
)
SELECT feat AS feature,
       CAST(val AS BIGINT) AS threshold,
       CAST(n_l AS BIGINT) AS n_left,
       CAST(pos_l AS BIGINT) AS pos_left,
       CAST(n_r AS BIGINT) AS n_right,
       CAST(pos_r AS BIGINT) AS pos_right,
       CAST(score_ppm AS BIGINT) AS score_ppm,
       CAST(base_gini_ppm - score_ppm AS BIGINT) AS gain_ppm
FROM scored
ORDER BY score_ppm, feat, val
LIMIT 1
"""

QUERIES["decision_stump_train"] = decision_stump_train
ORACLES["decision_stump_train"] = DECISION_STUMP_TRAIN_SQL


# --- pca_power_iteration: the spectral family opener ---------------------
# Top principal direction of the embedding corpus by THREE unrolled power
# iterations v <- X^T (X v), entirely in scaled integers so Spark and
# DuckDB agree bit-for-bit (the pagerank/kmeans discipline applied to
# linear algebra).  Components become micro-ints (floor(x * 1e6) — floor
# and the float32->double widening are IEEE-identical in both engines);
# each iteration is two equi-join + partial-agg passes over the exploded
# (id, dim, e) table:
#     d_i = (sum_k e_ik v_k) div 1e6        (one agg by id)
#     y_k = sum_i e_ik d_i                  (one agg by dim)
#     v'  = y div max(|y| div 1e6, 1)       (renormalize to ~1e6 scale)
# Overflow headroom at this scale: |e| <= 1e6 (unit-norm inputs),
# |v| <= ~8e6, so |e*d'| <= 8e12 and the dim-sums stay < 1e17 up to ~1e4
# rows; a billion-row corpus widens the two sums to DECIMAL(38,0) — the
# spearman/tfidf precedent — with the SAME plan shape.  The iteration
# count is fixed and unrolled because the oracle needs a closed form;
# convergence quality is pinned by the planted-anisotropy property test
# (alignment > 0.95 after 3 rounds), not assumed.
#
# Scale shape: X never materializes as a matrix — the exploded table is
# the storage format, both aggs are partial (map-side combinable), and
# the 64-row state vector broadcasts into each join exactly like
# pagerank's rank vector.
_PCA_ITERS = 3
_MICRO = 1_000_000


def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    e = (
        emb.selectExpr("vec_id AS id", "posexplode(embedding) AS (dim, x)")
        .selectExpr(
            "id",
            "dim",
            f"CAST(floor(CAST(x AS DOUBLE) * {_MICRO}) AS BIGINT) AS e",
        )
        .localCheckpoint(eager=True)  # reused by every iteration
    )
    v = e.select("dim").distinct().selectExpr(
        "dim", f"CAST({_MICRO} AS BIGINT) AS v"
    )
    for _ in range(_PCA_ITERS):
        d = (
            e.join(F.broadcast(v), "dim")
            .groupBy("id")
            .agg(F.expr(f"sum(e * v) DIV {_MICRO}").alias("d"))
        )
        y = (
            e.join(d, "id")
            .groupBy("dim")
            .agg(F.expr("sum(e * d)").alias("y"))
        )
        s = y.agg(
            F.expr(f"greatest(max(abs(y)) DIV {_MICRO}, CAST(1 AS BIGINT))").alias("s")
        )
        v = y.crossJoin(F.broadcast(s)).selectExpr("dim", "y DIV s AS v")
    return v.selectExpr("CAST(dim AS INT) AS dim", "CAST(v AS BIGINT) AS v_scaled")


def _pca_sql() -> str:
    steps = []
    prev = "v0"
    for t in range(1, _PCA_ITERS + 1):
        steps.append(
            f"""d{t} AS (
  SELECT id, sum(e * v) // {_MICRO} AS d
  FROM e JOIN {prev} USING (dim) GROUP BY id
), y{t} AS (
  SELECT dim, sum(e * d) AS y FROM e JOIN d{t} USING (id) GROUP BY dim
), s{t} AS (
  SELECT greatest(max(abs(y)) // {_MICRO}, 1) AS s FROM y{t}
), v{t} AS (
  SELECT dim, y // s AS v FROM y{t}, s{t}
)"""
        )
        prev = f"v{t}"
    body = ",\n".join(steps)
    return f"""
WITH e AS (
  SELECT vec_id AS id, CAST(dim AS INT) AS dim,
         CAST(floor(CAST(x AS DOUBLE) * {_MICRO}) AS BIGINT) AS e
  FROM (
    SELECT vec_id, unnest(embedding) AS x,
           unnest(range(len(embedding))) AS dim
    FROM embeddings
  )
), v0 AS (
  SELECT DISTINCT dim, CAST({_MICRO} AS BIGINT) AS v FROM e
),
{body}
SELECT CAST(dim AS INT) AS dim, CAST(v AS BIGINT) AS v_scaled FROM v{_PCA_ITERS}
"""


PCA_POWER_ITERATION_SQL = _pca_sql()

QUERIES["pca_power_iteration"] = pca_power_iteration
ORACLES["pca_power_iteration"] = PCA_POWER_ITERATION_SQL


# --- conformal_interval_orders: distribution-free predictive intervals ---
# Split conformal prediction — the modern, assumption-free way to attach
# a coverage-guaranteed interval to ANY point predictor — reduced to
# pure relational algebra.  The md5 content split (the house
# split_train_val_test recipe: train < 70, calibration 70..89, test
# >= 90) makes the three folds deterministic and rerun-stable; the
# predictor is the train-fold group mean (milli-cents, integer DIV); the
# calibration fold contributes absolute residuals whose
# ceil(0.9 * (n_cal + 1))-th smallest (row_number over (residual, key) —
# the tie-break makes rank selection engine-identical) is the conformal
# quantile q_hat; every test row's interval is pred +/- q_hat.  Split
# conformal guarantees >= 90% marginal coverage in expectation; the
# empirical test coverage is an OUTPUT COLUMN in ppm, so the driver hash
# re-proves the guarantee's realization every round (measured ~93% at
# sf0.01 — above the floor, as theory demands).
#
# Scale: one scan fans into three folds by a per-row hash predicate; the
# predictor and the quantile are small aggregates (5 groups / one global
# rank over the calibration fold — at billion-row scale the rank becomes
# the two-stage sharded k-th selection the theta sketch already
# demonstrates); the test-fold join is broadcast (5-row model + 1-row
# quantile).  No libm, no floats.
_CONF_ALPHA_NUM, _CONF_ALPHA_DEN = 9, 10  # 90% target coverage


def conformal_interval_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = md5_prefix_long_sql("CAST(o_orderkey AS STRING)", 4, "spark")
    base = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "o_orderkey",
            "o_orderpriority AS grp",
            "CAST(round(o_totalprice * 100) AS BIGINT) * 1000 AS mc",
            f"({h}) % 100 AS pct",
        )
        .localCheckpoint(eager=True)  # three folds scan it; = written split
    )
    model = (
        base.filter("pct < 70")
        .groupBy("grp")
        .agg(F.expr("sum(mc) DIV count(1)").alias("pred_mc"))
    )
    cal = (
        base.filter("pct >= 70 AND pct < 90")
        .join(F.broadcast(model), "grp")
        .selectExpr("abs(mc - pred_mc) AS resid", "o_orderkey")
    )
    n_cal = cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    qhat = (
        cal.crossJoin(F.broadcast(n_cal))
        .selectExpr(
            "resid",
            "n_cal",
            "row_number() OVER (ORDER BY resid, o_orderkey) AS rk",
        )
        .filter(
            f"rk = ((({_CONF_ALPHA_NUM} * (n_cal + 1))"
            f" + {_CONF_ALPHA_DEN} - 1) DIV {_CONF_ALPHA_DEN})"
        )
        .selectExpr("resid AS qhat_mc", "n_cal")
    )
    test = base.filter("pct >= 90").join(F.broadcast(model), "grp")
    return (
        test.crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.expr(
                "sum(CASE WHEN mc BETWEEN pred_mc - qhat_mc"
                " AND pred_mc + qhat_mc THEN 1 ELSE 0 END)"
            ).alias("n_covered"),
            F.first("qhat_mc").alias("qhat_mc"),
            F.first("n_cal").alias("n_cal"),
        )
        .selectExpr(
            "n_cal",
            "n_test",
            "CAST(qhat_mc AS BIGINT) AS qhat_mc",
            "CAST(2 * qhat_mc AS BIGINT) AS width_mc",
            "CAST((1000000 * n_covered) DIV n_test AS BIGINT)"
            " AS coverage_ppm",
        )
    )


def _conformal_sql() -> str:
    h = md5_prefix_long_sql("CAST(o_orderkey AS VARCHAR)", 4, "duck")
    return f"""
WITH base AS (
  SELECT o_orderkey, o_orderpriority AS grp,
         CAST(round(o_totalprice * 100) AS BIGINT) * 1000 AS mc,
         ({h}) % 100 AS pct
  FROM orders
), model AS (
  SELECT grp, sum(mc) // count(*) AS pred_mc
  FROM base WHERE pct < 70 GROUP BY grp
), cal AS (
  SELECT abs(mc - pred_mc) AS resid, o_orderkey
  FROM base JOIN model USING (grp) WHERE pct >= 70 AND pct < 90
), nc AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal
), qhat AS (
  SELECT resid AS qhat_mc, n_cal
  FROM (
    SELECT resid, n_cal,
           row_number() OVER (ORDER BY resid, o_orderkey) AS rk
    FROM cal CROSS JOIN nc
  )
  WHERE rk = ((({_CONF_ALPHA_NUM} * (n_cal + 1))
               + {_CONF_ALPHA_DEN} - 1) // {_CONF_ALPHA_DEN})
), test AS (
  SELECT mc, pred_mc FROM base JOIN model USING (grp) WHERE pct >= 90
)
SELECT CAST(n_cal AS BIGINT) AS n_cal,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(qhat_mc AS BIGINT) AS qhat_mc,
       CAST(2 * qhat_mc AS BIGINT) AS width_mc,
       CAST((1000000 * sum(CASE WHEN mc BETWEEN pred_mc - qhat_mc
                            AND pred_mc + qhat_mc THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS coverage_ppm
FROM test CROSS JOIN qhat
GROUP BY n_cal, qhat_mc
"""


CONFORMAL_INTERVAL_ORDERS_SQL = _conformal_sql()

QUERIES["conformal_interval_orders"] = conformal_interval_orders
ORACLES["conformal_interval_orders"] = CONFORMAL_INTERVAL_ORDERS_SQL


# --- als_factor_step: the canonical Spark distributed-ML operator ---------
# One exact half-step of Alternating Least Squares (Koren/Hu-Koren-Volinsky;
# the operator Spark MLlib's recommender is built on): hold the ITEM factor
# matrix fixed and solve every USER's ridge normal equations
#     (Q_u^T Q_u + lambda I) x_u = Q_u^T r_u
# in closed form.  The rating matrix is the purchase matrix (customer x
# part, r = total quantity over orders |X| lineitem); item factors are a
# deterministic k=2 integer function of the part key's md5 (the fixed
# "other side" any single ALS sweep conditions on), so both engines
# construct the identical problem.  Because k=2, the per-user solve is
# exact integer Cramer's rule — adj(A) b over det(A) — emitted in micro
# units via truncating division (Spark DIV == DuckDB //, both toward
# zero), making every user's factor vector bit-identical cross-engine.
# The ridge term guarantees det > 0 (A is positive definite), so the
# division is always defined.
#
# Scale shape: EXACTLY production ALS — the ratings shuffle groups by
# user, the normal-equation entries (a11, a12, a22, b1, b2) are plain
# combinable SUMs of per-rating products, and the solve is five
# arithmetic expressions per user row.  No matrix library, no driver
# state, no iteration-local collect; a full ALS alternation is this same
# plan run with user/item roles swapped.  Overflow headroom: q in [1,8],
# per-user ratings <= ~50 rows, r <= ~2000 => |b| <= 8e5, |adj*b| <=
# ~3e9, times 1e6 well inside int64; a billion-user corpus widens the
# five sums to DECIMAL(38,0) with the same plan (spearman precedent).
_ALS_LAMBDA = 10
_ALS_Q_MOD = 7  # q components in [1, 7]


def als_factor_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = md5_prefix_long_sql("CAST(l_partkey AS STRING)", 8, "spark")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rat = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "l_partkey")
        .agg(F.expr("CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)").alias("r"))
        .selectExpr(
            "o_custkey",
            "r",
            f"1 + ({h}) % {_ALS_Q_MOD} AS q1",
            f"1 + (({h}) DIV {_ALS_Q_MOD}) % {_ALS_Q_MOD} AS q2",
        )
    )
    eq = rat.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.expr(f"{_ALS_LAMBDA} + sum(q1 * q1)").alias("a11"),
        F.expr("sum(q1 * q2)").alias("a12"),
        F.expr(f"{_ALS_LAMBDA} + sum(q2 * q2)").alias("a22"),
        F.expr("sum(q1 * r)").alias("b1"),
        F.expr("sum(q2 * r)").alias("b2"),
    )
    return eq.selectExpr(
        "o_custkey",
        "n_items",
        "CAST(a11 * a22 - a12 * a12 AS BIGINT) AS det",
        f"CAST(((a22 * b1 - a12 * b2) * {_MICRO})"
        " DIV (a11 * a22 - a12 * a12) AS BIGINT) AS x1_micro",
        f"CAST(((a11 * b2 - a12 * b1) * {_MICRO})"
        " DIV (a11 * a22 - a12 * a12) AS BIGINT) AS x2_micro",
    ).orderBy("o_custkey")


def _als_sql() -> str:
    h = md5_prefix_long_sql("CAST(l_partkey AS VARCHAR)", 8, "duck")
    return f"""
WITH rat AS (
  SELECT o_custkey,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r,
         1 + ({h}) % {_ALS_Q_MOD} AS q1,
         1 + (({h}) // {_ALS_Q_MOD}) % {_ALS_Q_MOD} AS q2
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_custkey, l_partkey
), eq AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_items,
         {_ALS_LAMBDA} + sum(q1 * q1) AS a11,
         sum(q1 * q2) AS a12,
         {_ALS_LAMBDA} + sum(q2 * q2) AS a22,
         sum(q1 * r) AS b1,
         sum(q2 * r) AS b2
  FROM rat GROUP BY o_custkey
)
SELECT o_custkey, n_items,
       CAST(a11 * a22 - a12 * a12 AS BIGINT) AS det,
       CAST(((a22 * b1 - a12 * b2) * {_MICRO})
            // (a11 * a22 - a12 * a12) AS BIGINT) AS x1_micro,
       CAST(((a11 * b2 - a12 * b1) * {_MICRO})
            // (a11 * a22 - a12 * a12) AS BIGINT) AS x2_micro
FROM eq ORDER BY o_custkey
"""


ALS_FACTOR_STEP_SQL = _als_sql()

QUERIES["als_factor_step"] = als_factor_step
ORACLES["als_factor_step"] = ALS_FACTOR_STEP_SQL


# --- gbt_residual_boost: the gradient-boosting outer loop -----------------
# Two rounds of least-squares boosting over decision stumps — the loop
# that makes decision_stump_train into a gradient-boosted model
# (Friedman's L2Boost; XGBoost's outer iteration with learning rate 1 and
# depth-1 trees): round 1 fits a regression stump to the milli-scaled
# label, round 2 fits a second stump to the EXACT integer residuals the
# first one leaves behind.  Split quality is the SSE-reduction identity
#     gain = S_l^2/n_l + S_r^2/n_r - S_t^2/n_t
# (S = sum of the target in milli), evaluated with truncating division on
# the compressed (feature, value) -> (n, S) table, so candidate
# enumeration never revisits raw rows (the histogram method, as in
# decision_stump_train).  Leaf values are integer milli means; residuals
# are therefore exact integers and round 2 is bit-identical cross-engine.
# The argmax tiebreak (gain DESC, feat, val) is total, so the chosen
# model is deterministic everywhere.
#
# Scale shape: each round is ONE aggregation over the fact table plus
# window prefix-sums over a ~100-row candidate table; the fitted stump
# re-enters as a broadcast single row (BroadcastNestedLoopJoin on a
# 1-row side — the whitelisted scalar-broadcast shape), so residual
# computation is a map stage.  Overflow: |S| <= n * 1000; squares stay
# inside int64 up to ~3e6 rows, beyond which the sums widen to
# DECIMAL(38,0) with the same plan (spearman/tfidf precedent).
def gbt_residual_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    base = li.selectExpr(
        "CAST(l_quantity AS BIGINT) AS qty",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " DIV 100000 AS price_kilo",
        "CASE WHEN l_returnflag = 'R' THEN 1000 ELSE 0 END AS t",
    ).localCheckpoint(eager=True)  # scanned by both rounds; = written split

    def best_stump(target: DataFrame, rnd: int) -> DataFrame:
        comp = (
            target.selectExpr("'qty' AS feat", "qty AS val", "t")
            .unionByName(
                target.selectExpr("'price_kilo' AS feat", "price_kilo AS val", "t")
            )
            .groupBy("feat", "val")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("t").cast("long").alias("s"))
        )
        cand = comp.selectExpr(
            "feat",
            "val",
            "sum(n) OVER (PARTITION BY feat ORDER BY val) AS n_l",
            "sum(s) OVER (PARTITION BY feat ORDER BY val) AS s_l",
            "sum(n) OVER (PARTITION BY feat) AS n_t",
            "sum(s) OVER (PARTITION BY feat) AS s_t",
        ).filter("n_l < n_t")
        return (
            cand.selectExpr(
                "feat",
                "val",
                "s_l DIV n_l AS leaf_l",
                "(s_t - s_l) DIV (n_t - n_l) AS leaf_r",
                "(s_l * s_l) DIV n_l + ((s_t - s_l) * (s_t - s_l))"
                " DIV (n_t - n_l) - (s_t * s_t) DIV n_t AS gain",
            )
            .orderBy(F.desc("gain"), "feat", "val")
            .limit(1)
            .selectExpr(
                f"CAST({rnd} AS BIGINT) AS round",
                "feat AS feature",
                "CAST(val AS BIGINT) AS threshold",
                "CAST(leaf_l AS BIGINT) AS leaf_left_milli",
                "CAST(leaf_r AS BIGINT) AS leaf_right_milli",
                "CAST(gain AS BIGINT) AS gain",
            )
        )

    b1 = best_stump(base, 1)
    resid = base.crossJoin(F.broadcast(b1)).selectExpr(
        "qty",
        "price_kilo",
        "t - CASE WHEN (feature = 'qty' AND qty <= threshold)"
        " OR (feature = 'price_kilo' AND price_kilo <= threshold)"
        " THEN leaf_left_milli ELSE leaf_right_milli END AS t",
    )
    return b1.unionByName(best_stump(resid, 2)).orderBy("round")


def _gbt_stump_sql(src: str, rnd: int, out: str) -> str:
    return f"""comp{rnd} AS (
  SELECT feat, val, count(*) AS n, CAST(sum(t) AS BIGINT) AS s
  FROM (
    SELECT 'qty' AS feat, qty AS val, t FROM {src}
    UNION ALL
    SELECT 'price_kilo' AS feat, price_kilo AS val, t FROM {src}
  ) GROUP BY feat, val
), cand{rnd} AS (
  SELECT feat, val,
         sum(n) OVER (PARTITION BY feat ORDER BY val) AS n_l,
         sum(s) OVER (PARTITION BY feat ORDER BY val) AS s_l,
         sum(n) OVER (PARTITION BY feat) AS n_t,
         sum(s) OVER (PARTITION BY feat) AS s_t
  FROM comp{rnd}
), {out} AS (
  SELECT CAST({rnd} AS BIGINT) AS round, feat AS feature,
         CAST(val AS BIGINT) AS threshold,
         CAST(s_l // n_l AS BIGINT) AS leaf_left_milli,
         CAST((s_t - s_l) // (n_t - n_l) AS BIGINT) AS leaf_right_milli,
         CAST((s_l * s_l) // n_l + ((s_t - s_l) * (s_t - s_l))
              // (n_t - n_l) - (s_t * s_t) // n_t AS BIGINT) AS gain
  FROM cand{rnd} WHERE n_l < n_t
  ORDER BY gain DESC, feat, val
  LIMIT 1
)"""


GBT_RESIDUAL_BOOST_SQL = f"""
WITH base AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           // 100000 AS price_kilo,
         CASE WHEN l_returnflag = 'R' THEN 1000 ELSE 0 END AS t
  FROM lineitem
), {_gbt_stump_sql('base', 1, 'b1')},
resid AS (
  SELECT qty, price_kilo,
         t - CASE WHEN (feature = 'qty' AND qty <= threshold)
                   OR (feature = 'price_kilo' AND price_kilo <= threshold)
              THEN leaf_left_milli ELSE leaf_right_milli END AS t
  FROM base CROSS JOIN b1
), {_gbt_stump_sql('resid', 2, 'b2')}
SELECT * FROM b1 UNION ALL SELECT * FROM b2 ORDER BY round
"""

QUERIES["gbt_residual_boost"] = gbt_residual_boost
ORACLES["gbt_residual_boost"] = GBT_RESIDUAL_BOOST_SQL


# --- calibration_bins_eval: reliability diagram + ECE ---------------------
# The model-evaluation step classifier_eval_lang doesn't cover: is a
# probabilistic predictor CALIBRATED — when it says "p% likely", does the
# event happen p% of the time?  The reliability-diagram procedure
# (DeGroot/Fienberg; Guo et al.'s Expected Calibration Error) reduced to
# integer relational algebra: the house md5 doc_id split separates train
# from test; the predictor is the train fold's per-(lang, source)
# long-document rate in ppm (the corpus's one grouping with genuine 0..1
# rate spread, so the diagram populates many bins); test rows land in ten
# equal-width prediction bins (pred_ppm DIV 100000); each bin reports its
# mean predicted vs realized rate and the absolute gap, and
#     ECE_ppm = sum_b n_b * |gap_b| / sum_b n_b
# rides along as a window sum so the driver hash re-proves the measured
# calibration level every round.  All arithmetic is integer ppm with
# truncating division — no floats, no libm.  (The small per-group train
# samples make the predictor genuinely overconfident at the bin edges —
# a nonzero ECE is the honest, informative reading.)
#
# Scale shape: one scan fans into the two folds by a per-row hash
# predicate; the model is a tiny grouped aggregate broadcast back onto
# the test fold; the bin rollup is a second combinable aggregate; the
# ECE window runs over <= 11 rows.  Nothing grows with corpus size
# except the two aggregations.
_CAL_LONG_CHARS = 300


def calibration_bins_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = md5_prefix_long_sql("CAST(doc_id AS STRING)", 4, "spark")
    docs = _t(spark, sf_dir, "documents")
    base = docs.selectExpr(
        "lang",
        "source",
        f"CASE WHEN n_chars > {_CAL_LONG_CHARS} THEN 1 ELSE 0 END AS y",
        f"({h}) % 100 AS pct",
    ).localCheckpoint(eager=True)  # both folds scan it; = written split
    model = (
        base.filter("pct < 70")
        .groupBy("lang", "source")
        .agg(F.expr("(1000000 * sum(y)) DIV count(1)").alias("pred_ppm"))
    )
    test = base.filter("pct >= 70").join(F.broadcast(model), ["lang", "source"])
    bins = test.groupBy(F.expr("pred_ppm DIV 100000").alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("sum(pred_ppm)").alias("sp"),
        F.sum("y").cast("long").alias("sy"),
    )
    return bins.selectExpr(
        "CAST(bin AS BIGINT) AS bin",
        "n AS n_test",
        "CAST(sp DIV n AS BIGINT) AS mean_pred_ppm",
        "CAST((1000000 * sy) DIV n AS BIGINT) AS actual_ppm",
        "CAST(abs(sp DIV n - (1000000 * sy) DIV n) AS BIGINT) AS gap_ppm",
        "CAST(sum(n * abs(sp DIV n - (1000000 * sy) DIV n)) OVER ()"
        " DIV sum(n) OVER () AS BIGINT) AS ece_ppm",
    ).orderBy("bin")


def _calibration_sql() -> str:
    h = md5_prefix_long_sql("CAST(doc_id AS VARCHAR)", 4, "duck")
    return f"""
WITH base AS (
  SELECT lang, source,
         CASE WHEN n_chars > {_CAL_LONG_CHARS} THEN 1 ELSE 0 END AS y,
         ({h}) % 100 AS pct
  FROM documents
), model AS (
  SELECT lang, source, (1000000 * sum(y)) // count(*) AS pred_ppm
  FROM base WHERE pct < 70 GROUP BY lang, source
), test AS (
  SELECT pred_ppm, y FROM base JOIN model USING (lang, source)
  WHERE pct >= 70
), bins AS (
  SELECT pred_ppm // 100000 AS bin, CAST(count(*) AS BIGINT) AS n,
         sum(pred_ppm) AS sp, CAST(sum(y) AS BIGINT) AS sy
  FROM test GROUP BY 1
)
SELECT CAST(bin AS BIGINT) AS bin,
       n AS n_test,
       CAST(sp // n AS BIGINT) AS mean_pred_ppm,
       CAST((1000000 * sy) // n AS BIGINT) AS actual_ppm,
       CAST(abs(sp // n - (1000000 * sy) // n) AS BIGINT) AS gap_ppm,
       CAST(sum(n * abs(sp // n - (1000000 * sy) // n)) OVER ()
            // sum(n) OVER () AS BIGINT) AS ece_ppm
FROM bins ORDER BY bin
"""


CALIBRATION_BINS_EVAL_SQL = _calibration_sql()

QUERIES["calibration_bins_eval"] = calibration_bins_eval
ORACLES["calibration_bins_eval"] = CALIBRATION_BINS_EVAL_SQL


# --- isotonic_price_by_items: PAVA as exact relational algebra ------------
# Weighted isotonic (monotone nondecreasing) regression of mean order
# value against the order's line-item count — the curve-fitting step
# behind monotone calibrators (Zadrozny/Elkan) and Spark MLlib's
# IsotonicRegression.  Rather than port PAVA's sequential pooling loop,
# the fit uses the EXACT minimax characterization of the isotonic
# solution (Barlow et al. 1972):
#     f(i) = max_{j <= i} min_{k >= i} avg(y_j .. y_k)
# over the COMPRESSED (x, n, sum) table, with every candidate interval
# average taken from two prefix sums.  The x domain is the line-item
# count (<= ~15 distinct values — bounded by order width, NOT corpus
# size), so the O(|x|^3) pair enumeration is a constant-size plan stage
# over a table that a billion-order corpus still compresses to ~15 rows.
# Averages are integer micro-cents with truncating division; the
# truncated-average minimax is order-identical in both engines, so the
# fitted step function is bit-exact cross-engine.  (With truncation the
# minimax is our DEFINED fit — within 1 micro-cent of the rational PAVA
# solution; the property test checks monotonicity and pool-mean
# conservation against an independent pure-Python PAVA.)
#
# Scale shape: one orderkey-grouped count over the fact join, one
# ~15-row compression, then constant-size self-joins.  Nothing after the
# first aggregation grows with data volume.
def isotonic_price_by_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.expr("CAST(round(max(o_totalprice) * 100) AS BIGINT)").alias("cents"),
            F.count(F.lit(1)).alias("x"),
        )
    )
    comp = (
        per_order.groupBy("x")
        .agg(F.count(F.lit(1)).alias("n"), F.expr("sum(cents)").alias("s"))
        .selectExpr(
            "x",
            "n",
            "s",
            "sum(n) OVER (ORDER BY x) AS np",
            "sum(s) OVER (ORDER BY x) AS sp",
        )
    )
    lo = comp.selectExpr("x AS xj", "np - n AS np0", "sp - s AS sp0")
    hi = comp.selectExpr("x AS xk", "np AS np1", "sp AS sp1")
    # non-equi joins over the ~15-row compressed table: broadcast the
    # build side explicitly so the plan is BroadcastNestedLoopJoin (the
    # registry bans CartesianProduct; static stats can't see how tiny
    # these aggregates are)
    pairs = lo.join(F.broadcast(hi), F.expr("xj <= xk")).selectExpr(
        "xj",
        "xk",
        "((sp1 - sp0) * 1000000) DIV (np1 - np0) AS avg_micro",
    )
    pts = comp.select("x", "n")
    inner = (
        pts.join(F.broadcast(pairs), F.expr("xj <= x AND x <= xk"))
        .groupBy("x", "n", "xj")
        .agg(F.expr("min(avg_micro)").alias("m"))
    )
    return (
        inner.groupBy("x", "n")
        .agg(F.expr("max(m)").alias("fit_micro_cents"))
        .selectExpr(
            "CAST(x AS BIGINT) AS n_items",
            "CAST(n AS BIGINT) AS n_orders",
            "CAST(fit_micro_cents AS BIGINT) AS fit_micro_cents",
        )
        .orderBy("n_items")
    )


ISOTONIC_PRICE_BY_ITEMS_SQL = """
WITH per_order AS (
  SELECT o_orderkey,
         CAST(round(max(o_totalprice) * 100) AS BIGINT) AS cents,
         count(*) AS x
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_orderkey
), comp AS (
  SELECT x, count(*) AS n, sum(cents) AS s,
         sum(count(*)) OVER (ORDER BY x) AS np,
         sum(sum(cents)) OVER (ORDER BY x) AS sp
  FROM per_order GROUP BY x
), pairs AS (
  SELECT lo.x AS xj, hi.x AS xk,
         ((hi.sp - (lo.sp - lo.s)) * 1000000)
           // (hi.np - (lo.np - lo.n)) AS avg_micro
  FROM comp lo JOIN comp hi ON lo.x <= hi.x
), inner_min AS (
  SELECT p.x, p.n, pr.xj, min(pr.avg_micro) AS m
  FROM comp p JOIN pairs pr ON pr.xj <= p.x AND p.x <= pr.xk
  GROUP BY p.x, p.n, pr.xj
)
SELECT CAST(x AS BIGINT) AS n_items,
       CAST(n AS BIGINT) AS n_orders,
       CAST(max(m) AS BIGINT) AS fit_micro_cents
FROM inner_min GROUP BY x, n ORDER BY n_items
"""

QUERIES["isotonic_price_by_items"] = isotonic_price_by_items
ORACLES["isotonic_price_by_items"] = ISOTONIC_PRICE_BY_ITEMS_SQL


# --- survival_km_curve: the Kaplan-Meier product-limit estimator ----------
# The survival curve survival_reorder_times only bucketizes: S(t) for
# time-to-second-purchase with right-censoring (single-order customers
# censor at the corpus horizon = max order date).  The estimator is
#     S(t) = prod_{t_i <= t, d_i > 0} (n_i - d_i) / n_i
# computed over the COMPRESSED risk table (one row per distinct
# event/censor day — bounded by the time domain, ~2200 days here, never
# by corpus size).  Everything parallel stays in Catalyst: the
# per-customer gap extraction is one window pass, the risk table is one
# aggregation, and n_at_risk comes from a prefix-sum window.  Only the
# running product is inherently sequential — under the house integer-ppm
# truncation scheme S_i = (S_{i-1} * (n_i - d_i)) DIV n_i each step
# depends on the truncated previous value, so (like token_bucket and
# ewma) it runs as an applyInPandas kernel over the tiny risk table and
# the DuckDB oracle walks the identical recurrence with WITH RECURSIVE —
# the driver hash proves the kernel is the recurrence.  Truncation error
# is < 1 ppm per event step, two orders below the estimator's own
# sampling noise.
#
# Scale shape: two shuffles over the fact table (customer window + risk
# aggregation); the sequential unit is the ~|distinct days| compressed
# table — constant in corpus size, exactly how production KM on billions
# of rows is computed (the risk table IS the reduction).
def survival_km_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
    )
    ranked = top_k(o, ["o_custkey"], [F.asc("d"), F.asc("o_orderkey")], 2, "rk")
    horizon = ranked.agg(F.expr("max(d) AS hz"))
    gaps = (
        ranked.groupBy("o_custkey")
        .agg(
            F.expr("min(d) AS d1"),
            F.expr("max(CASE WHEN rk = 2 THEN d END) AS d2"),
        )
        .crossJoin(F.broadcast(horizon))
        .selectExpr(
            "CASE WHEN d2 IS NOT NULL THEN datediff(d2, d1)"
            " ELSE datediff(hz, d1) END AS t",
            "CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS e",
        )
    )
    risk = (
        gaps.groupBy("t")
        .agg(
            F.expr("sum(e)").alias("d_events"),
            F.expr("sum(1 - e)").alias("c_censored"),
        )
        .selectExpr(
            "t",
            "d_events",
            "c_censored",
            "sum(d_events + c_censored) OVER (ORDER BY t ROWS BETWEEN"
            " UNBOUNDED PRECEDING AND CURRENT ROW) AS consumed",
            "sum(d_events + c_censored) OVER () AS total",
        )
        .selectExpr(
            "t",
            "d_events",
            "c_censored",
            "total - consumed + d_events + c_censored AS n_at_risk",
        )
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t").reset_index(drop=True)
        s = 1_000_000
        out = []
        for t, d, c, n in zip(
            pdf["t"], pdf["d_events"], pdf["c_censored"], pdf["n_at_risk"]
        ):
            if d > 0:
                s = (s * (int(n) - int(d))) // int(n)
                out.append((int(t), int(n), int(d), int(c), s))
        return pd.DataFrame(
            out, columns=["t_days", "n_at_risk", "d_events", "c_censored", "s_ppm"]
        )

    return (
        risk.groupBy(F.lit(0).alias("g"))
        .applyInPandas(
            walk,
            schema=(
                "t_days long, n_at_risk long, d_events long,"
                " c_censored long, s_ppm long"
            ),
        )
        .orderBy("t_days")
    )


SURVIVAL_KM_CURVE_SQL = """
WITH RECURSIVE ranked AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS rk
  FROM orders
), two AS (
  SELECT * FROM ranked WHERE rk <= 2
), hz AS (
  SELECT max(d) AS hz FROM two
), gaps AS (
  SELECT CASE WHEN max(CASE WHEN rk = 2 THEN d END) IS NOT NULL
              THEN date_diff('day', min(d), max(CASE WHEN rk = 2 THEN d END))
              ELSE date_diff('day', min(d), (SELECT hz FROM hz)) END AS t,
         CASE WHEN max(CASE WHEN rk = 2 THEN d END) IS NOT NULL
              THEN 1 ELSE 0 END AS e
  FROM two GROUP BY o_custkey
), risk AS (
  SELECT t, sum(e) AS d_events, sum(1 - e) AS c_censored,
         sum(sum(e) + sum(1 - e)) OVER (ORDER BY t) AS consumed,
         sum(sum(e) + sum(1 - e)) OVER () AS total
  FROM gaps GROUP BY t
), ev AS (
  SELECT t, d_events, c_censored,
         total - consumed + d_events + c_censored AS n_at_risk,
         row_number() OVER (ORDER BY t) AS rn
  FROM risk WHERE d_events > 0
), km AS (
  SELECT rn, t, d_events, c_censored, n_at_risk,
         (1000000 * (n_at_risk - d_events)) // n_at_risk AS s
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.rn, e.t, e.d_events, e.c_censored, e.n_at_risk,
         (k.s * (e.n_at_risk - e.d_events)) // e.n_at_risk
  FROM km k JOIN ev e ON e.rn = k.rn + 1
)
SELECT CAST(t AS BIGINT) AS t_days,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(d_events AS BIGINT) AS d_events,
       CAST(c_censored AS BIGINT) AS c_censored,
       CAST(s AS BIGINT) AS s_ppm
FROM km ORDER BY t_days
"""

QUERIES["survival_km_curve"] = survival_km_curve
ORACLES["survival_km_curve"] = SURVIVAL_KM_CURVE_SQL


# --- leave-one-out target encoding -------------------------------------------
# The feature-engineering classic for high-cardinality categoricals: encode
# each row's category by the mean target of OTHER rows in the category —
# the subtraction kills the self-leak that makes naive target encoding
# overfit.  LOO is pure algebra over per-category sufficient statistics:
# loo = (sum_cat - x) DIV (n_cat - 1) — so at 100 TB it is one combinable
# agg on the category (5 rows out) broadcast back over the fact scan; no
# per-row window, no second shuffle.  The category here is the customer's
# market segment joined onto orders (broadcast dim join); the output is the
# per-segment audit of the full encoded column (count, min, max, exact sum),
# so the driver hash pins every encoded value, not a sample.  Everything is
# integer cents with truncated division (engine-identical).
def loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("x"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    fact = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "x"
    )
    stats = fact.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_cat"),
        F.sum("x").cast("long").alias("s_cat"),
    )
    enc = fact.join(F.broadcast(stats), "c_mktsegment").select(
        "c_mktsegment",
        F.expr("(s_cat - x) DIV (n_cat - 1)").cast("long").alias("loo_cents"),
    )
    return (
        enc.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("loo_cents").alias("min_loo_cents"),
            F.max("loo_cents").alias("max_loo_cents"),
            F.sum("loo_cents").cast("long").alias("sum_loo_cents"),
        )
        .orderBy("c_mktsegment")
    )


LOO_TARGET_ENCODING_SQL = """
WITH fact AS (
  SELECT c.c_mktsegment,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), stats AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_cat,
         CAST(sum(x) AS BIGINT) AS s_cat
  FROM fact GROUP BY c_mktsegment
), enc AS (
  SELECT f.c_mktsegment,
         CAST((s.s_cat - f.x) // (s.n_cat - 1) AS BIGINT) AS loo_cents
  FROM fact f JOIN stats s USING (c_mktsegment)
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(loo_cents) AS BIGINT) AS min_loo_cents,
       CAST(max(loo_cents) AS BIGINT) AS max_loo_cents,
       CAST(sum(loo_cents) AS BIGINT) AS sum_loo_cents
FROM enc
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

QUERIES["loo_target_encoding"] = loo_target_encoding
ORACLES["loo_target_encoding"] = LOO_TARGET_ENCODING_SQL


# --- k-fold cross-validation of the group-mean predictor ---------------------
# The evaluation loop every model selection rests on, as pure relational
# algebra: md5(o_orderkey) % 5 assigns folds (content-keyed — stable under
# rerun, append, and repartition, like split_train_val_test); the per-fold
# TRAIN statistics are derived by subtracting the fold's own (priority,
# fold) partial from the priority totals — one combinable agg over the
# compressed 25-row grid, never a second pass over the facts — and each
# held-out row is scored against the prediction its train folds imply.
# pred = train-mean in truncated cents; the squared errors accumulate in
# DECIMAL(38,0); rmse is the one final double expression.  Contrast with
# conformal_interval_orders (coverage guarantee) — this op is the point-
# accuracy half of model evaluation.
CV_FOLDS = 5


def cv_kfold_mse(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = md5_prefix_long_sql("CAST(o_orderkey AS STRING)", 4, "spark")
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS pri",
        f"CAST(({h}) % {CV_FOLDS} AS BIGINT) AS fold",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x",
    )
    grid = o.groupBy("pri", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pf"),
        F.sum("x").cast("long").alias("s_pf"),
    )
    tot = grid.groupBy("pri").agg(
        F.sum("n_pf").cast("long").alias("n_p"),
        F.sum("s_pf").cast("long").alias("s_p"),
    )
    pred = grid.join(F.broadcast(tot), "pri").selectExpr(
        "pri",
        "fold",
        "CAST((s_p - s_pf) DIV (n_p - n_pf) AS BIGINT) AS pred_cents",
    )
    scored = o.join(F.broadcast(pred), ["pri", "fold"]).select(
        "fold",
        ((F.col("x") - F.col("pred_cents")).cast("decimal(38,0)")
         * (F.col("x") - F.col("pred_cents"))).alias("se"),
    )
    out = scored.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum("se").alias("sse"),
    )
    return out.selectExpr(
        "fold",
        "n_test",
        "CAST(round(sqrt(CAST(sse AS DOUBLE) / CAST(n_test AS DOUBLE)))"
        " AS BIGINT) AS rmse_cents",
    ).orderBy("fold")


def _cv_sql() -> str:
    h = md5_prefix_long_sql("CAST(o_orderkey AS VARCHAR)", 4, "duck")
    return f"""
WITH o AS (
  SELECT o_orderpriority AS pri,
         CAST(({h}) % {CV_FOLDS} AS BIGINT) AS fold,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM orders
), grid AS (
  SELECT pri, fold, CAST(count(*) AS BIGINT) AS n_pf,
         CAST(sum(x) AS BIGINT) AS s_pf
  FROM o GROUP BY pri, fold
), tot AS (
  SELECT pri, CAST(sum(n_pf) AS BIGINT) AS n_p,
         CAST(sum(s_pf) AS BIGINT) AS s_p
  FROM grid GROUP BY pri
), pred AS (
  SELECT g.pri, g.fold,
         CAST((t.s_p - g.s_pf) // (t.n_p - g.n_pf) AS BIGINT) AS pred_cents
  FROM grid g JOIN tot t USING (pri)
), scored AS (
  SELECT o.fold,
         CAST(o.x - p.pred_cents AS DECIMAL(38,0)) * (o.x - p.pred_cents) AS se
  FROM o JOIN pred p ON o.pri = p.pri AND o.fold = p.fold
)
SELECT fold, CAST(count(*) AS BIGINT) AS n_test,
       CAST(round(sqrt(CAST(sum(se) AS DOUBLE) / CAST(count(*) AS DOUBLE)))
         AS BIGINT) AS rmse_cents
FROM scored
GROUP BY fold
ORDER BY fold
"""


CV_KFOLD_MSE_SQL = _cv_sql()

QUERIES["cv_kfold_mse"] = cv_kfold_mse
ORACLES["cv_kfold_mse"] = CV_KFOLD_MSE_SQL


# --- bandit_replay_eval: offline policy evaluation by replay -----------------
# Before a recommender policy ships, it is scored OFFLINE against logged
# interactions with the replay method (Li et al. 2011): keep exactly the
# logged rows whose action matches what the candidate policy would have
# chosen in that context, and average their rewards — unbiased when the
# logging policy randomizes uniformly over actions (the synthetic event
# stream's types are near-uniform per context; documented assumption).
# Temporal hygiene mirrors training_label_join: the greedy policy is FIT
# on the first 15 days (per-context argmax of mean reward, deterministic
# ties by action name) and REPLAYED on the rest — fit rows never score
# themselves.  Shape: two conditional aggs over one scan (context x
# action grid, ~20 rows), a broadcast policy join, one final agg; all
# means in truncated integer cents.
def bandit_replay_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").selectExpr(
        "CAST(ts AS DATE) AS day",
        "CAST(hour(ts) DIV 6 AS BIGINT) AS ctx",
        "event_type AS action",
        "CAST(round(value * 100) AS BIGINT) AS reward",
    )
    cut = ev.agg(F.expr("date_add(min(day), 15)").alias("cutoff"))
    evc = ev.crossJoin(F.broadcast(cut))
    grid = (
        evc.where(F.col("day") < F.col("cutoff"))
        .groupBy("ctx", "action")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train"),
            F.expr("sum(reward) DIV count(*)").cast("long").alias(
                "train_mean_cents"
            ),
        )
    )
    order = [F.desc("train_mean_cents"), F.asc("action")]
    policy = top_k(grid, ["ctx"], order, 1, "rk").select(
        "ctx", F.col("action").alias("chosen"), "train_mean_cents"
    )
    ev_eval = evc.where(F.col("day") >= F.col("cutoff"))
    scored = ev_eval.join(F.broadcast(policy), "ctx").groupBy(
        "ctx", "chosen", "train_mean_cents"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.expr("sum(reward) DIV count(*)").cast("long").alias(
            "behavior_mean_cents"
        ),
        F.sum(F.when(F.col("action") == F.col("chosen"), 1).otherwise(0))
        .cast("long")
        .alias("n_matched"),
        F.expr(
            "sum(CASE WHEN action = chosen THEN reward END)"
            " DIV sum(CASE WHEN action = chosen THEN 1 END)"
        )
        .cast("long")
        .alias("replay_mean_cents"),
    )
    return scored.selectExpr(
        "ctx",
        "chosen",
        "train_mean_cents",
        "n_eval",
        "n_matched",
        "behavior_mean_cents",
        "replay_mean_cents",
    ).orderBy("ctx")


BANDIT_REPLAY_EVAL_SQL = """
WITH ev AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(hour(ts) // 6 AS BIGINT) AS ctx,
         event_type AS action,
         CAST(round(value * 100) AS BIGINT) AS reward
  FROM events
), cut AS (
  SELECT min(day) + INTERVAL 15 DAY AS cutoff FROM ev
), grid AS (
  SELECT ctx, action, CAST(count(*) AS BIGINT) AS n_train,
         CAST(sum(reward) // count(*) AS BIGINT) AS train_mean_cents
  FROM ev, cut WHERE day < cutoff
  GROUP BY ctx, action
), policy AS (
  SELECT ctx, action AS chosen, train_mean_cents
  FROM (SELECT *, row_number() OVER (PARTITION BY ctx
               ORDER BY train_mean_cents DESC, action) AS rk FROM grid)
  WHERE rk = 1
)
SELECT e.ctx, p.chosen, p.train_mean_cents,
       CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(CASE WHEN e.action = p.chosen THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched,
       CAST(sum(e.reward) // count(*) AS BIGINT) AS behavior_mean_cents,
       CAST(sum(CASE WHEN e.action = p.chosen THEN e.reward END)
            // sum(CASE WHEN e.action = p.chosen THEN 1 END) AS BIGINT)
         AS replay_mean_cents
FROM ev e, cut JOIN policy p ON e.ctx = p.ctx
WHERE e.day >= cutoff
GROUP BY e.ctx, p.chosen, p.train_mean_cents
ORDER BY e.ctx
"""

QUERIES["bandit_replay_eval"] = bandit_replay_eval
ORACLES["bandit_replay_eval"] = BANDIT_REPLAY_EVAL_SQL


# --- embedding_drift_monitor: per-dimension two-sample drift ------------------
# ML observability's first alarm: did the embedding distribution move
# between two snapshots (old model vs re-embedded corpus, last week vs
# this week)?  Snapshots here are the two halves of a content-hash split
# (stable under rerun/append, the split_train_val_test discipline); per
# DIMENSION the op computes exact integer moments (components floored to
# micro — the embedding_centroid_by_label trick — summed in int64, with
# squares bounded by 1e12 * n), then the two-sample z-score
# |mean_a - mean_b| / sqrt(var_a/n_a + var_b/n_b) as the one final
# double.  Shape: ONE posexplode scan, one (dim, half) agg (128 cells),
# a 64-row output — at any corpus size the monitor is a single
# combinable aggregation.  On this stationary corpus nothing drifts;
# the property test plants a shifted snapshot and the flag fires.
DRIFT_Z_MILLI = 3000  # flag |z| > 3


def embedding_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = md5_prefix_long_sql("CAST(vec_id AS STRING)", 4, "spark")
    e = (
        _t(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id",
            f"CASE WHEN ({h}) % 2 = 0 THEN 'a' ELSE 'b' END AS half",
            "posexplode(embedding) AS (dim, x)",
        )
        .selectExpr(
            "half",
            "dim",
            "CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS e",
        )
    )
    cells = e.groupBy("dim", "half").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("e").cast("long").alias("s"),
        F.sum(F.col("e") * F.col("e")).cast("long").alias("ss"),
    )
    wide = cells.groupBy("dim").agg(
        F.max(F.when(F.col("half") == "a", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("half") == "a", F.col("s"))).alias("s_a"),
        F.max(F.when(F.col("half") == "a", F.col("ss"))).alias("ss_a"),
        F.max(F.when(F.col("half") == "b", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("half") == "b", F.col("s"))).alias("s_b"),
        F.max(F.when(F.col("half") == "b", F.col("ss"))).alias("ss_b"),
    )
    z = (
        "1000 * abs(CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)"
        " / sqrt("
        "  (CAST(ss_a AS DOUBLE) / n_a - (CAST(s_a AS DOUBLE) / n_a)"
        "   * (CAST(s_a AS DOUBLE) / n_a)) / n_a"
        "  + (CAST(ss_b AS DOUBLE) / n_b - (CAST(s_b AS DOUBLE) / n_b)"
        "   * (CAST(s_b AS DOUBLE) / n_b)) / n_b)"
    )
    return wide.selectExpr(
        "CAST(dim AS BIGINT) AS dim",
        "n_a",
        "n_b",
        "CAST(s_a DIV n_a AS BIGINT) AS mean_a_micro",
        "CAST(s_b DIV n_b AS BIGINT) AS mean_b_micro",
        f"CAST(round({z}) AS BIGINT) AS z_milli",
        f"CAST(round({z}) > {DRIFT_Z_MILLI} AS BOOLEAN) AS drifted",
    ).orderBy("dim")


def _drift_sql() -> str:
    h = md5_prefix_long_sql("CAST(vec_id AS VARCHAR)", 4, "duck")
    z = (
        "1000 * abs(CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)"
        " / sqrt("
        "  (CAST(ss_a AS DOUBLE) / n_a - (CAST(s_a AS DOUBLE) / n_a)"
        "   * (CAST(s_a AS DOUBLE) / n_a)) / n_a"
        "  + (CAST(ss_b AS DOUBLE) / n_b - (CAST(s_b AS DOUBLE) / n_b)"
        "   * (CAST(s_b AS DOUBLE) / n_b)) / n_b)"
    )
    return f"""
WITH e AS (
  SELECT CASE WHEN ({h}) % 2 = 0 THEN 'a' ELSE 'b' END AS half,
         unnest(range(len(embedding))) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS ev
  FROM embeddings
), cells AS (
  SELECT dim, half, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ev) AS BIGINT) AS s,
         CAST(sum(ev * ev) AS BIGINT) AS ss
  FROM e GROUP BY dim, half
), wide AS (
  SELECT dim,
         max(CASE WHEN half = 'a' THEN n END) AS n_a,
         max(CASE WHEN half = 'a' THEN s END) AS s_a,
         max(CASE WHEN half = 'a' THEN ss END) AS ss_a,
         max(CASE WHEN half = 'b' THEN n END) AS n_b,
         max(CASE WHEN half = 'b' THEN s END) AS s_b,
         max(CASE WHEN half = 'b' THEN ss END) AS ss_b
  FROM cells GROUP BY dim
)
SELECT CAST(dim AS BIGINT) AS dim, n_a, n_b,
       CAST(s_a // n_a AS BIGINT) AS mean_a_micro,
       CAST(s_b // n_b AS BIGINT) AS mean_b_micro,
       CAST(round({z}) AS BIGINT) AS z_milli,
       CAST(round({z}) > {DRIFT_Z_MILLI} AS BOOLEAN) AS drifted
FROM wide
ORDER BY dim
"""


EMBEDDING_DRIFT_MONITOR_SQL = _drift_sql()

QUERIES["embedding_drift_monitor"] = embedding_drift_monitor
ORACLES["embedding_drift_monitor"] = EMBEDDING_DRIFT_MONITOR_SQL


# --- learning_curve_eval: error vs training-set size --------------------------
# The first diagnostic plotted for any model: does more data still help?
# Training subsets are NESTED content-hash prefixes (1%, 4%, 16%, 64% of
# the train fold via 40-bit thresholds — each subset contains the
# smaller ones, the property that makes curves comparable), the model is
# the group-mean predictor, the test fold is fixed (hash % 5 == 4, the
# cv_kfold convention), and each point reports exact-integer RMSE.  One
# scan builds all four training aggregates simultaneously (conditional
# sums per threshold — no per-subset re-scan) plus the test rows; the
# curve should fall monotonically-ish toward the full-data floor.
LC_FRACS_PPM = (10_000, 40_000, 160_000, 640_000)  # of the train fold


def learning_curve_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = md5_prefix_long_sql("CAST(o_orderkey AS STRING)", 10, "spark")
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS pri",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x",
        f"({h}) AS u",
        f"({h}) % 5 = 4 AS is_test",
    )
    train = o.where(~F.col("is_test"))
    sums = train.groupBy("pri").agg(
        *[
            c
            for f in LC_FRACS_PPM
            for c in (
                F.sum(
                    F.when(F.col("u") < (f * (1 << 40)) // 1_000_000, F.col("x"))
                )
                .cast("long")
                .alias(f"s_{f}"),
                F.sum(
                    F.when(F.col("u") < (f * (1 << 40)) // 1_000_000, 1).otherwise(0)
                )
                .cast("long")
                .alias(f"n_{f}"),
            )
        ]
    )
    test = o.where("is_test").select("pri", "x")
    joined = test.join(F.broadcast(sums), "pri")
    parts = []
    for f in LC_FRACS_PPM:
        parts.append(
            joined.where(F.col(f"n_{f}") > 0)
            .selectExpr(
                "x",
                f"s_{f} DIV n_{f} AS pred",
                f"n_{f} AS n_train_pri",
            )
            .agg(
                F.lit(f).cast("long").alias("frac_ppm"),
                F.count(F.lit(1)).cast("long").alias("n_test"),
                F.sum(
                    (F.col("x") - F.col("pred")).cast("decimal(38,0)")
                    * (F.col("x") - F.col("pred"))
                ).alias("sse"),
            )
            .selectExpr(
                "frac_ppm",
                "n_test",
                "CAST(round(sqrt(CAST(sse AS DOUBLE) / n_test)) AS BIGINT)"
                " AS rmse_cents",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("frac_ppm")


def _lc_sql() -> str:
    h = md5_prefix_long_sql("CAST(o_orderkey AS VARCHAR)", 10, "duck")
    sums_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN u < {(f * (1 << 40)) // 1_000_000} THEN x END)"
        f" AS BIGINT) AS s_{f},\n         "
        f"CAST(sum(CASE WHEN u < {(f * (1 << 40)) // 1_000_000} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_{f}"
        for f in LC_FRACS_PPM
    )
    blocks = "\n  UNION ALL\n".join(
        f"""  SELECT CAST({f} AS BIGINT) AS frac_ppm,
         CAST(count(*) AS BIGINT) AS n_test,
         CAST(round(sqrt(CAST(sum(CAST(t.x - s.s_{f} // s.n_{f} AS DECIMAL(38,0))
              * (t.x - s.s_{f} // s.n_{f})) AS DOUBLE) / count(*))) AS BIGINT)
           AS rmse_cents
  FROM test t JOIN sums s USING (pri) WHERE s.n_{f} > 0"""
        for f in LC_FRACS_PPM
    )
    return f"""
WITH o AS (
  SELECT o_orderpriority AS pri,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         ({h}) AS u,
         ({h}) % 5 = 4 AS is_test
  FROM orders
), sums AS (
  SELECT pri,
         {sums_cols}
  FROM o WHERE NOT is_test GROUP BY pri
), test AS (
  SELECT pri, x FROM o WHERE is_test
)
SELECT * FROM (
{blocks}
)
ORDER BY frac_ppm
"""


LEARNING_CURVE_EVAL_SQL = _lc_sql()

QUERIES["learning_curve_eval"] = learning_curve_eval
ORACLES["learning_curve_eval"] = LEARNING_CURVE_EVAL_SQL


# --- OLS by normal equations (exact sums, Cramer 2x2) ------------------------
# Two-feature linear model price_cents ~ p_size + len(p_type), fit the way
# a 100 TB regression must be fit: ONE map-side-combinable aggregate
# producing the 9 exact moment sums (all int64 — features are tens, cents
# are ~2e5, so even 1000x the rows stays under 2^63), then the centered
# normal equations A·beta = B assembled driver-free in the projection.
# A/B entries (n·Sxx − Sx², ...) stay int64 (< 9e15 ≈ 2^53, so they are
# also EXACT as doubles); the Cramer quotients are the single final double
# expression.  R² comes from the same components.  No second pass, no
# collect, no gradient loop.
def ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").selectExpr(
        "CAST(p_size AS BIGINT) AS x1",
        "CAST(length(p_type) AS BIGINT) AS x2",
        "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y",
    )
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return m.selectExpr(
        "n",
        "CAST(n * s11 - s1 * s1 AS BIGINT) AS a11",
        "CAST(n * s22 - s2 * s2 AS BIGINT) AS a22",
        "CAST(n * s12 - s1 * s2 AS BIGINT) AS a12",
        "CAST(n * s1y - s1 * sy AS BIGINT) AS b1",
        "CAST(n * s2y - s2 * sy AS BIGINT) AS b2",
        """CAST(round(1000000.0 *
             (CAST(n * s22 - s2 * s2 AS DOUBLE) * CAST(n * s1y - s1 * sy AS DOUBLE)
              - CAST(n * s12 - s1 * s2 AS DOUBLE) * CAST(n * s2y - s2 * sy AS DOUBLE))
             / (CAST(n * s11 - s1 * s1 AS DOUBLE) * CAST(n * s22 - s2 * s2 AS DOUBLE)
                - CAST(n * s12 - s1 * s2 AS DOUBLE) * CAST(n * s12 - s1 * s2 AS DOUBLE))
           ) AS BIGINT) AS beta1_micro""",
        """CAST(round(1000000.0 *
             (CAST(n * s11 - s1 * s1 AS DOUBLE) * CAST(n * s2y - s2 * sy AS DOUBLE)
              - CAST(n * s12 - s1 * s2 AS DOUBLE) * CAST(n * s1y - s1 * sy AS DOUBLE))
             / (CAST(n * s11 - s1 * s1 AS DOUBLE) * CAST(n * s22 - s2 * s2 AS DOUBLE)
                - CAST(n * s12 - s1 * s2 AS DOUBLE) * CAST(n * s12 - s1 * s2 AS DOUBLE))
           ) AS BIGINT) AS beta2_micro""",
        """CAST(round(1000000.0 *
             (CAST(n * s1y - s1 * sy AS DOUBLE)
                * (CAST(n * s22 - s2 * s2 AS DOUBLE) * CAST(n * s1y - s1 * sy AS DOUBLE)
                   - CAST(n * s12 - s1 * s2 AS DOUBLE) * CAST(n * s2y - s2 * sy AS DOUBLE))
              + CAST(n * s2y - s2 * sy AS DOUBLE)
                * (CAST(n * s11 - s1 * s1 AS DOUBLE) * CAST(n * s2y - s2 * sy AS DOUBLE)
                   - CAST(n * s12 - s1 * s2 AS DOUBLE) * CAST(n * s1y - s1 * sy AS DOUBLE)))
             / ((CAST(n * s11 - s1 * s1 AS DOUBLE) * CAST(n * s22 - s2 * s2 AS DOUBLE)
                 - CAST(n * s12 - s1 * s2 AS DOUBLE) * CAST(n * s12 - s1 * s2 AS DOUBLE))
                * CAST(n * syy - sy * sy AS DOUBLE))
           ) AS BIGINT) AS r2_micro""",
    )


_OLS_MOMENTS_SQL = """
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x1 * x1) AS BIGINT) AS s11,
         CAST(sum(x2 * x2) AS BIGINT) AS s22,
         CAST(sum(x1 * x2) AS BIGINT) AS s12,
         CAST(sum(x1 * y) AS BIGINT) AS s1y,
         CAST(sum(x2 * y) AS BIGINT) AS s2y,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM (SELECT CAST(p_size AS BIGINT) AS x1,
               CAST(length(p_type) AS BIGINT) AS x2,
               CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        FROM part)
"""

OLS_NORMAL_EQUATIONS_SQL = f"""
WITH m AS ({_OLS_MOMENTS_SQL})
SELECT n,
       CAST(n * s11 - s1 * s1 AS BIGINT) AS a11,
       CAST(n * s22 - s2 * s2 AS BIGINT) AS a22,
       CAST(n * s12 - s1 * s2 AS BIGINT) AS a12,
       CAST(n * s1y - s1 * sy AS BIGINT) AS b1,
       CAST(n * s2y - s2 * sy AS BIGINT) AS b2,
       CAST(round(1000000.0 *
         (CAST(n * s22 - s2 * s2 AS DOUBLE) * CAST(n * s1y - s1 * sy AS DOUBLE)
          - CAST(n * s12 - s1 * s2 AS DOUBLE) * CAST(n * s2y - s2 * sy AS DOUBLE))
         / (CAST(n * s11 - s1 * s1 AS DOUBLE) * CAST(n * s22 - s2 * s2 AS DOUBLE)
            - CAST(n * s12 - s1 * s2 AS DOUBLE) * CAST(n * s12 - s1 * s2 AS DOUBLE))
       ) AS BIGINT) AS beta1_micro,
       CAST(round(1000000.0 *
         (CAST(n * s11 - s1 * s1 AS DOUBLE) * CAST(n * s2y - s2 * sy AS DOUBLE)
          - CAST(n * s12 - s1 * s2 AS DOUBLE) * CAST(n * s1y - s1 * sy AS DOUBLE))
         / (CAST(n * s11 - s1 * s1 AS DOUBLE) * CAST(n * s22 - s2 * s2 AS DOUBLE)
            - CAST(n * s12 - s1 * s2 AS DOUBLE) * CAST(n * s12 - s1 * s2 AS DOUBLE))
       ) AS BIGINT) AS beta2_micro,
       CAST(round(1000000.0 *
         (CAST(n * s1y - s1 * sy AS DOUBLE)
            * (CAST(n * s22 - s2 * s2 AS DOUBLE) * CAST(n * s1y - s1 * sy AS DOUBLE)
               - CAST(n * s12 - s1 * s2 AS DOUBLE) * CAST(n * s2y - s2 * sy AS DOUBLE))
          + CAST(n * s2y - s2 * sy AS DOUBLE)
            * (CAST(n * s11 - s1 * s1 AS DOUBLE) * CAST(n * s2y - s2 * sy AS DOUBLE)
               - CAST(n * s12 - s1 * s2 AS DOUBLE) * CAST(n * s1y - s1 * sy AS DOUBLE)))
         / ((CAST(n * s11 - s1 * s1 AS DOUBLE) * CAST(n * s22 - s2 * s2 AS DOUBLE)
             - CAST(n * s12 - s1 * s2 AS DOUBLE) * CAST(n * s12 - s1 * s2 AS DOUBLE))
            * CAST(n * syy - sy * sy AS DOUBLE))
       ) AS BIGINT) AS r2_micro
FROM m
"""

QUERIES["ols_normal_equations"] = ols_normal_equations
ORACLES["ols_normal_equations"] = OLS_NORMAL_EQUATIONS_SQL


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


# --- decile lift / cumulative gains table -------------------------------------
# The campaign-targeting readout next to auc_exact_eval: score every
# vector with the label-0 centroid (same milli-int dot product), cut into
# deciles by (score desc, vec_id), and report per-decile capture.  gains
# is exact ppm (integer DIV); lift is the one final double division.  At
# scale: one broadcast join + one window + one aggregate.
LIFT_LABEL = 0
LIFT_DECILES = 10


def lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        q.filter(F.col("label") == LIFT_LABEL)
        .groupBy("pos")
        .agg(F.sum("qv").alias("csum"))
    )
    scored = (
        q.join(F.broadcast(cent), "pos")
        .groupBy("vec_id")
        .agg(
            F.min("label").alias("lbl"),
            F.sum(F.col("qv") * F.col("csum")).alias("score"),
        )
    )
    wd = W.orderBy(F.desc("score"), F.asc("vec_id"))
    dec = scored.select(
        F.ntile(LIFT_DECILES).over(wd).alias("decile"),
        F.when(F.col("lbl") == LIFT_LABEL, 1).otherwise(0).alias("pos_flag"),
    )
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos_flag").cast("long").alias("n_pos"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    wt = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return per.select(
        F.col("decile").cast("long").alias("decile"),
        "n",
        "n_pos",
        F.sum("n").over(wc).cast("long").alias("cum_n"),
        F.sum("n_pos").over(wc).cast("long").alias("cum_pos"),
        F.sum("n").over(wt).cast("long").alias("tot_n"),
        F.sum("n_pos").over(wt).cast("long").alias("tot_pos"),
    ).selectExpr(
        "decile",
        "n",
        "n_pos",
        "cum_pos",
        "CAST(1000000 * cum_pos DIV tot_pos AS BIGINT) AS gains_ppm",
        """CAST(round(1000000.0 *
             (CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE))
             / (CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE))
           ) AS BIGINT) AS lift_micro""",
    )


LIFT_GAINS_TABLE_SQL = """
WITH q AS (
  SELECT vec_id, label, i AS pos,
         CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT) AS qv
  FROM (SELECT vec_id, label, unnest(embedding) AS e,
               unnest(range(len(embedding))) AS i FROM embeddings)
), cent AS (
  SELECT pos, SUM(qv) AS csum FROM q WHERE label = 0 GROUP BY pos
), scored AS (
  SELECT vec_id, MIN(label) AS lbl, SUM(qv * csum) AS score
  FROM q JOIN cent USING (pos) GROUP BY vec_id
), dec AS (
  SELECT ntile(10) OVER (ORDER BY score DESC, vec_id ASC) AS decile,
         CASE WHEN lbl = 0 THEN 1 ELSE 0 END AS pos_flag
  FROM scored
), per AS (
  SELECT decile, COUNT(*) AS n, SUM(pos_flag) AS n_pos FROM dec GROUP BY decile
), cum AS (
  SELECT decile, n, n_pos,
         SUM(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_n,
         SUM(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_pos,
         SUM(n) OVER () AS tot_n,
         SUM(n_pos) OVER () AS tot_pos
  FROM per
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(n AS BIGINT) AS n,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(cum_pos AS BIGINT) AS cum_pos,
       CAST(1000000 * cum_pos // tot_pos AS BIGINT) AS gains_ppm,
       CAST(round(1000000.0 *
            (CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE))
            / (CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE))
          ) AS BIGINT) AS lift_micro
FROM cum
"""

QUERIES["lift_gains_table"] = lift_gains_table
ORACLES["lift_gains_table"] = LIFT_GAINS_TABLE_SQL
