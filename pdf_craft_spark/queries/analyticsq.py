"""Analytics and profiling operators: exact mode and weighted median,
cumulative-share (top-p) cuts, concentration (Simpson, Gini, market HHI,
the Pareto report), share-of-parent rollups, functional-dependency checks
and discovery, tokenizer-vocabulary coverage, diversity indices,
session/window load overlap, corpus mixture planning, CDC compaction, and
anti-entropy bucket fingerprints.

House rules (same as statsq/textops): every value that decides the result
is integer or DECIMAL (ppm / cents / micros via DIV); doubles never cross
an aggregation; md5-derived integers come from the shared
``md5_prefix_long_sql`` spelling so both engines hash identically; log()
never appears — concentration is measured with the Simpson/HHI index
(pure integer) instead of entropy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries.dedup import md5_prefix_long_sql as _md5pl, top_k
from pdf_craft_spark.sources import load_table as _t


# --- exact mode per group ---------------------------------------------------
# Mode of p_size per brand with a deterministic tie-break (smallest size
# among the max-count ties).  Scale shape: the raw table collapses FIRST to
# the compressed (brand, size, cnt) table — one map-side-combinable
# aggregation — and the argmax runs as max_by over a struct whose ordering
# encodes the tie-break ((cnt, -size) lexicographic), a second combinable
# aggregation.  No window over raw rows, no sort; at 100 TB both stages are
# partial-agg shuffles bounded by distinct (brand, size).
def mode_exact_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    cnts = (
        _t(spark, sf_dir, "part")
        .groupBy("p_brand", "p_size")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        cnts.groupBy("p_brand")
        .agg(
            F.max(
                F.struct(
                    F.col("cnt"),
                    (-F.col("p_size")).alias("neg_size"),
                )
            ).alias("m"),
            F.count(F.lit(1)).alias("n_distinct_sizes"),
        )
        .selectExpr(
            "p_brand",
            "CAST(-m.neg_size AS BIGINT) AS mode_size",
            "CAST(m.cnt AS BIGINT) AS mode_count",
            "CAST(n_distinct_sizes AS BIGINT) AS n_distinct_sizes",
        )
        .orderBy("p_brand")
    )


MODE_EXACT_PER_GROUP_SQL = """
WITH cnts AS (
  SELECT p_brand, p_size, count(*) AS cnt
  FROM part GROUP BY p_brand, p_size
), ranked AS (
  SELECT p_brand, p_size, cnt,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY cnt DESC, p_size ASC) AS rn,
         count(*) OVER (PARTITION BY p_brand) AS n_distinct_sizes
  FROM cnts
)
SELECT p_brand,
       CAST(p_size AS BIGINT) AS mode_size,
       CAST(cnt AS BIGINT) AS mode_count,
       CAST(n_distinct_sizes AS BIGINT) AS n_distinct_sizes
FROM ranked WHERE rn = 1
ORDER BY p_brand
"""


# --- cumulative-share cutoff (top-p) ----------------------------------------
# Per nation: the smallest prefix of suppliers (by revenue, descending)
# whose cumulative revenue reaches 90% of the nation total — the "top-p /
# nucleus" cut used to pick the head of a heavy-tailed contributor list.
# Scale shape: lineitem collapses to one row per supplier (partial-agg
# shuffle, exact integer cents via DECIMAL), the nation total is a second
# combinable agg over that COMPRESSED table, and the cumulative window
# orders only suppliers-within-nation (bounded by suppliers, not facts).
# The crossing row is included: kept rows are those whose cumulative sum
# MINUS own revenue is still below the threshold.
def topp_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    sup_rev = li.groupBy("l_suppkey").agg(F.sum("cents").alias("rev_c"))
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    per_sup = sup_rev.join(F.broadcast(sup), "l_suppkey")
    wcum = (
        W.partitionBy("s_nationkey")
        .orderBy(F.col("rev_c").desc(), F.col("l_suppkey"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wtot = W.partitionBy("s_nationkey")
    cum = per_sup.select(
        "s_nationkey",
        F.col("l_suppkey").alias("s_suppkey"),
        "rev_c",
        F.sum("rev_c").over(wcum).alias("cum_c"),
        F.sum("rev_c").over(wtot).alias("tot_c"),
    )
    # keep while the PREVIOUS cumulative (cum - own) is below 90% of total;
    # all comparisons in integer cents: 10*(cum-rev) < 9*tot.
    return (
        cum.filter(10 * (F.col("cum_c") - F.col("rev_c")) < 9 * F.col("tot_c"))
        .selectExpr(
            "CAST(s_nationkey AS BIGINT) AS s_nationkey",
            "CAST(s_suppkey AS BIGINT) AS s_suppkey",
            "CAST(rev_c AS BIGINT) AS revenue_cents",
            "CAST(cum_c AS BIGINT) AS cum_cents",
            "CAST((1000000 * cum_c) DIV tot_c AS BIGINT) AS cum_share_ppm",
        )
        .orderBy("s_nationkey", F.col("cum_cents"))
    )


TOPP_REVENUE_SUPPLIERS_SQL = """
WITH sup_rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS rev_c
  FROM lineitem GROUP BY l_suppkey
), cum AS (
  SELECT s.s_nationkey, s.s_suppkey, r.rev_c,
         sum(r.rev_c) OVER (PARTITION BY s.s_nationkey
                            ORDER BY r.rev_c DESC, s.s_suppkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_c,
         sum(r.rev_c) OVER (PARTITION BY s.s_nationkey) AS tot_c
  FROM sup_rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
)
SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
       CAST(s_suppkey AS BIGINT) AS s_suppkey,
       CAST(rev_c AS BIGINT) AS revenue_cents,
       CAST(cum_c AS BIGINT) AS cum_cents,
       CAST((1000000 * cum_c) // tot_c AS BIGINT) AS cum_share_ppm
FROM cum
WHERE 10 * (cum_c - rev_c) < 9 * tot_c
ORDER BY s_nationkey, cum_cents
"""


# --- tokenizer-vocabulary coverage (OOV rate) -------------------------------
# Build the top-VOCAB_K tokens of the corpus by total frequency (ties break
# on the token string), then score every document's out-of-vocabulary rate
# in ppm.  VOCAB_K is sized to the synthetic corpus's 29 common tokens,
# excluding only its rare adversarial token — every scale factor then
# populates BOTH outcome classes (fully-covered docs and docs with OOV
# mass), so the check can't go vacuous; at prod VOCAB_K is the
# tokenizer's real vocabulary size.  This is the tokenizer-coverage pass a training pipeline runs
# before committing to a vocabulary.  Scale shape: token counting is one
# partial-agg shuffle on the token; the vocabulary is a distributed top-k
# (TakeOrderedAndProject — no global sort materializes) whose result is
# VOCAB_K rows, broadcast back as a left join; the per-doc rollup is one
# more combinable agg.  The corpus is never re-scanned per vocab entry.
VOCAB_K = 29


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(text, '[a-z]{2,}', 0)")
            ).alias("t"),
        )
    )
    vocab = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("t"))
        .limit(VOCAB_K)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .selectExpr(
            "doc_id",
            "CAST(n_tokens AS BIGINT) AS n_tokens",
            "CAST(n_oov AS BIGINT) AS n_oov",
            "CAST((1000000 * n_oov) DIV n_tokens AS BIGINT) AS oov_ppm",
        )
        .orderBy("doc_id")
    )


VOCAB_OOV_RATE_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{{2,}}')) AS t
  FROM documents
), vocab AS (
  SELECT t FROM (
    SELECT t, count(*) AS freq FROM toks GROUP BY t
  ) ORDER BY freq DESC, t LIMIT {VOCAB_K}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST((1000000 * sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS oov_ppm
FROM toks LEFT JOIN vocab v USING (t)
GROUP BY doc_id
ORDER BY doc_id
"""


# --- Simpson / HHI character diversity --------------------------------------
# Per-document repetition/concentration score WITHOUT entropy's log():
# Simpson diversity = 1 - sum(p_i^2) over the token distribution, reported
# in ppm as 1e6 - (1e6 * sum(cnt_i^2)) DIV n^2 — pure integer arithmetic,
# so the quality gate is engine-exact (log-based entropy would couple the
# result to each engine's libm).  Degenerate/repetitive documents score
# near 0; diverse prose near 1e6.  Scale shape: one (doc, token) partial
# agg, then one per-doc combinable agg; counts fit BIGINT because
# sum(cnt^2) <= n^2 and n is per-document.
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(text, '[a-z]+', 0)")
            ).alias("t"),
        )
    )
    cnts = toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        cnts.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("ss"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .selectExpr(
            "doc_id",
            "CAST(n AS BIGINT) AS n_tokens",
            "CAST(n_distinct AS BIGINT) AS n_distinct",
            "CAST(1000000 - (1000000 * ss) DIV (n * n) AS BIGINT)"
            " AS simpson_ppm",
        )
        .orderBy("doc_id")
    )


TEXT_SIMPSON_DIVERSITY_SQL = """
WITH cnts AS (
  SELECT doc_id, t, count(*) AS cnt FROM (
    SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS t
    FROM documents
  ) GROUP BY doc_id, t
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(1000000 - (1000000 * sum(cnt * cnt))
            // (sum(cnt) * sum(cnt)) AS BIGINT) AS simpson_ppm
FROM cnts
GROUP BY doc_id
ORDER BY doc_id
"""


# --- session / wall-clock-window load overlap -------------------------------
# The load-profile rollup: total in-session seconds per 6-hour wall-clock
# window, from 30-minute-gap sessions over the events table.  A session
# spanning several windows contributes its clamped overlap to EACH — the
# interval-intersection aggregation (utilization, SLA attribution, cost
# allocation all share this shape).  Scale: sessionization is the standard
# one-shuffle user window; each session then explodes over ONLY the
# windows it spans (sequence of window indices — bounded by session
# duration, typically 1-2), and the rollup is one combinable agg on the
# window index.  No join, no cartesian; second-level integer micros
# throughout.
WIN_US = 6 * 3600 * 1_000_000


def session_window_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # `us` is monotone in ts, so ordering by (us, event_id) is the same
    # session order as (ts, event_id) with the raw timestamp pruned away.
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    gap_us = 30 * 60 * 1_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    flagged = ev.select("user_id", "event_id", us.alias("us")).withColumn(
        "starts_new",
        F.coalesce(
            (F.col("us") - F.lag("us", 1).over(w) > F.lit(gap_us)).cast("int"),
            F.lit(1),
        ),
    )
    sess = (
        flagged.withColumn(
            "session_id",
            F.sum("starts_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("us").alias("s_us"), F.max("us").alias("e_us"))
        # zero-length sessions (single event) still occupy their window:
        # count them as 1 microsecond so the overlap rollup sees them.
        .withColumn("e_us", F.greatest(F.col("e_us"), F.col("s_us") + 1))
    )
    spans = sess.select(
        "user_id",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                (F.col("s_us") / WIN_US).cast("long"),
                ((F.col("e_us") - 1) / WIN_US).cast("long"),
            )
        ).alias("win_idx"),
    )
    ov = spans.select(
        "win_idx",
        (
            F.least(F.col("e_us"), (F.col("win_idx") + 1) * WIN_US)
            - F.greatest(F.col("s_us"), F.col("win_idx") * WIN_US)
        ).alias("ov_us"),
        "user_id",
    )
    return (
        ov.groupBy("win_idx")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("ov_us").alias("busy_us"),
        )
        .selectExpr(
            "CAST(win_idx AS BIGINT) AS win_idx",
            "CAST(n_sessions AS BIGINT) AS n_sessions",
            "CAST(busy_us DIV 1000000 AS BIGINT) AS busy_seconds",
        )
        .orderBy("win_idx")
    )


SESSION_WINDOW_OVERLAP_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800000000
              THEN 1
              WHEN lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS starts_new
  FROM events
), sess_rows AS (
  SELECT user_id, us,
         sum(starts_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS session_id
  FROM flagged
), sess AS (
  SELECT user_id, session_id, min(us) AS s_us,
         greatest(max(us), min(us) + 1) AS e_us
  FROM sess_rows GROUP BY user_id, session_id
), spans AS (
  SELECT s_us, e_us,
         unnest(range(s_us // {WIN_US}, (e_us - 1) // {WIN_US} + 1))
           AS win_idx
  FROM sess
)
SELECT CAST(win_idx AS BIGINT) AS win_idx,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(least(e_us, (win_idx + 1) * {WIN_US})
                - greatest(s_us, win_idx * {WIN_US})) // 1000000 AS BIGINT)
         AS busy_seconds
FROM spans
GROUP BY win_idx
ORDER BY win_idx
"""


# --- corpus mixture sampling plan -------------------------------------------
# Given target language shares for a training mixture (a literal policy
# table), compute each language's sampling rate against the corpus's actual
# token mass: rate_ppm = min(1e6, target_tokens * 1e6 / actual_tokens),
# with target_tokens = share_ppm * total / 1e6 — the static mixture plan a
# data pipeline materializes before sampling (languages over their target
# are downsampled; under it are capped at 1.0, i.e. fully taken).  Scale
# shape: ONE aggregation over documents (token counts are a combinable
# sum), a 5-row literal policy table broadcast in, and pure integer
# arithmetic after — the 100 TB cost is exactly one scan + one tiny join.
MIXTURE_SHARES_PPM: tuple[tuple[str, int], ...] = (
    ("en", 400_000),
    ("zh", 200_000),
    ("de", 150_000),
    ("fr", 150_000),
    ("es", 100_000),
)


def mixture_plan_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.expr("regexp_extract_all(text, '[a-z]+', 0)")).cast(
            "long"
        ).alias("n_tok"),
    )
    actual = docs.groupBy("lang").agg(F.sum("n_tok").alias("actual_tokens"))
    policy = spark.createDataFrame(
        list(MIXTURE_SHARES_PPM), ["lang", "share_ppm"]
    )
    tot = actual.select(F.sum("actual_tokens").alias("total_tokens"))
    return (
        actual.join(F.broadcast(policy), "lang")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "lang",
            "CAST(actual_tokens AS BIGINT) AS actual_tokens",
            "CAST(share_ppm AS BIGINT) AS share_ppm",
            "CAST((share_ppm * total_tokens) DIV 1000000 AS BIGINT)"
            " AS target_tokens",
            "CAST(least(1000000,"
            " (((share_ppm * total_tokens) DIV 1000000) * 1000000)"
            " DIV actual_tokens) AS BIGINT) AS sample_rate_ppm",
        )
        .orderBy("lang")
    )


_MIX_POLICY_ROWS = ", ".join(
    f"('{lang}', {ppm})" for lang, ppm in MIXTURE_SHARES_PPM
)

MIXTURE_PLAN_TOKENS_SQL = f"""
WITH actual AS (
  SELECT lang,
         sum(len(regexp_extract_all(text, '[a-z]+'))) AS actual_tokens
  FROM documents GROUP BY lang
), policy(lang, share_ppm) AS (VALUES {_MIX_POLICY_ROWS}),
tot AS (SELECT sum(actual_tokens) AS total_tokens FROM actual)
SELECT a.lang,
       CAST(a.actual_tokens AS BIGINT) AS actual_tokens,
       CAST(p.share_ppm AS BIGINT) AS share_ppm,
       CAST((p.share_ppm * t.total_tokens) // 1000000 AS BIGINT)
         AS target_tokens,
       CAST(least(1000000,
            (((p.share_ppm * t.total_tokens) // 1000000) * 1000000)
            // a.actual_tokens) AS BIGINT) AS sample_rate_ppm
FROM actual a JOIN policy p USING (lang) CROSS JOIN tot t
ORDER BY a.lang
"""


# --- anti-entropy bucket fingerprints ---------------------------------------
# Verify a 100 TB replica WITHOUT a full diff: both table versions reduce
# to 64 constant-size bucket fingerprints (row-hash XOR + count per
# md5-bucket of the key), and only differing buckets are reported — the
# Merkle/anti-entropy pattern (Dynamo, Cassandra repair).  XOR is the
# point: order-free, overflow-free, and any single-row change flips the
# bucket fingerprint.  The mutated snapshot reuses the deterministic CDC
# recipe (update 1 cent where md5-pct < UPD, drop where pct >= DEL).
# Scale shape: two scans, each collapsing straight to 64 rows via a
# combinable (xor, count) agg; the compare is a 64x64 join of constants.
# Mutation density is deliberately SPARSE (basis points, not percent) so
# the differing-bucket set is a strict subset of the 64 — the check is
# only meaningful if clean buckets actually fingerprint-match.
FP_BUCKETS = 64
FP_UPD_BP = 30  # update where md5-bp < 30 (0.30% of rows)
FP_DEL_BP = 9985  # drop where md5-bp >= 9985 (0.15% of rows)


def _fp_hash(engine: str) -> str:
    canon = (
        "concat(CAST(o_orderkey AS STRING), '|', o_orderstatus, '|', "
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " AS STRING))"
        if engine == "spark"
        else "concat(CAST(o_orderkey AS VARCHAR), '|', o_orderstatus, '|', "
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " AS VARCHAR))"
    )
    return _md5pl(canon, 15, engine)


def table_fingerprint_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    bp = _md5pl("CAST(o_orderkey AS STRING)", 4, "spark") + " % 10000"
    base = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey", "o_orderstatus", "o_totalprice", f"({bp}) AS bp"
    )
    replica = base.filter(F.col("bp") < FP_DEL_BP).selectExpr(
        "o_orderkey",
        "o_orderstatus",
        f"CASE WHEN bp < {FP_UPD_BP} THEN o_totalprice + 0.01"
        " ELSE o_totalprice END AS o_totalprice",
    )

    def fingerprints(df: DataFrame, side: str) -> DataFrame:
        bucket = _md5pl("CAST(o_orderkey AS STRING)", 4, "spark") + (
            f" % {FP_BUCKETS}"
        )
        return (
            df.selectExpr(
                f"({bucket}) AS bucket", f"({_fp_hash('spark')}) AS h"
            )
            .groupBy("bucket")
            .agg(
                F.expr("bit_xor(h)").alias(f"{side}_fp"),
                F.count(F.lit(1)).alias(f"{side}_rows"),
            )
        )
    src = fingerprints(base.drop("bp"), "src")
    dst = fingerprints(replica, "dst")
    return (
        src.join(dst, "bucket", "full_outer")
        .filter(
            (F.col("src_fp").eqNullSafe(F.col("dst_fp")) == F.lit(False))
            | (F.col("src_rows").eqNullSafe(F.col("dst_rows")) == F.lit(False))
        )
        .selectExpr(
            "CAST(bucket AS BIGINT) AS bucket",
            "CAST(src_rows AS BIGINT) AS src_rows",
            "CAST(dst_rows AS BIGINT) AS dst_rows",
            "CAST(src_fp AS BIGINT) AS src_fp",
            "CAST(dst_fp AS BIGINT) AS dst_fp",
        )
        .orderBy("bucket")
    )


_FP_BP_DUCK = _md5pl("CAST(o_orderkey AS VARCHAR)", 4, "duck") + " % 10000"
_FP_BUCKET_DUCK = (
    _md5pl("CAST(o_orderkey AS VARCHAR)", 4, "duck") + f" % {FP_BUCKETS}"
)

TABLE_FINGERPRINT_BUCKETS_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         ({_FP_BP_DUCK}) AS bp
  FROM orders
), replica AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN bp < {FP_UPD_BP} THEN o_totalprice + 0.01
              ELSE o_totalprice END AS o_totalprice
  FROM base WHERE bp < {FP_DEL_BP}
), src AS (
  SELECT ({_FP_BUCKET_DUCK}) AS bucket,
         bit_xor({_fp_hash('duck')}) AS src_fp,
         count(*) AS src_rows
  FROM base GROUP BY 1
), dst AS (
  SELECT ({_FP_BUCKET_DUCK}) AS bucket,
         bit_xor({_fp_hash('duck')}) AS dst_fp,
         count(*) AS dst_rows
  FROM replica GROUP BY 1
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(src_rows AS BIGINT) AS src_rows,
       CAST(dst_rows AS BIGINT) AS dst_rows,
       CAST(src_fp AS BIGINT) AS src_fp,
       CAST(dst_fp AS BIGINT) AS dst_fp
FROM src FULL OUTER JOIN dst USING (bucket)
WHERE src_fp IS DISTINCT FROM dst_fp
   OR src_rows IS DISTINCT FROM dst_rows
ORDER BY bucket
"""



# --- weighted median ----------------------------------------------------------
# Quantity-weighted median of the line price per return flag: the robust
# "typical traded price" where each row counts by its quantity.  Scale
# shape identical to the spearman/median family: collapse to the
# compressed (flag, cents, weight) table first (one combinable agg over
# distinct prices), run the cumulative-weight prefix over THAT table, and
# pick the first value where 2*cum >= total.  Weights, cumulative sums and
# the predicate are all integer; no raw-row sort or window anywhere.
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    comp = li.groupBy("l_returnflag", "cents").agg(F.sum("w").alias("w"))
    wcum = (
        W.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wtot = W.partitionBy("l_returnflag")
    cum = comp.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(wcum).alias("cum_w"),
        F.sum("w").over(wtot).alias("tot_w"),
    )
    return (
        cum.filter(2 * F.col("cum_w") >= F.col("tot_w"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").alias("wmedian_cents"),
            F.max("tot_w").alias("total_weight"),
        )
        .selectExpr(
            "l_returnflag",
            "CAST(wmedian_cents AS BIGINT) AS wmedian_cents",
            "CAST(total_weight AS BIGINT) AS total_weight",
        )
        .orderBy("l_returnflag")
    )


WEIGHTED_MEDIAN_PRICE_SQL = """
WITH comp AS (
  SELECT l_returnflag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         sum(CAST(l_quantity AS BIGINT)) AS w
  FROM lineitem GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, cents,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_w,
         sum(w) OVER (PARTITION BY l_returnflag) AS tot_w
  FROM comp
)
SELECT l_returnflag,
       CAST(min(cents) AS BIGINT) AS wmedian_cents,
       CAST(max(tot_w) AS BIGINT) AS total_weight
FROM cum WHERE 2 * cum_w >= tot_w
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- time-weighted average (TWAP) --------------------------------------------
# Per user: the time-weighted average of `value` over the observation
# span, treating the signal as piecewise-constant between events — the
# TSDB "twa" operator (a plain AVG over-weights bursts).  Integral and
# span accumulate in integer mil-microseconds (value mils x gap micros;
# bounded by span*max_value ~ 2.6e18 < int64), one (user) shuffle for the
# lead() window, one combinable agg.  A zero-span user (single event, or
# all events on one microsecond) has no well-defined integral; the
# documented convention on BOTH engines is twap = max(mils) —
# deterministic where a "pick any" would not be.
def twap_value_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        (F.col("value").cast("decimal(12,3)") * 1000)
        .cast("long")
        .alias("mils"),
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    seg = ev.withColumn("next_us", F.lead("us").over(w))
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("next_us").isNotNull(),
                    F.col("mils") * (F.col("next_us") - F.col("us")),
                ).otherwise(F.lit(0))
            ).alias("integral"),
            (F.max("us") - F.min("us")).alias("span_us"),
            F.max("mils").alias("max_mils"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .selectExpr(
            "user_id",
            "CAST(n_events AS BIGINT) AS n_events",
            "CAST(span_us AS BIGINT) AS span_us",
            "CAST(CASE WHEN span_us = 0 THEN max_mils"
            "          ELSE integral DIV span_us END AS BIGINT) AS twap_mils",
        )
        .orderBy("user_id")
    )


TWAP_VALUE_PER_USER_SQL = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(CAST(value AS DECIMAL(12,3)) * 1000 AS BIGINT) AS mils
  FROM events
), seg AS (
  SELECT user_id, us, mils,
         lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
           AS next_us
  FROM ev
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(us) - min(us) AS BIGINT) AS span_us,
       CAST(CASE WHEN max(us) = min(us)
                 THEN max(mils)
                 ELSE sum(CASE WHEN next_us IS NOT NULL
                               THEN mils * (next_us - us) ELSE 0 END)
                      // (max(us) - min(us)) END AS BIGINT) AS twap_mils
FROM seg
GROUP BY user_id
ORDER BY user_id
"""


# --- CDC log compaction (latest-wins) -----------------------------------------
# Compact a multi-version change log to its latest snapshot: the
# lakehouse "compaction" read path (Hudi/Delta/Iceberg merge-on-read).
# The log is synthesized deterministically from orders (base INSERT at
# version 0, an UPDATE at version 1 for md5-bp < 200, a second UPDATE at
# version 2 for bp < 50, a DELETE at version 3 for bp >= 9970).  Latest
# row wins via ONE combinable max_by(struct(version, ...)) aggregation —
# never a per-key row_number window over the log — and tombstones drop
# after the argmax so a delete hides all earlier versions.
CDC_U1_BP = 200
CDC_U2_BP = 50
CDC_DEL_BP = 9970


def cdc_compact_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    bp = _md5pl("CAST(o_orderkey AS STRING)", 4, "spark") + " % 10000"
    base = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_orderstatus",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
        f"({bp}) AS bp",
    )
    log = (
        base.selectExpr(
            "o_orderkey", "0L AS version", "'I' AS op", "o_orderstatus",
            "cents",
        )
        .unionByName(
            base.filter(F.col("bp") < CDC_U1_BP).selectExpr(
                "o_orderkey", "1L AS version", "'U' AS op",
                "'P' AS o_orderstatus", "cents + 500 AS cents",
            )
        )
        .unionByName(
            base.filter(F.col("bp") < CDC_U2_BP).selectExpr(
                "o_orderkey", "2L AS version", "'U' AS op",
                "'F' AS o_orderstatus", "cents + 1000 AS cents",
            )
        )
        .unionByName(
            base.filter(F.col("bp") >= CDC_DEL_BP).selectExpr(
                "o_orderkey", "3L AS version", "'D' AS op",
                "o_orderstatus", "0L AS cents",
            )
        )
    )
    latest = log.groupBy("o_orderkey").agg(
        F.max(
            F.struct("version", "op", "o_orderstatus", "cents")
        ).alias("m"),
        F.count(F.lit(1)).alias("n_versions"),
    )
    return (
        latest.filter(F.col("m.op") != "D")
        .selectExpr(
            "o_orderkey",
            "m.o_orderstatus AS o_orderstatus",
            "CAST(m.cents AS BIGINT) AS cents",
            "CAST(m.version AS BIGINT) AS version",
            "CAST(n_versions AS BIGINT) AS n_versions",
        )
        .orderBy("o_orderkey")
    )


_CDC_BP_DUCK = _md5pl("CAST(o_orderkey AS VARCHAR)", 4, "duck") + " % 10000"

CDC_COMPACT_LATEST_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         ({_CDC_BP_DUCK}) AS bp
  FROM orders
), log AS (
  SELECT o_orderkey, 0 AS version, 'I' AS op, o_orderstatus, cents FROM base
  UNION ALL
  SELECT o_orderkey, 1, 'U', 'P', cents + 500 FROM base WHERE bp < {CDC_U1_BP}
  UNION ALL
  SELECT o_orderkey, 2, 'U', 'F', cents + 1000 FROM base WHERE bp < {CDC_U2_BP}
  UNION ALL
  SELECT o_orderkey, 3, 'D', o_orderstatus, 0 FROM base
  WHERE bp >= {CDC_DEL_BP}
), latest AS (
  SELECT o_orderkey,
         max_by(struct_pack(version := version, op := op,
                            o_orderstatus := o_orderstatus,
                            cents := cents),
                version) AS m,
         count(*) AS n_versions
  FROM log GROUP BY o_orderkey
)
SELECT o_orderkey,
       m.o_orderstatus AS o_orderstatus,
       CAST(m.cents AS BIGINT) AS cents,
       CAST(m.version AS BIGINT) AS version,
       CAST(n_versions AS BIGINT) AS n_versions
FROM latest WHERE m.op <> 'D'
ORDER BY o_orderkey
"""


# --- zone-map prune statistics ------------------------------------------------
# WHY the repo carries zorder/hilbert clustering keys, quantified: build
# per-file (min, max) date zone maps for two physical layouts of orders —
# date-clustered files (file = month) vs hash-scattered files (file =
# md5-bucket) — and evaluate how many files a 4-month predicate may skip
# in each.  On the clustered layout the scan prunes to the predicate's
# months; on the scattered layout every zone map straddles the predicate
# and NOTHING prunes — the honest statement that data skipping is a
# property of layout, not of the format.  One combinable agg per layout;
# file counts and row counts are exact integers.
ZM_LO = "1996-03-01"
ZM_HI = "1996-06-30"


def zonemap_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = _md5pl("CAST(o_orderkey AS STRING)", 4, "spark") + " % 64"
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "CAST(o_orderdate AS DATE) AS d",
        "(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS file_clustered",
        f"({bucket}) AS file_scattered",
    )

    def stats(df: DataFrame, file_col: str, layout: str) -> DataFrame:
        zm = df.groupBy(F.col(file_col).alias("file_id")).agg(
            F.min("d").alias("zmin"),
            F.max("d").alias("zmax"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(
                    (F.col("d") >= F.lit(ZM_LO)) & (F.col("d") <= F.lit(ZM_HI)),
                    1,
                ).otherwise(0)
            ).alias("n_match"),
        )
        scanned = (F.col("zmax") >= F.lit(ZM_LO)) & (F.col("zmin") <= F.lit(ZM_HI))
        return zm.agg(
            F.lit(layout).alias("layout"),
            F.count(F.lit(1)).alias("n_files"),
            F.sum(scanned.cast("long")).alias("files_scanned"),
            F.sum(F.when(scanned, F.col("n_rows")).otherwise(0)).alias(
                "rows_scanned"
            ),
            F.sum("n_rows").alias("rows_total"),
            F.sum("n_match").alias("rows_matching"),
        )

    return (
        stats(o, "file_clustered", "clustered")
        .unionByName(stats(o, "file_scattered", "scattered"))
        .selectExpr(
            "layout",
            "CAST(n_files AS BIGINT) AS n_files",
            "CAST(files_scanned AS BIGINT) AS files_scanned",
            "CAST(rows_scanned AS BIGINT) AS rows_scanned",
            "CAST(rows_total AS BIGINT) AS rows_total",
            "CAST(rows_matching AS BIGINT) AS rows_matching",
        )
        .orderBy("layout")
    )


_ZM_BUCKET_DUCK = _md5pl("CAST(o_orderkey AS VARCHAR)", 4, "duck") + " % 64"

ZONEMAP_PRUNE_STATS_SQL = f"""
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
         (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS file_clustered,
         ({_ZM_BUCKET_DUCK}) AS file_scattered
  FROM orders
), zc AS (
  SELECT file_clustered AS file_id, min(d) AS zmin, max(d) AS zmax,
         count(*) AS n_rows,
         sum(CASE WHEN d BETWEEN DATE '{ZM_LO}' AND DATE '{ZM_HI}'
                  THEN 1 ELSE 0 END) AS n_match
  FROM o GROUP BY 1
), zs AS (
  SELECT file_scattered AS file_id, min(d) AS zmin, max(d) AS zmax,
         count(*) AS n_rows,
         sum(CASE WHEN d BETWEEN DATE '{ZM_LO}' AND DATE '{ZM_HI}'
                  THEN 1 ELSE 0 END) AS n_match
  FROM o GROUP BY 1
), roll AS (
  SELECT 'clustered' AS layout, count(*) AS n_files,
         sum(CASE WHEN zmax >= DATE '{ZM_LO}' AND zmin <= DATE '{ZM_HI}'
                  THEN 1 ELSE 0 END) AS files_scanned,
         sum(CASE WHEN zmax >= DATE '{ZM_LO}' AND zmin <= DATE '{ZM_HI}'
                  THEN n_rows ELSE 0 END) AS rows_scanned,
         sum(n_rows) AS rows_total, sum(n_match) AS rows_matching
  FROM zc
  UNION ALL
  SELECT 'scattered', count(*),
         sum(CASE WHEN zmax >= DATE '{ZM_LO}' AND zmin <= DATE '{ZM_HI}'
                  THEN 1 ELSE 0 END),
         sum(CASE WHEN zmax >= DATE '{ZM_LO}' AND zmin <= DATE '{ZM_HI}'
                  THEN n_rows ELSE 0 END),
         sum(n_rows), sum(n_match)
  FROM zs
)
SELECT layout,
       CAST(n_files AS BIGINT) AS n_files,
       CAST(files_scanned AS BIGINT) AS files_scanned,
       CAST(rows_scanned AS BIGINT) AS rows_scanned,
       CAST(rows_total AS BIGINT) AS rows_total,
       CAST(rows_matching AS BIGINT) AS rows_matching
FROM roll
ORDER BY layout
"""


# --- deterministic ordered group concat ---------------------------------------
# LISTAGG with a guaranteed element order: Spark's collect_list order is
# partition-dependent, so the deterministic spelling is collect_set →
# array_sort → array_join — the pattern every report that concatenates
# group members needs.  Output size is bounded by distinct members per
# group (6 types per brand here); the agg stays combinable.
def grouped_ordered_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("p_type")), ","
            ).alias("types_csv"),
            F.countDistinct("p_type").alias("n_types"),
        )
        .selectExpr(
            "p_brand", "types_csv", "CAST(n_types AS BIGINT) AS n_types"
        )
        .orderBy("p_brand")
    )


GROUPED_ORDERED_CONCAT_SQL = """
SELECT p_brand,
       string_agg(DISTINCT p_type, ',' ORDER BY p_type) AS types_csv,
       CAST(count(DISTINCT p_type) AS BIGINT) AS n_types
FROM part
GROUP BY p_brand
ORDER BY p_brand
"""


# --- running-peak drawdown ----------------------------------------------------
# Per customer, over their orders in date order: the maximum drawdown of
# o_totalprice from its running peak — the running-extreme analytic
# (monitoring regressions from a high-water mark).  Two frames over the
# SAME one-shuffle window partition (running max, then max gap), exact
# integer cents, deterministic (date, orderkey) ordering.
def running_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    dd = o.withColumn("peak", F.max("cents").over(w)).withColumn(
        "drawdown", F.col("peak") - F.col("cents")
    )
    return (
        dd.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("peak").alias("peak_cents"),
            F.max("drawdown").alias("max_drawdown_cents"),
        )
        .selectExpr(
            "o_custkey",
            "CAST(n_orders AS BIGINT) AS n_orders",
            "CAST(peak_cents AS BIGINT) AS peak_cents",
            "CAST(max_drawdown_cents AS BIGINT) AS max_drawdown_cents",
        )
        .orderBy("o_custkey")
    )


RUNNING_MAX_DRAWDOWN_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), dd AS (
  SELECT o_custkey, cents,
         max(cents) OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS peak
  FROM o
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(max(peak) AS BIGINT) AS peak_cents,
       CAST(max(peak - cents) AS BIGINT) AS max_drawdown_cents
FROM dd
GROUP BY o_custkey
ORDER BY o_custkey
"""



# --- banded theta self-join ---------------------------------------------------
# Part pairs of the same type whose retail prices differ by <= 50 cents —
# the |a-b| <= eps theta join that naive SQL turns into a per-type
# cartesian.  Banding makes it an EQUI-join: each left row probes its own
# price band and both neighbors (band width == eps, so every qualifying
# pair shares-or-straddles a boundary and is found EXACTLY once — the
# right side stays in its single home band, so no dedup pass is needed);
# the exact |diff| predicate filters inside matched bands.  Output is the
# per-type rollup (pair count, min diff, diff checksum), bounded by types.
BAND_EPS_CENTS = 50


def price_band_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_type",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    left = p.select(
        F.col("p_partkey").alias("a_key"),
        F.col("p_type"),
        F.col("cents").alias("a_cents"),
        F.explode(
            F.array(
                (F.col("cents") / BAND_EPS_CENTS).cast("long") - 1,
                (F.col("cents") / BAND_EPS_CENTS).cast("long"),
                (F.col("cents") / BAND_EPS_CENTS).cast("long") + 1,
            )
        ).alias("band"),
    )
    right = p.select(
        F.col("p_partkey").alias("b_key"),
        F.col("p_type"),
        F.col("cents").alias("b_cents"),
        (F.col("cents") / BAND_EPS_CENTS).cast("long").alias("band"),
    )
    pairs = left.join(right, ["p_type", "band"]).filter(
        (F.col("a_key") < F.col("b_key"))
        & (
            F.abs(F.col("a_cents") - F.col("b_cents"))
            <= F.lit(BAND_EPS_CENTS)
        )
    )
    return (
        pairs.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(F.abs(F.col("a_cents") - F.col("b_cents"))).alias(
                "min_diff_cents"
            ),
            F.sum(F.abs(F.col("a_cents") - F.col("b_cents"))).alias(
                "sum_diff_cents"
            ),
        )
        .selectExpr(
            "p_type",
            "CAST(n_pairs AS BIGINT) AS n_pairs",
            "CAST(min_diff_cents AS BIGINT) AS min_diff_cents",
            "CAST(sum_diff_cents AS BIGINT) AS sum_diff_cents",
        )
        .orderBy("p_type")
    )


PRICE_BAND_SELF_JOIN_SQL = f"""
WITH p AS (
  SELECT p_partkey, p_type,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM part
)
SELECT a.p_type,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(abs(a.cents - b.cents)) AS BIGINT) AS min_diff_cents,
       CAST(sum(abs(a.cents - b.cents)) AS BIGINT) AS sum_diff_cents
FROM p a JOIN p b
  ON a.p_type = b.p_type AND a.p_partkey < b.p_partkey
 AND abs(a.cents - b.cents) <= {BAND_EPS_CENTS}
GROUP BY a.p_type
ORDER BY a.p_type
"""


# --- Kolmogorov-Smirnov drift statistic ----------------------------------------
# Distribution-drift monitor between two order cohorts (pre-1998 vs
# 1998+): the exact two-sample KS statistic max|F_A - F_B|, computed
# ENTIRELY in integers by cross-multiplying the empirical CDFs
# (|cumA*nB - cumB*nA| avoids division until the final milli
# projection) — the log-free drift test (PSI needs log; chi-square needs
# binning choices).  Scale shape: values collapse to the compressed
# (cents, cntA, cntB) table first; the CDF prefix runs SHARDED — per-band
# window + broadcast band offsets (the assign_global_ids decomposition) —
# so no global single-partition sort ever materializes.
KS_SPLIT_DATE = "1998-01-01"


def ks_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        F.when(F.col("o_orderdate") < F.lit(KS_SPLIT_DATE), 1)
        .otherwise(0)
        .alias("in_a"),
    )
    comp = o.groupBy("cents").agg(
        F.sum("in_a").alias("ca"),
        F.sum(1 - F.col("in_a")).alias("cb"),
    )
    # sharded prefix sum: ~50 price bands, per-band running totals +
    # broadcast cumulative band offsets
    banded = comp.withColumn("band", (F.col("cents") / 1_000_000).cast("long"))
    wband = (
        W.partitionBy("band").orderBy("cents").rowsBetween(W.unboundedPreceding, 0)
    )
    local = banded.select(
        "band",
        "cents",
        F.sum("ca").over(wband).alias("la"),
        F.sum("cb").over(wband).alias("lb"),
    )
    offsets = (
        banded.groupBy("band")
        .agg(F.sum("ca").alias("ba"), F.sum("cb").alias("bb"))
        .withColumn(
            "oa",
            F.coalesce(
                F.sum("ba").over(
                    W.orderBy("band").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "ob",
            F.coalesce(
                F.sum("bb").over(
                    W.orderBy("band").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("band", "oa", "ob")
    )
    cdf = local.join(F.broadcast(offsets), "band").select(
        (F.col("la") + F.col("oa")).alias("cum_a"),
        (F.col("lb") + F.col("ob")).alias("cum_b"),
    )
    tot = o.agg(
        F.sum("in_a").alias("na"), F.sum(1 - F.col("in_a")).alias("nb")
    )
    return (
        cdf.crossJoin(F.broadcast(tot))
        .select(
            F.abs(
                F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")
            ).alias("d"),
            "na",
            "nb",
        )
        .groupBy("na", "nb")
        .agg(F.max("d").alias("ks_num"))
        .selectExpr(
            "CAST(na AS BIGINT) AS n_a",
            "CAST(nb AS BIGINT) AS n_b",
            "CAST(ks_num AS BIGINT) AS ks_num",
            "CAST((1000 * ks_num) DIV (na * nb) AS BIGINT) AS ks_milli",
        )
    )


KS_DRIFT_ORDERS_SQL = f"""
WITH o AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         CASE WHEN o_orderdate < DATE '{KS_SPLIT_DATE}' THEN 1 ELSE 0 END
           AS in_a
  FROM orders
), comp AS (
  SELECT cents, sum(in_a) AS ca, sum(1 - in_a) AS cb
  FROM o GROUP BY cents
), cdf AS (
  SELECT sum(ca) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_a,
         sum(cb) OVER (ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_b
  FROM comp
), tot AS (
  SELECT sum(in_a) AS na, sum(1 - in_a) AS nb FROM o
)
SELECT CAST(t.na AS BIGINT) AS n_a,
       CAST(t.nb AS BIGINT) AS n_b,
       CAST(max(abs(c.cum_a * t.nb - c.cum_b * t.na)) AS BIGINT) AS ks_num,
       CAST((1000 * max(abs(c.cum_a * t.nb - c.cum_b * t.na)))
            // (t.na * t.nb) AS BIGINT) AS ks_milli
FROM cdf c CROSS JOIN tot t
GROUP BY t.na, t.nb
"""


# --- bag-semantics EXCEPT ALL ---------------------------------------------------
# Multiset difference between two table versions WITH multiplicities —
# the reconciliation read that plain EXCEPT (set semantics) gets wrong
# when rows legitimately repeat.  Spark has exceptAll() but its output
# is row-per-occurrence; at reconciliation scale the useful shape is the
# count-diff: group both sides once, emit rows whose multiplicity
# changed, with both counts.  One combinable agg per side + one
# co-partitioned full-outer join of the (much smaller) distinct-row
# tables.  The second version reuses the sparse fingerprint mutation
# recipe so the diff is a small, checkable set.
def except_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    bp = _md5pl("CAST(o_orderkey AS STRING)", 4, "spark") + " % 10000"
    base = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderstatus",
        "o_orderpriority",
        f"({bp}) AS bp",
    )
    # version B: sparse status flips + drops (multiset-visible changes)
    vb = base.filter(F.col("bp") < FP_DEL_BP).selectExpr(
        f"CASE WHEN bp < {FP_UPD_BP} THEN 'X' ELSE o_orderstatus END"
        " AS o_orderstatus",
        "o_orderpriority",
    )
    ca = base.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt_a")
    )
    cb = vb.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt_b")
    )
    return (
        ca.join(cb, ["o_orderstatus", "o_orderpriority"], "full_outer")
        .selectExpr(
            "o_orderstatus",
            "o_orderpriority",
            "CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a",
            "CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b",
            "CAST(coalesce(cnt_a, 0) - coalesce(cnt_b, 0) AS BIGINT)"
            " AS multiplicity_diff",
        )
        .filter("multiplicity_diff <> 0")
        .orderBy("o_orderstatus", "o_orderpriority")
    )


_EA_BP_DUCK = _md5pl("CAST(o_orderkey AS VARCHAR)", 4, "duck") + " % 10000"

EXCEPT_ALL_MULTISET_SQL = f"""
WITH base AS (
  SELECT o_orderstatus, o_orderpriority, ({_EA_BP_DUCK}) AS bp FROM orders
), vb AS (
  SELECT CASE WHEN bp < {FP_UPD_BP} THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         o_orderpriority
  FROM base WHERE bp < {FP_DEL_BP}
), ca AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt_a
  FROM base GROUP BY 1, 2
), cb AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt_b
  FROM vb GROUP BY 1, 2
)
SELECT coalesce(ca.o_orderstatus, cb.o_orderstatus) AS o_orderstatus,
       coalesce(ca.o_orderpriority, cb.o_orderpriority) AS o_orderpriority,
       CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a,
       CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b,
       CAST(coalesce(cnt_a, 0) - coalesce(cnt_b, 0) AS BIGINT)
         AS multiplicity_diff
FROM ca FULL OUTER JOIN cb
  ON ca.o_orderstatus = cb.o_orderstatus
 AND ca.o_orderpriority = cb.o_orderpriority
WHERE coalesce(cnt_a, 0) <> coalesce(cnt_b, 0)
ORDER BY o_orderstatus, o_orderpriority
"""


# --- per-label embedding centroids ----------------------------------------------
# Class centroids over the embedding table — the building block of
# nearest-class-mean classifiers, cluster seeding, and embedding-drift
# dashboards.  Float parity discipline: each float32 element converts to
# integer MICRO-units first (floor(x*1e6) on the widened double — exact
# and engine-identical), so the cross-row sums are integer and order-free;
# the mean divides once at the end (integer DIV).  Shape: posexplode →
# one (label, dim) combinable agg — 10 labels x 64 dims of state — then a
# bounded per-label ordered concat (the array-free CSV output the
# canonicalizer requires).
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    dims = e.select(
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * 1_000_000).alias("micros"),
    )
    per_dim = dims.groupBy("label", "dim").agg(
        F.sum("micros").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        per_dim.select(
            "label",
            "dim",
            (F.col("s") - F.pmod(F.col("s"), F.col("n")))
            .cast("long")
            .alias("num"),
            "n",
        )
        .selectExpr("label", "dim", "(num DIV n) AS mean_micros", "n")
        .groupBy("label")
        .agg(
            F.max("n").alias("n_vectors"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "mean_micros"))
                    ),
                    lambda st: st["mean_micros"].cast("string"),
                ),
                ",",
            ).alias("centroid_micros_csv"),
        )
        .selectExpr(
            "CAST(label AS BIGINT) AS label",
            "CAST(n_vectors AS BIGINT) AS n_vectors",
            "centroid_micros_csv",
        )
        .orderBy("label")
    )


EMBEDDING_CENTROID_BY_LABEL_SQL = """
WITH dims AS (
  -- parallel unnest: element and its 0-based index walk in lockstep
  SELECT label,
         unnest(range(len(embedding))) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
           AS micros
  FROM embeddings
), per_dim AS (
  SELECT label, dim, sum(micros) AS s, count(*) AS n
  FROM dims GROUP BY label, dim
), means AS (
  SELECT label, dim,
         CAST((s - (s % n + n) % n) // n AS BIGINT) AS mean_micros, n
  FROM per_dim
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(max(n) AS BIGINT) AS n_vectors,
       string_agg(CAST(mean_micros AS VARCHAR), ',' ORDER BY dim)
         AS centroid_micros_csv
FROM means
GROUP BY label
ORDER BY label
"""



# --- k-anonymity audit ----------------------------------------------------------
# Data-governance gate before releasing a derived table: group by the
# quasi-identifier tuple (segment, nation, account-balance decile) and
# report every equivalence class smaller than K plus the table's overall
# anonymity level (the minimum class size).  One combinable agg over the
# quasi-identifier tuple; the decile generalization is a pure projection
# (integer floor on cents), so the audit is a single scan at any scale.
K_ANON = 5


def kanonymity_quasi_identifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").selectExpr(
        "c_mktsegment",
        "c_nationkey",
        # decile-style generalization: 1000-dollar balance bands
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " DIV 100000 AS bal_band",
    )
    classes = c.groupBy("c_mktsegment", "c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return (
        classes.filter(F.col("class_size") < K_ANON)
        .selectExpr(
            "c_mktsegment",
            "CAST(c_nationkey AS BIGINT) AS c_nationkey",
            "CAST(bal_band AS BIGINT) AS bal_band",
            "CAST(class_size AS BIGINT) AS class_size",
        )
        .orderBy("c_mktsegment", "c_nationkey", "bal_band")
    )


KANONYMITY_QUASI_IDENTIFIERS_SQL = f"""
WITH classes AS (
  SELECT c_mktsegment, c_nationkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
           // 100000 AS bal_band,
         count(*) AS class_size
  FROM customer GROUP BY 1, 2, 3
)
SELECT c_mktsegment,
       CAST(c_nationkey AS BIGINT) AS c_nationkey,
       CAST(bal_band AS BIGINT) AS bal_band,
       CAST(class_size AS BIGINT) AS class_size
FROM classes WHERE class_size < {K_ANON}
ORDER BY c_mktsegment, c_nationkey, bal_band
"""


# --- join fan-out audit ----------------------------------------------------------
# Planner hygiene before running a big join: per-side key multiplicities
# predict the join's output EXACTLY (sum over keys of cnt_l*cnt_r) —
# this op computes that prediction from two count aggregations, joins the
# two (much smaller) key-count tables, and reports predicted rows, max
# per-key fan-out, and the keys-only intersection size.  The fact tables
# are never joined; at 100 TB this is the difference between a cheap
# dry-run and an accidental row explosion.
def join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt_l"))
    )
    rc = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt_r"))
    )
    return (
        lo.join(rc, "k")
        .agg(
            F.count(F.lit(1)).alias("n_join_keys"),
            F.sum(F.col("cnt_l") * F.col("cnt_r")).alias("predicted_rows"),
            F.max(F.col("cnt_l") * F.col("cnt_r")).alias("max_key_fanout"),
            F.max("cnt_l").alias("max_left_mult"),
            F.max("cnt_r").alias("max_right_mult"),
        )
        .selectExpr(
            "CAST(n_join_keys AS BIGINT) AS n_join_keys",
            "CAST(predicted_rows AS BIGINT) AS predicted_rows",
            "CAST(max_key_fanout AS BIGINT) AS max_key_fanout",
            "CAST(max_left_mult AS BIGINT) AS max_left_mult",
            "CAST(max_right_mult AS BIGINT) AS max_right_mult",
        )
    )


JOIN_FANOUT_AUDIT_SQL = """
WITH lo AS (
  SELECT o_custkey AS k, count(*) AS cnt_l FROM orders GROUP BY 1
), rc AS (
  SELECT c_custkey AS k, count(*) AS cnt_r FROM customer GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_join_keys,
       CAST(sum(cnt_l * cnt_r) AS BIGINT) AS predicted_rows,
       CAST(max(cnt_l * cnt_r) AS BIGINT) AS max_key_fanout,
       CAST(max(cnt_l) AS BIGINT) AS max_left_mult,
       CAST(max(cnt_r) AS BIGINT) AS max_right_mult
FROM lo JOIN rc USING (k)
"""


# --- length-bucket batching / padding waste --------------------------------------
# Why batched inference buckets by length: group documents into power-of-2
# token-length buckets and report each bucket's padding waste (tokens of
# padding per real token, in ppm) versus the single-bucket baseline where
# everything pads to the global max.  Pure integer arithmetic; two
# combinable aggs (per-bucket, then the broadcast global max).  The
# waste_saved summary is the measured argument for the bucketing stage in
# a batch-inference pipeline.  The power-of-2 bucket is computed WITHOUT
# libm: ceil(log2(n)) == length(bin(n-1)) for n >= 2 (bit-width of n-1),
# an integer/string identity both engines evaluate exactly.
def length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        F.size(F.expr("regexp_extract_all(text, '[a-z]+', 0)")).cast(
            "long"
        ).alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    b = d.withColumn(
        "bucket",
        F.expr(
            "CASE WHEN n_tok <= 1 THEN 0"
            " ELSE CAST(length(bin(n_tok - 1)) AS BIGINT) END"
        ),
    )
    per = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("tok_sum"),
        F.max("n_tok").alias("tok_max"),
    )
    gmax = d.agg(F.max("n_tok").alias("gmax"))
    return (
        per.crossJoin(F.broadcast(gmax))
        .selectExpr(
            "CAST(bucket AS BIGINT) AS bucket",
            "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(tok_sum AS BIGINT) AS tok_sum",
            "CAST(tok_max AS BIGINT) AS tok_max",
            # padding per real token when batched within this bucket
            "CAST((1000000 * (n_docs * tok_max - tok_sum)) DIV tok_sum"
            " AS BIGINT) AS pad_ppm_bucketed",
            # padding per real token when everything pads to the global max
            "CAST((1000000 * (n_docs * gmax - tok_sum)) DIV tok_sum"
            " AS BIGINT) AS pad_ppm_global",
        )
        .orderBy("bucket")
    )


LENGTH_BUCKET_PADDING_SQL = """
WITH d AS (
  SELECT len(regexp_extract_all(text, '[a-z]+')) AS n_tok FROM documents
  WHERE len(regexp_extract_all(text, '[a-z]+')) > 0
), b AS (
  SELECT n_tok,
         CASE WHEN n_tok <= 1 THEN 0
              ELSE CAST(length(bin(n_tok - 1)) AS BIGINT) END AS bucket
  FROM d
), per AS (
  SELECT bucket, count(*) AS n_docs, sum(n_tok) AS tok_sum,
         max(n_tok) AS tok_max
  FROM b GROUP BY bucket
), g AS (SELECT max(n_tok) AS gmax FROM d)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(tok_sum AS BIGINT) AS tok_sum,
       CAST(tok_max AS BIGINT) AS tok_max,
       CAST((1000000 * (n_docs * tok_max - tok_sum)) // tok_sum AS BIGINT)
         AS pad_ppm_bucketed,
       CAST((1000000 * (n_docs * gmax - tok_sum)) // tok_sum AS BIGINT)
         AS pad_ppm_global
FROM per CROSS JOIN g
ORDER BY bucket
"""


# --- rolling regression slope ------------------------------------------------------
# Per customer: the least-squares trend of order value over order index —
# integer-exact via the closed form slope = (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2)
# where x is the order rank (small integers) and y is cents.  Numerator
# and denominator are exact BIGINTs; only the final milli projection
# divides.  One window for the rank (per-customer, bounded), one
# combinable agg for the moments.
def trend_slope_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = o.withColumn("x", F.row_number().over(w).cast("long"))
    agg = r.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("cents").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("cents")).alias("sxy"),
    )
    return (
        agg.filter(F.col("n") >= 2)
        .selectExpr(
            "o_custkey",
            "CAST(n AS BIGINT) AS n_orders",
            "CAST(n * sxy - sx * sy AS BIGINT) AS slope_num",
            "CAST(n * sxx - sx * sx AS BIGINT) AS slope_den",
            "CAST((1000 * (n * sxy - sx * sy)) DIV (n * sxx - sx * sx)"
            " AS BIGINT) AS slope_millicents_per_order",
        )
        .orderBy("o_custkey")
    )


TREND_SLOPE_PER_CUSTOMER_SQL = """
WITH r AS (
  SELECT o_custkey,
         CAST(row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey)
              AS BIGINT) AS x,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), agg AS (
  SELECT o_custkey, count(*) AS n, sum(x) AS sx, sum(cents) AS sy,
         sum(x * x) AS sxx, sum(x * cents) AS sxy
  FROM r GROUP BY o_custkey
)
SELECT o_custkey,
       CAST(n AS BIGINT) AS n_orders,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       CAST((1000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx) AS BIGINT)
         AS slope_millicents_per_order
FROM agg WHERE n >= 2
ORDER BY o_custkey
"""



# --- clamped running balance (running-min identity) --------------------------------
# Per-user credit balance with a zero floor: balance_t = max(0,
# balance_{t-1} + delta_t), credits from purchase/signup events, debits
# from the rest.  The floor-only clamp admits the classic running-min
# identity  b_t = s_t - min(0, min_{k<=t} s_k)  over the plain prefix sum
# s — so the whole recurrence runs JVM-side as two frames over ONE
# user-keyed window (no python kernel, no sequential stage).  The clamp
# count falls out too: step t clamps iff s_t < min(0, min_{k<t} s_k),
# i.e. iff t sets a new strictly-negative running minimum.  The DuckDB
# oracle deliberately does NOT use the identity: it walks the recurrence
# step-by-step with WITH RECURSIVE, so the hash match PROVES the identity
# against the sequential definition.  (A two-sided clamp — floor AND
# ceiling — has no such identity and would need the applyInPandas tier
# that pack_greedy_exact demonstrates.)  All state integer mils.
def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id",
        "event_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
        "CAST(CASE WHEN event_type IN ('purchase', 'signup')"
        "           THEN CAST(value AS DECIMAL(12,3)) * 1000"
        "           ELSE -(CAST(value AS DECIMAL(12,3)) * 1000) END"
        "      AS BIGINT) AS delta_mils",
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    cur = w.rowsBetween(W.unboundedPreceding, 0)
    prev = w.rowsBetween(W.unboundedPreceding, -1)
    stepped = (
        ev.withColumn("s", F.sum("delta_mils").over(cur))
        .withColumn(
            "clamp_flag",
            (
                F.col("s")
                < F.least(F.lit(0), F.coalesce(F.min("s").over(prev), F.lit(0)))
            ).cast("long"),
        )
    )
    return (
        stepped.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.struct("us", "event_id", "s")).alias("last"),
            F.least(F.lit(0), F.min("s")).alias("gmin"),
            F.sum("clamp_flag").alias("times_clamped"),
        )
        .selectExpr(
            "user_id",
            "CAST(n_events AS BIGINT) AS n_events",
            "CAST(last.s - gmin AS BIGINT) AS final_balance_mils",
            "CAST(times_clamped AS BIGINT) AS times_clamped",
        )
        .orderBy("user_id")
    )


CLAMPED_RUNNING_BALANCE_SQL = """
WITH RECURSIVE ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(CASE WHEN event_type IN ('purchase', 'signup')
                   THEN CAST(value AS DECIMAL(12,3)) * 1000
                   ELSE -(CAST(value AS DECIMAL(12,3)) * 1000) END
              AS BIGINT) AS delta_mils,
         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts),
                            event_id) AS rn
  FROM events
), walk AS (
  SELECT user_id, rn,
         greatest(CAST(0 AS BIGINT), delta_mils) AS bal,
         CASE WHEN delta_mils < 0 THEN 1 ELSE 0 END AS clamped
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn,
         greatest(CAST(0 AS BIGINT), w.bal + e.delta_mils),
         w.clamped + CASE WHEN w.bal + e.delta_mils < 0 THEN 1 ELSE 0 END
  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1
)
SELECT user_id,
       CAST(max(rn) AS BIGINT) AS n_events,
       CAST(max_by(bal, rn) AS BIGINT) AS final_balance_mils,
       CAST(max_by(clamped, rn) AS BIGINT) AS times_clamped
FROM walk
GROUP BY user_id
ORDER BY user_id
"""



# --- functional-dependency violation audit -----------------------------------------
# Schema-discovery / data-quality pass: does the candidate dependency
# determinant -> dependent actually hold?  For each candidate (here
# p_brand -> p_type and c_mktsegment -> c_nationkey, both expected to
# FAIL on this corpus, plus l_orderkey -> o-side constants that hold by
# construction in orders: o_orderkey -> o_custkey), report the number of
# determinant values with more than one dependent (violations) and the
# worst multiplicity.  One combinable two-level agg per candidate —
# distinct-pairs first, then per-determinant counts — the same compressed
# discipline as the rank family; candidates are a constant list so the
# audit is one scan per involved table at any scale.
def fd_violation_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(df: DataFrame, det: str, dep: str, label: str) -> DataFrame:
        pairs = df.select(det, dep).distinct()
        per_det = pairs.groupBy(det).agg(F.count(F.lit(1)).alias("n_dep"))
        return per_det.agg(
            F.lit(label).alias("candidate"),
            F.count(F.lit(1)).alias("n_determinants"),
            F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0)).alias(
                "n_violating"
            ),
            F.max("n_dep").alias("max_dependents"),
        )

    part = _t(spark, sf_dir, "part")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        audit(part, "p_brand", "p_type", "p_brand->p_type")
        .unionByName(
            audit(
                cust, "c_mktsegment", "c_nationkey",
                "c_mktsegment->c_nationkey",
            )
        )
        .unionByName(
            audit(orders, "o_orderkey", "o_custkey", "o_orderkey->o_custkey")
        )
        .selectExpr(
            "candidate",
            "CAST(n_determinants AS BIGINT) AS n_determinants",
            "CAST(n_violating AS BIGINT) AS n_violating",
            "CAST(max_dependents AS BIGINT) AS max_dependents",
        )
        .orderBy("candidate")
    )


FD_VIOLATION_CHECK_SQL = """
WITH a1 AS (
  SELECT 'p_brand->p_type' AS candidate,
         count(*) AS n_determinants,
         sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS n_violating,
         max(n_dep) AS max_dependents
  FROM (SELECT p_brand, count(*) AS n_dep
        FROM (SELECT DISTINCT p_brand, p_type FROM part) GROUP BY p_brand)
), a2 AS (
  SELECT 'c_mktsegment->c_nationkey',
         count(*),
         sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END),
         max(n_dep)
  FROM (SELECT c_mktsegment, count(*) AS n_dep
        FROM (SELECT DISTINCT c_mktsegment, c_nationkey FROM customer)
        GROUP BY c_mktsegment)
), a3 AS (
  SELECT 'o_orderkey->o_custkey',
         count(*),
         sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END),
         max(n_dep)
  FROM (SELECT o_orderkey, count(*) AS n_dep
        FROM (SELECT DISTINCT o_orderkey, o_custkey FROM orders)
        GROUP BY o_orderkey)
), u AS (
  SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3
)
SELECT candidate,
       CAST(n_determinants AS BIGINT) AS n_determinants,
       CAST(n_violating AS BIGINT) AS n_violating,
       CAST(max_dependents AS BIGINT) AS max_dependents
FROM u
ORDER BY candidate
"""


# --- exact-quota stratified sample ---------------------------------------------------
# Take EXACTLY min(QUOTA, group size) documents per language, selected by
# md5 content-hash priority — the deterministic, append-stable cousin of
# rate-based sampling (sample_mixture_by_lang): quotas are hard numbers a
# downstream eval set demands.  Per-stratum rank over the md5 priority
# (window bounded by the stratum), no global sort; reruns and
# repartitions pick the identical rows because the priority is content
# derived.
STRAT_QUOTA = 40


def stratified_fixed_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    pr = _md5pl("CAST(doc_id AS STRING)", 12, "spark")
    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "lang", f"({pr}) AS priority"
    )
    return (
        top_k(d, ["lang"], [F.asc("priority"), F.asc("doc_id")], STRAT_QUOTA, "rk")
        .selectExpr(
            "lang",
            "doc_id",
            "CAST(rk AS BIGINT) AS rk",
            "CAST(priority AS BIGINT) AS priority",
        )
        .orderBy("lang", "rk")
    )


_STRAT_PR_DUCK = _md5pl("CAST(doc_id AS VARCHAR)", 12, "duck")

STRATIFIED_FIXED_QUOTA_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, ({_STRAT_PR_DUCK}) AS priority FROM documents
), r AS (
  SELECT lang, doc_id, priority,
         row_number() OVER (PARTITION BY lang
                            ORDER BY priority, doc_id) AS rk
  FROM d
)
SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk,
       CAST(priority AS BIGINT) AS priority
FROM r WHERE rk <= {STRAT_QUOTA}
ORDER BY lang, rk
"""



# --- keyset pagination ------------------------------------------------------------
# Page 3 (rows 41-60) of the orders feed ordered by (o_orderdate,
# o_orderkey) — WITHOUT OFFSET.  At 100 TB, OFFSET n is a scan-and-throw
# of n rows on every page; keyset pagination instead derives the page-2
# anchor (a 1-row broadcast: the 40th key) and fetches the next 20 with a
# pushable range predicate on the sort key, so each page costs a top-k
# over the anchored remainder (TakeOrderedAndProject), not a global skip.
# The tuple comparison is spelled (d > ad) OR (d = ad AND k > ak) in both
# engines.  The OFFSET oracle proves the two formulations agree.
PAGE_SIZE = 20


def keyset_page_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    anchor = (
        o.orderBy("o_orderdate", "o_orderkey")
        .limit(2 * PAGE_SIZE)
        .agg(
            F.max(F.struct("o_orderdate", "o_orderkey")).alias("a")
        )
        .select(
            F.col("a.o_orderdate").alias("ad"),
            F.col("a.o_orderkey").alias("ak"),
        )
    )
    page = (
        o.crossJoin(F.broadcast(anchor))
        .filter(
            (F.col("o_orderdate") > F.col("ad"))
            | (
                (F.col("o_orderdate") == F.col("ad"))
                & (F.col("o_orderkey") > F.col("ak"))
            )
        )
        .orderBy("o_orderdate", "o_orderkey")
        .limit(PAGE_SIZE)
    )
    return page.selectExpr(
        "o_orderkey",
        "date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
    ).orderBy("o_orderdate", "o_orderkey")


KEYSET_PAGE_3_SQL = f"""
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
FROM orders
ORDER BY orders.o_orderdate, o_orderkey
LIMIT {PAGE_SIZE} OFFSET {2 * PAGE_SIZE}
"""


# --- half-life decayed trending score ------------------------------------------------
# Trending parts: purchases weighted by an integer half-life decay —
# weight(age) = 1e6 >> age_buckets (a right shift per 180-day bucket), so
# recency dominates without any float pow/exp.  The decay table is the
# compressed (part, age_bucket, cnt) aggregation; the weighted projection
# and the final top-k (TakeOrderedAndProject) never touch raw rows.
# Truncation points are identical in both engines because the shift is
# exact integer arithmetic per bucket BEFORE the weighted sum.
DECAY_ANCHOR = "1998-12-01"
DECAY_BUCKET_DAYS = 180
TREND_TOPK = 10


def trending_parts_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    # filter on the RAW day difference: truncating DIV maps -179..-1 to
    # bucket 0, so an age_bucket >= 0 filter would silently admit
    # post-anchor rows the oracle excludes
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey",
        f"CAST(datediff(DATE '{DECAY_ANCHOR}', CAST(l_shipdate AS DATE))"
        " AS BIGINT) AS age_days",
    ).filter("age_days >= 0").selectExpr(
        "l_partkey", f"age_days DIV {DECAY_BUCKET_DAYS} AS age_bucket"
    )
    comp = li.groupBy("l_partkey", "age_bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    scored = comp.selectExpr(
        "l_partkey",
        "CAST(cnt * (1000000 DIV CAST(pow(2, least(age_bucket, 20)) AS"
        " BIGINT)) AS BIGINT) AS w",
    )
    return (
        scored.groupBy("l_partkey")
        .agg(F.sum("w").alias("trend_score"))
        .orderBy(F.col("trend_score").desc(), F.col("l_partkey"))
        .limit(TREND_TOPK)
        .selectExpr(
            "l_partkey", "CAST(trend_score AS BIGINT) AS trend_score"
        )
    )


TRENDING_PARTS_DECAY_SQL = f"""
WITH comp AS (
  SELECT l_partkey,
         datediff('day', CAST(l_shipdate AS DATE), DATE '{DECAY_ANCHOR}')
           // {DECAY_BUCKET_DAYS} AS age_bucket,
         count(*) AS cnt
  FROM lineitem
  WHERE datediff('day', CAST(l_shipdate AS DATE), DATE '{DECAY_ANCHOR}') >= 0
  GROUP BY 1, 2
), scored AS (
  SELECT l_partkey,
         CAST(cnt * (1000000 // CAST(pow(2, least(age_bucket, 20)) AS
              BIGINT)) AS BIGINT) AS w
  FROM comp
)
SELECT l_partkey, CAST(sum(w) AS BIGINT) AS trend_score
FROM scored
GROUP BY l_partkey
ORDER BY trend_score DESC, l_partkey
LIMIT {TREND_TOPK}
"""



# --- embedding norm audit ------------------------------------------------------------
# Pipeline gate before any cosine-based stage: are the vectors actually
# unit-normalized?  Per label: min/max/sum of the squared L2 norm in
# micro^2 units — each float32 element converts to floor-micro integers
# FIRST (the centroid discipline), so norm^2 is an exact integer per
# vector and the cross-vector stats are order-free.  A drifted or
# unnormalized batch shows up as a norm band away from 1e12 (1.0 in
# micro^2).  One per-vector combinable agg, one per-label rollup.
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.explode("embedding").alias("x")
    )
    per_vec = (
        e.select(
            "vec_id",
            "label",
            F.floor(F.col("x").cast("double") * 1_000_000).alias("m"),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("m") * F.col("m")).alias("norm2"))
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("norm2").alias("min_norm2"),
            F.max("norm2").alias("max_norm2"),
            F.sum("norm2").alias("sum_norm2"),
        )
        .selectExpr(
            "CAST(label AS BIGINT) AS label",
            "CAST(n_vectors AS BIGINT) AS n_vectors",
            "CAST(min_norm2 AS BIGINT) AS min_norm2",
            "CAST(max_norm2 AS BIGINT) AS max_norm2",
            "CAST(sum_norm2 DIV n_vectors AS BIGINT) AS mean_norm2",
        )
        .orderBy("label")
    )


EMBEDDING_NORM_AUDIT_SQL = """
WITH per_vec AS (
  SELECT vec_id, label,
         sum(m * m) AS norm2
  FROM (
    SELECT vec_id, label,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                AS BIGINT) AS m
    FROM embeddings
  )
  GROUP BY vec_id, label
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(min(norm2) AS BIGINT) AS min_norm2,
       CAST(max(norm2) AS BIGINT) AS max_norm2,
       CAST(sum(norm2) // count(*) AS BIGINT) AS mean_norm2
FROM per_vec
GROUP BY label
ORDER BY label
"""


# --- training-shard balance audit ------------------------------------------------------
# Before a distributed training launch: how even are the md5 shards?
# Per shard (same 16-way md5 split the packing family uses): docs, token
# mass, and the imbalance of each against a perfectly even split, in ppm
# of the mean.  Straggler shards (imbalance over ~10-20%) mean wasted
# accelerator time at every epoch boundary.  One combinable agg + a
# broadcast 1-row total.
SHARD_N = 16


def shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _md5pl("CAST(doc_id AS STRING)", 6, "spark") + f" % {SHARD_N}"
    d = _t(spark, sf_dir, "documents").selectExpr(
        f"({sh}) AS shard",
        "size(regexp_extract_all(text, '[a-z]+', 0)) AS n_tok",
    )
    per = d.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    tot = per.agg(
        F.sum("n_docs").alias("td"), F.sum("n_tokens").alias("tt")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(shard AS BIGINT) AS shard",
            "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(n_tokens AS BIGINT) AS n_tokens",
            f"CAST(abs({SHARD_N} * 1000000 * n_docs - 1000000 * td)"
            " DIV td AS BIGINT) AS doc_imbalance_ppm",
            f"CAST(abs({SHARD_N} * 1000000 * n_tokens - 1000000 * tt)"
            " DIV tt AS BIGINT) AS token_imbalance_ppm",
        )
        .orderBy("shard")
    )


_SHARD_DUCK = _md5pl("CAST(doc_id AS VARCHAR)", 6, "duck") + f" % {SHARD_N}"

SHARD_BALANCE_AUDIT_SQL = f"""
WITH per AS (
  SELECT ({_SHARD_DUCK}) AS shard, count(*) AS n_docs,
         sum(len(regexp_extract_all(text, '[a-z]+'))) AS n_tokens
  FROM documents GROUP BY 1
), tot AS (SELECT sum(n_docs) AS td, sum(n_tokens) AS tt FROM per)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(abs({SHARD_N} * 1000000 * n_docs - 1000000 * td) // td
            AS BIGINT) AS doc_imbalance_ppm,
       CAST(abs({SHARD_N} * 1000000 * n_tokens - 1000000 * tt) // tt
            AS BIGINT) AS token_imbalance_ppm
FROM per CROSS JOIN tot
ORDER BY shard
"""


# --- cross-lingual duplicate check --------------------------------------------------
# Translation-pair / template-reuse leakage: documents in DIFFERENT
# languages sharing the same token-SET fingerprint (the text_fingerprint
# recipe) are near-certain templated duplicates — exactly what a
# language-balanced training mixture must not double count.  One
# fingerprint projection + one combinable (fingerprint) agg; only groups
# spanning >1 language survive, with the languages listed
# deterministically.
def crosslingual_duplicate_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5(
            F.array_join(
                F.array_sort(
                    F.array_distinct(
                        F.expr("regexp_extract_all(text, '[a-z]+', 0)")
                    )
                ),
                " ",
            )
        ).alias("fp"),
    )
    return (
        d.groupBy("fp")
        .agg(
            F.countDistinct("lang").alias("n_langs"),
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(
                F.array_sort(F.collect_set("lang")), ","
            ).alias("langs_csv"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_langs") > 1)
        .selectExpr(
            "fp",
            "CAST(n_langs AS BIGINT) AS n_langs",
            "CAST(n_docs AS BIGINT) AS n_docs",
            "langs_csv",
            "min_doc_id",
        )
        .orderBy("fp")
    )


CROSSLINGUAL_DUPLICATE_CHECK_SQL = """
WITH d AS (
  SELECT doc_id, lang,
         md5(array_to_string(list_sort(list_distinct(
             regexp_extract_all(text, '[a-z]+'))), ' ')) AS fp
  FROM documents
)
SELECT fp,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(*) AS BIGINT) AS n_docs,
       string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs_csv,
       min(doc_id) AS min_doc_id
FROM d
GROUP BY fp
HAVING count(DISTINCT lang) > 1
ORDER BY fp
"""



# --- Gini concentration (exact, no pairwise work) ------------------------------------
# Revenue inequality among a nation's suppliers as the exact Gini
# coefficient — WITHOUT materializing any pair: for x sorted ascending
# with 1-based rank i, sum_{i<j}(x_j - x_i) == sum_i (2i - n - 1) * x_i,
# so the O(n^2) pairwise-difference mass collapses to one rank window
# over the supplier-level pre-aggregate plus one combinable agg.  Ties
# are safe under any consistent permutation (equal values contribute the
# same group total).  All integer cents; gini_ppm = 1e6 * num / (n * sum).
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    sup_rev = li.groupBy("l_suppkey").agg(F.sum("cents").alias("rev"))
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    per = sup_rev.join(F.broadcast(sup), "l_suppkey")
    w = W.partitionBy("s_nationkey").orderBy("rev", "l_suppkey")
    ranked = per.withColumn("i", F.row_number().over(w).cast("long"))
    return (
        ranked.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rev").alias("total_rev"),
            F.sum((2 * F.col("i") - 1) * F.col("rev")).alias("weighted"),
        )
        .selectExpr(
            "CAST(s_nationkey AS BIGINT) AS s_nationkey",
            "CAST(n AS BIGINT) AS n_suppliers",
            "CAST(total_rev AS BIGINT) AS total_rev_cents",
            # weighted - (n+1)*total == sum((2i - n - 1) * x)
            "CAST((1000000 * (weighted - n * total_rev)) DIV"
            " (n * total_rev) AS BIGINT) AS gini_ppm",
        )
        .orderBy("s_nationkey")
    )


GINI_REVENUE_CONCENTRATION_SQL = """
WITH sup_rev AS (
  SELECT l_suppkey,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS rev
  FROM lineitem GROUP BY l_suppkey
), ranked AS (
  SELECT s.s_nationkey, r.rev,
         CAST(row_number() OVER (PARTITION BY s.s_nationkey
                                 ORDER BY r.rev, s.s_suppkey) AS BIGINT)
           AS i
  FROM sup_rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
)
SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(rev) AS BIGINT) AS total_rev_cents,
       CAST((1000000 * (sum((2 * i - 1) * rev) - count(*) * sum(rev)))
            // (count(*) * sum(rev)) AS BIGINT) AS gini_ppm
FROM ranked
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


# --- business-day reorder gaps (closed-form weekday math) -----------------------------
# Per customer: the gap between consecutive orders measured in BUSINESS
# days (Mon-Fri), computed by the closed form f(x) = 5 * (x DIV 7) +
# LUT[x % 7] over epoch days (1970-01-01 is a Thursday, encoded in the
# 7-entry literal lookup) — no calendar scaffold, no per-day explode.
# (The corpus's lineitem ship dates are independent of their order dates,
# so an order->ship lag is meaningless here; consecutive-order gaps are
# positive by construction.)  One customer-keyed lag window over orders +
# one combinable histogram agg; the date arithmetic is pure integer in
# both engines.
_BDAY_LUT = "array(1, 2, 2, 2, 3, 4, 5)"  # weekdays in [7q, 7q+r], base Thu


def _bday_f(col: str, engine: str) -> str:
    lut = (
        "[1, 2, 2, 2, 3, 4, 5]" if engine == "duck" else _BDAY_LUT
    )
    idx = f"(({col}) % 7) + 1"
    return f"(5 * (({col}) // 7) + {lut}[CAST({idx} AS INT)])" if engine == "duck" else (
        f"(5 * (({col}) DIV 7) + element_at({lut}, CAST({idx} AS INT)))"
    )


def business_day_reorder_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "o_orderkey",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
        " AS BIGINT) AS d",
    )
    w = W.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = (
        o.withColumn("prev_d", F.lag("d").over(w))
        .filter(F.col("prev_d").isNotNull())
        .selectExpr(
            f"({_bday_f('d', 'spark')}) - ({_bday_f('prev_d', 'spark')})"
            " AS bdays"
        )
    )
    return (
        gaps.groupBy("bdays")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
        .selectExpr(
            "CAST(bdays AS BIGINT) AS bdays",
            "CAST(n_gaps AS BIGINT) AS n_gaps",
        )
        .orderBy("bdays")
    )


BUSINESS_DAY_REORDER_GAPS_SQL = f"""
WITH o AS (
  SELECT o_custkey, o_orderkey,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d
  FROM orders
), gaps AS (
  SELECT ({_bday_f('d', 'duck')}) - ({_bday_f('prev_d', 'duck')}) AS bdays
  FROM (
    SELECT d, lag(d) OVER (PARTITION BY o_custkey
                           ORDER BY d, o_orderkey) AS prev_d
    FROM o
  ) WHERE prev_d IS NOT NULL
)
SELECT CAST(bdays AS BIGINT) AS bdays,
       CAST(count(*) AS BIGINT) AS n_gaps
FROM gaps
GROUP BY bdays
ORDER BY bdays
"""



# --- interval union length (merge overlapping intervals) ------------------------------
# Per customer: the number of DISTINCT days covered by the union of
# per-order service windows [orderdate, orderdate + 6] — overlapping
# windows must not double count.  The classic interval-merge as one
# window sweep: order intervals by start, an interval starts a new
# island iff its start exceeds the running max of all previous ends;
# islands then aggregate max(end) - min(start) + 1 each.  Two frames
# over the SAME customer-keyed shuffle, pure integer epoch days — no
# self-join, no explode of the covered days.
SERVICE_WINDOW_DAYS = 7


def covered_days_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "o_orderkey",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
        " AS BIGINT) AS s",
    ).selectExpr(
        "o_custkey", "o_orderkey", "s",
        f"s + {SERVICE_WINDOW_DAYS - 1} AS e",
    )
    w = W.partitionBy("o_custkey").orderBy("s", "o_orderkey")
    prev_max_end = F.max("e").over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = o.withColumn(
        "new_island",
        F.when(
            prev_max_end.isNull() | (F.col("s") > prev_max_end), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    per_island = islands.groupBy("o_custkey", "island").agg(
        (F.max("e") - F.min("s") + 1).alias("len")
    )
    return (
        per_island.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum("len").alias("covered_days"),
        )
        .selectExpr(
            "o_custkey",
            "CAST(n_islands AS BIGINT) AS n_islands",
            "CAST(covered_days AS BIGINT) AS covered_days",
        )
        .orderBy("o_custkey")
    )


COVERED_DAYS_UNION_SQL = f"""
WITH o AS (
  SELECT o_custkey, o_orderkey,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           + {SERVICE_WINDOW_DAYS - 1} AS e
  FROM orders
), flagged AS (
  SELECT o_custkey, s, e,
         CASE WHEN max(e) OVER (PARTITION BY o_custkey ORDER BY s,
                o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                PRECEDING) IS NULL
              OR s > max(e) OVER (PARTITION BY o_custkey ORDER BY s,
                o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                PRECEDING)
              THEN 1 ELSE 0 END AS new_island,
         o_orderkey
  FROM o
), islands AS (
  SELECT o_custkey, s, e,
         sum(new_island) OVER (PARTITION BY o_custkey ORDER BY s,
           o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM flagged
), per_island AS (
  SELECT o_custkey, island, max(e) - min(s) + 1 AS len
  FROM islands GROUP BY o_custkey, island
)
SELECT o_custkey,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(len) AS BIGINT) AS covered_days
FROM per_island
GROUP BY o_custkey
ORDER BY o_custkey
"""



# --- exact percentile rank (compressed cume) -----------------------------------------
# Each part's price percentile within its type, exactly, in ppm: the
# cumulative count runs over the COMPRESSED (type, cents, cnt) table
# (distinct prices, not raw rows) and the ppm is the cross-multiplied
# integer (1e6 * cum) DIV n — no percent_rank window over raw rows, no
# float.  percentile here = fraction of rows with value <= this value
# (cume_dist semantics), the one that is well-defined under ties.
def price_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_type",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    comp = p.groupBy("p_type", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        W.partitionBy("p_type").orderBy("cents").rowsBetween(W.unboundedPreceding, 0)
    )
    wtot = W.partitionBy("p_type")
    return (
        comp.select(
            "p_type",
            "cents",
            "cnt",
            F.sum("cnt").over(wcum).alias("cum"),
            F.sum("cnt").over(wtot).alias("n"),
        )
        .selectExpr(
            "p_type",
            "CAST(cents AS BIGINT) AS cents",
            "CAST(cnt AS BIGINT) AS cnt",
            "CAST((1000000 * cum) DIV n AS BIGINT) AS cume_ppm",
        )
        .orderBy("p_type", "cents")
    )


PRICE_PERCENTILE_EXACT_SQL = """
WITH comp AS (
  SELECT p_type,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         count(*) AS cnt
  FROM part GROUP BY 1, 2
)
SELECT p_type,
       CAST(cents AS BIGINT) AS cents,
       CAST(cnt AS BIGINT) AS cnt,
       CAST((1000000 * sum(cnt) OVER (PARTITION BY p_type ORDER BY cents
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            // (sum(cnt) OVER (PARTITION BY p_type)) AS BIGINT) AS cume_ppm
FROM comp
ORDER BY p_type, cents
"""


# --- the count-distinct re-aggregation pitfall, measured -------------------------------
# COUNT(DISTINCT) is not re-aggregable: summing per-type distinct-user
# counts over-counts users active in several event types.  This op emits
# BOTH numbers side by side — the correct overall distinct and the naive
# sum of per-type distincts — plus the overlap they differ by, so the
# pitfall is a hash-gated measurement instead of folklore.  (This is
# exactly why the engine's distinct sketches (HLL) exist: registers
# re-aggregate where counts cannot.)  Two combinable aggregations over
# the deduped (type, user) table.
def distinct_rollup_pitfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    tu = (
        _t(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    per_type = tu.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("distinct_users")
    )
    naive = per_type.agg(
        F.sum("distinct_users").alias("naive_sum_of_distincts"),
        F.count(F.lit(1)).alias("n_types"),
    )
    true_overall = tu.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("true_distinct_users")
    )
    return (
        naive.crossJoin(F.broadcast(true_overall))
        .selectExpr(
            "CAST(n_types AS BIGINT) AS n_types",
            "CAST(naive_sum_of_distincts AS BIGINT) AS naive_sum_of_distincts",
            "CAST(true_distinct_users AS BIGINT) AS true_distinct_users",
            "CAST(naive_sum_of_distincts - true_distinct_users AS BIGINT)"
            " AS overcount",
        )
    )


DISTINCT_ROLLUP_PITFALL_SQL = """
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events
), per_type AS (
  SELECT event_type, count(*) AS distinct_users FROM tu GROUP BY event_type
)
SELECT CAST((SELECT count(*) FROM per_type) AS BIGINT) AS n_types,
       CAST((SELECT sum(distinct_users) FROM per_type) AS BIGINT)
         AS naive_sum_of_distincts,
       CAST((SELECT count(DISTINCT user_id) FROM tu) AS BIGINT)
         AS true_distinct_users,
       CAST((SELECT sum(distinct_users) FROM per_type)
            - (SELECT count(DISTINCT user_id) FROM tu) AS BIGINT)
         AS overcount
"""


QUERIES = {
    "mode_exact_per_group": mode_exact_per_group,
    "topp_revenue_suppliers": topp_revenue_suppliers,
    "vocab_oov_rate": vocab_oov_rate,
    "text_simpson_diversity": text_simpson_diversity,
    "session_window_overlap": session_window_overlap,
    "mixture_plan_tokens": mixture_plan_tokens,
    "table_fingerprint_buckets": table_fingerprint_buckets,
    "weighted_median_price": weighted_median_price,
    "twap_value_per_user": twap_value_per_user,
    "cdc_compact_latest": cdc_compact_latest,
    "zonemap_prune_stats": zonemap_prune_stats,
    "grouped_ordered_concat": grouped_ordered_concat,
    "running_max_drawdown": running_max_drawdown,
    "price_band_self_join": price_band_self_join,
    "ks_drift_orders": ks_drift_orders,
    "except_all_multiset": except_all_multiset,
    "embedding_centroid_by_label": embedding_centroid_by_label,
    "kanonymity_quasi_identifiers": kanonymity_quasi_identifiers,
    "join_fanout_audit": join_fanout_audit,
    "length_bucket_padding": length_bucket_padding,
    "trend_slope_per_customer": trend_slope_per_customer,
    "clamped_running_balance": clamped_running_balance,
    "fd_violation_check": fd_violation_check,
    "stratified_fixed_quota": stratified_fixed_quota,
    "keyset_page_3": keyset_page_3,
    "trending_parts_decay": trending_parts_decay,
    "embedding_norm_audit": embedding_norm_audit,
    "shard_balance_audit": shard_balance_audit,
    "crosslingual_duplicate_check": crosslingual_duplicate_check,
    "gini_revenue_concentration": gini_revenue_concentration,
    "business_day_reorder_gaps": business_day_reorder_gaps,
    "covered_days_union": covered_days_union,
}

ORACLES = {
    "mode_exact_per_group": MODE_EXACT_PER_GROUP_SQL,
    "topp_revenue_suppliers": TOPP_REVENUE_SUPPLIERS_SQL,
    "vocab_oov_rate": VOCAB_OOV_RATE_SQL,
    "text_simpson_diversity": TEXT_SIMPSON_DIVERSITY_SQL,
    "session_window_overlap": SESSION_WINDOW_OVERLAP_SQL,
    "mixture_plan_tokens": MIXTURE_PLAN_TOKENS_SQL,
    "table_fingerprint_buckets": TABLE_FINGERPRINT_BUCKETS_SQL,
    "weighted_median_price": WEIGHTED_MEDIAN_PRICE_SQL,
    "twap_value_per_user": TWAP_VALUE_PER_USER_SQL,
    "cdc_compact_latest": CDC_COMPACT_LATEST_SQL,
    "zonemap_prune_stats": ZONEMAP_PRUNE_STATS_SQL,
    "grouped_ordered_concat": GROUPED_ORDERED_CONCAT_SQL,
    "running_max_drawdown": RUNNING_MAX_DRAWDOWN_SQL,
    "price_band_self_join": PRICE_BAND_SELF_JOIN_SQL,
    "ks_drift_orders": KS_DRIFT_ORDERS_SQL,
    "except_all_multiset": EXCEPT_ALL_MULTISET_SQL,
    "embedding_centroid_by_label": EMBEDDING_CENTROID_BY_LABEL_SQL,
    "kanonymity_quasi_identifiers": KANONYMITY_QUASI_IDENTIFIERS_SQL,
    "join_fanout_audit": JOIN_FANOUT_AUDIT_SQL,
    "length_bucket_padding": LENGTH_BUCKET_PADDING_SQL,
    "trend_slope_per_customer": TREND_SLOPE_PER_CUSTOMER_SQL,
    "clamped_running_balance": CLAMPED_RUNNING_BALANCE_SQL,
    "fd_violation_check": FD_VIOLATION_CHECK_SQL,
    "stratified_fixed_quota": STRATIFIED_FIXED_QUOTA_SQL,
    "keyset_page_3": KEYSET_PAGE_3_SQL,
    "trending_parts_decay": TRENDING_PARTS_DECAY_SQL,
    "embedding_norm_audit": EMBEDDING_NORM_AUDIT_SQL,
    "shard_balance_audit": SHARD_BALANCE_AUDIT_SQL,
    "crosslingual_duplicate_check": CROSSLINGUAL_DUPLICATE_CHECK_SQL,
    "gini_revenue_concentration": GINI_REVENUE_CONCENTRATION_SQL,
    "business_day_reorder_gaps": BUSINESS_DAY_REORDER_GAPS_SQL,
    "covered_days_union": COVERED_DAYS_UNION_SQL,
}


# --- token-bucket throttle (the genuinely kernel-only recurrence) -----------------
# The two-sided-clamp case clamped_running_balance's docstring points
# at: a per-user token bucket (capacity 2 tokens, refill 1 micro-token
# per 3600 us — calibrated so ~20% of this corpus's users throttle
# somewhere while most never do; a parameterization that never (or
# always) fires would make the check vacuous, measured both ways).  An
# event passing requires a full token; a throttled event consumes
# nothing.  level_t depends on BOTH clamps of
# level_{t-1} — refill saturates at capacity AND consumption gates on
# the current level — so no window identity exists and the recurrence
# runs as the stateful ``applyInPandas`` kernel per user (one key
# shuffle, sequential work bounded by that user's event count — the
# W2-stitching tier).  The DuckDB oracle walks the identical recurrence
# with WITH RECURSIVE; all state is integer micro-tokens.
TB_CAP_MICRO = 2_000_000
TB_COST_MICRO = 1_000_000
TB_REFILL_DIV = 3600  # micro-tokens per elapsed microsecond DIV this


def token_bucket_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    # batch-amortization (the kernel house pattern): grouping per USER
    # would hand pandas ~n_users tiny frames and pay the Arrow/pandas
    # per-group overhead each time (measured 7.3 s at sf0.1); grouping
    # per SHARD (64-way user hash) hands it 64 frames and walks each
    # user's slice inside the kernel — identical semantics, the
    # sequential unit is still the single user.
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id",
        "CAST(user_id % 64 AS INT) AS shard",
        "event_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "us", "event_id"]).reset_index(
            drop=True
        )
        out = []
        for uid, grp in pdf.groupby("user_id", sort=True):
            level = TB_CAP_MICRO  # bucket starts full
            throttled = 0
            prev_us = None
            for us in grp["us"]:
                us = int(us)
                if prev_us is not None:
                    level = min(
                        TB_CAP_MICRO, level + (us - prev_us) // TB_REFILL_DIV
                    )
                prev_us = us
                if level >= TB_COST_MICRO:
                    level -= TB_COST_MICRO
                else:
                    throttled += 1
            out.append((int(uid), len(grp), throttled, level))
        return pd.DataFrame(
            out,
            columns=[
                "user_id", "n_events", "n_throttled", "final_level_micro",
            ],
        )

    return (
        ev.groupBy("shard")
        .applyInPandas(
            run,
            schema=(
                "user_id long, n_events long, n_throttled long,"
                " final_level_micro long"
            ),
        )
        .orderBy("user_id")
    )


TOKEN_BUCKET_THROTTLE_SQL = f"""
WITH RECURSIVE ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
), walk AS (
  SELECT user_id, rn, us,
         CASE WHEN {TB_CAP_MICRO} >= {TB_COST_MICRO}
              THEN {TB_CAP_MICRO} - {TB_COST_MICRO}
              ELSE {TB_CAP_MICRO} END AS level,
         CASE WHEN {TB_CAP_MICRO} >= {TB_COST_MICRO} THEN 0 ELSE 1 END
           AS throttled
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.us,
         CASE WHEN least({TB_CAP_MICRO}, w.level + (e.us - w.us) // {TB_REFILL_DIV})
                   >= {TB_COST_MICRO}
              THEN least({TB_CAP_MICRO}, w.level + (e.us - w.us) // {TB_REFILL_DIV})
                   - {TB_COST_MICRO}
              ELSE least({TB_CAP_MICRO}, w.level + (e.us - w.us) // {TB_REFILL_DIV})
         END,
         w.throttled +
         CASE WHEN least({TB_CAP_MICRO}, w.level + (e.us - w.us) // {TB_REFILL_DIV})
                   >= {TB_COST_MICRO} THEN 0 ELSE 1 END
  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1
)
SELECT user_id,
       CAST(max(rn) AS BIGINT) AS n_events,
       CAST(max_by(throttled, rn) AS BIGINT) AS n_throttled,
       CAST(max_by(level, rn) AS BIGINT) AS final_level_micro
FROM walk
GROUP BY user_id
ORDER BY user_id
"""

QUERIES["token_bucket_throttle"] = token_bucket_throttle
ORACLES["token_bucket_throttle"] = TOKEN_BUCKET_THROTTLE_SQL

QUERIES["price_percentile_exact"] = price_percentile_exact
ORACLES["price_percentile_exact"] = PRICE_PERCENTILE_EXACT_SQL
QUERIES["distinct_rollup_pitfall"] = distinct_rollup_pitfall
ORACLES["distinct_rollup_pitfall"] = DISTINCT_ROLLUP_PITFALL_SQL


# --- l-diversity audit -----------------------------------------------------------
# k-anonymity's necessary companion (Machanavajjhala et al. 2007):
# a class can be k-large yet leak the sensitive attribute if everyone in
# it shares one value.  Over the released join (customer quasi-identifiers
# x order priority as the sensitive attribute), each (segment, nation)
# equivalence class reports its size, its count of DISTINCT sensitive
# values (distinct l), and the frequency of its most common value —
# classes failing distinct-l < L or majority > 1/2 are flagged; the
# table-wide minimum l rides along as a window column so the release gate
# is one hash.  Two combinable aggregations (class x value, then class);
# the distinct-l is exact, computed from the value-level rollup, never a
# raw-row count-distinct re-aggregation (the distinct_rollup_pitfall).
L_DIVERSITY = 3


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").selectExpr("c_custkey", "c_mktsegment", "c_nationkey")
    o = _t(spark, sf_dir, "orders").selectExpr("o_custkey", "o_orderpriority")
    released = o.join(c, o.o_custkey == c.c_custkey)
    vals = released.groupBy("c_mktsegment", "c_nationkey", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("nv")
    )
    classes = vals.groupBy("c_mktsegment", "c_nationkey").agg(
        F.expr("sum(nv)").alias("class_size"),
        F.count(F.lit(1)).alias("distinct_l"),
        F.expr("max(nv)").alias("max_value_freq"),
    )
    return (
        classes.selectExpr(
            "c_mktsegment",
            "CAST(c_nationkey AS BIGINT) AS c_nationkey",
            "CAST(class_size AS BIGINT) AS class_size",
            "CAST(distinct_l AS BIGINT) AS distinct_l",
            "CAST(max_value_freq AS BIGINT) AS max_value_freq",
            f"CASE WHEN distinct_l < {L_DIVERSITY}"
            " OR 2 * max_value_freq > class_size THEN CAST(1 AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END AS flagged",
            "CAST(min(distinct_l) OVER () AS BIGINT) AS table_min_l",
        )
        .orderBy("c_mktsegment", "c_nationkey")
    )


L_DIVERSITY_AUDIT_SQL = f"""
WITH released AS (
  SELECT c_mktsegment, c_nationkey, o_orderpriority
  FROM orders JOIN customer ON o_custkey = c_custkey
), vals AS (
  SELECT c_mktsegment, c_nationkey, o_orderpriority, count(*) AS nv
  FROM released GROUP BY 1, 2, 3
), classes AS (
  SELECT c_mktsegment, c_nationkey,
         sum(nv) AS class_size,
         count(*) AS distinct_l,
         max(nv) AS max_value_freq
  FROM vals GROUP BY 1, 2
)
SELECT c_mktsegment,
       CAST(c_nationkey AS BIGINT) AS c_nationkey,
       CAST(class_size AS BIGINT) AS class_size,
       CAST(distinct_l AS BIGINT) AS distinct_l,
       CAST(max_value_freq AS BIGINT) AS max_value_freq,
       CASE WHEN distinct_l < {L_DIVERSITY}
            OR 2 * max_value_freq > class_size THEN CAST(1 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS flagged,
       CAST(min(distinct_l) OVER () AS BIGINT) AS table_min_l
FROM classes ORDER BY c_mktsegment, c_nationkey
"""

QUERIES["l_diversity_audit"] = l_diversity_audit
ORACLES["l_diversity_audit"] = L_DIVERSITY_AUDIT_SQL


# --- t-closeness audit -----------------------------------------------------------
# The third leg of the release-gate triad (Li, Li, Venkatasubramanian
# 2007): a class can be k-large AND l-diverse yet still leak if its
# sensitive-value DISTRIBUTION skews far from the table's.  For an ORDERED
# sensitive attribute the distance is the Earth Mover's Distance, which
# for ordered categories is just the mean |CDF difference| over the first
# m-1 categories — pure prefix sums, no transport solver.  Shape: the
# released join collapses to the (QI class x band) count grid (one
# combinable agg), densified against the distinct-band scaffold via a
# broadcast nested-loop (never a CartesianProduct of two large sides);
# CDFs are truncated-ppm integers (cum*1e6 DIV n — engine-identical), the
# global CDF is a 1-row broadcast per band, and emd_ppm = sum|diff| DIV
# (m-1).  Same QI (segment, nation) as the k-anonymity / l-diversity ops
# so the three gates audit the same release.
T_CLOSENESS_PPM = 150_000  # flag classes with EMD > 0.15


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        # ordered sensitive attribute: $50k order-value bands
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " DIV 5000000 AS band",
    )
    released = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "c_nationkey", "band"
    )
    grid = released.groupBy("c_mktsegment", "c_nationkey", "band").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    bands = released.select("band").distinct()
    groups = grid.groupBy("c_mktsegment", "c_nationkey").agg(
        F.sum("cnt").cast("long").alias("n_g")
    )
    dense = (
        groups.crossJoin(F.broadcast(bands))
        .join(F.broadcast(grid), ["c_mktsegment", "c_nationkey", "band"], "left")
        .select(
            "c_mktsegment",
            "c_nationkey",
            "band",
            "n_g",
            F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
        )
    )
    wg = W.partitionBy("c_mktsegment", "c_nationkey").orderBy("band")
    gc = dense.select(
        "c_mktsegment",
        "c_nationkey",
        "band",
        "n_g",
        (F.sum("cnt").over(wg) * 1_000_000).alias("cum6"),
    ).selectExpr(
        "c_mktsegment", "c_nationkey", "band", "n_g",
        "CAST(cum6 DIV n_g AS BIGINT) AS cdf_g_ppm",
    )
    glob = (
        released.groupBy("band")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "band",
            (F.sum("cnt").over(W.orderBy("band")) * 1_000_000).alias("cum6"),
            F.sum("cnt").over(W.partitionBy()).alias("n_all"),
            F.count(F.lit(1)).over(W.partitionBy()).alias("m"),
            F.row_number().over(W.orderBy("band")).alias("rk"),
        )
        .selectExpr(
            "band",
            "CAST(cum6 DIV n_all AS BIGINT) AS cdf_all_ppm",
            "CAST(m AS BIGINT) AS m",
            "CAST(rk AS BIGINT) AS rk",
        )
    )
    scored = gc.join(F.broadcast(glob), "band").where(F.col("rk") < F.col("m"))
    out = scored.groupBy("c_mktsegment", "c_nationkey").agg(
        F.max("n_g").alias("n_g"),
        F.expr(
            "sum(abs(cdf_g_ppm - cdf_all_ppm)) DIV (max(m) - 1)"
        ).cast("long").alias("emd_ppm"),
    )
    return out.selectExpr(
        "c_mktsegment",
        "CAST(c_nationkey AS BIGINT) AS c_nationkey",
        "n_g",
        "emd_ppm",
        f"CAST(emd_ppm > {T_CLOSENESS_PPM} AS BOOLEAN) AS breach",
    ).orderBy("c_mktsegment", "c_nationkey")


T_CLOSENESS_AUDIT_SQL = f"""
WITH released AS (
  SELECT c.c_mktsegment, c.c_nationkey,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           // 5000000 AS band
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), grid AS (
  SELECT c_mktsegment, c_nationkey, band, CAST(count(*) AS BIGINT) AS cnt
  FROM released GROUP BY 1, 2, 3
), bands AS (
  SELECT DISTINCT band FROM released
), groups AS (
  SELECT c_mktsegment, c_nationkey, CAST(sum(cnt) AS BIGINT) AS n_g
  FROM grid GROUP BY 1, 2
), dense AS (
  SELECT g.c_mktsegment, g.c_nationkey, b.band, g.n_g,
         CAST(coalesce(x.cnt, 0) AS BIGINT) AS cnt
  FROM groups g CROSS JOIN bands b
  LEFT JOIN grid x ON x.c_mktsegment = g.c_mktsegment
    AND x.c_nationkey = g.c_nationkey AND x.band = b.band
), gc AS (
  SELECT c_mktsegment, c_nationkey, band, n_g,
         CAST(sum(cnt) OVER (PARTITION BY c_mktsegment, c_nationkey
              ORDER BY band) * 1000000 // n_g AS BIGINT) AS cdf_g_ppm
  FROM dense
), gall AS (
  SELECT band,
         CAST(sum(cnt) OVER (ORDER BY band) * 1000000
              // (sum(cnt) OVER ()) AS BIGINT) AS cdf_all_ppm,
         CAST(count(*) OVER () AS BIGINT) AS m,
         CAST(row_number() OVER (ORDER BY band) AS BIGINT) AS rk
  FROM (SELECT band, CAST(count(*) AS BIGINT) AS cnt
        FROM released GROUP BY band)
)
SELECT s.c_mktsegment,
       CAST(s.c_nationkey AS BIGINT) AS c_nationkey,
       max(s.n_g) AS n_g,
       CAST(sum(abs(s.cdf_g_ppm - g.cdf_all_ppm)) // (max(g.m) - 1)
         AS BIGINT) AS emd_ppm,
       CAST(sum(abs(s.cdf_g_ppm - g.cdf_all_ppm)) // (max(g.m) - 1)
         > {T_CLOSENESS_PPM} AS BOOLEAN) AS breach
FROM gc s JOIN gall g USING (band)
WHERE g.rk < g.m
GROUP BY s.c_mktsegment, s.c_nationkey
ORDER BY s.c_mktsegment, s.c_nationkey
"""

QUERIES["t_closeness_audit"] = t_closeness_audit
ORACLES["t_closeness_audit"] = T_CLOSENESS_AUDIT_SQL


# --- skew_salting_advisor: quantify shuffle skew and the salting fix ---------
# join_fanout_audit predicts a join's SIZE from key counts; this op
# predicts its SKEW — the thing that actually kills wall-clock at 100 TB,
# where one hot hash-partition strands a single reducer with the whole
# key.  The model is exact, not heuristic: a shuffle on key k sends
# cnt(k) rows to task md5_40(k) % P, so per-task load is one small agg
# over the key-count table; salting rewrites k -> (k, salt s of S) with
# the rows split exactly (cnt DIV S + 1 for the first cnt % S salts) and
# re-hashed.  The demo key is the classic pathology: a low-cardinality
# join key (p_brand, 25 values) hashed into P=64 tasks — collisions
# leave most tasks empty and stack brands on a few, and S=8 salting
# provably flattens it.  Everything is integer; the key-count table (25
# rows) comes from one broadcast dim join + one combinable agg, so the
# advisor costs one scan regardless of fact size.
SKEW_P_TASKS = 64
SKEW_SALT_S = 8


def skew_salting_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    keys = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    h0 = _md5pl("p_brand", 10, "spark")
    unsalted = (
        keys.selectExpr(f"({h0}) % {SKEW_P_TASKS} AS task", "cnt")
        .groupBy("task")
        .agg(F.sum("cnt").alias("load"))
        .agg(
            F.max("load").cast("long").alias("max_unsalted"),
            F.count(F.lit(1)).cast("long").alias("tasks_used_unsalted"),
        )
    )
    hs = _md5pl("concat(p_brand, '|', s)", 10, "spark")
    salted = (
        keys.selectExpr(
            "p_brand",
            "cnt",
            f"explode(sequence(0, {SKEW_SALT_S - 1})) AS s",
        )
        .selectExpr(
            f"({hs}) % {SKEW_P_TASKS} AS task",
            f"cnt DIV {SKEW_SALT_S}"
            f" + CASE WHEN s < cnt % {SKEW_SALT_S} THEN 1 ELSE 0 END AS share",
        )
        .groupBy("task")
        .agg(F.sum("share").alias("load"))
        .agg(
            F.max("load").cast("long").alias("max_salted"),
            F.count(F.lit(1)).cast("long").alias("tasks_used_salted"),
        )
    )
    tot = keys.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        tot.crossJoin(F.broadcast(unsalted))
        .crossJoin(F.broadcast(salted))
        .selectExpr(
            "n_rows",
            "n_keys",
            f"CAST({SKEW_P_TASKS} AS BIGINT) AS p_tasks",
            f"n_rows DIV {SKEW_P_TASKS} AS mean_load",
            "max_unsalted",
            "max_salted",
            "tasks_used_unsalted",
            "tasks_used_salted",
            f"(1000 * max_unsalted) DIV (n_rows DIV {SKEW_P_TASKS})"
            " AS skew_unsalted_milli",
            f"(1000 * max_salted) DIV (n_rows DIV {SKEW_P_TASKS})"
            " AS skew_salted_milli",
        )
    )


def _skew_sql() -> str:
    h0 = _md5pl("p_brand", 10, "duck")
    hs = _md5pl("(p_brand || '|' || s)", 10, "duck")
    return f"""
WITH keys AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
), unsalted AS (
  SELECT CAST(max(load) AS BIGINT) AS max_unsalted,
         CAST(count(*) AS BIGINT) AS tasks_used_unsalted
  FROM (SELECT ({h0}) % {SKEW_P_TASKS} AS task, sum(cnt) AS load
        FROM keys GROUP BY 1)
), salted AS (
  SELECT CAST(max(load) AS BIGINT) AS max_salted,
         CAST(count(*) AS BIGINT) AS tasks_used_salted
  FROM (
    SELECT ({hs}) % {SKEW_P_TASKS} AS task, sum(share) AS load
    FROM (
      SELECT p_brand, s,
             cnt // {SKEW_SALT_S}
               + CASE WHEN s < cnt % {SKEW_SALT_S} THEN 1 ELSE 0 END AS share
      FROM keys, (SELECT unnest(range({SKEW_SALT_S})) AS s) ss
    ) GROUP BY 1
  )
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM keys
)
SELECT n_rows, n_keys,
       CAST({SKEW_P_TASKS} AS BIGINT) AS p_tasks,
       n_rows // {SKEW_P_TASKS} AS mean_load,
       max_unsalted, max_salted, tasks_used_unsalted, tasks_used_salted,
       (1000 * max_unsalted) // (n_rows // {SKEW_P_TASKS}) AS skew_unsalted_milli,
       (1000 * max_salted) // (n_rows // {SKEW_P_TASKS}) AS skew_salted_milli
FROM tot, unsalted, salted
"""


SKEW_SALTING_ADVISOR_SQL = _skew_sql()

QUERIES["skew_salting_advisor"] = skew_salting_advisor
ORACLES["skew_salting_advisor"] = SKEW_SALTING_ADVISOR_SQL


# --- join_order_advisor: pick the 3-way join order from count tables ----------
# join_fanout_audit predicts ONE join's size; a 3-way join's cost is
# decided by which intermediate you materialize, and the advisor ranks
# the two left-deep orders for lineitem |><| orders |><| customer from
# key-count aggregates alone — the cardinality-estimation half of a
# cost-based optimizer, done EXACTLY instead of by sketch:
#   plan A: (li |><| o) |><| c   — intermediate = sum_k li(k) * o(k)
#   plan B: li |><| (o |><| c)   — intermediate = sum_k o(k) * c(k)
# The shared final size is also predicted (per-customer lineitem counts
# composed through the orders bridge — one count-table join, never the
# fact join) and emitted twice as the cross-check identity final_a =
# final_b; the recommendation is min(intermediate).  At 100 TB this is
# the difference between shuffling 6 rows per order or 1 — for the cost
# of three tiny aggregations.
def join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    li_k = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_li"))
    # orders are unique per orderkey; per-customer order multiplicity
    o_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_o"))
    c_k = c.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("n_c"))
    inter_a = (
        li_k.join(o, li_k.l_orderkey == o.o_orderkey)
        .agg(F.sum("n_li").cast("long").alias("ia"))
    )
    inter_b = (
        o_cust.join(c_k, o_cust.o_custkey == c_k.c_custkey)
        .agg(F.sum(F.col("n_o") * F.col("n_c")).cast("long").alias("ib"))
    )
    # final size: per-customer lineitem count (through the orders bridge)
    # times customer multiplicity — count tables only
    li_cust = (
        li_k.join(o, li_k.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("n_li").alias("n_lic"))
    )
    final_a = (
        li_cust.join(c_k, li_cust.o_custkey == c_k.c_custkey)
        .agg(F.sum(F.col("n_lic") * F.col("n_c")).cast("long").alias("fa"))
    )
    return (
        inter_a.crossJoin(F.broadcast(inter_b))
        .crossJoin(F.broadcast(final_a))
        .selectExpr(
            "ia AS intermediate_li_orders",
            "ib AS intermediate_orders_cust",
            "fa AS final_rows",
            "fa AS final_rows_check",
            "CASE WHEN ib < ia THEN 'li_join_(o_join_c)'"
            " ELSE '(li_join_o)_join_c' END AS recommended_order",
        )
    )


JOIN_ORDER_ADVISOR_SQL = """
WITH li_k AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_li
  FROM lineitem GROUP BY l_orderkey
), o_cust AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_o
  FROM orders GROUP BY o_custkey
), c_k AS (
  SELECT c_custkey, CAST(count(*) AS BIGINT) AS n_c
  FROM customer GROUP BY c_custkey
), ia AS (
  SELECT CAST(sum(n_li) AS BIGINT) AS ia
  FROM li_k JOIN orders ON l_orderkey = o_orderkey
), ib AS (
  SELECT CAST(sum(n_o * n_c) AS BIGINT) AS ib
  FROM o_cust JOIN c_k ON o_custkey = c_custkey
), li_cust AS (
  SELECT o_custkey, CAST(sum(n_li) AS BIGINT) AS n_lic
  FROM li_k JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey
), fa AS (
  SELECT CAST(sum(n_lic * n_c) AS BIGINT) AS fa
  FROM li_cust JOIN c_k ON o_custkey = c_custkey
)
SELECT ia AS intermediate_li_orders,
       ib AS intermediate_orders_cust,
       fa AS final_rows,
       fa AS final_rows_check,
       CASE WHEN ib < ia THEN 'li_join_(o_join_c)'
            ELSE '(li_join_o)_join_c' END AS recommended_order
FROM ia, ib, fa
"""

QUERIES["join_order_advisor"] = join_order_advisor
ORACLES["join_order_advisor"] = JOIN_ORDER_ADVISOR_SQL


# --- lpt_shard_scheduling: longest-processing-time task placement -------------
# The scheduler's half of the skew story (skew_salting_advisor diagnoses
# it; this PLACES the work): assign per-shard costs to W workers with
# the LPT greedy — sort shards by cost descending, give each to the
# currently least-loaded worker — the classic 4/3-approximation to
# minimum makespan.  The greedy is inherently sequential in the number
# of SHARDS (48 — state, not data; the cost table itself is one
# combinable agg over the facts), so it runs as the house stateful
# kernel over the 48-row compressed table, and the DuckDB oracle walks
# the identical recurrence as a WITH RECURSIVE carrying the eight
# worker loads as eight integer columns — the driver hash proves the
# kernel IS the recurrence.  Output pins every placement plus the
# makespan-vs-lower-bound ratio (lower bound = max(ceil(total/W),
# max shard)).
LPT_SHARDS = 48
LPT_WORKERS = 8


def lpt_shard_scheduling(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    costs = (
        _t(spark, sf_dir, "lineitem")
        .selectExpr(f"CAST(l_suppkey % {LPT_SHARDS} AS BIGINT) AS shard")
        .groupBy("shard")
        .agg(F.count(F.lit(1)).cast("long").alias("cost"))
        .withColumn("g", F.lit(1))
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["cost", "shard"], ascending=[False, True])
        loads = [0] * LPT_WORKERS
        out = []
        for shard, cost in zip(pdf["shard"], pdf["cost"]):
            w = min(range(LPT_WORKERS), key=lambda i: (loads[i], i))
            loads[w] += int(cost)
            out.append((int(shard), int(cost), w, loads[w]))
        return pd.DataFrame(
            out, columns=["shard", "cost", "worker", "load_after"]
        )

    placed = costs.groupBy("g").applyInPandas(
        run, schema="shard long, cost long, worker long, load_after long"
    )
    wall = W.partitionBy()
    return (
        placed.select(
            "shard",
            "cost",
            "worker",
            "load_after",
            F.max("load_after").over(wall).alias("makespan"),
            F.sum("cost").over(wall).alias("total"),
            F.max("cost").over(wall).alias("mx"),
        )
        .selectExpr(
            "shard",
            "cost",
            "worker",
            "load_after",
            "CAST(makespan AS BIGINT) AS makespan",
            f"CAST(greatest((total + {LPT_WORKERS - 1}) DIV {LPT_WORKERS}, mx)"
            " AS BIGINT) AS lower_bound",
            f"CAST((1000 * makespan) DIV greatest((total + {LPT_WORKERS - 1})"
            f" DIV {LPT_WORKERS}, mx) AS BIGINT) AS ratio_milli",
        )
        .orderBy("shard")
    )


def _lpt_sql() -> str:
    m = "least(" + ", ".join(f"w.w{i}" for i in range(LPT_WORKERS)) + ")"
    pick = "CASE " + " ".join(
        f"WHEN w.w{i} = {m} THEN {i}" for i in range(LPT_WORKERS)
    ) + " END"
    upd = ", ".join(
        f"CAST(CASE WHEN ({pick}) = {i} THEN w.w{i} + nxt.cost"
        f" ELSE w.w{i} END AS BIGINT) AS w{i}"
        for i in range(LPT_WORKERS)
    )
    seed_w = ", ".join(
        ("CAST(cost AS BIGINT) AS w0" if i == 0 else f"CAST(0 AS BIGINT) AS w{i}")
        for i in range(LPT_WORKERS)
    )
    return f"""
WITH RECURSIVE costs AS (
  SELECT CAST(l_suppkey % {LPT_SHARDS} AS BIGINT) AS shard,
         CAST(count(*) AS BIGINT) AS cost
  FROM lineitem GROUP BY 1
), seq AS (
  SELECT shard, cost,
         row_number() OVER (ORDER BY cost DESC, shard) AS rn
  FROM costs
), walk AS (
  SELECT rn, shard, cost, CAST(0 AS BIGINT) AS worker,
         cost AS load_after, {seed_w}
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT nxt.rn, nxt.shard, nxt.cost,
         CAST(({pick}) AS BIGINT) AS worker,
         {m} + nxt.cost AS load_after,
         {upd}
  FROM walk w JOIN seq nxt ON nxt.rn = w.rn + 1
), placed AS (
  SELECT shard, cost, worker, load_after FROM walk
), agg AS (
  SELECT max(load_after) AS makespan, sum(cost) AS total, max(cost) AS mx
  FROM placed
)
SELECT shard, cost, worker, load_after,
       CAST(makespan AS BIGINT) AS makespan,
       CAST(greatest((total + {LPT_WORKERS - 1}) // {LPT_WORKERS}, mx)
         AS BIGINT) AS lower_bound,
       CAST((1000 * makespan) // greatest((total + {LPT_WORKERS - 1})
         // {LPT_WORKERS}, mx) AS BIGINT) AS ratio_milli
FROM placed, agg
ORDER BY shard
"""


LPT_SHARD_SCHEDULING_SQL = _lpt_sql()

QUERIES["lpt_shard_scheduling"] = lpt_shard_scheduling
ORACLES["lpt_shard_scheduling"] = LPT_SHARD_SCHEDULING_SQL


# --- pvm_decomposition: why did the metric move? -----------------------------
# The root-cause question every revenue dashboard gets asked: the total
# moved — how much of the move is VOLUME (more orders), how much PRICE
# (higher average order), per segment?  The exact two-factor
# decomposition per segment g between periods 1 and 2:
#   dR_g = n2*p2 - n1*p1 = dn*p1 + n1*dp + dn*dp
# (volume effect at old price, price effect at old volume, joint term).
# Exactness discipline: average prices are RATIONALS, so effects are
# computed in cents from the sufficient statistics without ever forming
# the averages: dn*p1 = (n2-n1)*s1/n1 evaluated as ((n2-n1)*s1) DIV n1
# with the residue folded into the joint term so the per-segment
# identity volume+price+joint = dR_g holds EXACTLY (the emitted recon
# column proves it, and the segments sum to the grand delta by
# construction).  Periods are the corpus date-range halves (data-
# derived midpoint broadcast).  One scan, one (period, segment) agg.
# Overflow: n1 * s2 ~ 1.3e18 at SF1 stays in int64; past that the
# per-segment sums widen to DECIMAL(38,0) with the divisions restaged
# (the spearman/tfidf precedent).
def pvm_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS seg",
        "CAST(o_orderdate AS DATE) AS d",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
    )
    mid = o.agg(
        F.expr("date_add(min(d), CAST(datediff(max(d), min(d)) / 2 AS INT))").alias(
            "mid"
        )
    )
    per = (
        o.crossJoin(F.broadcast(mid))
        .selectExpr("seg", "CASE WHEN d < mid THEN 1 ELSE 2 END AS period", "cents")
        .groupBy("seg", "period")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s"),
        )
    )
    wide = per.groupBy("seg").agg(
        F.max(F.when(F.col("period") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("period") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("period") == 2, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("period") == 2, F.col("s"))).alias("s2"),
    )
    return wide.selectExpr(
        "seg",
        "n1",
        "n2",
        "s2 - s1 AS delta_cents",
        # volume effect at old average price (truncated); price effect at
        # old volume; the joint term absorbs BOTH truncation residues so
        # the three effects sum to delta exactly
        "((n2 - n1) * s1) DIV n1 AS volume_effect_cents",
        "(n1 * s2) DIV n2 - s1 AS price_effect_cents",
        "(s2 - s1) - (((n2 - n1) * s1) DIV n1)"
        " - ((n1 * s2) DIV n2 - s1) AS joint_effect_cents",
        "(s2 - s1) = (((n2 - n1) * s1) DIV n1)"
        " + ((n1 * s2) DIV n2 - s1)"
        " + ((s2 - s1) - (((n2 - n1) * s1) DIV n1)"
        "    - ((n1 * s2) DIV n2 - s1)) AS recon_ok",
    ).orderBy("seg")


PVM_DECOMPOSITION_SQL = """
WITH o AS (
  SELECT o_orderpriority AS seg, CAST(o_orderdate AS DATE) AS d,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), mid AS (
  SELECT min(d) + CAST(CAST(date_diff('day', min(d), max(d)) / 2 AS INT)
         AS INTEGER) AS mid
  FROM o
), per AS (
  SELECT seg, CASE WHEN d < mid THEN 1 ELSE 2 END AS period,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
  FROM o, mid GROUP BY 1, 2
), wide AS (
  SELECT seg,
         max(CASE WHEN period = 1 THEN n END) AS n1,
         max(CASE WHEN period = 1 THEN s END) AS s1,
         max(CASE WHEN period = 2 THEN n END) AS n2,
         max(CASE WHEN period = 2 THEN s END) AS s2
  FROM per GROUP BY seg
)
SELECT seg, n1, n2,
       s2 - s1 AS delta_cents,
       ((n2 - n1) * s1) // n1 AS volume_effect_cents,
       (n1 * s2) // n2 - s1 AS price_effect_cents,
       (s2 - s1) - (((n2 - n1) * s1) // n1)
         - ((n1 * s2) // n2 - s1) AS joint_effect_cents,
       (s2 - s1) = (((n2 - n1) * s1) // n1)
         + ((n1 * s2) // n2 - s1)
         + ((s2 - s1) - (((n2 - n1) * s1) // n1)
            - ((n1 * s2) // n2 - s1)) AS recon_ok
FROM wide
ORDER BY seg
"""

QUERIES["pvm_decomposition"] = pvm_decomposition
ORACLES["pvm_decomposition"] = PVM_DECOMPOSITION_SQL


# --- consistent_hash_balance: virtual nodes on the ring ------------------------
# The partitioning scheme behind every distributed KV/cache tier:
# workers own arcs of a hash ring, keys route to the next node
# clockwise, and the textbook result is that ONE token per worker
# balances terribly (arc lengths are exponential spacings, max/mean
# ~ln W) while V virtual tokens per worker tighten the spread by
# ~1/sqrt(V).  The op computes EXACT ownership, twice (V = 1 and
# V = 16), by sorting each ring's tokens and measuring arc lengths in
# 40-bit hash space (the wrap-around arc closed by the window's global
# first token), then aggregates per worker — all integer, one ~W*V-row
# window each.  Balance is reported as max/mean ownership in milli; the
# property test pins the V = 16 spread strictly inside the V = 1
# spread.
CH_WORKERS = 12
CH_VNODES = 16


def consistent_hash_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # workers derive from supplier ids so the ring is corpus-anchored
    h = _md5pl("concat(w, ':', v)", 10, "spark")
    workers = (
        _t(spark, sf_dir, "supplier")
        .selectExpr(f"CAST(s_suppkey % {CH_WORKERS} AS BIGINT) AS w")
        .distinct()
    )
    parts = []
    for vn, tag in ((1, "v01"), (CH_VNODES, "v16")):
        ring = workers.selectExpr(
            "w", f"explode(sequence(0, {vn - 1})) AS v"
        ).selectExpr("w", f"({h}) AS pos")
        wname = W.orderBy("pos")
        wall = W.partitionBy()
        arcs = ring.select(
            "w",
            "pos",
            (F.lead("pos", 1).over(wname)).alias("nxt"),
            F.min("pos").over(wall).alias("first_pos"),
        ).selectExpr(
            "w",
            # wrap-around: the last token owns up to 2^40 plus the arc
            # before the first token
            f"CASE WHEN nxt IS NULL THEN ({1 << 40} - pos) + first_pos"
            " ELSE nxt - pos END AS arc",
        )
        own = arcs.groupBy("w").agg(F.sum("arc").cast("long").alias("owned"))
        parts.append(
            own.agg(
                F.lit(tag).alias("ring"),
                F.count(F.lit(1)).cast("long").alias("n_workers"),
                F.max("owned").cast("long").alias("max_owned"),
                F.min("owned").cast("long").alias("min_owned"),
                F.sum("owned").cast("long").alias("total_owned"),
            ).selectExpr(
                "ring",
                "n_workers",
                "max_owned",
                "min_owned",
                "total_owned",
                f"CAST(total_owned = {1 << 40} AS BOOLEAN) AS ring_closed",
                "(1000 * max_owned) DIV (total_owned DIV n_workers)"
                " AS balance_milli",
            )
        )
    return parts[0].unionByName(parts[1]).orderBy("ring")


def _ch_sql() -> str:
    h = _md5pl("(w || ':' || v)", 10, "duck")

    def ring(vn: int, tag: str) -> str:
        return f"""
  SELECT '{tag}' AS ring,
         CAST(count(*) AS BIGINT) AS n_workers,
         CAST(max(owned) AS BIGINT) AS max_owned,
         CAST(min(owned) AS BIGINT) AS min_owned,
         CAST(sum(owned) AS BIGINT) AS total_owned,
         CAST(sum(owned) = {1 << 40} AS BOOLEAN) AS ring_closed,
         CAST((1000 * max(owned)) // (sum(owned) // count(*)) AS BIGINT)
           AS balance_milli
  FROM (
    SELECT w, CAST(sum(arc) AS BIGINT) AS owned
    FROM (
      SELECT w,
             CASE WHEN lead(pos) OVER (ORDER BY pos) IS NULL
                  THEN ({1 << 40} - pos) + min(pos) OVER ()
                  ELSE lead(pos) OVER (ORDER BY pos) - pos END AS arc
      FROM (
        SELECT w, ({h}) AS pos
        FROM (SELECT DISTINCT CAST(s_suppkey % {CH_WORKERS} AS BIGINT) AS w
              FROM supplier) ws,
             (SELECT unnest(range({vn})) AS v) vs
      )
    ) GROUP BY w
  )"""

    return (
        "SELECT * FROM (" + ring(1, "v01") + "\n  UNION ALL\n" + ring(CH_VNODES, "v16")
        + ") ORDER BY ring"
    )


CONSISTENT_HASH_BALANCE_SQL = _ch_sql()

QUERIES["consistent_hash_balance"] = consistent_hash_balance
ORACLES["consistent_hash_balance"] = CONSISTENT_HASH_BALANCE_SQL


# --- snapshot_asof_version: time travel through the CDC log -------------------
# cdc_compact_latest materializes HEAD; time travel is the same
# latest-wins compaction with the log truncated at an earlier version —
# `SELECT ... VERSION AS OF v` in Delta/Iceberg terms.  The op
# reconstructs the snapshot AS OF version 1 (after the first update
# wave, before wave 2 and the deletes) from the shared 4-version log
# recipe and emits the snapshot's audit (row count, status histogram
# pivot, exact cents total) PLUS the head audit beside it, so the hash
# pins both states and their drift.  Same single-max_by shape as the
# head compaction — time travel costs one version predicate, which is
# the point.
SNAPSHOT_ASOF_V = 1


def snapshot_asof_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    bp = _md5pl("CAST(o_orderkey AS STRING)", 4, "spark") + " % 10000"
    base = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_orderstatus",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
        f"({bp}) AS bp",
    )
    log = (
        base.selectExpr(
            "o_orderkey", "0L AS version", "'I' AS op", "o_orderstatus", "cents"
        )
        .unionByName(
            base.filter(F.col("bp") < CDC_U1_BP).selectExpr(
                "o_orderkey", "1L AS version", "'U' AS op",
                "'P' AS o_orderstatus", "cents + 500 AS cents",
            )
        )
        .unionByName(
            base.filter(F.col("bp") < CDC_U2_BP).selectExpr(
                "o_orderkey", "2L AS version", "'U' AS op",
                "'F' AS o_orderstatus", "cents + 1000 AS cents",
            )
        )
        .unionByName(
            base.filter(F.col("bp") >= CDC_DEL_BP).selectExpr(
                "o_orderkey", "3L AS version", "'D' AS op",
                "o_orderstatus", "0L AS cents",
            )
        )
    )

    def audit(upto: int, tag: str) -> DataFrame:
        snap = (
            log.where(F.col("version") <= upto)
            .groupBy("o_orderkey")
            .agg(F.max(F.struct("version", "op", "o_orderstatus", "cents")).alias("m"))
            .selectExpr(
                "o_orderkey", "m.op AS op", "m.o_orderstatus AS st",
                "m.cents AS cents",
            )
            .where("op != 'D'")
        )
        return snap.agg(
            F.lit(tag).alias("snapshot"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("st") == "P", 1).otherwise(0)).cast("long").alias("n_p"),
            F.sum(F.when(F.col("st") == "F", 1).otherwise(0)).cast("long").alias("n_f"),
            F.sum(F.when(F.col("st") == "O", 1).otherwise(0)).cast("long").alias("n_o"),
            F.sum("cents").cast("long").alias("total_cents"),
        )

    return (
        audit(SNAPSHOT_ASOF_V, f"1:asof_v{SNAPSHOT_ASOF_V}")
        .unionByName(audit(3, "2:head"))
        .orderBy("snapshot")
    )


def _asof_snapshot_sql() -> str:
    bp = _md5pl("CAST(o_orderkey AS VARCHAR)", 4, "duck") + " % 10000"
    return f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         ({bp}) AS bp
  FROM orders
), log AS MATERIALIZED (
  SELECT o_orderkey, CAST(0 AS BIGINT) AS version, 'I' AS op,
         o_orderstatus, cents FROM base
  UNION ALL
  SELECT o_orderkey, 1, 'U', 'P', cents + 500 FROM base WHERE bp < {CDC_U1_BP}
  UNION ALL
  SELECT o_orderkey, 2, 'U', 'F', cents + 1000 FROM base WHERE bp < {CDC_U2_BP}
  UNION ALL
  SELECT o_orderkey, 3, 'D', o_orderstatus, CAST(0 AS BIGINT)
  FROM base WHERE bp >= {CDC_DEL_BP}
), snaps AS (
  SELECT '1:asof_v{SNAPSHOT_ASOF_V}' AS snapshot, o_orderkey,
         max_by(op, version) AS op,
         max_by(o_orderstatus, version) AS st,
         max_by(cents, version) AS cents
  FROM log WHERE version <= {SNAPSHOT_ASOF_V} GROUP BY o_orderkey
  UNION ALL
  SELECT '2:head', o_orderkey, max_by(op, version), max_by(o_orderstatus, version),
         max_by(cents, version)
  FROM log GROUP BY o_orderkey
)
SELECT snapshot,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN st = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
       CAST(sum(CASE WHEN st = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(sum(CASE WHEN st = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM snaps WHERE op <> 'D'
GROUP BY snapshot
ORDER BY snapshot
"""


SNAPSHOT_ASOF_VERSION_SQL = _asof_snapshot_sql()

QUERIES["snapshot_asof_version"] = snapshot_asof_version
ORACLES["snapshot_asof_version"] = SNAPSHOT_ASOF_VERSION_SQL


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
