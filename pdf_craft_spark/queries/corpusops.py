"""Corpus-mining operators over the documents/part tables: positional
phrase search, exact OLS by normal equations, total-variation vocabulary
drift, dedup saturation curve, deterministic epoch shuffle, and chi-squared
discriminative terms.

House rules (statsq.py / stats2.py): every value-deciding intermediate is
an int64 (or a DECIMAL(38,0) product of int64s); doubles appear only in
the final projection as a single expression over identical exact inputs,
so both engines round the same IEEE result.  No transcendental functions
anywhere (the textops precedent: IDF is integer-ratio, not log) — the
drift metric is total variation (rational), not KL (ln), for exactly this
reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries.dedup import md5_prefix_long_sql
from pdf_craft_spark.sources import load_table as _t


QUERIES: dict = {}
ORACLES: dict = {}

_TOK_RE = "[a-z]+"


# --- positional phrase search ------------------------------------------------
# "Which documents contain the exact phrase 'table scan'?" answered the way
# a search engine answers it at 100 TB: single-term posting lists carrying
# positions, intersected with an equi-join on (doc_id, adjacent position).
# The fixed-phrase special case could be a bigram filter, but the
# index→join shape is the one that generalizes to query-time phrases over
# a PREBUILT index: the term filter pushes down to two posting lists (a
# tiny fraction of the index) and the join is a plain shuffle equi-join on
# doc_id — never a cartesian, never a full-text rescan.  Top-20 by
# (hits desc, doc_id) keeps the output bounded and deterministic.
PHRASE_A = "table"
PHRASE_B = "scan"
PHRASE_TOPK = 20


def phrase_query_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.expr(f"regexp_extract_all(text, '{_TOK_RE}', 0)")).alias(
            "pos", "term"
        ),
    )
    p1 = toks.where(F.col("term") == PHRASE_A).select("doc_id", F.col("pos").alias("p1"))
    p2 = toks.where(F.col("term") == PHRASE_B).select("doc_id", F.col("pos").alias("p2"))
    hits = (
        p1.join(p2, ["doc_id"])
        .where(F.col("p2") == F.col("p1") + 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    wk = W.orderBy(F.col("n_hits").desc(), F.col("doc_id"))
    return (
        hits.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= PHRASE_TOPK)
        .select("doc_id", "n_hits", F.col("rk").cast("int").alias("rk"))
    )


PHRASE_QUERY_POSITIONAL_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '{_TOK_RE}') AS ts FROM documents
), pos AS (
  SELECT doc_id, i - 1 AS pos, ts[i] AS term
  FROM toks CROSS JOIN unnest(range(1, len(ts) + 1)) AS r(i)
), hits AS (
  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM (SELECT doc_id, pos FROM pos WHERE term = '{PHRASE_A}') a
  JOIN (SELECT doc_id, pos FROM pos WHERE term = '{PHRASE_B}') b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY a.doc_id
)
SELECT doc_id, n_hits,
       CAST(row_number() OVER (ORDER BY n_hits DESC, doc_id) AS INT) AS rk
FROM hits
QUALIFY rk <= {PHRASE_TOPK}
"""

QUERIES["phrase_query_positional"] = phrase_query_positional
ORACLES["phrase_query_positional"] = PHRASE_QUERY_POSITIONAL_SQL


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
        F.explode(F.expr(f"regexp_extract_all(text, '{_TOK_RE}', 0)")).alias("t"),
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
  SELECT source, unnest(regexp_extract_all(text, '{_TOK_RE}')) AS t FROM documents
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


# --- dedup saturation curve --------------------------------------------------
# "How fast is the corpus running out of new content?" — the acquisition
# planning curve: bucket the ingest order (doc_id) into deciles and report
# per-bucket rows vs FIRST-OCCURRENCE uniques (min doc_id per exact text
# hash — the same one-agg shape as dedup_exact), then the cumulative
# duplicate rate.  The cumulative window runs over 10 bucket rows, never
# the data; the only data-sized shuffle is the hash groupBy.  Bucket
# boundaries come from a broadcast 1-row (max_id, n) — no global sort, no
# ntile over the corpus.
SAT_BUCKETS = 10


def dedup_saturation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    lim = docs.agg((F.max("doc_id") + 1).cast("long").alias("lim"))
    bucketed = docs.crossJoin(F.broadcast(lim)).selectExpr(
        "doc_id",
        "text",
        # integer division on both engines (Spark DIV / DuckDB //): the
        # double-cast route truncates in Spark but rounds in DuckDB
        f"CAST(least({SAT_BUCKETS - 1}, (doc_id * {SAT_BUCKETS}) DIV lim) AS INT) AS bucket",
    )
    rows = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    firsts = (
        bucketed.groupBy(F.md5("text").alias("h"))
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_unique"))
    )
    per = rows.join(firsts, "bucket", "left").selectExpr(
        "bucket", "n_rows", "CAST(coalesce(n_new_unique, 0) AS BIGINT) AS n_new_unique"
    )
    wc = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    return (
        per.select(
            "bucket",
            "n_rows",
            "n_new_unique",
            F.sum("n_rows").over(wc).cast("long").alias("cum_rows"),
            F.sum("n_new_unique").over(wc).cast("long").alias("cum_unique"),
        )
        .selectExpr(
            "bucket",
            "n_rows",
            "n_new_unique",
            "cum_rows",
            "cum_unique",
            """CAST(round(1000000.0 *
                 (CAST(cum_rows AS DOUBLE) - CAST(cum_unique AS DOUBLE))
                 / CAST(cum_rows AS DOUBLE)) AS BIGINT) AS cum_dup_micro""",
        )
        .orderBy("bucket")
    )


DEDUP_SATURATION_CURVE_SQL = f"""
WITH lim AS (
  SELECT CAST(max(doc_id) + 1 AS BIGINT) AS lim FROM documents
), bucketed AS (
  SELECT doc_id, text,
         CAST(least({SAT_BUCKETS - 1}, (doc_id * {SAT_BUCKETS}) // lim) AS INT) AS bucket
  FROM documents CROSS JOIN lim
), rows_b AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows FROM bucketed GROUP BY bucket
), firsts AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_new_unique
  FROM (SELECT md5(text) AS h, min(bucket) AS bucket FROM bucketed GROUP BY md5(text))
  GROUP BY bucket
), per AS (
  SELECT r.bucket, r.n_rows,
         CAST(coalesce(f.n_new_unique, 0) AS BIGINT) AS n_new_unique
  FROM rows_b r LEFT JOIN firsts f ON r.bucket = f.bucket
), cum AS (
  SELECT bucket, n_rows, n_new_unique,
         CAST(sum(n_rows) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rows,
         CAST(sum(n_new_unique) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_unique
  FROM per
)
SELECT bucket, n_rows, n_new_unique, cum_rows, cum_unique,
       CAST(round(1000000.0 *
         (CAST(cum_rows AS DOUBLE) - CAST(cum_unique AS DOUBLE))
         / CAST(cum_rows AS DOUBLE)) AS BIGINT) AS cum_dup_micro
FROM cum
ORDER BY bucket
"""

QUERIES["dedup_saturation_curve"] = dedup_saturation_curve
ORACLES["dedup_saturation_curve"] = DEDUP_SATURATION_CURVE_SQL


# --- deterministic epoch shuffle ---------------------------------------------
# Training-epoch shuffling done without a global sort: shard =
# md5(seed‖doc_id) % N_SHUFFLE_SHARDS routes rows (ONE hash shuffle), and
# the within-shard position sorts by the remaining hash bits — each shard
# sorts independently, so the "global shuffle" is N parallel shard-local
# sorts exactly like pack_training_sequences' shard windows.  Changing the
# epoch seed re-deals the entire permutation; the same seed replays it
# byte-identically (restart/resume safe).  Complements assign_global_ids
# (which orders by KEY for stable ids); this orders by HASH for decorrelated
# batches.
EPOCH_SEED = "epoch-1"
N_SHUFFLE_SHARDS = 64


def epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = md5_prefix_long_sql(
        f"concat('{EPOCH_SEED}:', CAST(doc_id AS STRING))", 15, "spark"
    )
    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{key} AS hkey"
    ).selectExpr(
        "doc_id", "hkey", f"CAST(hkey % {N_SHUFFLE_SHARDS} AS INT) AS shard"
    )
    return docs.select(
        "doc_id",
        "shard",
        F.row_number()
        .over(W.partitionBy("shard").orderBy("hkey", "doc_id"))
        .alias("pos"),
    ).select("doc_id", "shard", F.col("pos").cast("int").alias("pos"))


_DUCK_EPOCH_KEY = md5_prefix_long_sql(
    f"concat('{EPOCH_SEED}:', CAST(doc_id AS VARCHAR))", 15, "duck"
)

EPOCH_SHUFFLE_PLAN_SQL = f"""
WITH keyed AS (
  SELECT doc_id, {_DUCK_EPOCH_KEY} AS hkey FROM documents
), sharded AS (
  SELECT doc_id, hkey, CAST(hkey % {N_SHUFFLE_SHARDS} AS INT) AS shard FROM keyed
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY hkey, doc_id) AS INT) AS pos
FROM sharded
"""

QUERIES["epoch_shuffle_plan"] = epoch_shuffle_plan
ORACLES["epoch_shuffle_plan"] = EPOCH_SHUFFLE_PLAN_SQL


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
        F.explode(F.expr(f"regexp_extract_all(text, '{_TOK_RE}', 0)")).alias("t"),
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
    wk = W.partitionBy("source").orderBy(F.col("chi2_micro").desc(), F.col("t"))
    return (
        scored.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= CHI2_TOPK)
        .select(
            "source", F.col("rk").cast("int").alias("rk"), "t", "a", "chi2_micro"
        )
        .orderBy("source", "rk")
    )


CHI2_TERMS_BY_SOURCE_SQL = f"""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(text, '{_TOK_RE}')) AS t FROM documents
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
