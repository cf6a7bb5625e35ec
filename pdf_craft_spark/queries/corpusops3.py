"""Third corpus-mining batch: exact median-absolute-deviation, k-truss
edge support, temperature-scaled mixture weights, asymmetric containment
on LSH candidates, and keyword-in-context mining.

House rules as before: int64-exact value path, integer division via
Spark ``DIV`` / DuckDB ``//``, any sqrt/round confined to one final
projection expression over identical exact inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries import dedup
from pdf_craft_spark.queries.dedup import (
    DEDUP_MINHASH_LSH_SQL,
    _SHINGLES_DUCK,
    lsh_pairs_cached,
    shingles_cached,
)
from pdf_craft_spark.sources import load_table as _t


QUERIES: dict = {}
ORACLES: dict = {}


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


# --- k-truss edge support ----------------------------------------------------
# The k-truss primitive the k-core op doesn't cover: per-EDGE triangle
# support (an edge is in the k-truss iff it participates in ≥ k−2
# triangles; iterative peeling then just re-runs this count on the
# surviving subgraph).  Graph = the co-purchase part graph (parts sharing
# ≥2 orders — the sssp edge rule).  Wedges are enumerated from the
# center vertex with both endpoints ordered (u < v), so each triangle
# contributes each of its edges exactly once; the wedge→edge leftsemi-free
# inner join keeps only wedges that close.  At scale the standard
# degree-orientation refinement bounds the wedge fan-out by the
# arboricity; here the support-≥2 edge rule already caps degrees.  Top-50
# edges by support keeps output bounded.
TRUSS_TOPK = 50


def basket_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact: the deduped (l_orderkey, l_partkey) basket table
    — the one input the whole market-basket / co-purchase-graph family
    (pairs, triples, recsys, sssp, link prediction, truss, assortativity)
    derives from.  At prod this is a written table of the basket-prep
    job; here the scan+distinct runs once per session instead of once
    per consumer (guide §2.4: shared exchange)."""
    return dedup.session_artifact(
        spark,
        f"basket:{sf_dir}",
        lambda: _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
    )


def copurchase_sup_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact: undirected co-purchase edges (u < v) with their
    support, support >= 2 — the one edge rule sssp / link prediction /
    edge support / assortativity / market-basket all share (three copies
    of this recipe used to drift independently; now there is one)."""
    def build() -> DataFrame:
        basket = basket_cached(spark, sf_dir)
        a, b = basket.alias("a"), basket.alias("b")
        return (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
            .agg(F.count(F.lit(1)).alias("sup"))
            .filter(F.col("sup") >= 2)
        )

    return dedup.session_artifact(spark, f"copurchase_sup:{sf_dir}", build)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return copurchase_sup_cached(spark, sf_dir).select("u", "v")


def graph_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = _copurchase_edges(spark, sf_dir)
    adj = und.selectExpr("u AS w", "v AS x").unionAll(und.selectExpr("v AS w", "u AS x"))
    wedges = (
        adj.selectExpr("w", "x AS eu")
        .join(adj.selectExpr("w", "x AS ev"), "w")
        .where(F.col("eu") < F.col("ev"))
        .select("eu", "ev")
    )
    support = (
        wedges.join(und.selectExpr("u AS eu", "v AS ev"), ["eu", "ev"])
        .groupBy("eu", "ev")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    wk = W.orderBy(F.col("support").desc(), F.col("eu"), F.col("ev"))
    return (
        support.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= TRUSS_TOPK)
        .selectExpr(
            "CAST(rk AS INT) AS rk",
            "eu AS part_a",
            "ev AS part_b",
            "support",
            "CAST(support + 2 AS BIGINT) AS max_truss",
        )
        .orderBy("rk")
    )


GRAPH_EDGE_SUPPORT_SQL = f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
), adj AS (
  SELECT u AS w, v AS x FROM und UNION ALL SELECT v AS w, u AS x FROM und
), wedges AS (
  SELECT a1.x AS eu, a2.x AS ev
  FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.x < a2.x
), support AS (
  SELECT w.eu, w.ev, CAST(count(*) AS BIGINT) AS support
  FROM wedges w JOIN und ON und.u = w.eu AND und.v = w.ev
  GROUP BY w.eu, w.ev
)
SELECT CAST(row_number() OVER (ORDER BY support DESC, eu, ev) AS INT) AS rk,
       eu AS part_a, ev AS part_b, support,
       CAST(support + 2 AS BIGINT) AS max_truss
FROM support
QUALIFY rk <= {TRUSS_TOPK}
ORDER BY rk
"""

QUERIES["graph_edge_support"] = graph_edge_support
ORACLES["graph_edge_support"] = GRAPH_EDGE_SUPPORT_SQL


# --- temperature-scaled mixture weights --------------------------------------
# The sampling-weight table a multi-source training run actually loads:
# per source, the proportional weight (T=1), the temperature-flattened
# weight at T=2 (∝ √n — the standard multilingual/multi-source rebalance),
# and the uniform weight (T→∞).  √n is rounded to an int64 micro PER
# SOURCE ROW first, and the normalizing sum runs over those integers — so
# the final shares are ratios of exact integers, immune to float-sum
# ordering.  The only data-sized work is the source count aggregate; the
# weight table itself is sources-sized (bounded).
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    ns = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .selectExpr(
            "source",
            "n_docs",
            "CAST(round(1000000.0 * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"
            " AS sqrt_micro",
        )
    )
    tot = ns.agg(
        F.sum("n_docs").cast("long").alias("n_tot"),
        F.sum("sqrt_micro").cast("long").alias("sqrt_tot"),
        F.count(F.lit(1)).cast("long").alias("n_src"),
    )
    return (
        ns.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n_docs",
            """CAST(round(1000000.0 * CAST(n_docs AS DOUBLE)
                 / CAST(n_tot AS DOUBLE)) AS BIGINT) AS w_prop_micro""",
            """CAST(round(1000000.0 * CAST(sqrt_micro AS DOUBLE)
                 / CAST(sqrt_tot AS DOUBLE)) AS BIGINT) AS w_t2_micro""",
            "CAST(1000000 DIV n_src AS BIGINT) AS w_uniform_micro",
        )
        .orderBy("source")
    )


TEMPERATURE_MIXTURE_WEIGHTS_SQL = """
WITH ns AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(round(1000000.0 * sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)
           AS sqrt_micro
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n_tot,
         CAST(sum(sqrt_micro) AS BIGINT) AS sqrt_tot,
         CAST(count(*) AS BIGINT) AS n_src
  FROM ns
)
SELECT source, n_docs,
       CAST(round(1000000.0 * CAST(n_docs AS DOUBLE)
         / CAST(n_tot AS DOUBLE)) AS BIGINT) AS w_prop_micro,
       CAST(round(1000000.0 * CAST(sqrt_micro AS DOUBLE)
         / CAST(sqrt_tot AS DOUBLE)) AS BIGINT) AS w_t2_micro,
       CAST(1000000 // n_src AS BIGINT) AS w_uniform_micro
FROM ns CROSS JOIN tot
ORDER BY source
"""

QUERIES["temperature_mixture_weights"] = temperature_mixture_weights
ORACLES["temperature_mixture_weights"] = TEMPERATURE_MIXTURE_WEIGHTS_SQL


# --- asymmetric containment on LSH candidates --------------------------------
# Jaccard misses near-SUPERSET duplication (a doc wrapping another doc
# plus boilerplate scores low on Jaccard but 1.0 on containment
# C(A→B) = |sh(A)∩sh(B)| / |sh(A)|).  Candidates come from the SAME
# minhash-LSH band index as dedup_minhash_lsh — never all-pairs — then
# the exact shingle intersection runs only over candidate pairs (join
# through the pair list), and both directions are emitted.  Integer
# ratio in micro; top-20 by (containment, a, b) bounds the output.
CONTAIN_TOPK = 20


def dedup_containment_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    # the session shingle artifact is already distinct per (doc_id, sh)
    sh = shingles_cached(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    inter = (
        pairs.join(sh.selectExpr("doc_id AS doc_a", "sh"), "doc_a")
        .join(sh.selectExpr("doc_id AS doc_b", "sh"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    both = (
        inter.selectExpr("doc_a AS a", "doc_b AS b", "n_inter")
        .unionAll(inter.selectExpr("doc_b AS a", "doc_a AS b", "n_inter"))
        .join(F.broadcast(sizes).selectExpr("doc_id AS a", "n_sh AS n_a"), "a")
    )
    scored = both.selectExpr(
        "a",
        "b",
        "n_inter",
        "n_a",
        "CAST((1000000 * n_inter) DIV n_a AS BIGINT) AS containment_micro",
    )
    wk = W.orderBy(F.col("containment_micro").desc(), F.col("a"), F.col("b"))
    return (
        scored.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= CONTAIN_TOPK)
        .selectExpr("CAST(rk AS INT) AS rk", "a", "b", "n_inter", "n_a", "containment_micro")
        .orderBy("rk")
    )


def _containment_sql() -> str:
    return f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_LSH_SQL})
), sh AS (
  SELECT doc_id, unnest(shingles) AS sh FROM ({_SHINGLES_DUCK})
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.doc_a
  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
  GROUP BY p.doc_a, p.doc_b
), bidir AS (
  SELECT doc_a AS a, doc_b AS b, n_inter FROM inter
  UNION ALL
  SELECT doc_b AS a, doc_a AS b, n_inter FROM inter
), scored AS (
  SELECT bidir.a, bidir.b, bidir.n_inter, sizes.n_sh AS n_a,
         CAST((1000000 * bidir.n_inter) // sizes.n_sh AS BIGINT)
           AS containment_micro
  FROM bidir JOIN sizes ON sizes.doc_id = bidir.a
)
SELECT CAST(row_number() OVER (ORDER BY containment_micro DESC, a, b) AS INT) AS rk,
       a, b, n_inter, n_a, containment_micro
FROM scored
QUALIFY rk <= {CONTAIN_TOPK}
ORDER BY rk
"""


QUERIES["dedup_containment_topk"] = dedup_containment_topk
ORACLES["dedup_containment_topk"] = _containment_sql()


# --- keyword-in-context mining -----------------------------------------------
# Concordance over the rare 'dup' marker token: for every occurrence, the
# (previous, next) token context via per-document positional windows, then
# the top contexts by frequency — the quick forensic view of HOW a marker
# appears in a corpus (boilerplate template vs organic use).  Document
# boundaries emit '^' / '$' sentinels.  Per-doc windows keep the lag/lead
# local; the only global structure is the bounded top-k.
KWIC_TERM = "dup"
KWIC_TOPK = 20


def kwic_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.expr("regexp_extract_all(text, '[a-z]+', 0)")).alias(
            "pos", "t"
        ),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    ctx = (
        toks.select(
            "t",
            F.coalesce(F.lag("t").over(w), F.lit("^")).alias("prev_t"),
            F.coalesce(F.lead("t").over(w), F.lit("$")).alias("next_t"),
        )
        .where(F.col("t") == KWIC_TERM)
        .groupBy("prev_t", "next_t")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wk = W.orderBy(F.col("cnt").desc(), F.col("prev_t"), F.col("next_t"))
    return (
        ctx.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= KWIC_TOPK)
        .selectExpr("CAST(rk AS INT) AS rk", "prev_t", "next_t", "cnt")
        .orderBy("rk")
    )


KWIC_CONTEXTS_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '[a-z]+') AS ts FROM documents
), pos AS (
  SELECT doc_id, CAST(i AS INT) AS pos, ts[i] AS t
  FROM toks CROSS JOIN unnest(range(1, len(ts) + 1)) AS r(i)
), ctx AS (
  SELECT prev_t, next_t, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT t,
               coalesce(lag(t) OVER w, '^') AS prev_t,
               coalesce(lead(t) OVER w, '$') AS next_t
        FROM pos
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
  WHERE t = '{KWIC_TERM}'
  GROUP BY prev_t, next_t
)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, prev_t, next_t) AS INT) AS rk,
       prev_t, next_t, cnt
FROM ctx
QUALIFY rk <= {KWIC_TOPK}
ORDER BY rk
"""

QUERIES["kwic_contexts"] = kwic_contexts
ORACLES["kwic_contexts"] = KWIC_CONTEXTS_SQL
