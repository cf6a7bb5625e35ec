"""Index-construction operators: an inverted text index (the search/
retrieval build step every corpus pipeline eventually needs) and a
Z-order space-filling-curve clustering key (the Delta/Iceberg
``OPTIMIZE ZORDER BY`` layout primitive, computed engine-neutrally).

Both are pure Catalyst — no Python in the data path — and both are
integer/ASCII-exact so the DuckDB oracle matches hash-for-hash.  So are
the positional phrase search over postings and the row-major / Z-order /
Hilbert locality comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries.dedup import top_k
from pdf_craft_spark.queries.textops import IDF_SCALE
from pdf_craft_spark.sources import load_table as _t


# --- inverted index ---------------------------------------------------------
# term -> (document frequency, collection frequency, first-K posting list).
# Tokens are ASCII-only words ([A-Za-z]{3,}) extracted BEFORE lowercasing,
# so unicode case-mapping divergence between the JVM and DuckDB never
# enters (the house tokenization rule from keyword_tfidf_topk).  The
# dataflow is the scalable index-build shape: explode -> per-(term,doc)
# count (first shuffle, the only one that sees token volume) -> per-term
# aggregate with a row_number cap on the materialized posting list.  df/cf
# are counted over ALL docs; only the *stored* posting list is capped at
# POSTINGS_CAP ids (ascending doc_id), so a hot stopword term costs one
# aggregate row, never an unbounded array.  DF_MIN trims the hapax tail
# from the output (the full index would simply skip the HAVING).
POSTINGS_CAP = 20
DF_MIN = 5
_TOKEN_RE = "[A-Za-z]{3,}"


def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(f"regexp_extract_all(text, '{_TOKEN_RE}', 0)")).alias("t"),
    ).select("doc_id", F.lower("t").alias("term"))
    td = toks.groupBy("term", "doc_id").agg(F.count("*").alias("cnt"))
    rk = td.withColumn(
        "r", F.row_number().over(W.partitionBy("term").orderBy("doc_id"))
    )
    return (
        rk.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum("cnt").alias("cf"),
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("r") <= POSTINGS_CAP, F.col("doc_id"))
                    )
                ).cast("array<string>"),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= DF_MIN)
        .selectExpr(
            "term",
            "CAST(df AS BIGINT) AS df",
            "CAST(cf AS BIGINT) AS cf",
            "postings",
        )
        .orderBy("term")
    )


INVERTED_INDEX_POSTINGS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         lower(unnest(regexp_extract_all(text, '{_TOKEN_RE}'))) AS term
  FROM documents
), td AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY 1, 2
), rk AS (
  SELECT term, doc_id, cnt,
         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS r
  FROM td
)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(cnt) AS BIGINT) AS cf,
       string_agg(CASE WHEN r <= {POSTINGS_CAP} THEN CAST(doc_id AS VARCHAR) END,
                  ',' ORDER BY doc_id) AS postings
FROM rk
GROUP BY 1
HAVING count(*) >= {DF_MIN}
ORDER BY term
"""


# --- Z-order clustering key -------------------------------------------------
# Bit-interleaved (custkey, order-day) Morton code — the multi-dimensional
# clustering key behind Delta/Iceberg ``OPTIMIZE ZORDER BY``: sorting by z
# gives range-scan locality on BOTH dimensions at once, so a predicate on
# either column prunes most files.  The interleave is a generated 16-term
# shift/mask sum rendered per-engine (Spark shiftleft/shiftright functions,
# DuckDB << >> operators — same integer semantics, value-identical), i.e.
# pure whole-stage-codegen arithmetic per row.  The output aggregates the
# per-row keys into the file-level summary a layout optimizer actually
# uses: for each z-range bucket (z >> 18 — sized to the synthetic key
# domain; a planner would pick the shift from the target file count), the
# row count and the
# min/max of both source dimensions — tight per-bucket dimension ranges
# ARE the demonstrated clustering win (each "file" prunes on both
# o_custkey and o_orderdate).
ZBITS = 16
Z_EPOCH = "1995-01-01"


def _zorder_terms(x: str, y: str, engine: str) -> str:
    terms = []
    for i in range(ZBITS):
        if engine == "spark":
            terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_cluster_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").selectExpr(
        "CAST(o_custkey & 65535 AS BIGINT) AS x",
        f"CAST(datediff(CAST(o_orderdate AS DATE), DATE '{Z_EPOCH}')"
        " & 65535 AS BIGINT) AS y",
    )
    z = orders.selectExpr(
        "x", "y", f"CAST({_zorder_terms('x', 'y', 'spark')} AS BIGINT) AS z"
    )
    return (
        z.groupBy(F.expr("CAST(z DIV 262144 AS BIGINT)").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("z").alias("min_z"),
            F.max("z").alias("max_z"),
            F.min("x").alias("min_cust"),
            F.max("x").alias("max_cust"),
            F.min("y").alias("min_day"),
            F.max("y").alias("max_day"),
        )
        .selectExpr(
            "bucket",
            "CAST(n AS BIGINT) AS n",
            "CAST(min_z AS BIGINT) AS min_z",
            "CAST(max_z AS BIGINT) AS max_z",
            "CAST(min_cust AS BIGINT) AS min_cust",
            "CAST(max_cust AS BIGINT) AS max_cust",
            "CAST(min_day AS BIGINT) AS min_day",
            "CAST(max_day AS BIGINT) AS max_day",
        )
        .orderBy("bucket")
    )


ZORDER_CLUSTER_KEY_SQL = f"""
WITH base AS (
  SELECT CAST(o_custkey & 65535 AS BIGINT) AS x,
         CAST(date_diff('day', DATE '{Z_EPOCH}', CAST(o_orderdate AS DATE))
              & 65535 AS BIGINT) AS y
  FROM orders
), zz AS (
  SELECT x, y, CAST({_zorder_terms('x', 'y', 'duck')} AS BIGINT) AS z
  FROM base
)
SELECT CAST(z // 262144 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(z) AS BIGINT) AS min_z,
       CAST(max(z) AS BIGINT) AS max_z,
       CAST(min(x) AS BIGINT) AS min_cust,
       CAST(max(x) AS BIGINT) AS max_cust,
       CAST(min(y) AS BIGINT) AS min_day,
       CAST(max(y) AS BIGINT) AS max_day
FROM zz
GROUP BY 1
ORDER BY bucket
"""


QUERIES = {
    "inverted_index_postings": inverted_index_postings,
    "zorder_cluster_key": zorder_cluster_key,
}

ORACLES = {
    "inverted_index_postings": INVERTED_INDEX_POSTINGS_SQL,
    "zorder_cluster_key": ZORDER_CLUSTER_KEY_SQL,
}


# --- spatial grid join ---------------------------------------------------------
# The spatial-join primitive done the scalable way: points bucket into
# R-sized grid cells, each point probes its own + 8 neighbor cells via an
# EQUI-join on cell id (the spatial analogue of LSH multiprobe), and the
# exact integer distance test runs only inside candidate cells — never an
# all-pairs surface.  Coordinates are md5-derived integers and the radius
# test is dist² ≤ R² in BIGINT, so both engines agree exactly (no float
# geometry).  The oracle is the INDEPENDENT quadratic formulation (join
# on the distance predicate alone), so a green hash proves the grid
# decomposition finds exactly the true neighbor set — cell-boundary pairs
# included.  Output is the neighbor-count histogram: any missed or
# duplicated pair shifts it.
# Scale: one narrow projection (coords), one cell equi-join with 9x probe
# fan-out on one side, per-cell candidate work bounded by density x R²;
# at 10^12 points you'd bucket-partition by cell — the same plan.
SPATIAL_EXTENT = 100_000
SPATIAL_R = 1_500


def spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    E, R = SPATIAL_EXTENT, SPATIAL_R
    pts = (
        _t(spark, sf_dir, "customer")
        .selectExpr(
            "c_custkey AS id",
            f"CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 1, 6), 16, 10) AS BIGINT) % {E} AS x",
            f"CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 7, 6), 16, 10) AS BIGINT) % {E} AS y",
        )
        .selectExpr("id", "x", "y", f"x DIV {R} AS cx", f"y DIV {R} AS cy")
        .localCheckpoint(eager=True)  # probe side and build side; = written table
    )
    probes = pts.selectExpr(
        "id AS id_a",
        "x AS xa",
        "y AS ya",
        "explode(sequence(cx - 1, cx + 1)) AS pcx",
        "cy",
    ).selectExpr("id_a", "xa", "ya", "pcx", "explode(sequence(cy - 1, cy + 1)) AS pcy")
    pairs = (
        probes.join(
            pts.selectExpr("id AS id_b", "x AS xb", "y AS yb", "cx", "cy AS cyb"),
            (F.col("pcx") == F.col("cx")) & (F.col("pcy") == F.col("cyb")),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
            + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            <= F.lit(R * R)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    counts = (
        pairs.selectExpr("id_a AS id").unionAll(pairs.selectExpr("id_b AS id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_neighbors"))
    )
    all_pts = pts.select("id").join(counts, "id", "left").selectExpr(
        "coalesce(n_neighbors, 0) AS n_neighbors"
    )
    return (
        all_pts.groupBy("n_neighbors")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .selectExpr("CAST(n_neighbors AS BIGINT) AS n_neighbors", "n_points")
        .orderBy("n_neighbors")
    )


SPATIAL_GRID_JOIN_SQL = f"""
WITH pts AS (
  SELECT c_custkey AS id,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT) % {SPATIAL_EXTENT} AS x,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 7, 6)) AS BIGINT) % {SPATIAL_EXTENT} AS y
  FROM customer
), pairs AS (
  -- the INDEPENDENT quadratic truth: distance predicate only, no grid
  SELECT a.id AS id_a, b.id AS id_b
  FROM pts a JOIN pts b
    ON a.id < b.id
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {SPATIAL_R * SPATIAL_R}
), counts AS (
  SELECT id, count(*) AS n_neighbors FROM (
    SELECT id_a AS id FROM pairs UNION ALL SELECT id_b AS id FROM pairs
  ) GROUP BY 1
)
SELECT CAST(coalesce(c.n_neighbors, 0) AS BIGINT) AS n_neighbors,
       CAST(count(*) AS BIGINT) AS n_points
FROM pts p LEFT JOIN counts c USING (id)
GROUP BY 1 ORDER BY 1
"""

QUERIES["spatial_grid_join"] = spatial_grid_join
ORACLES["spatial_grid_join"] = SPATIAL_GRID_JOIN_SQL


# --- conjunctive retrieval over the inverted index ----------------------------
# The QUERY side of inverted_index_postings: an AND-of-terms retrieval.
# Query terms are picked deterministically FROM the corpus statistics
# (document-frequency ranks 5/10/15 — frequent enough that the AND
# intersection is non-empty at every sf, selective enough to rank) and broadcast onto the term-doc table; a
# doc matches when it contains ALL query terms, ranked by total tf.
# Scale: the term-doc table is the persisted index (localCheckpoint here;
# one token-volume shuffle to build); retrieval itself touches only the
# query terms' postings via a broadcast semi-join — the big table never
# reshuffles per query, which is the entire point of an inverted index.
CONJ_DF_RANKS = (5, 10, 15)


def index_conjunctive_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(f"regexp_extract_all(text, '{_TOKEN_RE}', 0)")).alias("t"),
    ).select("doc_id", F.lower("t").alias("term"))
    td = (
        toks.groupBy("term", "doc_id")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)  # the index table: built once, probed
    )
    qterms = (
        td.groupBy("term")
        .agg(F.count("*").alias("df"))
        .withColumn(
            "r", F.row_number().over(W.orderBy(F.desc("df"), F.asc("term")))
        )
        .filter(F.col("r").isin(*CONJ_DF_RANKS))
        .select("term")
    )
    hits = td.join(F.broadcast(qterms), "term")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("term").alias("m"),
            F.sum("cnt").alias("tf_total"),
        )
        .filter(F.col("m") == len(CONJ_DF_RANKS))
        .selectExpr("doc_id", "CAST(tf_total AS BIGINT) AS tf_total")
        .orderBy(F.desc("tf_total"), F.asc("doc_id"))
    )


INDEX_CONJUNCTIVE_QUERY_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         lower(unnest(regexp_extract_all(text, '{_TOKEN_RE}'))) AS term
  FROM documents
), td AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY 1, 2
), qterms AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY count(*) DESC, term) AS r
    FROM td GROUP BY term
  ) WHERE r IN {CONJ_DF_RANKS}
)
SELECT td.doc_id, CAST(sum(td.cnt) AS BIGINT) AS tf_total
FROM td JOIN qterms USING (term)
GROUP BY td.doc_id
HAVING count(DISTINCT td.term) = {len(CONJ_DF_RANKS)}
ORDER BY tf_total DESC, doc_id ASC
"""

QUERIES["index_conjunctive_query"] = index_conjunctive_query
ORACLES["index_conjunctive_query"] = INDEX_CONJUNCTIVE_QUERY_SQL


# --- Hilbert-curve clustering key ----------------------------------------------
# The second multi-dimensional layout key (Delta OPTIMIZE supports both
# ZORDER and Hilbert clustering; Hilbert preserves locality strictly
# better — every unit step on the curve is a unit step in space, where
# Morton order takes long diagonal jumps at quadrant boundaries).  The
# canonical xy2d walk (one rotate/reflect per bit level) unrolls into
# HBITS chained projections of pure integer CASE/shift/xor arithmetic —
# rendered per-engine by one shared generator, whole-stage codegen on the
# Spark side, value-identical in DuckDB.  The step decomposition
# (rx/ry from the CURRENT rotated coords, flip against the FULL grid
# N-1) is proved equal to the canonical loop for all points in
# tests/test_hilbert.py.  Output is the same file-level summary as the
# Z-order op: per key-range bucket, row count and tight min/max of both
# source dimensions — directly comparable bucket-for-bucket against
# zorder_cluster_key on identical inputs.
HBITS = 8
HN = 1 << HBITS
HBUCKET = (HN * HN) // 16


def _hilbert_step(b: int, engine: str) -> tuple[str, str, str]:
    s = 1 << b
    rx = f"((x >> {b}) & 1)"
    ry = f"((y >> {b}) & 1)"
    if engine == "spark":
        g = f"((3 * {rx}) ^ {ry})"
    else:
        g = f"xor(3 * {rx}, {ry})"
    d = f"d + {s * s} * {g}"
    nx = (
        f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1"
        f" THEN {HN - 1} - y ELSE y END) ELSE x END"
    )
    ny = (
        f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1"
        f" THEN {HN - 1} - x ELSE x END) ELSE y END"
    )
    return d, nx, ny


def hilbert_cluster_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _t(spark, sf_dir, "orders").selectExpr(
        f"CAST(o_custkey & {HN - 1} AS BIGINT) AS x0",
        f"CAST(datediff(CAST(o_orderdate AS DATE), DATE '{Z_EPOCH}')"
        f" & {HN - 1} AS BIGINT) AS y0",
    )
    df = base.selectExpr("x0", "y0", "x0 AS x", "y0 AS y", "CAST(0 AS BIGINT) AS d")
    for b in range(HBITS - 1, -1, -1):
        d, nx, ny = _hilbert_step(b, "spark")
        df = df.selectExpr(
            "x0", "y0", f"{nx} AS x", f"{ny} AS y", f"{d} AS d"
        )
    return (
        df.groupBy(F.expr(f"CAST(d DIV {HBUCKET} AS BIGINT)").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
            F.min("x0").alias("min_cust"),
            F.max("x0").alias("max_cust"),
            F.min("y0").alias("min_day"),
            F.max("y0").alias("max_day"),
        )
        .selectExpr(
            "bucket",
            "CAST(n AS BIGINT) AS n",
            "CAST(min_d AS BIGINT) AS min_d",
            "CAST(max_d AS BIGINT) AS max_d",
            "CAST(min_cust AS BIGINT) AS min_cust",
            "CAST(max_cust AS BIGINT) AS max_cust",
            "CAST(min_day AS BIGINT) AS min_day",
            "CAST(max_day AS BIGINT) AS max_day",
        )
        .orderBy("bucket")
    )


def _hilbert_duck_ctes() -> str:
    steps = []
    prev = "base"
    for i, b in enumerate(range(HBITS - 1, -1, -1)):
        d, nx, ny = _hilbert_step(b, "duck")
        steps.append(
            f"s{i} AS (SELECT x0, y0, {nx} AS x, {ny} AS y, {d} AS d"
            f" FROM {prev})"
        )
        prev = f"s{i}"
    return ", ".join(steps), prev


_H_CTES, _H_LAST = _hilbert_duck_ctes()

HILBERT_CLUSTER_KEY_SQL = f"""
WITH base AS (
  SELECT CAST(o_custkey & {HN - 1} AS BIGINT) AS x0,
         CAST(date_diff('day', DATE '{Z_EPOCH}', CAST(o_orderdate AS DATE))
              & {HN - 1} AS BIGINT) AS y0,
         CAST(o_custkey & {HN - 1} AS BIGINT) AS x,
         CAST(date_diff('day', DATE '{Z_EPOCH}', CAST(o_orderdate AS DATE))
              & {HN - 1} AS BIGINT) AS y,
         CAST(0 AS BIGINT) AS d
  FROM orders
), {_H_CTES}
SELECT CAST(d // {HBUCKET} AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(d) AS BIGINT) AS min_d,
       CAST(max(d) AS BIGINT) AS max_d,
       CAST(min(x0) AS BIGINT) AS min_cust,
       CAST(max(x0) AS BIGINT) AS max_cust,
       CAST(min(y0) AS BIGINT) AS min_day,
       CAST(max(y0) AS BIGINT) AS max_day
FROM {_H_LAST}
GROUP BY 1
ORDER BY bucket
"""


QUERIES["hilbert_cluster_key"] = hilbert_cluster_key
ORACLES["hilbert_cluster_key"] = HILBERT_CLUSTER_KEY_SQL


# --- BM25 retrieval ------------------------------------------------------------
# The standard lexical ranker over the same persisted term-doc index the
# conjunctive query probes: Okapi BM25 with k1 = 1.2, b = 0.75, spelled
# ENTIRELY in integer micro-units with one fixed DIV order so both
# engines truncate at identical points — the idf is the house integer
# rational ((IDF_SCALE·N) DIV df, no log), the length normalization is
#   lnorm_micro = 250_000 + (750_000 · dl_micro) DIV avgdl_micro
# and the tf saturation
#   sat_micro = (tf · 2_200_000 · 1_000_000)
#               DIV (tf · 1_000_000 + (1_200_000 · lnorm_micro) DIV 1_000_000)
# Scale shape: the doc-length table and the index are one token-volume
# shuffle each (the index is the persisted artifact); the 3 deterministic
# query terms broadcast onto their postings only, and the final top-10 is
# a distributed TakeOrdered.  score fits int64: idf ≤ IDF_SCALE·N/df,
# sat < 2.2e6 ⇒ per-term ≤ ~1e13 at this corpus.
BM25_TOPK = 10


def _bm25_sat(engine: str) -> str:
    div = "//" if engine == "duck" else "DIV"
    return (
        f"((tf * 2200000 * 1000000) {div} "
        f"(tf * 1000000 + (1200000 * lnorm_micro) {div} 1000000))"
    )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"regexp_extract_all(text, '{_TOKEN_RE}', 0)")
        ).alias("t"),
    ).select("doc_id", F.lower("t").alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    td = (
        toks.groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)  # the persisted index table
    )
    qterms = (
        td.groupBy("term")
        .agg(F.count("*").alias("df"))
        .withColumn(
            "r", F.row_number().over(W.orderBy(F.desc("df"), F.asc("term")))
        )
        .filter(F.col("r").isin(*CONJ_DF_RANKS))
        .select("term", "df")
    )
    scored = (
        td.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .selectExpr(
            "doc_id",
            "term",
            "tf",
            # avgdl in micro-units, then per-doc length norm in micro
            "250000 + (750000 * (dl * 1000000))"
            " DIV ((total_dl * 1000000) DIV n_docs) AS lnorm_micro",
            f"({IDF_SCALE} * n_docs) DIV df AS idf_i",
        )
        .selectExpr(
            "doc_id",
            "term",
            f"idf_i * {_bm25_sat('spark')} AS term_score",
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.sum("term_score").alias("bm25_score"),
        )
        .orderBy(F.col("bm25_score").desc(), F.col("doc_id"))
        .limit(BM25_TOPK)
        .selectExpr(
            "doc_id",
            "CAST(n_terms_hit AS BIGINT) AS n_terms_hit",
            "CAST(bm25_score AS BIGINT) AS bm25_score",
        )
    )


def _bm25_sql() -> str:
    ranks = ", ".join(str(r) for r in CONJ_DF_RANKS)
    return f"""
WITH toks AS (
  SELECT doc_id, lower(x) AS term
  FROM documents, unnest(regexp_extract_all(text, '{_TOKEN_RE}')) AS u(x)
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS total_dl
  FROM dl
), td AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY term, doc_id
), qterms AS (
  SELECT term, df FROM (
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           row_number() OVER (ORDER BY count(*) DESC, term) AS r
    FROM td GROUP BY term
  ) WHERE r IN ({ranks})
), scored AS (
  SELECT td.doc_id, td.term, td.tf,
         250000 + (750000 * (dl.dl * 1000000))
           // ((s.total_dl * 1000000) // s.n_docs) AS lnorm_micro,
         ({IDF_SCALE} * s.n_docs) // q.df AS idf_i
  FROM td
  JOIN qterms q USING (term)
  JOIN dl ON dl.doc_id = td.doc_id
  CROSS JOIN stats s
), term_scores AS (
  SELECT doc_id, idf_i * {_bm25_sat('duck')} AS term_score
  FROM scored
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_terms_hit,
       CAST(sum(term_score) AS BIGINT) AS bm25_score
FROM term_scores
GROUP BY doc_id
ORDER BY bm25_score DESC, doc_id
LIMIT {BM25_TOPK}
"""


BM25_TOPK_SQL = _bm25_sql()

QUERIES["bm25_topk"] = bm25_topk
ORACLES["bm25_topk"] = BM25_TOPK_SQL


# --- postings_delta_merge: LSM-style index maintenance ------------------------
# A search index over a mutable corpus is maintained, not rebuilt: new
# documents arrive as a delta segment, deletions as tombstones, and a
# compaction merges them into the committed base — the LSM discipline
# every lakehouse secondary index inherits.  Merge unit is the
# (term, doc_id, cnt) posting row: base (doc_id % 10 != 0) minus
# tombstoned docs (doc_id % 20 == 7, a broadcast anti-join) union the
# delta segment (doc_id % 10 == 0), then term stats re-aggregate.  The
# op PROVES the maintenance lossless the incremental_agg_maintenance
# way: the same stats are rebuilt from scratch on the logical corpus
# (all live docs) and emitted beside the merged ones with an equality
# flag per term — the driver hash pins that merge == rebuild on every
# term, every round.
def postings_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(f"regexp_extract_all(text, '{_TOKEN_RE}', 0)")).alias("t"),
    ).select("doc_id", F.lower("t").alias("term"))
    td = toks.groupBy("term", "doc_id").agg(F.count("*").alias("cnt"))
    base = td.where("doc_id % 10 != 0")
    delta = td.where("doc_id % 10 = 0")
    tomb = docs.where("doc_id % 20 = 7").select("doc_id")
    merged_td = base.join(F.broadcast(tomb), "doc_id", "left_anti").unionByName(
        delta
    )
    merged = merged_td.groupBy("term").agg(
        F.count("*").cast("long").alias("df_merged"),
        F.sum("cnt").cast("long").alias("cf_merged"),
    )
    rebuilt = (
        td.where("doc_id % 20 != 7")
        .groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df_rebuilt"),
            F.sum("cnt").cast("long").alias("cf_rebuilt"),
        )
    )
    return (
        merged.join(rebuilt, "term", "full")
        .selectExpr(
            "term",
            "coalesce(df_merged, 0) AS df_merged",
            "coalesce(cf_merged, 0) AS cf_merged",
            "coalesce(df_rebuilt, 0) AS df_rebuilt",
            "coalesce(cf_rebuilt, 0) AS cf_rebuilt",
            "coalesce(df_merged, 0) = coalesce(df_rebuilt, 0)"
            " AND coalesce(cf_merged, 0) = coalesce(cf_rebuilt, 0) AS consistent",
        )
        .orderBy("term")
    )


POSTINGS_DELTA_MERGE_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         lower(unnest(regexp_extract_all(text, '{_TOKEN_RE}'))) AS term
  FROM documents
), td AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY term, doc_id
), merged_td AS (
  SELECT term, doc_id, cnt FROM td
  WHERE doc_id % 10 != 0 AND doc_id % 20 != 7
  UNION ALL
  SELECT term, doc_id, cnt FROM td WHERE doc_id % 10 = 0
), merged AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df_merged,
         CAST(sum(cnt) AS BIGINT) AS cf_merged
  FROM merged_td GROUP BY term
), rebuilt AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df_rebuilt,
         CAST(sum(cnt) AS BIGINT) AS cf_rebuilt
  FROM td WHERE doc_id % 20 != 7 GROUP BY term
)
SELECT term,
       coalesce(df_merged, 0) AS df_merged,
       coalesce(cf_merged, 0) AS cf_merged,
       coalesce(df_rebuilt, 0) AS df_rebuilt,
       coalesce(cf_rebuilt, 0) AS cf_rebuilt,
       coalesce(df_merged, 0) = coalesce(df_rebuilt, 0)
         AND coalesce(cf_merged, 0) = coalesce(cf_rebuilt, 0) AS consistent
FROM merged FULL JOIN rebuilt USING (term)
ORDER BY term
"""

QUERIES["postings_delta_merge"] = postings_delta_merge
ORACLES["postings_delta_merge"] = POSTINGS_DELTA_MERGE_SQL


# --- bitmap_index_intersect: word-compressed bitmap index set algebra --------
# The OLAP answer to multi-predicate point counts: one bitmap per
# predicate value, AND/OR them word-by-word, never rescan the facts.
# Bitmaps are 63-key blocks packed into int64 words (bit_or of
# 1 << (key % 63) grouped by key DIV 63 — 63, not 64: DuckDB raises on
# a shift into the sign bit while Spark wraps silently, so the portable
# word uses bits 0..62 only — the roaring-bitmap container
# idea in its dense form); the conjunction "status = 'F' AND priority =
# '1-URGENT'" is a word-aligned equi-join + bitwise AND + bit_count —
# pure integer, engine-identical.  The op builds both bitmaps, runs the
# intersection, and emits the result beside the direct-scan count as
# the self-check the driver hashes (bitmap_count = scan_count or the
# index is corrupt).  Shape: two single-scan aggs into |keys|/64 words,
# a broadcast-sized word join; the fact table is never joined.
def bitmap_index_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey AS k", "o_orderstatus AS st", "o_orderpriority AS pri"
    )

    def bitmap(pred: str):
        return (
            o.where(pred)
            .selectExpr("k DIV 63 AS blk", "CAST(k % 63 AS INT) AS bit")
            .groupBy("blk")
            .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("w"))
        )

    bm_f = bitmap("st = 'F'").selectExpr("blk", "w AS w_f")
    bm_u = bitmap("pri = '1-URGENT'").selectExpr("blk", "w AS w_u")
    inter = bm_f.join(bm_u, "blk").selectExpr(
        "blk", "w_f & w_u AS w"
    )
    counts = inter.agg(
        F.sum(F.expr("bit_count(w)")).cast("long").alias("bitmap_count"),
        F.count(F.lit(1)).cast("long").alias("n_words_intersected"),
    )
    scan = o.where("st = 'F' AND pri = '1-URGENT'").agg(
        F.count(F.lit(1)).cast("long").alias("scan_count")
    )
    sizes = bm_f.agg(F.count(F.lit(1)).cast("long").alias("n_words_f")).crossJoin(
        F.broadcast(bm_u.agg(F.count(F.lit(1)).cast("long").alias("n_words_u")))
    )
    return (
        counts.crossJoin(F.broadcast(scan))
        .crossJoin(F.broadcast(sizes))
        .selectExpr(
            "bitmap_count",
            "scan_count",
            "bitmap_count = scan_count AS index_consistent",
            "n_words_f",
            "n_words_u",
            "n_words_intersected",
        )
    )


BITMAP_INDEX_INTERSECT_SQL = """
WITH o AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_orderpriority AS pri
  FROM orders
), bm_f AS (
  SELECT k // 63 AS blk,
         bit_or(CAST(1 AS BIGINT) << CAST(k % 63 AS INT)) AS w
  FROM o WHERE st = 'F' GROUP BY 1
), bm_u AS (
  SELECT k // 63 AS blk,
         bit_or(CAST(1 AS BIGINT) << CAST(k % 63 AS INT)) AS w
  FROM o WHERE pri = '1-URGENT' GROUP BY 1
), inter AS (
  SELECT f.blk, f.w & u.w AS w FROM bm_f f JOIN bm_u u ON f.blk = u.blk
), counts AS (
  SELECT CAST(sum(bit_count(w)) AS BIGINT) AS bitmap_count,
         CAST(count(*) AS BIGINT) AS n_words_intersected
  FROM inter
), scan AS (
  SELECT CAST(count(*) AS BIGINT) AS scan_count
  FROM o WHERE st = 'F' AND pri = '1-URGENT'
), sizes AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM bm_f) AS n_words_f,
         (SELECT CAST(count(*) AS BIGINT) FROM bm_u) AS n_words_u
)
SELECT bitmap_count, scan_count,
       bitmap_count = scan_count AS index_consistent,
       n_words_f, n_words_u, n_words_intersected
FROM counts, scan, sizes
"""

QUERIES["bitmap_index_intersect"] = bitmap_index_intersect
ORACLES["bitmap_index_intersect"] = BITMAP_INDEX_INTERSECT_SQL


# --- grid_hotspot_zscore: spatial hotspot detection (Getis-Ord-lite) ----------
# spatial_grid_join finds point pairs; hotspot analysis asks the field
# question — WHERE is the density anomalously high?  Getis-Ord G_i*
# compares each cell's 3x3-neighborhood point count against what a
# random scatter predicts.  Exactness discipline: cell counts come from
# the same md5-planted coordinates as spatial_grid_join; the 16x16 cell
# scaffold is DENSE (empty cells count — a hotspot test over only
# occupied cells biases the variance); mu and sigma^2 of the cell
# counts are exact integer/DECIMAL sums, edge cells compare against
# k_i * mu with their true neighbor count k_i in {4, 6, 9}, and the
# z-score is the single final double expression per cell.  On the
# hash-uniform corpus nothing flags (|z| < 3 everywhere — the honest
# null); the property test plants a dense cluster and the flag fires on
# exactly its cells.
HOT_CELLS = 16  # 16 x 16 grid over the SPATIAL_EXTENT square
HOT_Z_MILLI = 3000


def grid_hotspot_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    E = SPATIAL_EXTENT
    C = E // HOT_CELLS
    pts = _t(spark, sf_dir, "customer").selectExpr(
        f"CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 1, 6), 16, 10) AS BIGINT) % {E} DIV {C} AS cx",
        f"CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 7, 6), 16, 10) AS BIGINT) % {E} DIV {C} AS cy",
    )
    counts = pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("long").alias("c"))
    gx = spark.range(HOT_CELLS).selectExpr("id AS cx")
    gy = spark.range(HOT_CELLS).selectExpr("id AS cy")
    scaffold = gx.crossJoin(F.broadcast(gy))
    dense = scaffold.join(counts, ["cx", "cy"], "left").selectExpr(
        "cx", "cy", "coalesce(c, 0) AS c"
    )
    mom = dense.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    nb = dense.selectExpr(
        "cx", "cy", "c", "explode(sequence(-1, 1)) AS dx"
    ).selectExpr("cx", "cy", "c", "dx", "explode(sequence(-1, 1)) AS dy")
    hood = (
        nb.selectExpr("cx + dx AS hx", "cy + dy AS hy", "cx", "cy")
        .join(
            dense.selectExpr("cx AS hx", "cy AS hy", "c AS hc"),
            ["hx", "hy"],
        )
        .groupBy("cx", "cy")
        .agg(
            F.sum("hc").cast("long").alias("w"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )
    z = (
        "(CAST(w AS DOUBLE) - k * CAST(s AS DOUBLE) / m)"
        " / sqrt(CAST(k AS DOUBLE)"
        " * (CAST(ss AS DOUBLE) / m - (CAST(s AS DOUBLE) / m)"
        " * (CAST(s AS DOUBLE) / m)))"
    )
    return (
        hood.crossJoin(F.broadcast(mom))
        .selectExpr(
            "cx",
            "cy",
            "w AS hood_count",
            "k AS n_neighbors",
            f"CAST(round(1000 * ({z})) AS BIGINT) AS z_milli",
            f"CAST(round(1000 * ({z})) > {HOT_Z_MILLI} AS BOOLEAN) AS hotspot",
        )
        .orderBy("cx", "cy")
    )


GRID_HOTSPOT_ZSCORE_SQL = f"""
WITH pts AS (
  SELECT CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT)
           % {SPATIAL_EXTENT} // {SPATIAL_EXTENT // HOT_CELLS} AS cx,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 7, 6)) AS BIGINT)
           % {SPATIAL_EXTENT} // {SPATIAL_EXTENT // HOT_CELLS} AS cy
  FROM customer
), counts AS (
  SELECT cx, cy, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY cx, cy
), dense AS MATERIALIZED (
  SELECT gx.cx, gy.cy, coalesce(c.c, 0) AS c
  FROM (SELECT unnest(range({HOT_CELLS})) AS cx) gx
  CROSS JOIN (SELECT unnest(range({HOT_CELLS})) AS cy) gy
  LEFT JOIN counts c ON c.cx = gx.cx AND c.cy = gy.cy
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS ss
  FROM dense
), hood AS (
  SELECT d.cx, d.cy, CAST(sum(n.c) AS BIGINT) AS w,
         CAST(count(*) AS BIGINT) AS k
  FROM dense d, (SELECT unnest(range(-1, 2)) AS dx) dxs,
       (SELECT unnest(range(-1, 2)) AS dy) dys
  JOIN dense n ON n.cx = d.cx + dx AND n.cy = d.cy + dy
  GROUP BY d.cx, d.cy
)
SELECT cx, cy, w AS hood_count, k AS n_neighbors,
       CAST(round(1000 * ((CAST(w AS DOUBLE) - k * CAST(s AS DOUBLE) / m)
            / sqrt(CAST(k AS DOUBLE) * (CAST(ss AS DOUBLE) / m
              - (CAST(s AS DOUBLE) / m) * (CAST(s AS DOUBLE) / m)))))
         AS BIGINT) AS z_milli,
       CAST(round(1000 * ((CAST(w AS DOUBLE) - k * CAST(s AS DOUBLE) / m)
            / sqrt(CAST(k AS DOUBLE) * (CAST(ss AS DOUBLE) / m
              - (CAST(s AS DOUBLE) / m) * (CAST(s AS DOUBLE) / m)))))
         > {HOT_Z_MILLI} AS BOOLEAN) AS hotspot
FROM hood, mom
ORDER BY cx, cy
"""

QUERIES["grid_hotspot_zscore"] = grid_hotspot_zscore
ORACLES["grid_hotspot_zscore"] = GRID_HOTSPOT_ZSCORE_SQL


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
        F.posexplode(F.expr("regexp_extract_all(text, '[a-z]+', 0)")).alias(
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
    order = [F.col("n_hits").desc(), F.col("doc_id")]
    return top_k(hits, [], order, PHRASE_TOPK, "rk").select(
        "doc_id", "n_hits", F.col("rk").cast("int").alias("rk")
    )


PHRASE_QUERY_POSITIONAL_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '[a-z]+') AS ts FROM documents
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
