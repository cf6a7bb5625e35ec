"""Deterministic cross-engine HyperLogLog: a mergeable distinct-count
sketch whose registers AND estimate are bit-identical in Spark and DuckDB.

Native sketch functions (Spark's hll_sketch_agg, DuckDB's
approx_count_distinct) use engine-private hashes, so their estimates can
never be oracle-compared.  This implementation derives everything from
md5 — available and identical in both engines — and keeps the harmonic
sum in EXACT integer arithmetic (each 2^-M term scaled by 2^53 is an
integer; the BIGINT sum is exact), so the one floating-point division at
the end sees identical operands in both engines and IEEE gives identical
output.  No libm calls (log/exp) anywhere on the value path.

Sketch layout (p=8, m=256 registers):
  h      = 60-bit hash: first 15 hex chars of md5(key)
  bucket = h mod 256            (register index)
  w      = h div 256            (52-bit suffix)
  rho    = 53 - bitlen(w)       (leading-zero count + 1, in [1, 53])
  M_j    = max(rho) per bucket  <- this max IS the merge operator: map-side
                                   partial maxes combine associatively, and
                                   sketches of disjoint datasets union by
                                   the same max, so at 100 TB the state per
                                   group is 256 small ints regardless of
                                   row count.
  E      = alpha_m * m^2 / sum_j 2^-M_j   (raw HLL estimate)

bitlen() is a generated 52-branch integer CASE (identical text in both
engines) — deterministic where floor(log2(w)) in doubles is not.  The raw
estimate (no small-range linear-counting correction, which needs ln()) is
the production regime here: every group's true cardinality exceeds
2.5*m = 640 at all test scales.  A production deployment below that range
would apply the linear-counting branch as driver-side post-processing of
the (m, n_buckets_set) columns this query already emits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_craft_spark.queries.dedup import (
    HASH_PCT_SQL as _HASH_PCT_SQL,
    hash_pct,
    md5_prefix_long_sql as _md5_long,
    top_k,
)
from pdf_craft_spark.queries.timeseries import SLIDE_DAYS
from pdf_craft_spark.sources import load_table

_M = 256  # registers (p = 8)
_WBITS = 52  # 60-bit hash minus 8 bucket bits
_SCALE = 1 << (_WBITS + 1)  # 2^53: makes every 2^-M term an integer
# alpha_m * m^2 for m=256, rendered once so both engines parse the same
# decimal literal to the same double
_AM2 = repr(0.7213 / (1.0 + 1.079 / _M) * _M * _M)


def _bitlen_case(var: str) -> str:
    """Integer bit-length of ``var`` (0..2^52-1) as a CASE expression —
    identical SQL text for Spark and DuckDB."""
    branches = " ".join(
        f"WHEN {var} >= {1 << (b - 1)} THEN {b}" for b in range(_WBITS, 0, -1)
    )
    return f"CASE {branches} ELSE 0 END"


_RHO = f"CAST({_WBITS + 1} - {_bitlen_case('w')} AS INT)"
_TERM = f"CAST(power(2, {_WBITS + 1} - mreg) AS BIGINT)"  # exact for exps <= 53
# explicit DOUBLE casts on the literals: DuckDB parses bare decimal
# literals as DECIMAL and overflows DECIMAL(18) multiplication; Spark
# would likewise route through decimal arithmetic.  Forcing doubles keeps
# one exact power-of-two scaling then a single IEEE division in both.
_EST = (
    f"round(CAST({_AM2} AS DOUBLE) * CAST({_SCALE} AS DOUBLE)"
    " / CAST(s_scaled AS DOUBLE), 3)"
)


def hll_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    regs = (
        li.selectExpr(
            "l_returnflag",
            _md5_long("CAST(l_orderkey AS STRING)", 15, "spark") + " AS h",
        )
        .selectExpr(
            "l_returnflag",
            f"CAST(h % {_M} AS INT) AS bucket",
            f"h DIV {_M} AS w",
        )
        .selectExpr("l_returnflag", "bucket", f"{_RHO} AS rho")
        .groupBy("l_returnflag", "bucket")
        .agg(F.max("rho").alias("mreg"))
    )
    agg = regs.groupBy("l_returnflag").agg(
        F.expr(f"CAST(sum({_TERM}) AS BIGINT)").alias("s_present"),
        F.count(F.lit(1)).cast("long").alias("n_buckets_set"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("exact_distinct")
    )
    return (
        agg.join(F.broadcast(exact), "l_returnflag")
        .selectExpr(
            "l_returnflag",
            f"CAST({_M} AS BIGINT) AS m",
            "n_buckets_set",
            f"s_present + ({_M} - n_buckets_set) * {_SCALE} AS s_scaled",
            "exact_distinct",
        )
        .selectExpr(
            "l_returnflag",
            "m",
            "n_buckets_set",
            "s_scaled",
            f"{_EST} AS est_distinct",
            "exact_distinct",
        )
        .selectExpr(
            "l_returnflag",
            "m",
            "n_buckets_set",
            "s_scaled",
            "est_distinct",
            "exact_distinct",
            "round((est_distinct / CAST(exact_distinct AS DOUBLE) - 1.0) * 100.0, 2)"
            " AS err_pct",
        )
        .orderBy("l_returnflag")
    )


HLL_DISTINCT_ORDERS_SQL = f"""
WITH hashed AS (
  SELECT l_returnflag,
         {_md5_long("CAST(l_orderkey AS VARCHAR)", 15, "duck")} AS h
  FROM lineitem
), wb AS (
  SELECT l_returnflag, CAST(h % {_M} AS INT) AS bucket, h // {_M} AS w FROM hashed
), r AS (
  SELECT l_returnflag, bucket, {_RHO} AS rho FROM wb
), regs AS (
  SELECT l_returnflag, bucket, max(rho) AS mreg FROM r GROUP BY 1, 2
), agg AS (
  SELECT l_returnflag,
         CAST(sum({_TERM}) AS BIGINT) AS s_present,
         CAST(count(*) AS BIGINT) AS n_buckets_set
  FROM regs GROUP BY 1
), ex AS (
  SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT a.l_returnflag, CAST({_M} AS BIGINT) AS m, n_buckets_set,
         s_present + ({_M} - n_buckets_set) * {_SCALE} AS s_scaled,
         exact_distinct
  FROM agg a JOIN ex USING (l_returnflag)
), est AS (
  SELECT *, {_EST} AS est_distinct FROM tot
)
SELECT l_returnflag, m, n_buckets_set, s_scaled, est_distinct, exact_distinct,
       round((est_distinct / CAST(exact_distinct AS DOUBLE) - 1.0) * 100.0, 2)
         AS err_pct
FROM est
ORDER BY l_returnflag
"""


QUERIES = {"hll_distinct_orders": hll_distinct_orders}
ORACLES = {"hll_distinct_orders": HLL_DISTINCT_ORDERS_SQL}


# --- histogram quantile sketch ----------------------------------------------
# The quantile twin of the HLL: Spark's approx_percentile and DuckDB's
# approx_quantile use engine-private sketches (t-digest variants) and can
# never be oracle-compared, so this is a deterministic mergeable
# histogram sketch instead — fixed shared bin edges (global min/max), one
# count per bin, nearest-rank target with in-bin linear interpolation.
# Bin counts merge by ADDITION across shards/datasets (the groupBy sum IS
# the merge), state is NB integers per group regardless of row count, and
# every arithmetic step is either exact integers or an identically-
# spelled IEEE double expression, so both engines produce the same
# estimate to the last bit.  Estimate error is bounded by one bin width;
# accuracy across distributions is pinned in tests/test_round5_ops.py.
_NB = 128  # bins
_QS = "array(CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE), CAST(0.99 AS DOUBLE))"
# nullif guards the degenerate all-equal-values group: without it Spark's
# 0/0 is NaN (cast -> 0) while DuckDB's is NULL (least -> 127) — a
# cross-engine divergence.  With it both engines see NULL and both
# least() skip the NULL, binning every row at NB-1; est then collapses to
# mn + anything * 0 = mn, the exact constant value.
_BIN = (
    f"CAST(least({_NB - 1}, CAST(floor((l_extendedprice - mn)"
    f" / nullif(mx - mn, 0) * {_NB}) AS BIGINT)) AS INT)"
)
# est = mn + (bin + rank_fraction_within_bin) * bin_width
_QEST = (
    "round(mn + (bin + CAST(target - cum_before AS DOUBLE)"
    f" / CAST(cnt AS DOUBLE)) * (mx - mn) / {_NB}, 4)"
)
_TARGET = "CAST(ceil(q * n) AS BIGINT)"


def quantile_sketch_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    stats = li.agg(
        F.min("l_extendedprice").alias("mn"), F.max("l_extendedprice").alias("mx")
    )
    counts = (
        li.crossJoin(F.broadcast(stats))
        .selectExpr("l_returnflag", f"{_BIN} AS bin", "mn", "mx")
        .groupBy("l_returnflag", "bin", "mn", "mx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wcum = W.partitionBy("l_returnflag").orderBy("bin")
    wall = W.partitionBy("l_returnflag")
    cum = (
        counts.withColumn("cum", F.sum("cnt").over(wcum))
        .withColumn("n", F.sum("cnt").over(wall))
        .withColumn("cum_before", F.col("cum") - F.col("cnt"))
    )
    cand = cum.select(
        "*", F.explode(F.expr(_QS)).alias("q")
    ).filter(F.expr(f"cum >= {_TARGET}"))
    # smallest qualifying bin per (flag, q): struct-min orders by bin first
    chosen = cand.groupBy("l_returnflag", "q").agg(
        F.min(F.struct("bin", "cnt", "cum_before", "mn", "mx", "n")).alias("s")
    )
    return (
        chosen.selectExpr(
            "l_returnflag",
            "q",
            "s.bin AS bin",
            "s.cnt AS cnt",
            "s.cum_before AS cum_before",
            "s.mn AS mn",
            "s.mx AS mx",
            "s.n AS n",
        )
        .selectExpr(
            "l_returnflag",
            "q",
            "n",
            f"{_TARGET} AS target",
            f"{_QEST} AS est",
        )
        .orderBy("l_returnflag", "q")
    )


QUANTILE_SKETCH_PRICES_SQL = f"""
WITH stats AS (
  SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem
), counts AS (
  SELECT l_returnflag, {_BIN} AS bin, mn, mx, CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem, stats GROUP BY 1, 2, 3, 4
), cum AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY l_returnflag) AS n
  FROM counts
), cand AS (
  SELECT l_returnflag, q, bin, cnt, cum - cnt AS cum_before, mn, mx,
         CAST(n AS BIGINT) AS n, CAST(cum AS BIGINT) AS cum
  FROM cum,
       unnest([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE),
               CAST(0.99 AS DOUBLE)]) AS t(q)
  WHERE cum >= {_TARGET}
), chosen AS (
  SELECT l_returnflag, q, min(bin) AS bin FROM cand GROUP BY 1, 2
)
SELECT c.l_returnflag, c.q, c.n, {_TARGET} AS target, {_QEST} AS est
FROM cand c JOIN chosen USING (l_returnflag, q, bin)
ORDER BY c.l_returnflag, c.q
"""


QUERIES["quantile_sketch_prices"] = quantile_sketch_prices
ORACLES["quantile_sketch_prices"] = QUANTILE_SKETCH_PRICES_SQL


# --- Bloom membership sketch -------------------------------------------------
# Completes the sketch family (HLL = distinct, histogram = quantile,
# Bloom = membership).  Build side: the train split's content hashes set
# K=4 bit positions each (md5-derived, the shared md5_prefix_long_sql
# spelling, salted 0..3) in an m=2^12-bit filter, materialized as the
# DISTINCT set of set positions — at scale that set IS the bitset
# (m bits broadcast to every probe task; merge across shards = union =
# the same DISTINCT).  Probe side: a test doc is a maybe-member iff all
# K of its positions are set — K exploded probe rows equi-joined against
# the bit table, kept when the per-doc match count equals K.  No
# cartesian anywhere; everything md5/integer-exact so both engines build
# the identical filter and report the identical false-positive count.
# m is deliberately small for the corpus (~2k set bits in 4096): the
# false-positive path gets exercised at test scale instead of being a
# theoretical 1e-7.  Production sizes m to the budgeted fp rate; the
# dataflow is m-independent.
_BLOOM_M = 1 << 12  # bits
_BLOOM_K = 4  # hash functions (salted md5)
# train/test split reuses the corpus content-hash percentile (train <90);
# the corpus has no duplicate hashes below sf0.1, so the probe set also
# RE-DELIVERS every pct<5 train hash as a test probe (mirrored in the
# oracle) — those must ALL bloom-hit (a Bloom filter has no false
# negatives), pinning the membership property at every scale.
_BLOOM_SPLIT = 90


def _bloom_pos(engine: str, salt: int) -> str:
    # position_i = md5("i:" || content_hash) as 60-bit int, mod m
    return (
        _md5_long(f"concat('{salt}:', content_hash)", 15, engine)
        + f" % {_BLOOM_M}"
    )


def bloom_membership_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.md5(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    base = docs.select(
        "doc_id", norm.alias("content_hash"), hash_pct().alias("pct")
    )
    train = base.filter(F.col("pct") < _BLOOM_SPLIT)
    test = base.filter(F.col("pct") >= _BLOOM_SPLIT).unionByName(
        base.filter(F.col("pct") < 5)  # known members re-probed
    )

    pos_exprs = ", ".join(
        f"CAST({_bloom_pos('spark', i)} AS INT)" for i in range(_BLOOM_K)
    )
    bits = (
        train.selectExpr(f"explode(array({pos_exprs})) AS pos").distinct()
    )
    probe = test.selectExpr(
        "doc_id", "content_hash", f"explode(array({pos_exprs})) AS pos"
    )
    hits = (
        probe.join(bits, "pos")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .select("doc_id", (F.col("n_match") == _BLOOM_K).cast("int").alias("hit"))
    )
    truth = train.select("content_hash").distinct().withColumn(
        "member", F.lit(1)
    )
    # one pass over the flagged probe set for the whole summary — the
    # crossJoin-of-independent-aggregates shape replanned the documents
    # scan (normalize + md5 per body) once per aggregate
    marked = (
        test.select("doc_id", "content_hash")
        .join(hits, "doc_id", "left")
        .join(F.broadcast(truth), "content_hash", "left")
    )
    summary = marked.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_bloom_hits"),
        F.sum(
            F.coalesce(F.col("hit"), F.lit(0))
            * F.coalesce(F.col("member"), F.lit(0))
        ).alias("n_true_members"),
    )
    return summary.crossJoin(
        bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    ).selectExpr(
        "n_test",
        "n_bloom_hits",
        "n_true_members",
        "n_bloom_hits - n_true_members AS n_false_pos",
        "n_bits_set",
    )


def _bloom_sql() -> str:
    pos_list = ", ".join(
        f"CAST({_bloom_pos('duck', i)} AS INT)" for i in range(_BLOOM_K)
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_hash,
         {_HASH_PCT_SQL} AS pct
  FROM documents
), train AS (
  SELECT * FROM base WHERE pct < {_BLOOM_SPLIT}
), test AS (
  SELECT * FROM base WHERE pct >= {_BLOOM_SPLIT}
  UNION ALL
  SELECT * FROM base WHERE pct < 5
), bits AS (
  SELECT DISTINCT pos
  FROM train, unnest([{pos_list}]) AS t(pos)
), probe AS (
  SELECT doc_id, content_hash, pos
  FROM test, unnest([{pos_list}]) AS t(pos)
), hits AS (
  SELECT doc_id, content_hash
  FROM probe JOIN bits USING (pos)
  GROUP BY 1, 2 HAVING count(*) = {_BLOOM_K}
), flagged AS (
  SELECT h.doc_id FROM hits h
  WHERE EXISTS (SELECT 1 FROM train t WHERE t.content_hash = h.content_hash)
)
SELECT CAST((SELECT count(*) FROM test) AS BIGINT) AS n_test,
       CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_bloom_hits,
       CAST((SELECT count(*) FROM flagged) AS BIGINT) AS n_true_members,
       CAST((SELECT count(*) FROM hits) AS BIGINT)
         - CAST((SELECT count(*) FROM flagged) AS BIGINT) AS n_false_pos,
       CAST((SELECT count(*) FROM bits) AS BIGINT) AS n_bits_set
"""


BLOOM_MEMBERSHIP_PROBE_SQL = _bloom_sql()

QUERIES["bloom_membership_probe"] = bloom_membership_probe
ORACLES["bloom_membership_probe"] = BLOOM_MEMBERSHIP_PROBE_SQL


# --- Count-Min frequency sketch (heavy hitters) -----------------------------
# The fourth sketch: distinct (HLL) / quantile (histogram) / membership
# (Bloom) / FREQUENCY (Count-Min).  d=4 independent md5-salted hash rows
# x w=256 buckets; an item's estimate is the MIN over rows of its bucket
# counts.  Counts only ever collide upward, so est >= exact is a
# structural invariant (exposed as the overcount column).  The merge
# operator is bucket-wise ADD (like the histogram sketch): shard
# sketches of disjoint streams sum into the stream's sketch, so at
# 100 TB the state is d*w BIGINTs per shard regardless of row count, and
# the build is one map-side-combined aggregation over per-row JVM md5s
# (codegen — no Python, no joins on the build side).
#
# Stream: orders keyed by customer — ~1000 distinct keys >> 256 buckets,
# i.e. the genuine CMS regime where every bucket holds several keys and
# estimates really do overcount; the top-10 heavy hitters are reported
# with exact count, estimate, and the overcount the collisions cost.
# The probe side joins the tiny materialized sketch (d*w rows,
# broadcast) against the distinct-key dim.
_CMS_D = 4
_CMS_W = 256
_CMS_TOPK = 10


def _cms_bucket(engine: str, r: int) -> str:
    key = "CAST(o_custkey AS STRING)" if engine == "spark" else "CAST(o_custkey AS VARCHAR)"
    return "({h}) % {w}".format(
        w=_CMS_W, h=_md5_long("'%d|' || %s" % (r, key), 8, engine)
    )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = load_table(spark, sf_dir, "orders").select("o_custkey")
    stack_args = ", ".join(
        f"{r}, {_cms_bucket('spark', r)}" for r in range(_CMS_D)
    )
    sketch = (
        items.selectExpr(f"stack({_CMS_D}, {stack_args}) AS (r, bucket)")
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # materialize the per-key exact counts once: the probe branch AND the
    # final join both read them, and without this Catalyst re-derives the
    # aggregate (a third scan of orders) inside the probe subtree
    exact = (
        items.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .localCheckpoint(eager=True)
    )
    probes = exact.selectExpr(
        "o_custkey", f"stack({_CMS_D}, {stack_args}) AS (r, bucket)"
    )
    est = (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("o_custkey")
        .agg(F.min("cnt").alias("cms_est"))
    )
    order = [F.desc("exact_cnt"), F.asc("o_custkey")]
    return (
        top_k(exact.join(est, "o_custkey"), [], order, _CMS_TOPK, "rk")
        .selectExpr(
            "CAST(rk AS BIGINT) AS rk",
            "o_custkey",
            "exact_cnt",
            "cms_est",
            "cms_est - exact_cnt AS overcount",
        )
        .orderBy("rk")
    )


def _cms_buckets_duck() -> str:
    return " ".join(
        f"WHEN {r} THEN {_cms_bucket('duck', r)}" for r in range(_CMS_D)
    )


CMS_HEAVY_HITTERS_SQL = f"""
WITH hashed AS (
  SELECT o_custkey, u.r,
         CASE u.r {_cms_buckets_duck()} END AS bucket
  FROM orders CROSS JOIN unnest([{", ".join(str(r) for r in range(_CMS_D))}]) u(r)
), sketch AS (
  SELECT r, bucket, count(*) AS cnt FROM hashed GROUP BY r, bucket
), exact AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM orders GROUP BY o_custkey
), probes AS (
  SELECT DISTINCT o_custkey, r, bucket FROM hashed
), est AS (
  SELECT p.o_custkey, CAST(min(s.cnt) AS BIGINT) AS cms_est
  FROM probes p JOIN sketch s USING (r, bucket)
  GROUP BY p.o_custkey
)
SELECT rk, o_custkey, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
FROM (
  SELECT e.o_custkey, e.exact_cnt, est.cms_est,
         CAST(row_number() OVER (ORDER BY e.exact_cnt DESC, e.o_custkey ASC)
              AS BIGINT) AS rk
  FROM exact e JOIN est USING (o_custkey)
)
WHERE rk <= {_CMS_TOPK} ORDER BY rk
"""


QUERIES["cms_heavy_hitters"] = cms_heavy_hitters
ORACLES["cms_heavy_hitters"] = CMS_HEAVY_HITTERS_SQL


# --- sliding-window HLL (mergeability in a window frame) -----------------------
# The continuous-aggregate trick TSDBs build on sketch MERGEABILITY:
# per-day HLL registers merge into a 7-day sliding estimate with a RANGE
# window max per register — no re-scan of the raw events per window.
# Register state per day is m=256 small ints; the dense (day x register)
# scaffold is calendar x m rows — constant, never data-sized.  The
# counted entity is ACTIVE USER-DAYS (distinct (user, day) pairs in the
# window): ~1050 per full window here, inside the raw-estimate regime
# (> 2.5m = 640) the module's no-ln() policy requires — plain users
# (~150/window) would sit in linear-counting territory where the raw
# estimate reads ~78% high (measured; that variant was rejected).  The
# exact twin is ONE range-window sum of the daily distinct-user counts
# ((user, day) is unique per day), so the op reports its own per-window
# error in ppm — self-calibrating, like minhash_estimate_error.  Only
# full 7-day windows are emitted.
def sliding_hll_user_days_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    key = "concat(CAST(user_id AS STRING), '|', CAST(day AS STRING))"
    h = _md5_long(key, 15, "spark")
    base = ev.selectExpr(
        "datediff(CAST(ts AS DATE), DATE '1970-01-01') AS day", "user_id"
    )
    regs = (
        base.selectExpr("day", f"({h}) AS h")
        .selectExpr(
            "day",
            f"CAST(h % {_M} AS INT) AS bucket",
            f"h DIV {_M} AS w",
        )
        .selectExpr("day", "bucket", f"{_RHO} AS rho")
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("mreg_day"))
    )
    bounds = regs.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    scaffold = bounds.selectExpr(
        "explode(sequence(dmin, dmax)) AS day"
    ).crossJoin(
        F.broadcast(spark.range(_M).selectExpr("CAST(id AS INT) AS bucket"))
    )
    wmerge = (
        W.partitionBy("bucket").orderBy("day").rangeBetween(-(SLIDE_DAYS - 1), 0)
    )
    merged = (
        scaffold.join(regs, ["day", "bucket"], "left")
        .withColumn("mreg", F.max("mreg_day").over(wmerge))
    )
    per_day = (
        merged.filter(F.col("mreg").isNotNull())
        .groupBy("day")
        .agg(
            F.expr(f"CAST(sum({_TERM}) AS BIGINT)").alias("s_present"),
            F.count(F.lit(1)).cast("long").alias("n_buckets_set"),
        )
        .selectExpr(
            "day",
            f"s_present + ({_M} - n_buckets_set) * {_SCALE} AS s_scaled",
        )
        .selectExpr("day", f"CAST({_EST} AS DOUBLE) AS hll_estimate")
    )
    daily = base.distinct().groupBy("day").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    wsum = W.orderBy("day").rangeBetween(-(SLIDE_DAYS - 1), 0)
    exact = (
        daily.withColumn("exact_user_days", F.sum("n_users").over(wsum))
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("day") >= F.col("dmin") + (SLIDE_DAYS - 1))
        .select("day", "exact_user_days")
    )
    return (
        per_day.join(exact, "day")
        .selectExpr(
            "CAST(day AS BIGINT) AS day_no",
            "hll_estimate",
            "CAST(exact_user_days AS BIGINT) AS exact_user_days",
            "CAST(abs(CAST(1000000 * hll_estimate AS BIGINT)"
            " - 1000000 * exact_user_days) DIV exact_user_days AS BIGINT)"
            " AS err_ppm",
        )
        .orderBy("day_no")
    )


def _sliding_hll_sql() -> str:
    key = "CAST(user_id AS VARCHAR) || '|' || CAST(day AS VARCHAR)"
    hd = _md5_long(key, 15, "duck")
    return f"""
WITH base AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         user_id
  FROM events
), regs AS (
  SELECT day, bucket, max(rho) AS mreg_day FROM (
    SELECT day,
           CAST(h % {_M} AS INT) AS bucket,
           {_WBITS + 1} - {_bitlen_case(f'(h // {_M})')} AS rho
    FROM (SELECT day, ({hd}) AS h FROM base)
  ) GROUP BY day, bucket
), bounds AS (SELECT min(day) AS dmin, max(day) AS dmax FROM regs),
scaffold AS (
  SELECT d.day, b.bucket
  FROM (SELECT unnest(range((SELECT dmin FROM bounds),
                            (SELECT dmax FROM bounds) + 1)) AS day) d
  CROSS JOIN (SELECT unnest(range({_M})) AS bucket) b
), merged AS (
  SELECT s.day, s.bucket,
         max(r.mreg_day) OVER (PARTITION BY s.bucket ORDER BY s.day
                               RANGE BETWEEN {SLIDE_DAYS - 1} PRECEDING
                                         AND CURRENT ROW) AS mreg
  FROM scaffold s LEFT JOIN regs r ON r.day = s.day AND r.bucket = s.bucket
), per_day AS (
  SELECT day,
         CAST(sum(CAST(power(2, {_WBITS + 1} - mreg) AS BIGINT)) AS BIGINT)
           + ({_M} - count(*)) * {_SCALE} AS s_scaled
  FROM merged WHERE mreg IS NOT NULL GROUP BY day
), est AS (
  SELECT day, CAST({_EST} AS DOUBLE) AS hll_estimate FROM per_day
), daily AS (
  SELECT day, count(*) AS n_users FROM (SELECT DISTINCT day, user_id FROM base)
  GROUP BY day
), exact AS (
  SELECT day,
         sum(n_users) OVER (ORDER BY day RANGE BETWEEN {SLIDE_DAYS - 1}
                            PRECEDING AND CURRENT ROW) AS exact_user_days
  FROM daily
)
SELECT CAST(e.day AS BIGINT) AS day_no,
       est.hll_estimate,
       CAST(e.exact_user_days AS BIGINT) AS exact_user_days,
       CAST(abs(CAST(1000000 * est.hll_estimate AS BIGINT)
            - 1000000 * e.exact_user_days) // e.exact_user_days AS BIGINT)
         AS err_ppm
FROM est JOIN exact e ON e.day = est.day
WHERE e.day >= (SELECT dmin FROM bounds) + {SLIDE_DAYS - 1}
ORDER BY day_no
"""


SLIDING_HLL_USER_DAYS_7D_SQL = _sliding_hll_sql()

QUERIES["sliding_hll_user_days_7d"] = sliding_hll_user_days_7d
ORACLES["sliding_hll_user_days_7d"] = SLIDING_HLL_USER_DAYS_7D_SQL


# --- HLL set algebra (union by register max, intersection by inclusion-exclusion)
# The sketch-algebra caveat made measurable: HLL unions EXACTLY (register
# max — same operator as the merge), but intersection has no native
# sketch operator and is derived by inclusion-exclusion over three
# estimates, whose relative error blows up as the true intersection
# shrinks.  Sets are purchase-user-days vs click-user-days (both and
# their union inside the raw-estimate regime); exact counts ride along,
# so the per-set and intersection errors are hash-gated outputs.  One
# event scan builds both register tables; the union registers are
# greatest() of the two 256-int states — no second pass.
def hll_set_algebra_user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    key = "concat(CAST(user_id AS STRING), '|', CAST(day AS STRING))"
    h = _md5_long(key, 15, "spark")
    base = ev.filter(
        F.col("event_type").isin("purchase", "click")
    ).selectExpr(
        "event_type",
        "datediff(CAST(ts AS DATE), DATE '1970-01-01') AS day",
        "user_id",
    )
    regs = (
        base.selectExpr("event_type", f"({h}) AS h")
        .selectExpr(
            "event_type",
            f"CAST(h % {_M} AS INT) AS bucket",
            f"h DIV {_M} AS w",
        )
        .selectExpr("event_type", "bucket", f"{_RHO} AS rho")
        .groupBy("bucket")
        .pivot("event_type", ["purchase", "click"])
        .agg(F.max("rho"))
    )

    def est(col: str) -> str:
        return (
            f"CAST(round(CAST({_AM2} AS DOUBLE) * CAST({_SCALE} AS DOUBLE)"
            f" / CAST({col} AS DOUBLE), 3) AS DOUBLE)"
        )

    sums = regs.agg(
        F.expr(
            f"CAST(sum(CASE WHEN purchase IS NULL THEN {_SCALE}"
            f" ELSE CAST(power(2, {_WBITS + 1} - purchase) AS BIGINT) END)"
            " AS BIGINT)"
        ).alias("s_p"),
        F.expr(
            f"CAST(sum(CASE WHEN click IS NULL THEN {_SCALE}"
            f" ELSE CAST(power(2, {_WBITS + 1} - click) AS BIGINT) END)"
            " AS BIGINT)"
        ).alias("s_c"),
        F.expr(
            f"CAST(sum(CASE WHEN purchase IS NULL AND click IS NULL"
            f" THEN {_SCALE}"
            f" ELSE CAST(power(2, {_WBITS + 1} -"
            " greatest(coalesce(purchase, 0), coalesce(click, 0)))"
            " AS BIGINT) END) AS BIGINT)"
        ).alias("s_u"),
    )
    exact = base.selectExpr("event_type", "day", "user_id").distinct().agg(
        F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")).alias(
            "x_p"
        ),
        F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")).alias(
            "x_c"
        ),
        F.count(F.lit(1)).alias("x_rows"),
    )
    # exact union / intersection of the (user, day) sets
    both = (
        base.filter("event_type = 'purchase'")
        .select("day", "user_id")
        .distinct()
        .join(
            base.filter("event_type = 'click'")
            .select("day", "user_id")
            .distinct(),
            ["day", "user_id"],
        )
        .agg(F.count(F.lit(1)).alias("x_i"))
    )
    return (
        sums.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(both))
        .selectExpr(
            f"{est('s_p')} AS est_purchase",
            f"{est('s_c')} AS est_click",
            f"{est('s_u')} AS est_union",
            f"CAST(round({est('s_p')} + {est('s_c')} - {est('s_u')}, 3)"
            " AS DOUBLE) AS est_intersection",
            "CAST(x_p AS BIGINT) AS exact_purchase",
            "CAST(x_c AS BIGINT) AS exact_click",
            "CAST(x_p + x_c - x_i AS BIGINT) AS exact_union",
            "CAST(x_i AS BIGINT) AS exact_intersection",
        )
    )


def _hll_algebra_sql() -> str:
    key = "CAST(user_id AS VARCHAR) || '|' || CAST(day AS VARCHAR)"
    hd = _md5_long(key, 15, "duck")
    est = (
        lambda col: f"CAST(round(CAST({_AM2} AS DOUBLE) * CAST({_SCALE} AS"
        f" DOUBLE) / CAST({col} AS DOUBLE), 3) AS DOUBLE)"
    )
    return f"""
WITH base AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         user_id
  FROM events WHERE event_type IN ('purchase', 'click')
), rho AS (
  SELECT event_type,
         CAST(h % {_M} AS INT) AS bucket,
         {_WBITS + 1} - {_bitlen_case(f'(h // {_M})')} AS rho
  FROM (SELECT event_type, ({hd}) AS h FROM base)
), regs AS (
  SELECT bucket,
         max(CASE WHEN event_type = 'purchase' THEN rho END) AS purchase,
         max(CASE WHEN event_type = 'click' THEN rho END) AS click
  FROM rho GROUP BY bucket
), sums AS (
  SELECT CAST(sum(CASE WHEN purchase IS NULL THEN {_SCALE}
               ELSE CAST(power(2, {_WBITS + 1} - purchase) AS BIGINT) END)
          AS BIGINT) AS s_p,
         CAST(sum(CASE WHEN click IS NULL THEN {_SCALE}
               ELSE CAST(power(2, {_WBITS + 1} - click) AS BIGINT) END)
          AS BIGINT) AS s_c,
         CAST(sum(CASE WHEN purchase IS NULL AND click IS NULL THEN {_SCALE}
               ELSE CAST(power(2, {_WBITS + 1} -
                    greatest(coalesce(purchase, 0), coalesce(click, 0)))
                    AS BIGINT) END) AS BIGINT) AS s_u
  FROM regs
), exact AS (
  SELECT sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x_p,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x_c
  FROM (SELECT DISTINCT event_type, day, user_id FROM base)
), ix AS (
  SELECT count(*) AS x_i FROM (
    (SELECT DISTINCT day, user_id FROM base WHERE event_type = 'purchase')
    INTERSECT
    (SELECT DISTINCT day, user_id FROM base WHERE event_type = 'click')
  )
)
SELECT {est('s_p')} AS est_purchase,
       {est('s_c')} AS est_click,
       {est('s_u')} AS est_union,
       CAST(round({est('s_p')} + {est('s_c')} - {est('s_u')}, 3) AS DOUBLE)
         AS est_intersection,
       CAST(x_p AS BIGINT) AS exact_purchase,
       CAST(x_c AS BIGINT) AS exact_click,
       CAST(x_p + x_c - x_i AS BIGINT) AS exact_union,
       CAST(x_i AS BIGINT) AS exact_intersection
FROM sums CROSS JOIN exact CROSS JOIN ix
"""


HLL_SET_ALGEBRA_USER_DAYS_SQL = _hll_algebra_sql()

QUERIES["hll_set_algebra_user_days"] = hll_set_algebra_user_days
ORACLES["hll_set_algebra_user_days"] = HLL_SET_ALGEBRA_USER_DAYS_SQL


# ---------------------------------------------------------------------------
# theta_sketch_intersection — KMV (k-minimum-values / theta) set algebra.
#
# hll_set_algebra_user_days gates (with numbers) WHY register sketches fail
# at intersections: inclusion-exclusion over three ~3-7%-error estimates
# lands at ~22% error when the overlap is small relative to the union.
# This op is the textbook FIX: a theta sketch keeps an actual uniform
# hash SAMPLE of each set (the k smallest md5 values), so set operations
# run on the retained sample directly — intersection error scales with the
# number of RETAINED INTERSECTION hashes (~ k * |I|/max(|A|,|B|)), not
# with the union magnitude.  Measured at sf0.01 (|P|=1604, |C|=1601,
# |I|=591, k=256): est_intersection error -3.26% (union +1.16%) vs the
# HLL algebra op's 22.5% intersection error at the same overlap — the
# driver hashes the err_pct columns, so the quality claim is re-proved
# every round.
#
# Estimator (datasketches KMV convention, all-integer until one division):
#   h        = 60-bit md5 prefix (uniform on [0, 2^60))
#   sketch_S = k smallest distinct h in S
#   theta_S  = k-th smallest h if |sketch| = k else 2^60 (exact mode)
#   retained = {h in sketch_S : h < theta_S}      (k-1 values, or all)
#   est|S|   = |retained| * 2^60 / theta_S        ((k-1)/kth — unbiased)
#   inter    = theta = min(theta_A, theta_B);
#              est = |retained_A ∩ retained_B ∩ [0,theta)| * 2^60 / theta
#   union    = est = |distinct (retained_A ∪ retained_B) ∩ [0,theta)|
#              * 2^60 / theta
# At sf0.001 both sets are smaller than k, exercising the exact branch
# (theta = 2^60, estimates degrade gracefully to exact counts).
#
# Scale: the k-min selection is the classic two-stage distributed top-k —
# a per-(set, h%64)-shard row_number keeps <= k per shard in parallel
# (64x smaller sort partitions), then a final row_number over <= 64k
# survivors.  Map-side this is mergeable state (k values per set,
# ~2 KB at k=256) — at 100 TB the sketch is built in one scan like the
# HLL registers, with the honest caveat that KMV state is 60-bit values,
# not 6-bit registers (documented trade: 8x state for sample-based set
# algebra).
# ---------------------------------------------------------------------------

_K = 256  # retained minima per set
_SHARDS = 64  # stage-1 top-k shards
_R60 = 1 << 60  # hash range (exact as a double: 2^60 < 2^53? no — but a
# power of two, hence exactly representable in IEEE double)


def theta_sketch_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    key = "concat(CAST(user_id AS STRING), '|', CAST(day AS STRING))"
    h = _md5_long(key, 15, "spark")
    base = ev.filter(
        F.col("event_type").isin("purchase", "click")
    ).selectExpr(
        "event_type",
        "datediff(CAST(ts AS DATE), DATE '1970-01-01') AS day",
        "user_id",
    )
    dh = base.selectExpr("event_type", f"({h}) AS h").distinct()
    shards = dh.selectExpr("event_type", "h", f"h % {_SHARDS} AS shard")
    per_shard = top_k(shards, ["event_type", "shard"], [F.asc("h")], _K, "rnk1")
    sk = top_k(per_shard, ["event_type"], [F.asc("h")], _K, "rnk").select(
        "event_type", "h", "rnk"
    )
    thetas = (
        sk.groupBy()
        .pivot("event_type", ["purchase", "click"])
        .agg(
            F.expr(
                f"CASE WHEN count(1) < {_K} THEN CAST({_R60} AS BIGINT)"
                " ELSE max(h) END"
            ).alias("theta"),
        )
        .selectExpr(
            "purchase AS theta_p",
            "click AS theta_c",
            "least(purchase, click) AS theta",
        )
    )
    pa = sk.filter("event_type = 'purchase'").select("h")
    pc = sk.filter("event_type = 'click'").select("h")
    counts = (
        pa.withColumn("s", F.lit("p"))
        .unionByName(pc.withColumn("s", F.lit("c")))
        .crossJoin(F.broadcast(thetas))
        .selectExpr("h", "s", "theta_p", "theta_c", "theta")
        .agg(
            F.expr("sum(CASE WHEN s = 'p' AND h < theta_p THEN 1 ELSE 0 END)").alias("n_p"),
            F.expr("sum(CASE WHEN s = 'c' AND h < theta_c THEN 1 ELSE 0 END)").alias("n_c"),
            F.expr("count(DISTINCT CASE WHEN h < theta THEN h END)").alias("n_u"),
            F.expr("sum(CASE WHEN h < theta THEN 1 ELSE 0 END)").alias("n_both"),
            F.first("theta_p").alias("theta_p"),
            F.first("theta_c").alias("theta_c"),
            F.first("theta").alias("theta"),
        )
        # hashes counted twice below theta are exactly the retained
        # intersection: n_i = n_both - n_u
        .selectExpr(
            "n_p", "n_c", "n_u", "n_both - n_u AS n_i",
            "theta_p", "theta_c", "theta",
        )
    )
    exact = base.selectExpr("event_type", "day", "user_id").distinct().agg(
        F.expr("sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)").alias("x_p"),
        F.expr("sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)").alias("x_c"),
    )
    both = (
        base.filter("event_type = 'purchase'")
        .select("day", "user_id")
        .distinct()
        .join(
            base.filter("event_type = 'click'").select("day", "user_id").distinct(),
            ["day", "user_id"],
        )
        .agg(F.count(F.lit(1)).alias("x_i"))
    )

    def est(cnt: str, th: str) -> str:
        return (
            f"CAST(round(CAST({cnt} AS DOUBLE) * CAST({_R60} AS DOUBLE)"
            f" / CAST({th} AS DOUBLE), 3) AS DOUBLE)"
        )

    def err(e: str, x: str) -> str:
        return (
            f"CAST(round(100.0 * ({e} - CAST({x} AS DOUBLE))"
            f" / CAST({x} AS DOUBLE), 3) AS DOUBLE)"
        )

    return (
        counts.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(both))
        .selectExpr(
            f"CAST({_K} AS INT) AS k",
            f"CAST(round(CAST(theta AS DOUBLE) / CAST({_R60} AS DOUBLE), 6)"
            " AS DOUBLE) AS theta_frac",
            f"{est('n_p', 'theta_p')} AS est_purchase",
            f"{est('n_c', 'theta_c')} AS est_click",
            f"{est('n_i', 'theta')} AS est_intersection",
            f"{est('n_u', 'theta')} AS est_union",
            "CAST(x_p AS BIGINT) AS exact_purchase",
            "CAST(x_c AS BIGINT) AS exact_click",
            "CAST(x_i AS BIGINT) AS exact_intersection",
            "CAST(x_p + x_c - x_i AS BIGINT) AS exact_union",
            f"{err(est('n_i', 'theta'), 'x_i')} AS err_pct_intersection",
            f"{err(est('n_u', 'theta'), 'x_p + x_c - x_i')} AS err_pct_union",
        )
    )


def _theta_sql() -> str:
    key = "CAST(user_id AS VARCHAR) || '|' || CAST(day AS VARCHAR)"
    hd = _md5_long(key, 15, "duck")

    def est(cnt: str, th: str) -> str:
        return (
            f"CAST(round(CAST({cnt} AS DOUBLE) * CAST({_R60} AS DOUBLE)"
            f" / CAST({th} AS DOUBLE), 3) AS DOUBLE)"
        )

    def err(e: str, x: str) -> str:
        return (
            f"CAST(round(100.0 * ({e} - CAST({x} AS DOUBLE))"
            f" / CAST({x} AS DOUBLE), 3) AS DOUBLE)"
        )

    return f"""
WITH base AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         user_id
  FROM events WHERE event_type IN ('purchase', 'click')
), dh AS (
  SELECT DISTINCT event_type, ({hd}) AS h FROM base
), s1 AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type, h % {_SHARDS}
                            ORDER BY h) AS rnk1
  FROM dh
), sk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rnk
  FROM s1 WHERE rnk1 <= {_K}
), sk2 AS (
  SELECT event_type, h FROM sk WHERE rnk <= {_K}
), thetas AS (
  SELECT
    max(CASE WHEN event_type = 'purchase' THEN h END) AS mx_p,
    max(CASE WHEN event_type = 'click' THEN h END) AS mx_c,
    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c_p,
    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c_c
  FROM sk2
), th AS (
  SELECT
    CASE WHEN c_p < {_K} THEN CAST({_R60} AS BIGINT) ELSE mx_p END AS theta_p,
    CASE WHEN c_c < {_K} THEN CAST({_R60} AS BIGINT) ELSE mx_c END AS theta_c,
    least(CASE WHEN c_p < {_K} THEN CAST({_R60} AS BIGINT) ELSE mx_p END,
          CASE WHEN c_c < {_K} THEN CAST({_R60} AS BIGINT) ELSE mx_c END)
      AS theta
  FROM thetas
), counts AS (
  SELECT
    sum(CASE WHEN s.event_type = 'purchase' AND s.h < th.theta_p
         THEN 1 ELSE 0 END) AS n_p,
    sum(CASE WHEN s.event_type = 'click' AND s.h < th.theta_c
         THEN 1 ELSE 0 END) AS n_c,
    count(DISTINCT CASE WHEN s.h < th.theta THEN s.h END) AS n_u,
    sum(CASE WHEN s.h < th.theta THEN 1 ELSE 0 END) AS n_both,
    max(th.theta_p) AS theta_p,
    max(th.theta_c) AS theta_c,
    max(th.theta) AS theta
  FROM sk2 s CROSS JOIN th
), cx AS (
  SELECT n_p, n_c, n_u, n_both - n_u AS n_i, theta_p, theta_c, theta
  FROM counts
), exact AS (
  SELECT sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x_p,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x_c
  FROM (SELECT DISTINCT event_type, day, user_id FROM base)
), ix AS (
  SELECT count(*) AS x_i FROM (
    (SELECT DISTINCT day, user_id FROM base WHERE event_type = 'purchase')
    INTERSECT
    (SELECT DISTINCT day, user_id FROM base WHERE event_type = 'click')
  )
)
SELECT CAST({_K} AS INT) AS k,
       CAST(round(CAST(theta AS DOUBLE) / CAST({_R60} AS DOUBLE), 6)
         AS DOUBLE) AS theta_frac,
       {est('n_p', 'theta_p')} AS est_purchase,
       {est('n_c', 'theta_c')} AS est_click,
       {est('n_i', 'theta')} AS est_intersection,
       {est('n_u', 'theta')} AS est_union,
       CAST(x_p AS BIGINT) AS exact_purchase,
       CAST(x_c AS BIGINT) AS exact_click,
       CAST(x_i AS BIGINT) AS exact_intersection,
       CAST(x_p + x_c - x_i AS BIGINT) AS exact_union,
       {err(est('n_i', 'theta'), 'x_i')} AS err_pct_intersection,
       {err(est('n_u', 'theta'), 'x_p + x_c - x_i')} AS err_pct_union
FROM cx CROSS JOIN exact CROSS JOIN ix
"""


THETA_SKETCH_INTERSECTION_SQL = _theta_sql()

QUERIES["theta_sketch_intersection"] = theta_sketch_intersection
ORACLES["theta_sketch_intersection"] = THETA_SKETCH_INTERSECTION_SQL


# --- AMS (tug-of-war) F2 sketch: self-join size estimation -------------------
# The fifth sketch family member (after HLL/CMS/Bloom/theta): the second
# frequency moment F2 = sum_k cnt(k)^2 IS the self-join size on the key —
# what a cost-based optimizer wants before planning a big self-join — and
# the AMS sketch estimates it from K counters updated with +-1 hash signs
# (Alon-Matias-Szegedy '96).  Z_j = sum_k sign_j(k)*cnt(k); E[Z_j^2] = F2.
# Distributed shape: the fact table compresses to the (key, cnt) table
# first (one combinable shuffle), then the K=64 estimators explode over the
# COMPRESSED keys (constant 64x on ~|keys| rows, map-side, no extra
# shuffle) — each Z_j is a plain conditional sum, so at 100 TB the sketch
# is one agg over keys x 64 rows.  Mean-of-64 and the more robust
# median-of-8-means-of-8 both come out; signs derive from the shared
# md5_prefix_long_sql recipe so Spark and DuckDB see identical registers,
# and every value (signs, Z, Z^2, means, median, exact F2) is integer —
# err_pct is the one final double expression per estimator column.
AMS_K = 256  # estimators, grouped 16x16 for median-of-means
AMS_G = 16  # groups (of AMS_K // AMS_G estimators each)


def ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    keys = o.groupBy("o_custkey").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    sign = _md5_long("concat(o_custkey, '|', j)", 15, "spark")
    z = (
        keys.select(
            "o_custkey",
            "cnt",
            F.explode(F.sequence(F.lit(0), F.lit(AMS_K - 1))).alias("j"),
        )
        .selectExpr("cnt", "j", f"(({sign}) % 2) * 2 - 1 AS s")
        .groupBy("j")
        .agg(
            F.sum(F.col("s") * F.col("cnt")).cast("long").alias("zj"),
        )
        .select("j", (F.col("zj") * F.col("zj")).cast("long").alias("z2"))
    )
    # median of 8 group means: the 8 means are integers (truncated DIV 8);
    # median of 8 values = mean of order stats 4 and 5, again truncated.
    grp = z.groupBy((F.col("j") % AMS_G).alias("g")).agg(
        F.expr(f"sum(z2) DIV {AMS_K // AMS_G}").cast("long").alias("gm")
    )
    mom = grp.agg(
        F.expr(
            f"(CAST(sort_array(collect_list(gm))[{AMS_G // 2 - 1}] AS BIGINT)"
            f" + CAST(sort_array(collect_list(gm))[{AMS_G // 2}] AS BIGINT)) DIV 2"
        ).alias("est_mom")
    )
    mean = z.agg(F.expr(f"sum(z2) DIV {AMS_K}").cast("long").alias("est_mean"))
    exact = keys.agg(F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("f2"))
    out = exact.crossJoin(F.broadcast(mean)).crossJoin(F.broadcast(mom))
    return out.selectExpr(
        "f2 AS exact_f2",
        "est_mean",
        "CAST(est_mom AS BIGINT) AS est_mom",
        "CAST(round(10000 * (CAST(est_mean AS DOUBLE) - CAST(f2 AS DOUBLE))"
        " / CAST(f2 AS DOUBLE)) AS BIGINT) AS err_mean_bp",
        "CAST(round(10000 * (CAST(est_mom AS DOUBLE) - CAST(f2 AS DOUBLE))"
        " / CAST(f2 AS DOUBLE)) AS BIGINT) AS err_mom_bp",
    )


def _ams_sql() -> str:
    sign = _md5_long("(o_custkey || '|' || j)", 15, "duck")
    return f"""
WITH keys AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY o_custkey
), z AS (
  SELECT j, CAST(sum(((({sign}) % 2) * 2 - 1) * cnt) AS BIGINT) AS zj
  FROM keys, (SELECT unnest(range(0, {AMS_K})) AS j) jj
  GROUP BY j
), z2 AS (
  SELECT j, CAST(zj * zj AS BIGINT) AS z2 FROM z
), grp AS (
  SELECT j % {AMS_G} AS g, CAST(sum(z2) // {AMS_K // AMS_G} AS BIGINT) AS gm
  FROM z2 GROUP BY 1
), mom AS (
  SELECT CAST((m4 + m5) // 2 AS BIGINT) AS est_mom
  FROM (
    SELECT CAST(list_sort(list(gm))[{AMS_G // 2}] AS BIGINT) AS m4,
           CAST(list_sort(list(gm))[{AMS_G // 2 + 1}] AS BIGINT) AS m5
    FROM grp
  )
), mean AS (
  SELECT CAST(sum(z2) // {AMS_K} AS BIGINT) AS est_mean FROM z2
), exact AS (
  SELECT CAST(sum(cnt * cnt) AS BIGINT) AS f2 FROM keys
)
SELECT f2 AS exact_f2, est_mean, est_mom,
       CAST(round(10000 * (CAST(est_mean AS DOUBLE) - CAST(f2 AS DOUBLE))
            / CAST(f2 AS DOUBLE)) AS BIGINT) AS err_mean_bp,
       CAST(round(10000 * (CAST(est_mom AS DOUBLE) - CAST(f2 AS DOUBLE))
            / CAST(f2 AS DOUBLE)) AS BIGINT) AS err_mom_bp
FROM exact, mean, mom
"""


AMS_F2_SKETCH_SQL = _ams_sql()

QUERIES["ams_f2_sketch"] = ams_f2_sketch
ORACLES["ams_f2_sketch"] = AMS_F2_SKETCH_SQL
