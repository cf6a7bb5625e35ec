"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

- brute-force cosine top-k: the correctness baseline (query set × corpus).
- LSH bucketing + sim_lsh_topk: scale path #1 — candidates via equi-join
  on (table_id, bucket) over N_TABLES hyperplane tables with Hamming-2
  XOR multiprobe.
- IVF + sim_ivf_topk: scale path #2 — a sampled spherical k-means
  quantizer (ivf_fit) assigns every vector to its nearest centroid (the
  classic inverted-file layout); queries probe their nprobe nearest lists
  and rerank exactly within them.
- sim_recall: measured recall@k of both ANN paths against the brute-force
  ground truth — the tuning target (≥0.9 @ k=5, BENCH.md) is a first-class
  oracle-checked query, not a side report.

Float determinism vs the DuckDB oracle: every element is cast to double
before arithmetic, and both engines evaluate the 64-term sums in the same
left-associated order (literal sums on both sides), so the doubles are
bit-identical and rounding is purely cosmetic.

Also here: the binary sign-hash index (sim_binary_hash_topk, 1 bit per
dimension: the cheapest rung of the quantization ladder below SQ8 and PQ,
Hamming candidates then exact-cosine rerank), mutual-nearest-neighbor
pairs, the blocked k-NN graph, and embedding near-dup verification.

The retrieval spine: the Spark side of every query here is assembled from
one copy of each retrieval step — ``_normed`` (the per-row norm2
projection), ``_sides`` (the query and corpus sides), ``_cosine`` (the
rounded cosine), ``dedup.top_k`` (the query package's one rank-and-cut,
the one place a top-k cutoff changes), ``_query_top_k`` (the final TOP_K
answer shape), ``_rerank`` (exact cosine over a candidate shortlist),
``_adc_exprs`` (PQ lookup tables and the ADC score), ``_recall_hits``
(hits against a ground truth) and ``_lloyd`` (the seeded Lloyd fit
behind both IVF and PQ).  The DuckDB oracles (``*_SQL``,
``_*_duck_sql``) are the reference implementations and spell every step
out on their own.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_craft_spark.queries import dedup
from pdf_craft_spark.sources import load_table, table_path

N_QUERIES = 10
TOP_K = 5
N_PLANES = 8
DIM = 64


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# The dot product as a left fold over zip_with (interpreted higher-order
# expression).  A literal 64-term sum was MEASURED AND REJECTED: it is
# 4.2x faster per row in an isolated projection, but inside the top-k
# join stages the inlined copies blow Janino's 64KB method limit — the
# WHOLE stage falls back to interpreted and the queries get slower
# (sim_cosine_topk 1.2s -> 2.0s).  The fold keeps stages codegen-friendly
# and folds left-to-right, bit-identical to DuckDB's list_reduce.
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


# --- the retrieval spine -------------------------------------------------------
def _normed(emb: DataFrame, dot: str, *keep: str) -> DataFrame:
    """(vec_id, *keep, embedding, norm2) with norm2 the ``dot`` template of
    embedding with itself.  Norms are per row: compute them once per side
    BEFORE a join (the higher-order aggregate is interpreted, not
    codegen'd — never re-evaluate it per pair)."""
    return emb.select(
        "vec_id",
        *keep,
        "embedding",
        F.expr(dot.format(a="embedding", b="embedding")).alias("norm2"),
    )


def _sides(
    base: DataFrame, q_extra: list[Column], c_extra: list[Column]
) -> tuple[DataFrame, DataFrame]:
    """The query side (query_id, qe, nq, *q_extra) over vec_id <
    N_QUERIES and the corpus side (neighbor_id, ce, nc, *c_extra) of a
    ``_normed`` frame."""
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm2").alias("nq"),
        *q_extra,
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("norm2").alias("nc"),
        *c_extra,
    )
    return q, c


def _cosine(dot: str, na: str, nb: str) -> Column:
    """The cosine of the SQL dot product ``dot`` over the norms ``na`` and
    ``nb``, rounded to 6 places so both engines rank identical values."""
    return F.round(F.expr(dot) / F.sqrt(F.col(na) * F.col(nb)), 6)


def _query_top_k(scored: DataFrame, score: str, *keep: str) -> DataFrame:
    """The answer shape of the top-k queries: the TOP_K neighbors of each
    query, best ``score`` first and ties to the lower neighbor_id, as
    (query_id, rank bigint, neighbor_id, *keep, score)."""
    order = [F.desc(score), F.asc("neighbor_id")]
    return (
        dedup.top_k(scored, ["query_id"], order, TOP_K, "rank")
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "neighbor_id",
            *keep,
            score,
        )
        .orderBy("query_id", "rank")
    )


def _rerank(shortlist: DataFrame, base: DataFrame, *keep: str) -> DataFrame:
    """Exact-cosine rerank of a (query_id, neighbor_id, *keep) shortlist:
    full vectors come from the ``_normed`` frame ``base`` for shortlist
    rows only."""
    q, c = _sides(base, [], [])
    scored = (
        shortlist.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            *keep,
            _cosine(_DOT.format(a="qe", b="ce"), "nq", "nc").alias("cos_sim"),
        )
    )
    return _query_top_k(scored, "cos_sim", *keep)


def _recall_hits(approx: DataFrame, gt: DataFrame) -> DataFrame:
    """One row per ground-truth query: n is how many of its ``approx``
    (query_id, neighbor_id) rows are in ``gt`` (null where none are)."""
    hits = (
        approx.join(gt, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return gt.select("query_id").distinct().join(hits, "query_id", "left")


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    q, c = _sides(_normed(_emb(spark, sf_dir), _DOT), [], [])
    joined = F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        _cosine(_DOT.format(a="qe", b="ce"), "nq", "nc").alias("cos_sim"),
    )
    return _query_top_k(scored, "cos_sim")


_DOT_DUCK = (
    "list_reduce(list_transform(range(1, {n} + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, v) -> acc + v)"
)

SIM_COSINE_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         round({_DOT_DUCK.format(a="qe", b="ce", n=DIM)}
               / sqrt({_DOT_DUCK.format(a="qe", b="qe", n=DIM)}
                      * {_DOT_DUCK.format(a="ce", b="ce", n=DIM)}), 6) AS cos_sim
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id
)
SELECT query_id, rank, neighbor_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


# --- LSH bucket assignment (random-hyperplane signs) ------------------------
# Hyperplane p, dim d sign taken from md5 parity (engine-portable, seedless):
# r[p][d] = +1 if first hex nibble of md5('p|d') < '8' else -1.
# bucket bit p = 1 iff sum_d r[p][d] * v[d] > 0.
def _plane_signs(prefix: str = "") -> list[list[int]]:
    """Hyperplane sign matrix from md5 parity; ``prefix`` namespaces
    independent tables (sim_lsh_topk) while the bare call keeps
    sim_lsh_buckets' original single-table planes."""
    import hashlib

    signs = []
    for p in range(N_PLANES):
        row = []
        for d in range(DIM):
            h = hashlib.md5(f"{prefix}{p}|{d}".encode()).hexdigest()
            row.append(1 if h[0] in "01234567" else -1)
        signs.append(row)
    return signs


def _bit_cols() -> list[F.Column]:
    signs = _plane_signs()
    bit_cols = []
    for p in range(N_PLANES):
        terms = " + ".join(
            f"({s}.0 * CAST(element_at(embedding, {d + 1}) AS DOUBLE))"
            for d, s in enumerate(signs[p])
        )
        bit_cols.append(F.when(F.expr(terms) > 0, F.lit("1")).otherwise(F.lit("0")))
    return bit_cols


def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return emb.select(
        "vec_id", F.concat(*_bit_cols()).alias("bucket"), "label"
    ).orderBy("vec_id")


def _lsh_duck_sql() -> str:
    signs = _plane_signs()
    bits = []
    for p in range(N_PLANES):
        terms = " + ".join(
            f"({s}.0 * CAST(embedding[{d + 1}] AS DOUBLE))"
            for d, s in enumerate(signs[p])
        )
        bits.append(f"CASE WHEN ({terms}) > 0 THEN '1' ELSE '0' END")
    bucket = " || ".join(bits)
    return f"SELECT vec_id, {bucket} AS bucket, label FROM embeddings ORDER BY vec_id"


SIM_LSH_BUCKETS_SQL = _lsh_duck_sql()


# --- end-to-end bucketed ANN top-k -------------------------------------------
# The 100 TB path: candidates come from an EQUI-JOIN on (table_id, bucket)
# with N_TABLES independent hyperplane tables and Hamming-radius-2
# multiprobe (bucket keys are ints; probing = XOR against a literal mask
# set), then exact cosine reranks only within the deduplicated candidate
# set.  The plan contains no CartesianProduct / BroadcastNestedLoopJoin
# anywhere: bucket assignment is a narrow projection, candidate generation
# shuffles on the composite bucket key, rerank is per-pair scalar math.
# Knobs, tuned to the measured recall target (BENCH.md, ≥0.9 @k=5):
# N_TABLES / MULTIPROBE_RADIUS raise recall, N_PLANES shrinks buckets —
# at larger N, planes grow like log2(N) to hold bucket occupancy while the
# table/radius pair holds the recall floor.
N_TABLES = 8
MULTIPROBE_RADIUS = 2


def _table_plane_signs(tbl: int) -> list[list[int]]:
    return _plane_signs(f"{tbl}|")


def _probe_masks() -> list[int]:
    """XOR masks for all buckets within Hamming distance MULTIPROBE_RADIUS."""
    masks = [0]
    masks += [1 << i for i in range(N_PLANES)]
    if MULTIPROBE_RADIUS >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(N_PLANES)
            for j in range(i + 1, N_PLANES)
        ]
    return masks


def _bucket_int_expr(tbl: int) -> str:
    """Bucket id for one table as an int: bit p set iff the vector lands on
    the positive side of hyperplane p.  Each plane dot is a fold over
    zip_with with a sign-array literal (codegen-safe; literal 64-term sums
    are not — see _DOT)."""
    signs = _table_plane_signs(tbl)
    bits = []
    for p in range(N_PLANES):
        arr = "array(" + ", ".join(f"{float(s)!r}D" for s in signs[p]) + ")"
        dot = (
            f"aggregate(zip_with(embedding, {arr}, "
            "(x, y) -> y * CAST(x AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(f"IF({dot} > 0, {1 << p}, 0)")
    return " + ".join(bits)


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _normed(_emb(spark, sf_dir), _DOT).select(
        "*",
        *[
            F.expr(_bucket_int_expr(t)).cast("int").alias(f"bt{t}")
            for t in range(N_TABLES)
        ],
    )
    # materialize the bucket index once (same reasoning as the IVF
    # assignment below: the 64 interpreted sign-folds would otherwise be
    # re-evaluated through both join inputs; measured 2.27s → 1.55s at
    # sf0.1, results identical).  At prod this is the written hash-table
    # index.
    base = base.localCheckpoint(eager=True)
    tables = F.explode(
        F.array(
            *[
                F.struct(F.lit(t).alias("t"), F.col(f"bt{t}").alias("b"))
                for t in range(N_TABLES)
            ]
        )
    ).alias("tb")
    q, c = _sides(base, [tables], [tables])
    c = c.select(
        "neighbor_id", "ce", "nc", F.col("tb.t").alias("ct"), F.col("tb.b").alias("cb")
    )
    masks = _probe_masks()
    q = (
        q.select(
            "query_id",
            "qe",
            "nq",
            F.col("tb.t").alias("qt"),
            F.explode(F.array(*[F.lit(m) for m in masks])).alias("mask"),
            F.col("tb.b").alias("qb"),
        )
        .select(
            "query_id",
            "qe",
            "nq",
            "qt",
            F.expr("qb ^ mask").cast("int").alias("pb"),
        )
    )
    cand = q.join(
        c, (q["qt"] == c["ct"]) & (q["pb"] == c["cb"])
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    # a pair found by several tables/probes scores identically — dedup by
    # max (same value) before the top-k window
    scored = (
        cand.select(
            "query_id",
            "neighbor_id",
            _cosine(_DOT.format(a="qe", b="ce"), "nq", "nc").alias("cs"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cs").alias("cos_sim"))
    )
    return _query_top_k(scored, "cos_sim")


def _lsh_topk_duck_sql() -> str:
    bucket_cols = []
    for t in range(N_TABLES):
        signs = _table_plane_signs(t)
        bits = []
        for p in range(N_PLANES):
            lst = "[" + ", ".join(repr(float(s)) for s in signs[p]) + "]"
            dot = (
                f"list_reduce(list_transform(range(1, {DIM} + 1), "
                f"i -> ({lst})[i] * CAST(embedding[i] AS DOUBLE)), "
                "(acc, v) -> acc + v)"
            )
            bits.append(f"CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END")
        bucket_cols.append(" + ".join(bits) + f" AS bt{t}")
    tb_union = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, embedding, norm2, {t} AS t, bt{t} AS b FROM base"
        for t in range(N_TABLES)
    )
    mask_rows = ", ".join(f"({m})" for m in _probe_masks())
    norm = _DOT_DUCK.format(a="embedding", b="embedding", n=DIM)
    dot = _DOT_DUCK.format(a="qe", b="ce", n=DIM)
    return f"""
WITH base AS (
  SELECT vec_id, embedding, {norm} AS norm2,
         {", ".join(bucket_cols)}
  FROM embeddings
), tb AS (
{tb_union}
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, norm2 AS nq, t AS qt,
         xor(b, m.mask) AS pb
  FROM tb CROSS JOIN (VALUES {mask_rows}) m(mask)
  WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS ce, norm2 AS nc, t AS ct, b AS cb
  FROM tb
), scored AS (
  SELECT query_id, neighbor_id,
         max(round({dot} / sqrt(nq * nc), 6)) AS cos_sim
  FROM q JOIN c ON qt = ct AND pb = cb
  WHERE query_id <> neighbor_id
  GROUP BY query_id, neighbor_id
)
SELECT query_id, rank, neighbor_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


SIM_LSH_TOPK_SQL = _lsh_topk_duck_sql()


# --- IVF: coarse quantizer + inverted lists -----------------------------------
# The quantizer is a REAL sampled k-means fit (seeded, fixed iterations —
# fully deterministic): up to SAMPLE_CAP vectors are taken at a fixed
# stride in vec_id order, seeds are K evenly-spaced sample vectors, and
# KMEANS_ITERS Lloyd iterations refine them with numpy's deterministic
# pairwise summation.  K follows the classic ceil(sqrt(N)) capacity rule,
# NPROBE scales with K — both grow with the corpus instead of being
# constants.  The fit artifact is a list of literal centroid vectors (the
# "model broadcast" of a fit step: at 100 TB the sample comes from
# df.sample().collect(), everything downstream is unchanged); the DATAFLOW
# (assign every vector to its nearest list via a narrow projection against
# the literals, probe NPROBE lists per query, exact rerank within lists)
# is exactly IVF's, with candidate generation as an equi-join on the
# centroid id.  The DuckDB oracle embeds the SAME literal centroids, so
# both engines run the identical quantizer.
SAMPLE_CAP = 2048
KMEANS_ITERS = 8  # the sample is ≤2048×64 doubles — extra Lloyd passes are ~free
# The fraction of the k lists each query probes — the recall/cost dial —
# is ADAPTIVE: ivf_fit measures recall@TOP_K on its own fit sample across
# probe counts and picks the smallest nprobe that clears IVF_RECALL_TARGET
# — so an isotropic corpus (worst case for list pruning) gets the large
# fraction it genuinely needs while clustered embeddings (the realistic
# case) automatically get a small one (measured 2 of 45 lists,
# tests/test_ann_clustered.py), instead of every corpus paying the
# isotropic worst case.
# sample-recall target for the adaptive calibration: margin over the
# shipped ≥0.9 recall gate (tests/test_ann_recall.py) to absorb
# sample-vs-corpus estimation error
IVF_RECALL_TARGET = 0.92
CAL_QUERIES = 256  # calibration query rows (first sample rows)

# The sf the external driver's oracle comparison runs at; the static
# ORACLES entries embed centroids fit on THIS directory.  Tests at other
# sf values build matched oracles via oracle_overrides().
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _fit_sample(sf_dir: str) -> tuple[int, "object"]:
    """The fit's ONLY data access: (total_rows, sample matrix ≤SAMPLE_CAP).

    The sample rule is a deterministic vec_id stride — rows with
    ``vec_id % stride == 0`` (stride = n // SAMPLE_CAP), lowest vec_ids
    first — identical on both code paths:

    - With an active SparkSession the sample is computed DISTRIBUTED: a
      2-column pruned scan + filter, collecting only ≤SAMPLE_CAP rows to
      the driver.  This is the 100 TB path — the driver never holds more
      than the sample.
    - Without Spark (the DuckDB-only oracle builders / import-time SQL
      generation) pyarrow streams the file batch-by-batch and keeps only
      matching rows, so driver memory stays O(SAMPLE_CAP) there too; n
      comes from parquet metadata, not a data read.
    """
    import numpy as np

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        df = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        n = df.count()
        stride = max(1, n // SAMPLE_CAP)
        rows = (
            df.filter(F.col("vec_id") % stride == 0)
            .orderBy("vec_id")
            .limit(SAMPLE_CAP)
            .collect()
        )
        mat = np.asarray([r.embedding for r in rows], dtype=np.float64)
        return n, mat
    import pyarrow.dataset as ds

    dset = ds.dataset(table_path(sf_dir, "embeddings"))
    n = dset.count_rows()  # row-group metadata only
    stride = max(1, n // SAMPLE_CAP)
    ids: list = []
    chunks: list = []
    for batch in dset.to_batches(columns=["vec_id", "embedding"]):
        v = np.asarray(batch.column("vec_id"))
        m = (v % stride) == 0
        if m.any():
            ids.append(v[m])
            chunks.append(
                np.asarray(batch.column("embedding").to_pylist(), dtype=np.float64)[m]
            )
    allid = np.concatenate(ids)
    mat = np.concatenate(chunks)[np.argsort(allid)][:SAMPLE_CAP]
    return n, mat


def ivf_fit(sf_dir: str) -> tuple[int, int, list[tuple[int, list[float]]], dict]:
    """Sampled k-means fit over the embeddings table → (n_vectors, nprobe,
    [(cid, centroid)], calibration report), memoized in the artifact
    registry against the directory's table fingerprint.  Deterministic:
    fixed vec_id-stride sample (see _fit_sample — distributed under Spark,
    streamed otherwise; for dense 0..n-1 vec_ids both reproduce the
    historical positional stride bit-for-bit), fixed seeds, fixed
    iteration count, numpy pairwise sums (no threaded BLAS reductions) —
    the same tables always yield the same literals, so Spark and the SQL
    oracle share one quantizer."""
    return dedup.registered(None, f"ivf_fit:{sf_dir}", lambda: (_ivf_fit(sf_dir), ()))


def _ivf_fit(sf_dir: str) -> tuple[int, int, list[tuple[int, list[float]]], dict]:
    import math

    import numpy as np

    n, mat = _fit_sample(sf_dir)
    # SPHERICAL k-means: the query metric is cosine, so fit/assign live on
    # the unit sphere (L2 there is monotone in cosine); centroids are
    # renormalized after each mean — measured +0.04..+0.12 recall over
    # unnormalized k-means on this corpus at equal nprobe
    sample = mat / np.sqrt((mat * mat).sum(axis=1))[:, None]
    k = max(1, math.ceil(math.sqrt(n)))
    cents = _lloyd(sample, k, KMEANS_ITERS, True)
    nprobe, cal = _calibrate_nprobe(sample, cents)
    return n, nprobe, [(ci, [float(v) for v in cents[ci]]) for ci in range(k)], cal


def _lloyd(points: "object", k: int, iters: int, spherical: bool) -> "object":
    """k centroids of ``points`` after ``iters`` Lloyd rounds; with
    ``spherical`` each mean is renormalized to the unit sphere.

    Seeding is k-means++-style and deterministic: farthest-point traversal
    over the points (next seed = argmax of min squared distance to the
    chosen set; argmax first-hit breaks ties toward the lowest index).  It
    spreads seeds over the data hull instead of following vec_id order —
    better list balance than evenly-spaced picks at zero extra cost
    (O(k·n·d) on a ≤2048-row sample).  Distances are elementwise ops plus
    an axis sum (pairwise, single-threaded — deterministic across runs),
    assignment ties go to the lowest centroid (argmin first-hit), and an
    empty cluster keeps its centroid."""
    import numpy as np

    seed_idx = [0]
    mind = ((points - points[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        nxt = int(mind.argmax())
        seed_idx.append(nxt)
        mind = np.minimum(mind, ((points - points[nxt]) ** 2).sum(axis=1))
    cents = points[seed_idx].copy()
    for _ in range(iters):
        d2 = ((points[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for ci in range(k):
            members = points[assign == ci]
            if len(members):
                c = members.mean(axis=0)
                cents[ci] = c / np.sqrt((c * c).sum()) if spherical else c
    return cents


def _calibrate_nprobe(sample: "object", cents: "object") -> tuple[int, dict]:
    """Measured-recall probe calibration on the fit sample → (nprobe,
    report of k, nprobe, fraction and sample recall).

    Computes, entirely on the ≤SAMPLE_CAP in-memory sample, the recall@
    TOP_K a probe count of p would achieve (for the first CAL_QUERIES
    sample rows as stand-in queries, against exact within-sample cosine
    ground truth) and returns the smallest p clearing IVF_RECALL_TARGET.
    This replaces the former fixed worst-case fraction: the probe budget
    is now a property MEASURED from the data's own cluster structure —
    isotropic corpora keep the large fraction they need, clustered ones
    drop to a small one.  Deterministic: chunked elementwise distance sums
    (no threaded-BLAS reductions), stable argsorts (ties → lowest index,
    matching the query's (d, c) lexicographic sort and argmin assignment).
    The result feeds both engines identically (the oracle SQL embeds the
    same nprobe), so calibration affects cost/recall, never parity."""
    import numpy as np

    n, k = len(sample), len(cents)

    def d2_to(rows: "np.ndarray", pts: "np.ndarray") -> "np.ndarray":
        return ((rows[:, None, :] - pts[None, :, :]) ** 2).sum(axis=2)

    assign = np.empty(n, dtype=np.int64)
    for i in range(0, n, 256):
        assign[i : i + 256] = d2_to(sample[i : i + 256], cents).argmin(axis=1)
    nq = min(CAL_QUERIES, n)
    k_eff = min(TOP_K, n - 1)
    hits = np.zeros(k, dtype=np.int64)  # hits[r]: gt neighbors at centroid rank r
    total = 0
    for i in range(0, nq, 64):
        q = sample[i : i + 64]
        m = len(q)
        # exact gt top-k by cosine == ascending unit-sphere L2 distance
        dv = d2_to(q, sample)
        dv[np.arange(m), np.arange(i, i + m)] = np.inf  # exclude self
        gt = np.argsort(dv, axis=1, kind="stable")[:, :k_eff]
        order = np.argsort(d2_to(q, cents), axis=1, kind="stable")  # rank → cid
        rank_of = np.empty_like(order)
        np.put_along_axis(
            rank_of, order, np.broadcast_to(np.arange(k), (m, k)).copy(), axis=1
        )
        gt_ranks = np.take_along_axis(rank_of, assign[gt], axis=1)
        for r in gt_ranks.ravel():
            hits[r] += 1
        total += gt.size
    recall_at = np.cumsum(hits) / max(1, total)  # recall with nprobe=p is recall_at[p-1]
    meets = np.flatnonzero(recall_at >= IVF_RECALL_TARGET)
    # the floor of 2 can exceed k on degenerate corpora (n=1 → k=1); the
    # query side tolerates nprobe > k (slice just truncates), but the
    # sample-recall report must index within the k-length curve
    nprobe = max(2, (int(meets[0]) + 1) if len(meets) else k)
    return nprobe, {
        "mode": "adaptive",
        "k": k,
        "nprobe": nprobe,
        "frac": round(nprobe / k, 4),
        "target": IVF_RECALL_TARGET,
        "sample_recall": round(float(recall_at[min(nprobe, k) - 1]), 4),
        "cal_queries": nq,
    }


def _cent_struct_array(cents: list[tuple[int, list[float]]]) -> str:
    items = ", ".join(
        "named_struct('c', {}, 'v', array({}))".format(
            cid, ", ".join(f"{float(x)!r}D" for x in vals)
        )
        for cid, vals in cents
    )
    return f"array({items})"


def _ivf_dsorted_expr(cents) -> str:
    """Distances to ALL centroids as ONE nested higher-order expression
    over an array-of-structs literal (k separate fold expressions made
    the optimizer quadratic in k; one transform stays flat).  Assignment
    is on the UNIT vector (x/sqrt(norm2)) to match the spherical fit.
    Fold order starts at +0.0, value-identical to the oracle's
    list_reduce.  Requires columns embedding + norm2 in scope."""
    return (
        f"transform({_cent_struct_array(cents)}, s -> named_struct("
        "'d', aggregate(zip_with(embedding, s.v, "
        "(x, y) -> (CAST(x AS DOUBLE) / sqrt(norm2) - y)"
        " * (CAST(x AS DOUBLE) / sqrt(norm2) - y)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 'c', s.c))"
    )


def ivf_assign_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact: the written IVF assignment table — (vec_id,
    embedding, norm2, dsorted) with dsorted the (d, c)-lexicographic
    sorted distances to every coarse centroid.  The assignment expression
    is interpreted (higher-order functions don't codegen) and is the
    costly leg of every IVF consumer (sim_ivf_topk, ivfpq_topk,
    semantic_dedup_clusters, sim_recall's ivf side); materializing it
    once per session both stops Catalyst inlining it into join inputs
    (measured 86s vs <1s for the join at sf0.1) and shares the one
    evaluation across the family."""
    def build() -> DataFrame:
        _n, _nprobe, cents, _cal = ivf_fit(sf_dir)
        return _normed(_emb(spark, sf_dir), _DOT).select(
            "vec_id",
            "embedding",
            "norm2",
            F.array_sort(F.expr(_ivf_dsorted_expr(cents))).alias("dsorted"),
        )

    return dedup.session_artifact(spark, f"ivf_assign:{sf_dir}", build)


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _n, nprobe, cents, _cal = ivf_fit(sf_dir)
    # narrow projections over the materialized assignment artifact — the
    # real IVF shape (the inverted-list assignment is a built artifact;
    # write it as a table at prod, localCheckpoint here)
    base = ivf_assign_cached(spark, sf_dir).select(
        "vec_id",
        "embedding",
        "norm2",
        F.element_at("dsorted", 1)["c"].alias("cid"),  # ties → lowest cid
        F.slice("dsorted", 1, nprobe).alias("probes"),
    )
    q, c = _sides(base, [F.explode("probes").alias("p")], [F.col("cid")])
    q = q.select("query_id", "qe", "nq", F.col("p.c").alias("pcid"))
    cand = q.join(c, q["pcid"] == c["cid"]).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        _cosine(_DOT.format(a="qe", b="ce"), "nq", "nc").alias("cos_sim"),
    )
    return _query_top_k(scored, "cos_sim")


def _ivf_duck_sql(sf_dir: str) -> str:
    """Oracle twin: the SAME literal centroids ivf_fit produced for this
    directory, the same fold-shaped distance (list_reduce over
    list_transform is left-associated like Spark's aggregate; squared
    terms are non-negative so the 0.0 init is value-neutral)."""
    _n, nprobe, cents, _cal = ivf_fit(sf_dir)
    cent_rows = ",\n    ".join(
        "({}, [{}]::DOUBLE[])".format(cid, ", ".join(repr(float(x)) for x in vals))
        for cid, vals in cents
    )
    sq = (
        "list_reduce(list_transform(range(1, {n} + 1), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) / sqrt(e.norm2) - c.embedding[i])"
        " * (CAST(e.embedding[i] AS DOUBLE) / sqrt(e.norm2) - c.embedding[i])), "
        "(acc, v) -> acc + v)"
    ).format(n=DIM)
    norm = _DOT_DUCK.format(a="embedding", b="embedding", n=DIM)
    dot = _DOT_DUCK.format(a="qe", b="ce", n=DIM)
    return f"""
WITH cent(cid, embedding) AS (
  VALUES
    {cent_rows}
), base AS (
  SELECT vec_id, embedding, {norm} AS norm2 FROM embeddings
), dists AS (
  SELECT e.vec_id, c.cid, {sq} AS d
  FROM base e CROSS JOIN cent c
), ranked AS (
  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
  FROM dists
), assign AS (
  SELECT r.vec_id, r.cid FROM ranked r WHERE r.rk = 1
), q AS (
  SELECT b.vec_id AS query_id, b.embedding AS qe, b.norm2 AS nq, r.cid AS pcid
  FROM base b JOIN ranked r ON r.vec_id = b.vec_id
  WHERE b.vec_id < {N_QUERIES} AND r.rk <= {nprobe}
), c AS (
  SELECT b.vec_id AS neighbor_id, b.embedding AS ce, b.norm2 AS nc, a.cid
  FROM base b JOIN assign a ON a.vec_id = b.vec_id
), scored AS (
  SELECT query_id, neighbor_id,
         round({dot} / sqrt(nq * nc), 6) AS cos_sim
  FROM q JOIN c ON pcid = cid
  WHERE query_id <> neighbor_id
)
SELECT query_id, rank, neighbor_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


# --- ANN recall@k vs the brute-force ground truth ------------------------------
# The quality gate the approximate paths answer to: for each query, how
# many of the true top-k (sim_cosine_topk) does each ANN path recover?
# This is a first-class query (and driver-oracle row), not a side report:
# an ANN index with unmeasured recall is not shippable at 100 TB.  Target
# (BENCH.md): mean recall ≥ 0.9 @ k=5 for both paths.
def sim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gt feeds four join inputs (two hit-joins + the qids spine in both
    # parts) and Catalyst inlines the brute-force cross join into each.
    # Deliberately left INLINE: measured at sf0.1/8 cores, eager
    # localCheckpoint (6.0-7.8s) and cache()+collect (5.6-6.4s) both LOSE
    # to plain inlining (4.4-4.7s) — the recomputed subtrees overlap
    # inside two jobs, while a materialization barrier serializes the
    # DAG.  At corpus scale an evaluation harness would read gt from a
    # written table anyway, so the inline form is also the honest shape.
    gt = sim_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    parts = []
    for method, fn in (("ivf", sim_ivf_topk), ("lsh", sim_lsh_topk)):
        approx = fn(spark, sf_dir).select("query_id", "neighbor_id")
        parts.append(
            _recall_hits(approx, gt).select(
                F.lit(method).alias("method"),
                "query_id",
                F.coalesce(F.col("n"), F.lit(0)).cast("int").alias("n_hits"),
                (
                    F.coalesce(F.col("n"), F.lit(0)).cast("double")
                    / F.lit(float(TOP_K))
                ).alias("recall_at_k"),
            )
        )
    return parts[0].unionAll(parts[1]).orderBy("method", "query_id")


def _recall_duck_sql(sf_dir: str) -> str:
    gt_sql = SIM_COSINE_TOPK_SQL
    lsh_sql = SIM_LSH_TOPK_SQL
    ivf_sql = _ivf_duck_sql(sf_dir)
    return f"""
WITH gt AS (
  SELECT query_id, neighbor_id FROM ({gt_sql})
), lsh AS (
  SELECT query_id, neighbor_id FROM ({lsh_sql})
), ivf AS (
  SELECT query_id, neighbor_id FROM ({ivf_sql})
), qids AS (
  SELECT DISTINCT query_id FROM gt
), hits AS (
  SELECT 'ivf' AS method, a.query_id, count(*) AS n
  FROM ivf a JOIN gt g ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id
  GROUP BY a.query_id
  UNION ALL
  SELECT 'lsh' AS method, a.query_id, count(*) AS n
  FROM lsh a JOIN gt g ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id
  GROUP BY a.query_id
)
SELECT m.method, q.query_id,
       CAST(coalesce(h.n, 0) AS INT) AS n_hits,
       CAST(coalesce(h.n, 0) AS DOUBLE) / {float(TOP_K)!r} AS recall_at_k
FROM qids q CROSS JOIN (SELECT 'ivf' AS method UNION ALL SELECT 'lsh') m
LEFT JOIN hits h ON h.method = m.method AND h.query_id = q.query_id
ORDER BY m.method, q.query_id
"""


def oracle_overrides(sf_dir: str) -> dict[str, str]:
    """Oracles whose SQL embeds data-dependent fit literals — rebuild them
    for a non-default sf directory (local tests at sf0.001/sf0.1; the
    static ORACLES below target the driver's sf0.01)."""
    return {
        "sim_ivf_topk": _ivf_duck_sql(sf_dir),
        "sim_recall": _recall_duck_sql(sf_dir),
        "semantic_dedup_clusters": _semdedup_duck_sql(sf_dir),
        "pq_topk": _pq_duck_sql(sf_dir),
        "ivfpq_topk": _ivfpq_duck_sql(sf_dir),
    }


QUERIES = {
    "sim_cosine_topk": sim_cosine_topk,
    "sim_lsh_buckets": sim_lsh_buckets,
    "sim_lsh_topk": sim_lsh_topk,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_recall": sim_recall,
}

ORACLES = {
    "sim_cosine_topk": SIM_COSINE_TOPK_SQL,
    "sim_lsh_buckets": SIM_LSH_BUCKETS_SQL,
    "sim_lsh_topk": SIM_LSH_TOPK_SQL,
}


# --- SQ8 scalar-quantized top-k (the compressed-index scan) -----------------
# The memory-bound ANN pattern at 100 TB: score against the int8-quantized
# index (4-8x smaller than raw doubles, so 4-8x more of the corpus fits in
# executor memory / page cache) and accept the quantization error instead
# of touching the full-precision vectors.  Same symmetric per-vector
# quantizer as embed_quantize_int8 (scale = max|x|, q = floor(x*127/scale
# + 0.5)); the approximate inner product is the EXACT integer dot of the
# two code vectors rescaled by (sq*sc)/127^2 — all-integer accumulation
# means the only floats are three deterministic IEEE multiplies, so the
# DuckDB oracle is bit-identical.  The quantized table is materialized
# before the scoring join (localCheckpoint = the written SQ8 index a real
# deployment stores; without it Catalyst inlines the interpreted
# transform() into both join inputs and re-quantizes per candidate pair —
# the round-3 hard lesson).  Query side is the broadcast N_QUERIES rows;
# scoring is a linear scan, never quadratic in the corpus.
_SQ_SCALE = (
    "aggregate(embedding, CAST(0.0 AS DOUBLE), "
    "(a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"
)
_SQ_CODES = (
    "CASE WHEN sc = 0.0 THEN transform(embedding, x -> 0) "
    "ELSE transform(embedding, x -> "
    "CAST(floor(CAST(x AS DOUBLE) * 127.0 / sc + 0.5) AS INT)) END"
)
_DOT_I = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    quant = (
        emb.selectExpr("vec_id", f"({_SQ_SCALE}) AS sc", "embedding")
        .selectExpr("vec_id", "sc", f"({_SQ_CODES}) AS qv")
        .localCheckpoint(eager=True)
    )
    q = quant.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("sc").alias("sq"),
        F.col("qv").alias("qe"),
    )
    c = quant.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("sc").alias("scv"),
        F.col("qv").alias("cv"),
    )
    joined = F.broadcast(q).crossJoin(c).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    dot_i = _DOT_I.format(a="qe", b="cv")
    scored = joined.selectExpr(
        "query_id",
        "neighbor_id",
        f"round(((CAST(({dot_i}) AS DOUBLE) * sq) * scv) / CAST(16129.0 AS DOUBLE), 6)"
        " AS score_q",
    )
    return _query_top_k(scored, "score_q")


_DOT_I_DUCK = (
    "list_reduce(list_transform(range(1, {n} + 1), "
    "i -> CAST({a}[i] AS BIGINT) * CAST({b}[i] AS BIGINT)), (acc, v) -> acc + v)"
)

SIM_SQ8_TOPK_SQL = f"""
WITH s AS (
  SELECT vec_id,
         coalesce(list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))), 0.0) AS sc,
         embedding
  FROM embeddings
), q0 AS (
  SELECT vec_id, sc,
         CASE WHEN sc = 0.0 THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 127.0 / sc + 0.5) AS INT)) END AS qv
  FROM s
), qq AS (
  SELECT vec_id AS query_id, sc AS sq, qv AS qe FROM q0 WHERE vec_id < {N_QUERIES}
), cc AS (
  SELECT vec_id AS neighbor_id, sc AS scv, qv AS cv FROM q0
), scored AS (
  SELECT query_id, neighbor_id,
         round(((CAST(({_DOT_I_DUCK.format(a="qe", b="cv", n=DIM)}) AS DOUBLE)
                 * sq) * scv) / CAST(16129.0 AS DOUBLE), 6) AS score_q
  FROM qq CROSS JOIN cc WHERE query_id <> neighbor_id
)
SELECT query_id, rank, neighbor_id, score_q FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score_q DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""

QUERIES["sim_sq8_topk"] = sim_sq8_topk
ORACLES["sim_sq8_topk"] = SIM_SQ8_TOPK_SQL


# --- distributed integer-exact Lloyd k-means ---------------------------------
# Unlike ivf_fit (a SAMPLED driver-side fit feeding an index), this is the
# FULL distributed Lloyd iteration — every vector participates in every
# round, the per-round reduction is a single partial-agg shuffle, and the
# only driver traffic is K×DIM centroid ints per round.  All arithmetic is
# integer-exact so Spark and DuckDB agree bit-for-bit with no fit literals:
# components quantize to floor(x*QSCALE) (float→double is exact, double
# mult + floor are IEEE-identical in both engines), distances are BIGINT
# sums of squares, the argmin tie-breaks to the smallest cluster id, and
# the centroid update is exact rational floor-mean via
# (s - pmod(s, n)) / n — no float division anywhere, so no
# summation-order or rounding divergence is possible.
#
# Scale shape per round: component rows (N×DIM, built once and
# materialized) broadcast-join the K centroid COLUMNS on pos — the
# distance to all K centroids accumulates in ONE groupBy(vec_id) pass
# with K agg columns (map-side combine thins the shuffle to one row per
# vec_id per partition); the update is a groupBy(cluster, pos) over the
# same materialized rows.  No lambda HOFs (interpreted), no per-row
# Python, no cartesian.
KMEANS_K = 8
KMEANS_ROUNDS = 3
KMEANS_QSCALE = 1000


def _kmeans_round_dists(q: DataFrame, cdf: DataFrame, K: int) -> DataFrame:
    """One Lloyd round's distance pass: component rows broadcast-join the
    K centroid COLUMNS on pos, and all K squared distances accumulate in
    a single groupBy(vec_id) aggregate (plan-guarded: the centroid side
    must broadcast — a shuffle join on pos would reshuffle the big
    component table every round)."""
    return (
        q.join(F.broadcast(cdf), "pos")
        .groupBy("vec_id")
        .agg(
            *[
                F.sum(
                    (F.col("qv") - F.col(f"c{j}"))
                    * (F.col("qv") - F.col(f"c{j}"))
                ).alias(f"d{j}")
                for j in range(K)
            ]
        )
    )


def kmeans_int_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    K = KMEANS_K
    q = (
        _emb(spark, sf_dir)
        .select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .select(
            "vec_id",
            "pos",
            F.floor(F.col("x").cast("double") * KMEANS_QSCALE)
            .cast("long")
            .alias("qv"),
        )
        .localCheckpoint(eager=True)  # reused by every round; = written table
    )
    # init: the K smallest vec_ids' quantized vectors (deterministic,
    # engine-independent — no RNG to reconcile)
    cents: dict[tuple[int, int], int] = {
        (int(r["vec_id"]), int(r["pos"])): int(r["qv"])
        for r in q.filter(F.col("vec_id") < K).collect()
    }
    dim = max(p for _, p in cents) + 1
    assign = None
    for t in range(KMEANS_ROUNDS):
        rows = [
            (p, *[cents[(j, p)] for j in range(K)]) for p in range(dim)
        ]
        cdf = spark.createDataFrame(
            rows, "pos int, " + ", ".join(f"c{j} long" for j in range(K))
        )
        dists = _kmeans_round_dists(q, cdf, K)
        mind = F.least(*[F.col(f"d{j}") for j in range(K)])
        cluster = F.coalesce(
            *[F.when(F.col(f"d{j}") == mind, F.lit(j)) for j in range(K)]
        )  # when-chain order = tie-break to the smallest cluster id
        assign = dists.select(
            "vec_id", cluster.cast("int").alias("cluster"), mind.alias("dist")
        )
        if t == KMEANS_ROUNDS - 1:
            # the last round's centroid update is dead state (nothing
            # reads it) — skip it; only the final assignment is output
            break
        # non-final rounds need only the centroid update: compute the
        # assignment INLINE in the update job (single consumer, so a
        # materialization barrier here just adds a write+read of state
        # the next line immediately folds into 512 collected rows)
        upd = (
            q.join(assign.select("vec_id", "cluster"), "vec_id")
            .groupBy("cluster", "pos")
            .agg(F.expr("CAST((sum(qv) - pmod(sum(qv), count(1))) div count(1) AS LONG)").alias("qv"))
            .collect()
        )
        new_cents = dict(cents)  # empty clusters keep their previous centroid
        for r in upd:
            new_cents[(int(r["cluster"]), int(r["pos"]))] = int(r["qv"])
        cents = new_cents
    # no checkpoint on the final assignment either: the output rollup is
    # its single consumer, so the whole last round is ONE job
    return (
        assign.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dist").alias("inertia"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("cluster")
    )


def _kmeans_duck_sql() -> str:
    """The same Lloyd rounds unrolled as chained CTEs — fully
    self-contained (init is the first-K rule, every step integer-exact),
    so unlike the IVF oracle no data-dependent literals are embedded."""
    K, R = KMEANS_K, KMEANS_ROUNDS
    parts = [
        f"""
WITH q AS (
  SELECT vec_id, CAST(u.i AS INT) AS pos,
         CAST(floor(CAST(embedding[CAST(u.i AS INT) + 1] AS DOUBLE) * {KMEANS_QSCALE}) AS BIGINT) AS qv
  FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)
), c0 AS (
  SELECT CAST(vec_id AS INT) AS cluster, pos, qv FROM q WHERE vec_id < {K}
)"""
    ]
    for t in range(R):
        parts.append(
            f""", a{t} AS (
  SELECT vec_id, cluster, dist FROM (
    SELECT vec_id, cluster, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rk
    FROM (SELECT q.vec_id, c.cluster, sum((q.qv - c.qv) * (q.qv - c.qv)) AS dist
          FROM q JOIN c{t} c USING (pos) GROUP BY 1, 2)
  ) WHERE rk = 1
)"""
        )
        if t < R - 1:
            parts.append(
                f""", n{t} AS (
  SELECT a.cluster, q.pos, sum(q.qv) AS s, count(*) AS n
  FROM q JOIN a{t} a USING (vec_id) GROUP BY 1, 2
), c{t + 1} AS (
  SELECT cluster, pos, (s - ((s % n + n) % n)) // n AS qv FROM n{t}
  UNION ALL
  SELECT c.cluster, c.pos, c.qv FROM c{t} c
  WHERE c.cluster NOT IN (SELECT DISTINCT cluster FROM n{t})
)"""
            )
    parts.append(
        f"""
SELECT CAST(cluster AS INT) AS cluster,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(dist) AS BIGINT) AS inertia,
       CAST(min(vec_id) AS BIGINT) AS min_vec_id
FROM a{R - 1} GROUP BY 1 ORDER BY 1"""
    )
    return "".join(parts)


KMEANS_INT_EMBEDDINGS_SQL = _kmeans_duck_sql()

QUERIES["kmeans_int_embeddings"] = kmeans_int_embeddings
ORACLES["kmeans_int_embeddings"] = KMEANS_INT_EMBEDDINGS_SQL


# --- SemDeDup: semantic near-duplicate pruning via cluster + cosine ---------
# The LLM-corpus technique (Abbas et al., "SemDeDup", arXiv:2303.09540):
# exact/minhash dedup misses paraphrases and re-encodings whose EMBEDDINGS
# are nearly parallel; comparing every pair is quadratic, so first bucket
# vectors by a k-means quantizer and only compare WITHIN a cluster.  This
# reuses ivf_fit's spherical quantizer (same deterministic literals in both
# engines), so the index built for ANN search is also the dedup partitioner
# — exactly how a production corpus pipeline amortizes the fit.
#
# Scale shape: assignment is a narrow projection against broadcast
# centroid literals; the only shuffle is the self-join on cluster id, and
# the quadratic term is bounded by cluster size (~n/k = sqrt(n) rows at
# the k = ceil(sqrt n) fit; at 100 TB you raise k / recurse on oversized
# clusters, which changes only the fit, not this dataflow).  A vector is
# DROPPED when a lower-id vector in its cluster has cosine >= THRESH; the
# keeper reported is the smallest such id (deterministic, order-free).
SEMDEDUP_THRESH = 0.35


def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nearest centroid = head of the materialized sorted assignment —
    # lexicographic (d, c) min, identical to the oracle's ORDER BY d, cid
    base = ivf_assign_cached(spark, sf_dir).select(
        "vec_id",
        "embedding",
        "norm2",
        F.element_at("dsorted", 1)["c"].alias("cid"),
    )
    a = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("norm2").alias("na"),
        "cid",
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("norm2").alias("nb"),
        "cid",
    )
    cos = _cosine(_DOT.format(a="ea", b="eb"), "na", "nb")
    pairs = (
        a.join(b, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("cid", "vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= SEMDEDUP_THRESH)
    )
    return (
        dedup.top_k(pairs, ["vec_b"], [F.asc("vec_a")], 1, "rk")
        .select(
            F.col("vec_b").alias("vec_id"),
            F.col("cid").cast("int").alias("cid"),
            F.col("vec_a").alias("kept_id"),
            "cos_sim",
        )
        .orderBy("vec_id")
    )


def _semdedup_duck_sql(sf_dir: str) -> str:
    _n, _nprobe, cents, _cal = ivf_fit(sf_dir)
    cent_rows = ",\n    ".join(
        "({}, [{}]::DOUBLE[])".format(cid, ", ".join(repr(float(x)) for x in vals))
        for cid, vals in cents
    )
    sq = (
        "list_reduce(list_transform(range(1, {n} + 1), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) / sqrt(e.norm2) - c.embedding[i])"
        " * (CAST(e.embedding[i] AS DOUBLE) / sqrt(e.norm2) - c.embedding[i])), "
        "(acc, v) -> acc + v)"
    ).format(n=DIM)
    norm = _DOT_DUCK.format(a="embedding", b="embedding", n=DIM)
    dot = _DOT_DUCK.format(a="a.embedding", b="b.embedding", n=DIM)
    return f"""
WITH cent(cid, embedding) AS (
  VALUES
    {cent_rows}
), base AS (
  SELECT vec_id, embedding, {norm} AS norm2 FROM embeddings
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {sq}, c.cid) AS rk
    FROM base e CROSS JOIN cent c
  ) WHERE rk = 1
), pairs AS (
  SELECT x.cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({dot} / sqrt(a.norm2 * b.norm2), 6) AS cos_sim
  FROM assign x JOIN base a ON a.vec_id = x.vec_id
  JOIN assign y ON y.cid = x.cid AND y.vec_id > x.vec_id
  JOIN base b ON b.vec_id = y.vec_id
)
SELECT vec_b AS vec_id, CAST(cid AS INT) AS cid, vec_a AS kept_id, cos_sim
FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_b ORDER BY vec_a) AS rk
  FROM pairs WHERE cos_sim >= {SEMDEDUP_THRESH!r}
) WHERE rk = 1
ORDER BY vec_id
"""


QUERIES["semantic_dedup_clusters"] = semantic_dedup_clusters


# --- product quantization: ADC shortlist + exact rerank ----------------------
# The memory-bound ANN workhorse (Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011): split the unit vector into M=8
# subspaces of 8 dims, quantize each against a 16-centroid codebook, and
# the whole vector becomes an 8-BYTE code (32x smaller than 64 floats).
# Query scoring is ADC — a per-query lookup table of query-sub x centroid
# partial dots, so scanning a candidate costs 8 table lookups + 7 adds
# and never touches the raw vectors.  On isotropic data an 8-byte code
# alone ranks poorly (measured 0.22 recall@5 — random data is
# incompressible), so this implements the production shape: ADC selects a
# SHORTLIST (top-100 ~ 20% of the corpus here), then an exact cosine
# rerank of only the shortlist produces the final top-k.  Measured
# recall@5 = 0.92 at sf0.01 (gated in tests).
#
# Scale shape: the code table is the written index (localCheckpoint here;
# 8 bytes/vector means ~3000x more corpus fits in executor memory than
# raw doubles + exactness metadata); the LUT is 10 query rows x 8 arrays
# of 16 doubles, broadcast; the ADC scan is a broadcast nested-loop over
# the code table (narrow, no shuffle); only the rerank joins fetch full
# vectors, for shortlist-sized row counts.  All folds are the proven
# left-assoc aggregate/list_reduce pair, so scores are bit-identical and
# the DuckDB oracle hash-checks the whole dataflow.
PQ_M = 8  # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_K = 16  # codes per subspace (4 bits)
PQ_ITERS = 8
PQ_SHORTLIST = 100

def pq_fit(sf_dir: str) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace k-means codebooks over the unit-normalized sample —
    deterministic and memoized exactly like ivf_fit (same sample rule,
    farthest-point seeding, pairwise numpy sums, fixed iterations)."""
    return dedup.registered(None, f"pq_fit:{sf_dir}", lambda: (_pq_fit(sf_dir), ()))


def _pq_fit(sf_dir: str) -> list[list[tuple[int, list[float]]]]:
    import numpy as np

    _n, mat = _fit_sample(sf_dir)
    unit = mat / np.sqrt((mat * mat).sum(axis=1))[:, None]
    books: list[list[tuple[int, list[float]]]] = []
    for m in range(PQ_M):
        sub = unit[:, m * PQ_SUB : (m + 1) * PQ_SUB]
        k = min(PQ_K, len(sub))
        cents = _lloyd(sub, k, PQ_ITERS, False)
        books.append([(ci, [float(v) for v in cents[ci]]) for ci in range(k)])
    return books


def _pq_cent_array(book: list[tuple[int, list[float]]]) -> str:
    items = ", ".join(
        "named_struct('c', {}, 'v', array({}))".format(
            cid, ", ".join(f"{float(x)!r}D" for x in vals)
        )
        for cid, vals in book
    )
    return f"array({items})"


def _pq_code_exprs(books) -> list[str]:
    """The 8-byte code per vector — one array_min over the 16-struct
    codebook per subspace; min over (d, c) structs is nearest centroid
    with ties -> lowest code, matching the oracle's ORDER BY.  Requires
    embedding + norm2 in scope."""
    exprs = []
    for m, book in enumerate(books):
        off = m * PQ_SUB
        exprs.append(
            f"array_min(transform({_pq_cent_array(book)}, s -> named_struct("
            f"'d', aggregate(zip_with(slice(embedding, {off + 1}, {PQ_SUB}), s.v, "
            "(x, y) -> (CAST(x AS DOUBLE) / sqrt(norm2) - y)"
            " * (CAST(x AS DOUBLE) / sqrt(norm2) - y)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 'c', s.c)))['c']"
            f" AS c{m}"
        )
    return exprs


def pq_codes_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact: the written PQ code table (vec_id, c0..c7) —
    the interpreted subspace encode is identical in pq_topk and
    ivfpq_topk, so it runs once per session instead of once per query."""
    def build() -> DataFrame:
        books = pq_fit(sf_dir)
        base = _normed(_emb(spark, sf_dir), _DOT)
        return base.selectExpr("vec_id", *_pq_code_exprs(books))

    return dedup.session_artifact(spark, f"pq_codes:{sf_dir}", build)


def _adc_exprs(books) -> tuple[list[str], str]:
    """The per-query ADC lookup tables lut0..lut7 (selectExpr items over
    embedding + norm2) and the ADC score over them (adc_score, needs
    lut0..lut7 and codes c0..c7 in scope).  Each table holds the 16
    partial dots of one subspace in code order (transform preserves
    codebook order), so element_at(lut, c+1) is the table lookup."""
    luts = [
        f"transform({_pq_cent_array(book)}, s -> aggregate("
        f"zip_with(slice(embedding, {m * PQ_SUB + 1}, {PQ_SUB}), s.v, "
        "(x, y) -> CAST(x AS DOUBLE) / sqrt(norm2) * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
        f" AS lut{m}"
        for m, book in enumerate(books)
    ]
    adc_sum = " + ".join(
        f"element_at(lut{m}, CAST(c{m} AS INT) + 1)" for m in range(PQ_M)
    )
    return luts, f"round({adc_sum}, 6) AS adc_score"


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    books = pq_fit(sf_dir)
    base = _normed(_emb(spark, sf_dir), _DOT)
    codes = pq_codes_cached(spark, sf_dir)
    luts, adc_score = _adc_exprs(books)
    qrows = (
        base.filter(F.col("vec_id") < N_QUERIES)
        .selectExpr("vec_id AS query_id", *luts)
        .localCheckpoint(eager=True)
    )
    adc = (
        F.broadcast(qrows)
        .crossJoin(codes)
        .filter(F.col("query_id") != F.col("vec_id"))
        .selectExpr("query_id", "vec_id AS neighbor_id", adc_score)
    )
    order = [F.desc("adc_score"), F.asc("neighbor_id")]
    shortlist = dedup.top_k(adc, ["query_id"], order, PQ_SHORTLIST, "srk").select(
        "query_id", "neighbor_id"
    )
    return _rerank(shortlist, base)


def _pq_duck_sql(sf_dir: str) -> str:
    books = pq_fit(sf_dir)
    cent_rows = ",\n    ".join(
        "({}, {}, [{}]::DOUBLE[])".format(
            m, cid, ", ".join(repr(float(x)) for x in vals)
        )
        for m, book in enumerate(books)
        for cid, vals in book
    )
    norm = _DOT_DUCK.format(a="embedding", b="embedding", n=DIM)
    dist = (
        f"list_reduce(list_transform(range(1, {PQ_SUB} + 1), "
        f"i -> (CAST(b.embedding[c.m * {PQ_SUB} + i] AS DOUBLE) / sqrt(b.norm2)"
        " - c.v[i])"
        f" * (CAST(b.embedding[c.m * {PQ_SUB} + i] AS DOUBLE) / sqrt(b.norm2)"
        " - c.v[i])), (acc, v) -> acc + v)"
    )
    lut_p = (
        f"list_reduce(list_transform(range(1, {PQ_SUB} + 1), "
        f"i -> CAST(q.qe[c.m * {PQ_SUB} + i] AS DOUBLE) / sqrt(q.nq) * c.v[i]), "
        "(acc, v) -> acc + v)"
    )
    cp_cols = ",\n         ".join(
        f"max(CASE WHEN m = {m} THEN code END) AS c{m}" for m in range(PQ_M)
    )
    lut_joins = "\n  ".join(
        f"JOIN lut l{m} ON l{m}.query_id = q.query_id AND l{m}.m = {m}"
        f" AND l{m}.code = cp.c{m}"
        for m in range(PQ_M)
    )
    adc_sum = " + ".join(f"l{m}.p" for m in range(PQ_M))
    dot = _DOT_DUCK.format(a="qq.qe", b="cc.ce", n=DIM)
    return f"""
WITH centm(m, code, v) AS (
  VALUES
    {cent_rows}
), base AS (
  SELECT vec_id, embedding, {norm} AS norm2 FROM embeddings
), codes AS (
  SELECT vec_id, m, code FROM (
    SELECT b.vec_id, c.m, c.code,
           row_number() OVER (PARTITION BY b.vec_id, c.m
                              ORDER BY {dist}, c.code) AS rk
    FROM base b CROSS JOIN centm c
  ) WHERE rk = 1
), cp AS (
  SELECT vec_id,
         {cp_cols}
  FROM codes GROUP BY vec_id
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, norm2 AS nq
  FROM base WHERE vec_id < {N_QUERIES}
), lut AS (
  SELECT q.query_id, c.m, c.code, {lut_p} AS p
  FROM q CROSS JOIN centm c
), adc AS (
  SELECT q.query_id, cp.vec_id AS neighbor_id,
         round({adc_sum}, 6) AS adc_score
  FROM q CROSS JOIN cp
  {lut_joins}
  WHERE q.query_id <> cp.vec_id
), short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_score DESC, neighbor_id) AS srk
    FROM adc
  ) WHERE srk <= {PQ_SHORTLIST}
), scored AS (
  SELECT s.query_id, s.neighbor_id,
         round({dot} / sqrt(qq.nq * cc.norm2), 6) AS cos_sim
  FROM short s
  JOIN q qq ON qq.query_id = s.query_id
  JOIN (SELECT vec_id, embedding AS ce, norm2 FROM base) cc
    ON cc.vec_id = s.neighbor_id
)
SELECT query_id, rank, neighbor_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


QUERIES["pq_topk"] = pq_topk


# --- IVF-PQ: the composed billion-scale index ---------------------------------
# The production ANN architecture at 10^9+ vectors (FAISS's IVFPQ): the
# IVF quantizer routes a query to nprobe inverted lists so only a
# fraction of the corpus is TOUCHED, and inside the probed lists
# candidates are scored from 8-byte PQ codes so the touched fraction is
# CHEAP — full vectors are fetched only for the final shortlist rerank.
# This composes the two fits this module already maintains (ivf_fit's
# spherical coarse quantizer, pq_fit's subspace codebooks) into one
# materialized index table (vec_id, cid, c0..c7): coarse routing and
# code compression are amortized artifacts of the same build.
#
# Scale shape: the candidate step is an EQUI-JOIN on the coarse cluster
# id (query probes exploded against the index — never a full-corpus
# scan, unlike pq_topk's flat ADC), ADC is 8 lookups + 7 adds per
# candidate, and the rerank join touches PQ_SHORTLIST rows per query.
# ADC ranking error compounds with IVF routing loss, so the composed
# index earns a deeper shortlist than flat PQ: 150 recovers the IVF
# routing ceiling (measured 0.86 @100 -> 0.92 @150 at sf0.01; 200 adds
# nothing) while the rerank join stays candidate-bounded.
IVFPQ_SHORTLIST = 150


def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _n, nprobe, cents, _cal = ivf_fit(sf_dir)
    books = pq_fit(sf_dir)
    # the written IVF-PQ index = coarse list id (from the shared IVF
    # assignment artifact) + the 8-byte code (from the shared PQ code
    # artifact) — a trivial equi-join of two materialized tables
    base = ivf_assign_cached(spark, sf_dir)
    index = base.select(
        "vec_id", F.element_at("dsorted", 1)["c"].alias("cid")
    ).join(pq_codes_cached(spark, sf_dir), "vec_id")
    luts, adc_score = _adc_exprs(books)
    qrows = (
        base.filter(F.col("vec_id") < N_QUERIES)
        .selectExpr(
            "vec_id AS query_id",
            f"slice(dsorted, 1, {nprobe}) AS probes",
            *luts,
        )
        .localCheckpoint(eager=True)
    )
    q = qrows.select(
        "query_id",
        *[f"lut{m}" for m in range(PQ_M)],
        F.explode("probes").alias("p"),
    ).select(
        "query_id", *[f"lut{m}" for m in range(PQ_M)], F.col("p.c").alias("pcid")
    )
    cand = (
        F.broadcast(q)
        .join(index, q["pcid"] == index["cid"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .selectExpr("query_id", "vec_id AS neighbor_id", adc_score)
    )
    order = [F.desc("adc_score"), F.asc("neighbor_id")]
    shortlist = dedup.top_k(cand, ["query_id"], order, IVFPQ_SHORTLIST, "srk").select(
        "query_id", "neighbor_id"
    )
    return _rerank(shortlist, base)


def _ivfpq_duck_sql(sf_dir: str) -> str:
    _n, nprobe, cents, _cal = ivf_fit(sf_dir)
    books = pq_fit(sf_dir)
    ivf_rows = ",\n    ".join(
        "({}, [{}]::DOUBLE[])".format(cid, ", ".join(repr(float(x)) for x in vals))
        for cid, vals in cents
    )
    pq_rows = ",\n    ".join(
        "({}, {}, [{}]::DOUBLE[])".format(
            m, cid, ", ".join(repr(float(x)) for x in vals)
        )
        for m, book in enumerate(books)
        for cid, vals in book
    )
    norm = _DOT_DUCK.format(a="embedding", b="embedding", n=DIM)
    ivf_sq = (
        "list_reduce(list_transform(range(1, {n} + 1), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) / sqrt(e.norm2) - c.embedding[i])"
        " * (CAST(e.embedding[i] AS DOUBLE) / sqrt(e.norm2) - c.embedding[i])), "
        "(acc, v) -> acc + v)"
    ).format(n=DIM)
    pq_dist = (
        f"list_reduce(list_transform(range(1, {PQ_SUB} + 1), "
        f"i -> (CAST(b.embedding[c.m * {PQ_SUB} + i] AS DOUBLE) / sqrt(b.norm2)"
        " - c.v[i])"
        f" * (CAST(b.embedding[c.m * {PQ_SUB} + i] AS DOUBLE) / sqrt(b.norm2)"
        " - c.v[i])), (acc, v) -> acc + v)"
    )
    lut_p = (
        f"list_reduce(list_transform(range(1, {PQ_SUB} + 1), "
        f"i -> CAST(q.qe[c.m * {PQ_SUB} + i] AS DOUBLE) / sqrt(q.nq) * c.v[i]), "
        "(acc, v) -> acc + v)"
    )
    cp_cols = ",\n         ".join(
        f"max(CASE WHEN m = {m} THEN code END) AS c{m}" for m in range(PQ_M)
    )
    lut_joins = "\n  ".join(
        f"JOIN lut l{m} ON l{m}.query_id = qp.query_id AND l{m}.m = {m}"
        f" AND l{m}.code = cp.c{m}"
        for m in range(PQ_M)
    )
    adc_sum = " + ".join(f"l{m}.p" for m in range(PQ_M))
    dot = _DOT_DUCK.format(a="qq.qe", b="cc.ce", n=DIM)
    return f"""
WITH cent(cid, embedding) AS (
  VALUES
    {ivf_rows}
), centm(m, code, v) AS (
  VALUES
    {pq_rows}
), base AS (
  SELECT vec_id, embedding, {norm} AS norm2 FROM embeddings
), ranked AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY {ivf_sq}, c.cid) AS rk
  FROM base e CROSS JOIN cent c
), assign AS (
  SELECT vec_id, cid FROM ranked WHERE rk = 1
), codes AS (
  SELECT vec_id, m, code FROM (
    SELECT b.vec_id, c.m, c.code,
           row_number() OVER (PARTITION BY b.vec_id, c.m
                              ORDER BY {pq_dist}, c.code) AS rk
    FROM base b CROSS JOIN centm c
  ) WHERE rk = 1
), cp AS (
  SELECT a.vec_id, a.cid,
         {cp_cols}
  FROM codes JOIN assign a ON a.vec_id = codes.vec_id
  GROUP BY a.vec_id, a.cid
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, norm2 AS nq
  FROM base WHERE vec_id < {N_QUERIES}
), lut AS (
  SELECT q.query_id, c.m, c.code, {lut_p} AS p
  FROM q CROSS JOIN centm c
), qprobe AS (
  SELECT b.vec_id AS query_id, r.cid AS pcid
  FROM base b JOIN ranked r ON r.vec_id = b.vec_id
  WHERE b.vec_id < {N_QUERIES} AND r.rk <= {nprobe}
), adc AS (
  SELECT qp.query_id, cp.vec_id AS neighbor_id,
         round({adc_sum}, 6) AS adc_score
  FROM qprobe qp JOIN cp ON cp.cid = qp.pcid
  {lut_joins}
  WHERE qp.query_id <> cp.vec_id
), short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_score DESC, neighbor_id) AS srk
    FROM adc
  ) WHERE srk <= {IVFPQ_SHORTLIST}
), scored AS (
  SELECT s.query_id, s.neighbor_id,
         round({dot} / sqrt(qq.nq * cc.norm2), 6) AS cos_sim
  FROM short s
  JOIN q qq ON qq.query_id = s.query_id
  JOIN (SELECT vec_id, embedding AS ce, norm2 FROM base) cc
    ON cc.vec_id = s.neighbor_id
)
SELECT query_id, rank, neighbor_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


QUERIES["ivfpq_topk"] = ivfpq_topk


# --- ndcg_eval_topk: the canonical graded ranking metric --------------------
# NDCG@k of the exact-cosine retrieval against label relevance — the
# ranking-quality gate the retrieval family (bm25_topk, rrf_rank_fusion,
# sim_recall) was missing.  Relevance is binary label agreement
# (neighbor.label == query.label, self excluded); the discount table
# floor(1e6 / log2(rank + 1)) for ranks 1..k is a PLAN-TIME integer
# literal list (libm runs at plan construction, never at query time —
# the hll/bpe constant precedent), identical in both engines.  IDCG uses
# the standard corpus-wide ideal: the query's label population (minus
# self) capped at k fills the top ranks, so
#     ndcg_ppm = (sum_i rel_i * disc_i) * 1e6 / sum_{i<=min(R,k)} disc_i
# in pure integer arithmetic, bit-identical cross-engine.
#
# Scale shape: identical to sim_cosine_topk — the k-query side broadcasts
# into a linear scan, the rank window partitions by query, and the label
# populations are one tiny aggregate joined back by label.  Nothing
# quadratic; the eval costs one extra scan of the label column.
import math as _math

_NDCG_DISC = [int(1_000_000 / _math.log2(r + 1)) for r in range(1, TOP_K + 1)]


def ndcg_eval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q, c = _sides(
        _normed(emb, _DOT, "label"),
        [F.col("label").alias("qlabel")],
        [F.col("label").alias("clabel")],
    )
    joined = (
        F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    )
    scored = joined.select(
        "query_id",
        "qlabel",
        "neighbor_id",
        F.expr("CASE WHEN qlabel = clabel THEN 1 ELSE 0 END").alias("rel"),
        _cosine(_DOT.format(a="qe", b="ce"), "nq", "nc").alias("cs"),
    )
    order = [F.desc("cs"), F.asc("neighbor_id")]
    top = dedup.top_k(scored, ["query_id"], order, TOP_K, "rank")
    disc = "CASE rank " + " ".join(
        f"WHEN {r + 1} THEN {d}" for r, d in enumerate(_NDCG_DISC)
    ) + " END"
    pop = (
        emb.groupBy(F.col("label").alias("qlabel"))
        .agg(F.count(F.lit(1)).alias("n_label"))
    )
    idisc = "CASE WHEN i <= least(n_label - 1, " + str(TOP_K) + ") THEN " + (
        "CASE i " + " ".join(
            f"WHEN {r + 1} THEN {d}" for r, d in enumerate(_NDCG_DISC)
        ) + " END"
    ) + " ELSE 0 END"
    dcg = top.groupBy("query_id", "qlabel").agg(
        F.expr(f"sum(rel * ({disc}))").alias("dcg_micro"),
        F.expr("sum(rel)").alias("rel_at_k"),
    )
    ideal = (
        pop.select(
            "qlabel",
            "n_label",
            F.explode(F.array(*[F.lit(i + 1) for i in range(TOP_K)])).alias("i"),
        )
        .selectExpr("qlabel", f"{idisc} AS idisc")
        .groupBy("qlabel")
        .agg(F.expr("sum(idisc)").alias("idcg_micro"))
    )
    return (
        dcg.join(F.broadcast(ideal), "qlabel")
        .selectExpr(
            "query_id",
            "CAST(qlabel AS BIGINT) AS label",
            "CAST(rel_at_k AS BIGINT) AS rel_at_k",
            "CAST(dcg_micro AS BIGINT) AS dcg_micro",
            "CAST(idcg_micro AS BIGINT) AS idcg_micro",
            "CAST((dcg_micro * 1000000) DIV idcg_micro AS BIGINT) AS ndcg_ppm",
        )
        .orderBy("query_id")
    )


def _ndcg_sql() -> str:
    disc = "CASE rank " + " ".join(
        f"WHEN {r + 1} THEN {d}" for r, d in enumerate(_NDCG_DISC)
    ) + " END"
    idisc = "CASE i " + " ".join(
        f"WHEN {r + 1} THEN {d}" for r, d in enumerate(_NDCG_DISC)
    ) + " END"
    dotqc = _DOT_DUCK.format(a="qe", b="ce", n=DIM)
    dotqq = _DOT_DUCK.format(a="qe", b="qe", n=DIM)
    dotcc = _DOT_DUCK.format(a="ce", b="ce", n=DIM)
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel, embedding AS qe
  FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, label AS clabel, embedding AS ce
  FROM embeddings
), scored AS (
  SELECT query_id, qlabel, neighbor_id,
         CASE WHEN qlabel = clabel THEN 1 ELSE 0 END AS rel,
         round({dotqc} / sqrt(({dotqq}) * ({dotcc})), 6) AS cs
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id
), top AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cs DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {TOP_K}
), pop AS (
  SELECT label AS qlabel, count(*) AS n_label FROM embeddings GROUP BY label
), dcg AS (
  SELECT query_id, qlabel,
         sum(rel * ({disc})) AS dcg_micro,
         sum(rel) AS rel_at_k
  FROM top GROUP BY query_id, qlabel
), ideal AS (
  SELECT qlabel, sum(CASE WHEN i <= least(n_label - 1, {TOP_K})
                          THEN {idisc} ELSE 0 END) AS idcg_micro
  FROM pop CROSS JOIN (SELECT unnest(range(1, {TOP_K} + 1)) AS i)
  GROUP BY qlabel
)
SELECT query_id,
       CAST(qlabel AS BIGINT) AS label,
       CAST(rel_at_k AS BIGINT) AS rel_at_k,
       CAST(dcg_micro AS BIGINT) AS dcg_micro,
       CAST(idcg_micro AS BIGINT) AS idcg_micro,
       CAST((dcg_micro * 1000000) // idcg_micro AS BIGINT) AS ndcg_ppm
FROM dcg JOIN ideal USING (qlabel)
ORDER BY query_id
"""


NDCG_EVAL_TOPK_SQL = _ndcg_sql()

QUERIES["ndcg_eval_topk"] = ndcg_eval_topk
ORACLES["ndcg_eval_topk"] = NDCG_EVAL_TOPK_SQL


# --- ann_dim_truncation_eval: matryoshka prefix-dimension recall --------------
# The embedding-infra question behind Matryoshka representation learning
# (Kusupati et al. 2022) and every "can we store 16 of the 64 dims?"
# memory budget: how much top-k recall survives truncating vectors to a
# PREFIX of their dimensions?  For d in {8, 16, 32}: score the same
# broadcast 10-query side against the corpus with cosine over only the
# first d components (slice both sides; norms recomputed over the
# slice), take top-5 per query with the house tie-break (round 6dp,
# neighbor_id), and measure recall against the full-64-dim ground truth.
# Same no-cartesian shape as sim_cosine_topk (broadcast query side);
# three extra linear passes, no new shuffle.  On isotropic synthetic
# embeddings the answer SHOULD be harsh (prefix dims carry 1/8..1/2 of
# the signal) — the op reports the measured curve, recall_ppm exact from
# integer hit counts.
TRUNC_DIMS = (8, 16, 32)


def ann_dim_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    gt = sim_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    emb = _emb(spark, sf_dir)
    parts = []
    for d in TRUNC_DIMS:
        dot = (
            "aggregate(zip_with(slice({a}, 1, %d), slice({b}, 1, %d), "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)" % (d, d)
        )
        q, c = _sides(_normed(emb, dot), [], [])
        scored = (
            F.broadcast(q)
            .crossJoin(c)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                _cosine(dot.format(a="qe", b="ce"), "nq", "nc").alias("cs"),
            )
        )
        order = [F.desc("cs"), F.asc("neighbor_id")]
        approx = dedup.top_k(scored, ["query_id"], order, TOP_K, "rk").select(
            "query_id", "neighbor_id"
        )
        parts.append(
            _recall_hits(approx, gt)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_queries"),
                F.sum(F.coalesce(F.col("n"), F.lit(0))).cast("long").alias("n_hits"),
            )
            .selectExpr(
                f"CAST({d} AS BIGINT) AS trunc_dim",
                "n_queries",
                "n_hits",
                f"CAST((1000000 * n_hits) DIV (n_queries * {TOP_K}) AS BIGINT)"
                " AS recall_ppm",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("trunc_dim")


def _trunc_eval_sql() -> str:
    blocks = []
    for d in TRUNC_DIMS:
        dot = _DOT_DUCK.replace("{n} + 1", f"{d} + 1")
        blocks.append(
            f"""
  SELECT CAST({d} AS BIGINT) AS trunc_dim,
         CAST(count(*) AS BIGINT) AS n_queries,
         CAST(sum(coalesce(h.n, 0)) AS BIGINT) AS n_hits,
         CAST((1000000 * sum(coalesce(h.n, 0))) // (count(*) * {TOP_K}) AS BIGINT)
           AS recall_ppm
  FROM (SELECT DISTINCT query_id FROM gt) qids
  LEFT JOIN (
    SELECT a.query_id, count(*) AS n
    FROM (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cs DESC, neighbor_id) AS rk
        FROM (
          SELECT q.query_id, c.neighbor_id,
                 round({dot.format(a="q.qe", b="c.ce")}
                       / sqrt({dot.format(a="q.qe", b="q.qe")}
                              * {dot.format(a="c.ce", b="c.ce")}), 6) AS cs
          FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id
        )
      ) WHERE rk <= {TOP_K}
    ) a JOIN gt g ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id
    GROUP BY a.query_id
  ) h USING (query_id)"""
        )
    u = "\n  UNION ALL\n".join(blocks)
    return f"""
WITH gt AS (
  SELECT query_id, neighbor_id FROM ({SIM_COSINE_TOPK_SQL})
), q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
  WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings
)
SELECT * FROM (
{u}
)
ORDER BY trunc_dim
"""


ANN_DIM_TRUNCATION_EVAL_SQL = _trunc_eval_sql()

QUERIES["ann_dim_truncation_eval"] = ann_dim_truncation_eval
ORACLES["ann_dim_truncation_eval"] = ANN_DIM_TRUNCATION_EVAL_SQL


# Hamming candidates per query before exact rerank.  Measured recall@5 on
# the isotropic sf0.01 corpus (1,000 unit vectors): cand 32 → 0.64,
# 64 → 0.72, 100 → 0.84, 150 → 0.94 — the familiar structure-less-data
# frontier (ann_frontier in BENCH.md): 1-bit codes rank by angle octant
# only, so isotropic data needs a ~10% candidate fraction for 0.84.
# Default 100; ties at the boundary break by neighbor_id so both engines
# cut identically.
BIN_CAND = 100

# DuckDB raises on 1 << 63 (sign bit), so the 64 sign bits are packed as
# TWO 32-bit words — shifts stay in [0, 31] on both engines.
_CODE_SPARK = (
    "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> acc + "
    "CASE WHEN element_at(embedding, i + {off} + 1) > 0.0 "
    "THEN shiftleft(CAST(1 AS BIGINT), i) ELSE CAST(0 AS BIGINT) END)"
)
_CODE_DUCK = (
    "list_reduce(list_transform(range(0, 32), i -> "
    "CASE WHEN embedding[i + {off} + 1] > 0.0 "
    "THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END), "
    "(acc, v) -> acc + v)"
)


def sim_binary_hash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    codes = emb.selectExpr(
        "vec_id",
        f"({_CODE_SPARK.format(off=0)}) AS c_lo",
        f"({_CODE_SPARK.format(off=32)}) AS c_hi",
    ).localCheckpoint(eager=True)  # the stored 64-bit sign index
    q = codes.filter(F.col("vec_id") < N_QUERIES).selectExpr(
        "vec_id AS query_id", "c_lo AS q_lo", "c_hi AS q_hi"
    )
    scored = (
        F.broadcast(q)
        .crossJoin(codes.selectExpr("vec_id AS neighbor_id", "c_lo", "c_hi"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            "CAST(bit_count(q_lo ^ c_lo) + bit_count(q_hi ^ c_hi) AS INT)"
            " AS hamming",
        )
    )
    order = [F.asc("hamming"), F.asc("neighbor_id")]
    cand = dedup.top_k(scored, ["query_id"], order, BIN_CAND, "crk")
    return _rerank(cand, _normed(emb, _DOT), "hamming")


SIM_BINARY_HASH_TOPK_SQL = f"""
WITH codes AS (
  SELECT vec_id,
         {_CODE_DUCK.format(off=0)} AS c_lo,
         {_CODE_DUCK.format(off=32)} AS c_hi
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, c_lo AS q_lo, c_hi AS q_hi
  FROM codes WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(q_lo, c.c_lo)) + bit_count(xor(q_hi, c.c_hi)) AS INT)
           AS hamming
  FROM q CROSS JOIN codes c WHERE query_id <> c.vec_id
), cand AS (
  SELECT query_id, neighbor_id, hamming
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY hamming ASC, neighbor_id ASC) AS crk
        FROM scored)
  WHERE crk <= {BIN_CAND}
), rer AS (
  SELECT cand.query_id, cand.neighbor_id, cand.hamming,
         round({_DOT_DUCK.format(a="qe.embedding", b="ce.embedding", n=DIM)}
               / sqrt({_DOT_DUCK.format(a="qe.embedding", b="qe.embedding", n=DIM)}
                      * {_DOT_DUCK.format(a="ce.embedding", b="ce.embedding", n=DIM)}),
               6) AS cos_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
)
SELECT query_id, rank, neighbor_id, hamming, cos_sim FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM rer
) WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""

QUERIES["sim_binary_hash_topk"] = sim_binary_hash_topk
ORACLES["sim_binary_hash_topk"] = SIM_BINARY_HASH_TOPK_SQL


# --- mutual-nearest-neighbor pairs (sign-bucket blocked) ----------------------
# The bitext-mining/dedup primitive the ANN family lacked: pairs (a, b)
# where each is the other's TOP-1 neighbor — mutual agreement kills the
# hub-vector false positives a one-directional top-1 keeps.  Candidates
# are blocked by a 4-bit sign-hash bucket (sim_binary_hash_topk's code
# recipe on the first 4 embedding signs), so the pair set is bucket-bounded — never
# all-pairs; scores are int64 dot products of milli-quantized embeddings
# (no float aggregation); top-1 ties break by partner id so both engines
# cut identically.  label_match is the eval nicety: mutual NNs should
# mostly share a label on clustered data.
MNN_BUCKET_BITS = 4


def mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
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
    best = dedup.top_k(edges, ["src"], [F.desc("dot"), F.asc("prt")], 1, "rk")
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


# --- embedding near-dup within blocking buckets ------------------------------
# The IVF-style verify step: candidate pairs are blocked by label (the
# coarse quantizer stand-in), then exact cosine >= 0.35 confirms near-dups
# (threshold sized to the synthetic embeddings: same-label q99 ~ 0.30).
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _normed(load_table(spark, sf_dir, "embeddings"), _DOT, "label")
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label"),
        F.col("embedding").alias("ea"),
        F.col("norm2").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label"),
        F.col("embedding").alias("eb"),
        F.col("norm2").alias("nb"),
    )
    pairs = a.join(b, "label").filter(F.col("vec_a") < F.col("vec_b"))
    cos = _cosine(_DOT.format(a="ea", b="eb"), "na", "nb")
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

QUERIES["dedup_embedding_cosine"] = dedup_embedding_cosine
ORACLES["dedup_embedding_cosine"] = DEDUP_EMBEDDING_COSINE_SQL


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
    emb = _normed(load_table(spark, sf_dir, "embeddings"), _DOT, "label")
    a = emb.selectExpr("vec_id AS va", "label", "embedding AS ea", "norm2 AS na")
    b = emb.selectExpr("vec_id AS vb", "label", "embedding AS eb", "norm2 AS nb")
    cos = _cosine(_DOT.format(a="ea", b="eb"), "na", "nb")
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
    return (
        dedup.top_k(pairs, ["va"], [F.desc("cos_sim"), F.asc("vb")], KNN_K, "rk")
        .selectExpr(
            "va AS vec_id", "CAST(rk AS BIGINT) AS rk", "vb AS neighbor", "cos_sim"
        )
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


# fit-dependent oracles embed literals fit on ORACLE_SF_DIR's parquet at
# import: ONLY a missing fit directory degrades to rows-only driver checks;
# any other fit failure is a real bug and must surface at import
try:
    ORACLES.update(oracle_overrides(ORACLE_SF_DIR))
except (FileNotFoundError, OSError):  # pragma: no cover - testdata present here
    pass
