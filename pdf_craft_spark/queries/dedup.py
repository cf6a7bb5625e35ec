"""Deduplication operators over the ``documents`` table.

Four families, each a first-class training-data-pipeline op:

- exact:     content-hash groupBy (the reference's own asset dedup shape,
             /root/reference/pdf_craft/common/asset.py:24-27)
- jaccard:   n-gram shingle set overlap via explode + self-equi-join
- minhash:   MinHash+LSH banding — the 100 TB-scale path: signature size is
             constant per doc, the band join is an equi-join on
             (band_idx, band_key) so candidate generation never goes
             quadratic in corpus size
- simhash:   16-bit parity sketch per doc

Hash parity between engines: Spark ``md5`` and DuckDB ``md5`` agree; the
min over lexicographic fixed-width hex strings is a valid uniform
min-hash, so no integer conversions are needed anywhere.  Hash CPU is
amortized by treating disjoint substrings of one digest as independent
hashes (random-oracle model): minhash takes 16 x 32-bit keys from 4 md5
evaluations per shingle, simhash takes its 16 parity bits from the 16
leading nibbles of a single md5 per token.

Scale notes: the token/shingle self-join (jaccard) is quadratic in docs
sharing a shingle — correct as ground truth, usable only per-bucket.  At
scale you run minhash_lsh first and verify candidates with jaccard inside
each bucket.

Corpus-level dedup measures live here too: the saturation curve (how fast
new unique content dries up as the corpus grows) and asymmetric
containment over the LSH candidates.

So do the query package's shared mechanics: the artifact registry
(``registered``, ``session_artifact``), the round driver (``rounds``,
``core_width``) and the one rank-and-cut, ``top_k``, through which every
family's constant-k ``row_number`` window goes.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.sources import fingerprint, load_table

N_HASHES = 16
N_BANDS = 8  # rows-per-band = 2


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _tokens() -> F.Column:
    return F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")


def _shingle_rows(docs: DataFrame, carry: tuple = ()) -> DataFrame:
    """Distinct word-3-gram shingle ROWS (doc_id[, carry...], sh) for a
    frame holding (doc_id, text).

    Built entirely codegen-side: posexplode the token array, then
    concat each token with its two lead() successors in a per-doc
    window.  The former formulation — explode over a
    sequence/transform HOF lambda — runs INTERPRETED (Catalyst does not
    codegen lambda functions) and re-walks the array via element_at per
    output element; measured at sf0.1 the HOF shingling dominated
    setsim_prefix_join at ~20 s vs ~3 s for this shape (BENCH.md).
    The window's per-doc shuffle+sort stands in for the distinct()
    shuffle the HOF version needs anyway for set semantics, and its
    skew unit is the one-long-document token list — the same
    irreducible unit as the extraction kernel.  Docs with <3 tokens
    emit no rows (lead(t,2) is null => filtered), matching the old
    size(toks) >= 3 pre-filter.  `carry` columns must be functionally
    dependent on doc_id (they ride through the distinct)."""
    toks = docs.select("doc_id", *carry, F.posexplode(_tokens()).alias("pos", "t"))
    w = W.partitionBy("doc_id").orderBy("pos")
    return (
        toks.select(
            "doc_id",
            *carry,
            F.concat_ws(
                " ", F.col("t"), F.lead("t", 1).over(w), F.lead("t", 2).over(w)
            ).alias("sh"),
            F.lead("t", 2).over(w).alias("_t2"),
        )
        .filter(F.col("_t2").isNotNull())
        .drop("_t2")
        .distinct()
    )


# The 3-gram shingle recipe, spelled ONCE and parameterized by source and
# carried columns — every shingle-consuming oracle (jaccard, minhash,
# incremental, contamination's hand-rolled twin aside) derives from this
# text, so the recipe cannot silently diverge between them.
def _shingle_list_duck(src: str = "documents", extra: str = "") -> str:
    cols = f", {extra}" if extra else ""
    return f"""
  SELECT doc_id{cols},
         list_distinct(list_transform(range(0, len(toks) - 2),
             i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])) AS shingles
  FROM (SELECT doc_id{cols},
               list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
        FROM {src})
  WHERE len(toks) >= 3
"""


_SHINGLES_DUCK = _shingle_list_duck()


# --- exact dedup ------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    return (
        docs.select("doc_id", F.md5(norm).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("content_hash")
    )


DEDUP_EXACT_SQL = r"""
SELECT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS content_hash,
       min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY content_hash
"""


# Document-frequency cutoff for the jaccard ground-truth self-joins: a
# key (token / shingle) occurring in more than max(2, ceil(DF_CUTOFF_FRAC
# * n_docs)) documents is dropped from BOTH documents' sets before the
# self-join, identically in Spark and the DuckDB oracle (jaccard is then
# over the filtered sets on both sides).  Plan note — the fan-out bound:
# without the cutoff a stop-word-grade token ("the", df ≈ n_docs) alone
# drives the equi-join toward all-pairs, O(n_docs²) candidate rows; with
# it every join key contributes at most cutoff² = (DF_CUTOFF_FRAC·n)²
# pairs, i.e. per-key fan-out is capped at 1% of all-pairs at the 0.10
# default and hot natural-language keys simply vanish from the join.  The
# hot set itself is tiny by construction (only keys above the cutoff), so
# it ships as a broadcast anti-join — no extra shuffle on the big side.
DF_CUTOFF_FRAC = 0.10


def _df_cutoff(tok: DataFrame, docs: DataFrame, key: str) -> DataFrame:
    """Drop rows whose `key` exceeds the document-frequency cutoff.

    `tok` must hold one row per (doc_id, key) with keys already distinct
    per document, so count(*) per key IS its document frequency."""
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    hot = (
        tok.groupBy(key)
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(nd))
        .filter(
            F.col("df")
            > F.greatest(F.lit(2).cast("long"), F.ceil(F.lit(DF_CUTOFF_FRAC) * F.col("nd")))
        )
        .select(key)
    )
    return tok.join(F.broadcast(hot), key, "left_anti")


# DuckDB twin of _df_cutoff: {src} rows (doc_id, {key}); emits the filtered
# rows.  Spelled once so both jaccard oracles share the exact arithmetic.
def _df_cutoff_duck(src: str, key: str) -> str:
    return f"""
cut AS (
  SELECT greatest(CAST(2 AS BIGINT), CAST(ceil({DF_CUTOFF_FRAC!r} * count(*)) AS BIGINT)) AS c
  FROM documents
), hot AS (
  SELECT {key} FROM (SELECT {key}, count(*) AS df FROM {src} GROUP BY 1)
  WHERE df > (SELECT c FROM cut)
), {src}_f AS (
  SELECT {src}.* FROM {src} ANTI JOIN hot USING ({key})
)"""


# --- n-gram Jaccard: top-k most-similar pairs -------------------------------
# Ground-truth pairwise similarity on token sets.  The explode+self-join is
# the textbook Spark shape; the groupBy(doc_a, doc_b) count is the
# intersection size.  Top-20 pairs with deterministic tie-breaks.
def dedup_token_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    all_docs = _docs(spark, sf_dir)
    docs = all_docs.select("doc_id", F.array_distinct(_tokens()).alias("toks"))
    tok = _df_cutoff(
        docs.select("doc_id", F.explode("toks").alias("tok")), all_docs, "tok"
    )
    # set sizes AFTER the cutoff: jaccard is over the filtered sets
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
    )
    order = [F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b")]
    return (
        top_k(jac, [], order, 20, "rank")
        .selectExpr("CAST(rank AS BIGINT) AS rank", "doc_a", "doc_b", "n_inter", "jaccard")
        .orderBy("rank")
    )


DEDUP_TOKEN_JACCARD_TOPK_SQL = (
    r"""
WITH t AS (
  SELECT doc_id,
         list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS toks
  FROM documents
), tok AS (
  SELECT doc_id, unnest(toks) AS tok FROM t
), """
    + _df_cutoff_duck("tok", "tok")
    + r""", sizes AS (
  SELECT doc_id, count(*) AS n FROM tok_f GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM tok_f a JOIN tok_f b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jac AS (
  SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
         round(CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT rank, doc_a, doc_b, n_inter, jaccard FROM (
  SELECT *, row_number() OVER (ORDER BY jaccard DESC, doc_a ASC, doc_b ASC) AS rank
  FROM jac
) WHERE rank <= 20 ORDER BY rank
"""
)


# --- shingle Jaccard near-dup pairs (threshold) -----------------------------
def _shingle_jaccard_from_cut(sh: DataFrame) -> DataFrame:
    """Near-dup pairs (jaccard >= 0.2) over an already-cutoff'd shingle
    frame — shared by the declared query and the LSH quality gate (which
    probes the identical pair universe)."""
    # set sizes AFTER the cutoff: jaccard is over the filtered sets
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("int").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    # jaccard >= 0.2  ⟺  5*inter >= union  (integer-exact, no float threshold)
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(5 * F.col("n_inter") >= (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b")
    )


def dedup_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    all_docs = _docs(spark, sf_dir)
    # shingle rows come from the session artifact; the df-cutoff stays
    # inline (it is a cheap broadcast anti-join over the materialized
    # rows, and its plan shape is contract-guarded)
    sh = _df_cutoff(shingles_cached(spark, sf_dir), all_docs, "sh")
    return _shingle_jaccard_from_cut(sh).orderBy("doc_a", "doc_b")


DEDUP_SHINGLE_JACCARD_SQL = (
    "WITH s AS (" + _SHINGLES_DUCK + """
), sh AS (
  SELECT doc_id, unnest(shingles) AS sh FROM s
), """
    + _df_cutoff_duck("sh", "sh")
    + """, sizes AS (
  SELECT doc_id, count(*) AS n FROM sh_f GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh_f a JOIN sh_f b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sa.n AS INT) AS n_a, CAST(sb.n AS INT) AS n_b
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 5 * n_inter >= sa.n + sb.n - n_inter
ORDER BY doc_a, doc_b
"""
)


# --- MinHash + LSH banding --------------------------------------------------
# Signature: 16 x 32-bit min-hashes from FOUR md5 evaluations per shingle:
# disjoint 8-hex-char substrings of md5(shingle || '|' || k) are independent
# uniform 32-bit hashes under the random-oracle model, and the lexicographic
# min over uniform fixed-width hex strings is a valid uniform min-hash —
# 4x less hash CPU than one md5 per signature row with the same estimator.
# Bands of 2 rows; band key = md5(sig_2k || sig_2k+1); candidates share any
# band key.
#
# Plan-shape note, MEASURED AND REJECTED (2026-08-17, sf0.1, 3 interleaved
# rounds): computing the signatures per-document with higher-order
# array_min(transform(shs, s -> substring(md5(...)))) — "zero shuffle for
# the signature stage" — is 45x SLOWER (124-150 s vs 2.7-3.5 s,
# value-equal outputs).  Higher-order lambdas run INTERPRETED (md5 outside
# codegen) and 16 signature expressions re-walk the shingle array 16
# times; the explode pipeline below instead evaluates 4 codegen'd md5s
# per shingle row once, and the min-agg's partial (map-side) combine
# reduces the shuffle to 16 short strings per document — the shuffle was
# never the cost.  Keep the explode + groupBy-min shape.
def _sigs_from_shingles(sh: DataFrame) -> DataFrame:
    """Signature table from an already-built (doc_id, sh) shingle frame,
    so consumers holding the materialized shingle artifact skip the
    shingling pass entirely."""
    # md5s computed once in a projection (not inside each aggregate), so
    # codegen evaluates 4 hashes per row, then 16 cheap substrings
    hashed = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.col("sh"), F.lit(f"|{k}"))).alias(f"h{k}")
            for k in range(N_HASHES // 4)
        ],
    )
    keys = hashed.select(
        "doc_id",
        *[
            F.substring(f"h{k}", 8 * i + 1, 8).alias(f"k{4 * k + i}")
            for k in range(N_HASHES // 4)
            for i in range(4)
        ],
    )
    return keys.groupBy("doc_id").agg(
        *[F.min(f"k{j}").alias(f"s{j}") for j in range(N_HASHES)]
    )


def _bands_from_sig(sig: DataFrame) -> DataFrame:
    return sig.select(
        "doc_id",
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("band_idx"),
                    F.md5(F.concat(F.col(f"s{2 * k}"), F.col(f"s{2 * k + 1}"))).alias(
                        "band_key"
                    ),
                )
                for k in range(N_BANDS)
            ]
        ).alias("bands"),
    ).select("doc_id", F.explode("bands").alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # derive bands from the SESSION-SCOPED signature artifact (guide §2.4:
    # the sweep's dedup/eval consumers share one sig build instead of five)
    bands = _bands_from_sig(minhash_sigs_cached(spark, sf_dir))
    # materialize the band index ONCE before the self-join: Catalyst
    # inlines the band projection into BOTH join inputs otherwise
    # (verified: 2 scans, 0 ReusedExchange) — the same trap as the ANN
    # index joins in similarity.py.  At corpus scale the inlined twin
    # means scanning the signature table twice, so the written-index
    # shape wins; at prod this is the persisted LSH index table
    bands = bands.localCheckpoint(eager=True)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# The band unpivot is generated as UNION ALL selects (one scan of sig each;
# DuckDB CSE handles it — candidate sets are tiny either way).  The
# signature layout (substring positions, band pairing) and the shingle →
# sig → bands CTE chain are generated ONCE here and shared by both
# minhash oracles (batch self-join + incremental ingest), so the recipe
# can never diverge between them — or from the Spark builder they mirror.
def _minhash_sig_cols() -> str:
    return ",\n         ".join(
        f"min(substr(md5(sh || '|{j // 4}'), {8 * (j % 4) + 1}, 8)) AS s{j}"
        for j in range(N_HASHES)
    )


def _minhash_band_selects(extra: str = "") -> str:
    cols = f", {extra}" if extra else ""
    return "\n  UNION ALL\n".join(
        f"  SELECT doc_id{cols}, {k} AS band_idx, md5(s{2 * k} || s{2 * k + 1}) AS band_key FROM sig"
        for k in range(N_BANDS)
    )


def _minhash_band_ctes(src: str = "documents", extra: str = "") -> str:
    """shingles → sh → sig → bands CTE chain over ``src`` (must expose
    doc_id, text and any ``extra`` column to carry through); the shingle
    step is the shared _shingle_list_duck spelling."""
    cols = f", {extra}" if extra else ""
    return f"""msh AS ({_shingle_list_duck(src, extra)}
), sh AS (
  SELECT doc_id{cols}, unnest(shingles) AS sh FROM msh
), sig AS (
  SELECT doc_id{cols},
         {_minhash_sig_cols()}
  FROM sh GROUP BY doc_id{cols}
), bands AS (
{_minhash_band_selects(extra)}
)"""


def _minhash_duck_sql2() -> str:
    return f"""
WITH {_minhash_band_ctes()}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


DEDUP_MINHASH_LSH_SQL = _minhash_duck_sql2()


# --- SimHash (16-dim parity sketch) -----------------------------------------
# Per dimension j: parity vote over distinct tokens of the j-th hex nibble
# of md5(tok) (< '8' → +1 else -1); bit_j = 1 iff vote > 0.  ONE md5 per
# token — the 16 nibbles of a single digest are independent uniform bits
# under the random-oracle model (previously one md5 per dimension).
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.array_distinct(_tokens())).alias("tok"))
        .select("doc_id", F.md5("tok").alias("h"))
    )
    votes = [
        F.sum(
            F.when(F.substring("h", j + 1, 1).isin(*"01234567"), 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(N_HASHES)
    ]
    agg = docs.groupBy("doc_id").agg(*votes)
    bits = F.concat(
        *[F.when(F.col(f"v{j}") > 0, F.lit("1")).otherwise(F.lit("0")) for j in range(N_HASHES)]
    )
    return agg.select("doc_id", bits.alias("simhash_bits")).orderBy("doc_id")


def _simhash_duck_sql() -> str:
    votes = ",\n         ".join(
        "sum(CASE WHEN substring(h, {pos}, 1) IN "
        "('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END) AS v{j}".format(
            pos=j + 1, j=j
        )
        for j in range(N_HASHES)
    )
    bits = " || ".join(
        f"CASE WHEN v{j} > 0 THEN '1' ELSE '0' END" for j in range(N_HASHES)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, md5(unnest(list_distinct(
      list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')))) AS h
  FROM documents
), agg AS (
  SELECT doc_id,
         {votes}
  FROM tok GROUP BY doc_id
)
SELECT doc_id, {bits} AS simhash_bits FROM agg ORDER BY doc_id
"""


DEDUP_SIMHASH_SQL = _simhash_duck_sql()


# --- the artifact registry -------------------------------------------------
# Every graph/cluster consumer (CC, LPA, k-core, BFS, triangles, link
# prediction, keep-best, the estimate-error calibration) reads the SAME
# near-dup pair table — and, one level down, the whole dedup/setsim
# family reads the SAME shingle and MinHash-signature tables.  At
# production scale these are PERSISTED artifacts of the dedup pass —
# downstream jobs read them, they do not re-mine the corpus.  The
# in-process twin is this registry, the one memo shared across queries.
# An entry is keyed on (name, scope) and stores the fingerprint of the
# sf_dir its name embeds after ``:`` (sources.fingerprint):
# - scope is the Spark application for DataFrame artifacts and other
#   session values, None for the numpy fits (the oracle builders call
#   them at import, sessionless);
# - every registry call evicts each entry of its scope whose fingerprint
#   changed (a rewritten or deleted sf_dir), unpersisting and
#   unprotecting the old checkpoint's blocks; a requested entry that was
#   evicted is rebuilt;
# - a new application drops every older application's entries and
#   protected ids.
# PROTECTED_RDD_IDS lets sweep harnesses (bench.py) release per-query
# intermediates without severing live artifacts' lineage-cut blocks; it
# is only mutated in place, since callers import the set by name.
_REGISTRY: dict[tuple[str, str | None], tuple[tuple, object, frozenset[int]]] = {}
PROTECTED_RDD_IDS: set[int] = set()


def _persisted(spark: SparkSession) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _unpersist(spark: SparkSession, ids: set[int]) -> None:
    persisted = spark.sparkContext._jsc.getPersistentRDDs()
    for k in [k for k in persisted.keySet() if int(k) in ids]:
        persisted.get(k).unpersist()


def _live_application(spark: SparkSession) -> str:
    app = spark.sparkContext.applicationId
    for key in [k for k in _REGISTRY if k[1] not in (None, app)]:
        PROTECTED_RDD_IDS.difference_update(_REGISTRY.pop(key)[2])
    return app


def registered(spark: SparkSession | None, name: str, build):
    """The registry value of ``name``, scoped to ``spark``'s application
    (unscoped when None).  ``build()`` returns ``(value, rdd_ids)``; the
    ids stay protected while the entry lives.  Every entry of the scope
    whose input changed or vanished is evicted first."""
    scope = None if spark is None else _live_application(spark)
    for key in [
        k for k, e in _REGISTRY.items()
        if k[1] == scope and e[0] != fingerprint(k[0].partition(":")[2])
    ]:
        ids = _REGISTRY.pop(key)[2]
        if ids:
            PROTECTED_RDD_IDS.difference_update(ids)
            _unpersist(spark, ids)
    key = (name, scope)
    if key not in _REGISTRY:
        fp = fingerprint(name.partition(":")[2])
        value, ids = build()
        _REGISTRY[key] = (fp, value, frozenset(ids))
    return _REGISTRY[key][1]


def session_artifact(spark: SparkSession, name: str, build) -> DataFrame:
    """``build()`` materialized as a protected localCheckpoint, registered
    under ``name`` = ``"<artifact>:<sf_dir>"``."""

    def checkpoint():
        df = build()
        # only the artifact's own checkpoint is protected: the round
        # checkpoints ``build`` makes are cut off by it, and nested
        # artifacts built inside ``build`` already own their ids
        before = _persisted(spark)
        df = df.localCheckpoint(eager=True)
        ids = _persisted(spark) - before
        PROTECTED_RDD_IDS.update(ids)
        return df, ids

    return registered(spark, name, checkpoint)


@contextmanager
def core_width(spark: SparkSession):
    """The block runs with shuffle width = defaultParallelism (restored
    after): a round's exchanges carry a per-node vector, and in a session
    tuned for wide stages with AQE coalescing off each one would launch
    hundreds of near-empty tasks (pagerank at sf0.1: 33 s vs 6 s)."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def rounds(spark, what: str, state: DataFrame, step, max_rounds: int, changed=None):
    """The one Pregel-style round driver (Malewicz et al., SIGMOD 2010):
    ``state = step(state)``, materialized as a localCheckpoint per round
    (the written iteration table at prod), under ``core_width``.  With
    ``changed(new, old) -> int`` the loop stops at the first round that
    changes nothing and raises if ``max_rounds`` ends without one — a
    partially propagated state is never returned.  Without it exactly
    ``max_rounds`` rounds run, the count the oracles unroll."""
    with core_width(spark):
        for _ in range(max_rounds):
            new = step(state).localCheckpoint(eager=True)
            n = None if changed is None else changed(new, state)
            state = new
            if n == 0:
                return state
    if changed is not None:
        raise RuntimeError(f"{what}: not converged in {max_rounds} rounds ({n} still changing)")
    return state


def top_k(df: DataFrame, keys: list[str], order: list[Column], k: int, rank: str) -> DataFrame:
    """The one rank-and-cut: the first ``k`` rows of each ``keys`` group
    (one global ranking when ``keys`` is empty) in ``order``, numbered
    from 1 in the int column ``rank``; callers cast the rank their schema
    needs.  The planner infers the eager cut from ``row_number() <= k``:
    a keyed rank is cut per partition (a partial WindowGroupLimit) before
    its shuffle, and a global one plans as TakeOrderedAndProject, where
    each task keeps its local top k and only those reach the final task,
    so callers never write an ``orderBy(...).limit(k)`` in front of it."""
    w = W.partitionBy(*keys).orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def release_unprotected(spark: SparkSession, keep: set[int]) -> None:
    """Unpersist every persisted RDD outside ``keep`` ∪ PROTECTED_RDD_IDS —
    the between-queries release of a sweep harness.  Session artifacts are
    lineage-cut checkpoints: releasing one would make its next consumer
    fail with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.  A dead application's
    protected ids are dropped first: a restarted session reuses RDD ids."""
    _live_application(spark)
    _unpersist(spark, _persisted(spark) - keep - PROTECTED_RDD_IDS)


def lsh_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_artifact(
        spark, f"lsh_pairs:{sf_dir}", lambda: dedup_minhash_lsh(spark, sf_dir)
    )


def shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The written (doc_id, sh) distinct word-3-gram shingle table — the
    one input every shingle consumer (minhash sigs, jaccard ground truth,
    setsim prefix join, containment) derives from."""
    return session_artifact(
        spark, f"shingles:{sf_dir}", lambda: _shingle_rows(_docs(spark, sf_dir))
    )


def shingles_cut_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-cutoff'd shingle table (the jaccard-family pair universe)."""
    return session_artifact(
        spark,
        f"shingles_cut:{sf_dir}",
        lambda: _df_cutoff(shingles_cached(spark, sf_dir), _docs(spark, sf_dir), "sh"),
    )


def minhash_sigs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The written MinHash signature table (doc_id, s0..s15)."""
    return session_artifact(
        spark,
        f"minhash_sigs:{sf_dir}",
        lambda: _sigs_from_shingles(shingles_cached(spark, sf_dir)),
    )


def lsh_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pair graph in both directions (src, dst): the edge
    table every round loop over it (CC, LPA, BFS, k-core) relaxes."""
    def build() -> DataFrame:
        pairs = lsh_pairs_cached(spark, sf_dir)
        return pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionAll(
            pairs.selectExpr("doc_b AS src", "doc_a AS dst")
        )

    return session_artifact(spark, f"lsh_edges:{sf_dir}", build)


# --- connected components over the near-dup graph ------------------------------
# The dedup FINISHER: pairwise candidates (MinHash-LSH) only say "a looks
# like b"; choosing one canonical document per duplicate CLUSTER needs the
# transitive closure.  Implemented as iterative min-label propagation —
# each round every node takes the min of its own and its neighbors'
# labels; converges to the component's min doc_id in O(graph diameter)
# rounds (near-dup clusters are shallow: measured 2-3 rounds here).  Each
# round is ONE shuffle (join + groupBy on the same key), run by ``rounds``
# (driver only sees a 1-value convergence count).  The DuckDB oracle
# computes the same closure with WITH RECURSIVE, so the iterative
# distributed algorithm is value-checked against a declarative ground
# truth.  The 32-round bound is far above any real diameter here.
def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged connected-component labels (doc_id, component) over the
    near-dup pair graph — the written component table at prod, shared via
    cc_labels_cached by dedup_components and the downstream
    canonicalization/modularity consumers."""
    edges = lsh_edges_cached(spark, sf_dir)

    def step(labels: DataFrame) -> DataFrame:
        nbr = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy("dst")
            .agg(F.min("component").alias("nbr_comp"))
        )
        # the old label rides through the update projection, so the
        # convergence check is a filter over the materialized round table
        # instead of a second join per round
        return labels.join(nbr, labels["doc_id"] == nbr["dst"], "left").select(
            labels["doc_id"],
            F.col("component").alias("oc"),
            F.least(
                F.col("component"), F.coalesce("nbr_comp", F.col("component"))
            ).alias("component"),
        )

    l0 = _docs(spark, sf_dir).select("doc_id", F.col("doc_id").alias("component"))
    labels = rounds(spark, "dedup_components", l0, step, 32,
                    lambda new, _old: new.filter(F.col("component") != F.col("oc")).count())
    return labels.select("doc_id", "component")


def cc_labels_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_artifact(
        spark, f"cc_labels:{sf_dir}", lambda: _cc_labels(spark, sf_dir)
    )


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = cc_labels_cached(spark, sf_dir)
    w = W.partitionBy("component")
    return labels.select(
        "doc_id",
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    ).orderBy("doc_id")


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_LSH_SQL})
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
), comp AS (
  SELECT node AS doc_id, min(comp) AS component FROM reach GROUP BY node
)
SELECT doc_id, component,
       CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size,
       doc_id = component AS is_canonical
FROM comp ORDER BY doc_id
"""


# --- continuous-ingest dedup -------------------------------------------------
# The shape dedup actually takes at 100 TB: the corpus is never re-deduped
# whole — an ARRIVING BATCH is checked against the COMMITTED corpus's
# persisted indexes (exact content-hash table + MinHash-LSH band index,
# both built once and appended to).  Here the committed/arriving split is
# a deterministic content-hash percentile of the same table (the newest
# INGEST_BATCH_PCT% of docs play the batch), so the whole flow stays
# DuckDB-checkable; at prod the two sides are simply two table reads.
# Plan shape: batch-side hash left-joins the existing hash index; batch
# bands equi-join the existing band index (never batch×batch band work,
# never existing×existing — candidate work is |batch|-proportional); the
# batch also exact-checks ITSELF (one |batch|-sized window over the
# content hash — without it two identical docs arriving together would
# both commit as 'unique' and, since the corpus is never re-deduped
# whole, stay duplicated forever).  Intra-batch NEAR dedup is the batch's
# own self-join — run dedup_minhash_lsh over the batch before commit.
INGEST_BATCH_PCT = 20

def md5_prefix_long_sql(inner: str, n: int, engine: str) -> str:
    """The one cross-engine spelling of "first n hex chars of md5(inner)
    as a BIGINT" — Spark via conv(), DuckDB via the '0x' cast.  Both
    parse the same hex digits, so the value is engine-identical for
    n <= 15 (60 bits).  Every md5-derived integer recipe (percentile
    splits here, the HLL sketch hash) derives from this helper so a fix
    to one spelling can never miss the other."""
    if engine == "duck":
        h = f"substr(md5({inner}), 1, {n})"
        return f"CAST(('0x' || {h}) AS BIGINT)"
    h = f"substring(md5({inner}), 1, {n})"
    return f"CAST(conv({h}, 16, 10) AS BIGINT)"


# md5-percentile of the doc id — the one content-hash split recipe shared
# by the training split (traindata) and the ingest split here; the SQL
# twin is the authoritative oracle spelling.
HASH_PCT_SQL = md5_prefix_long_sql("CAST(doc_id AS STRING)", 4, "duck") + " % 100"


def hash_pct() -> F.Column:
    return F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
            "long"
        ),
        F.lit(100),
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _docs(spark, sf_dir).select("doc_id", hash_pct().alias("pct"), "text")
    existing = base.filter(F.col("pct") < 100 - INGEST_BATCH_PCT)
    batch = base.filter(F.col("pct") >= 100 - INGEST_BATCH_PCT)
    norm = F.md5(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    # the committed exact index: content_hash -> canonical (min) doc_id
    ex_hash = (
        existing.select(norm.alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("exact_canon"))
    )
    bt = batch.select("doc_id", norm.alias("content_hash"))
    # intra-batch exact twin: the earliest batch doc with the same hash is
    # canonical for the later ones (committed canon takes priority below)
    intra_min = F.min("doc_id").over(W.partitionBy("content_hash"))
    bt = bt.withColumn("intra_canon", F.when(intra_min < F.col("doc_id"), intra_min))
    exact = bt.join(ex_hash, "content_hash", "left").select(
        "doc_id", F.coalesce("exact_canon", "intra_canon").alias("exact_canon")
    )
    # the committed LSH band index (localCheckpoint = the written index
    # table at prod, same reasoning as dedup_minhash_lsh); batch bands are
    # computed on the fly — the batch is the small, streaming side.  Both
    # sides derive from the session shingle artifact: a doc's shingles
    # are independent of every other doc, so filtering the corpus-wide
    # shingle table by the doc's hash percentile is row-identical to
    # shingling each side separately (and skips two shingling passes).
    sh_all = shingles_cached(spark, sf_dir).withColumn("pct", hash_pct())
    ex_bands = _bands_from_sig(
        _sigs_from_shingles(sh_all.filter(F.col("pct") < 100 - INGEST_BATCH_PCT))
    ).localCheckpoint(eager=True)
    b_bands = _bands_from_sig(
        _sigs_from_shingles(sh_all.filter(F.col("pct") >= 100 - INGEST_BATCH_PCT))
    )
    near = (
        b_bands.alias("b")
        .join(
            ex_bands.alias("e"),
            (F.col("b.band_idx") == F.col("e.band_idx"))
            & (F.col("b.band_key") == F.col("e.band_key")),
        )
        .select(F.col("b.doc_id").alias("doc_id"), F.col("e.doc_id").alias("cand"))
        .groupBy("doc_id")
        .agg(F.min("cand").alias("near_canon"))
    )
    return (
        exact.join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_canon", F.lit(-1)).cast("bigint").alias("exact_dup_of"),
            F.coalesce("near_canon", F.lit(-1)).cast("bigint").alias("near_dup_of"),
            F.when(F.col("exact_canon").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_canon").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


def _incremental_duck_sql() -> str:
    cutoff = 100 - INGEST_BATCH_PCT
    return f"""
WITH d AS (
  SELECT doc_id, text, {HASH_PCT_SQL} AS pct
  FROM documents
), exh AS (
  SELECT md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_hash,
         min(doc_id) AS exact_canon
  FROM d WHERE pct < {cutoff} GROUP BY 1
), bth AS (
  SELECT doc_id, content_hash,
         CASE WHEN min(doc_id) OVER (PARTITION BY content_hash) < doc_id
              THEN min(doc_id) OVER (PARTITION BY content_hash) END AS intra_canon
  FROM (
    SELECT doc_id, md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_hash
    FROM d WHERE pct >= {cutoff}
  )
), {_minhash_band_ctes(src="d", extra="pct")}, near AS (
  SELECT b.doc_id, min(e.doc_id) AS near_canon
  FROM bands b JOIN bands e
    ON b.band_idx = e.band_idx AND b.band_key = e.band_key
   AND b.pct >= {cutoff} AND e.pct < {cutoff}
  GROUP BY b.doc_id
)
SELECT b.doc_id,
       CAST(coalesce(e.exact_canon, b.intra_canon, -1) AS BIGINT) AS exact_dup_of,
       CAST(coalesce(n.near_canon, -1) AS BIGINT) AS near_dup_of,
       CASE WHEN coalesce(e.exact_canon, b.intra_canon) IS NOT NULL THEN 'exact_dup'
            WHEN n.near_canon IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS verdict
FROM bth b
LEFT JOIN exh e USING (content_hash)
LEFT JOIN near n ON n.doc_id = b.doc_id
ORDER BY b.doc_id
"""


DEDUP_INCREMENTAL_SQL = _incremental_duck_sql()


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_token_jaccard_topk": dedup_token_jaccard_topk,
    "dedup_shingle_jaccard": dedup_shingle_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_components": dedup_components,
    "dedup_incremental": dedup_incremental,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_token_jaccard_topk": DEDUP_TOKEN_JACCARD_TOPK_SQL,
    "dedup_shingle_jaccard": DEDUP_SHINGLE_JACCARD_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_LSH_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_components": DEDUP_COMPONENTS_SQL,
    "dedup_incremental": DEDUP_INCREMENTAL_SQL,
}


# --- set-similarity join via prefix filtering (PPJoin-lite) -----------------
# The scalable EXACT jaccard-threshold join: order every document's
# shingles by GLOBAL rarity (document frequency asc, shingle asc — a
# total order), and probe only each set's PREFIX — the first
# |d| − ceil(T·|d|) + 1 rarest shingles.  The prefix-filtering theorem
# (SSJoin/PPJoin): two sets with J ≥ T must share at least one element
# within those prefixes, so the prefix equi-join finds every qualifying
# pair while joining only ~(1−T) of each set — and because the prefix
# keeps the RAREST keys, the hot keys that drive equi-join fan-out are
# exactly the ones excluded.  Candidates are then verified with an exact
# intersection count restricted to candidate pairs.  T = 0.6, checked in
# integers (5·inter ≥ 3·union).  The ORACLE is the full unfiltered
# equi-join formulation — a green hash PROVES the prefix filter is
# lossless, not merely plausible.  Shingle universe = the df-cutoff'd
# sets the other jaccard ops use.  Measured at sf0.1: 1,130,536 full
# equi-join candidate pairs -> 299,519 after prefix filtering (73.5%
# reduction) with identical final output.
SETSIM_T_NUM, SETSIM_T_DEN = 3, 5  # T = 0.6


def setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # both the raw shingle table (feeds the cutoff twice) and the
    # cutoff'd pair universe (feeds ranking, both probe sides and the
    # verify arrays) are session artifacts shared with the jaccard /
    # minhash family — the written shingle tables at prod
    sh = shingles_cut_cached(spark, sf_dir)
    # document frequency as a window over the materialized rows — same
    # shuffle-by-sh the groupBy would pay, without the join back
    ranked = (
        sh.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("sh")))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy("df", "sh")
            ),
        )
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
    )
    # prefix length = n - ceil(T*n) + 1; ceil(3n/5) = (3n + 4) DIV 5
    prefix = (
        ranked.filter(
            F.col("rk")
            <= F.col("n")
            - F.expr(f"({SETSIM_T_NUM} * n + {SETSIM_T_DEN} - 1) DIV {SETSIM_T_DEN}")
            + 1
        )
        .select("doc_id", "sh")
        # feeds BOTH sides of the self-join below — materialize once
        .localCheckpoint(eager=True)
    )
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.sh") == F.col("pb.sh"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # verify per CANDIDATE PAIR against the collected shingle ARRAYS —
    # size(array_intersect(sa, sb)) is a per-row set intersection, so
    # the verify stage handles |candidates| pair rows, never the
    # candidates × shingles row explosion (measured at sf0.1: the
    # exploded verify was 36 s isolated; the array verify ~4 s).  The
    # per-doc array table is one row per DOCUMENT (tiny) while the pair
    # table is the big side, so the arrays attach via BROADCAST hash
    # joins — the planner cannot estimate the aggregate's size and was
    # shuffling ~2 KB of array payload per pair side (~1.2 GB at sf0.1;
    # guide §2.3/§3.1: never shuffle the heavy payload to meet a tiny
    # dimension).  The PPJoin LENGTH filter then drops pairs whose set
    # sizes alone forbid J >= T (J >= 3/5 ⟹ 8·min(n_a,n_b) >=
    # 3·(n_a+n_b)) BEFORE the intersect — a strictly weaker
    # precondition of the final predicate, so the output is unchanged.
    arrs = sh.groupBy("doc_id").agg(F.collect_list("sh").alias("arr"))
    return (
        cand.join(F.broadcast(arrs.selectExpr("doc_id AS doc_a", "arr AS sa")), "doc_a")
        .join(F.broadcast(arrs.selectExpr("doc_id AS doc_b", "arr AS sb")), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "sa",
            "sb",
            "CAST(size(sa) AS INT) AS n_a",
            "CAST(size(sb) AS INT) AS n_b",
        )
        .filter(
            (SETSIM_T_NUM + SETSIM_T_DEN) * F.least("n_a", "n_b")
            >= SETSIM_T_NUM * (F.col("n_a") + F.col("n_b"))
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(size(array_intersect(sa, sb)) AS BIGINT) AS n_inter",
            "n_a",
            "n_b",
        )
        .filter(
            SETSIM_T_DEN * F.col("n_inter")
            >= SETSIM_T_NUM * (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        )
        .orderBy("doc_a", "doc_b")
    )


# oracle: the FULL equi-join formulation, no prefix filter — independent
SETSIM_PREFIX_JOIN_SQL = (
    "WITH s AS (" + _SHINGLES_DUCK + """
), sh AS (
  SELECT doc_id, unnest(shingles) AS sh FROM s
), """
    + _df_cutoff_duck("sh", "sh")
    + f""", sizes AS (
  SELECT doc_id, count(*) AS n FROM sh_f GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh_f a JOIN sh_f b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sa.n AS INT) AS n_a, CAST(sb.n AS INT) AS n_b
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {SETSIM_T_DEN} * n_inter >= {SETSIM_T_NUM} * (sa.n + sb.n - n_inter)
ORDER BY doc_a, doc_b
"""
)


QUERIES["setsim_prefix_join"] = setsim_prefix_join
ORACLES["setsim_prefix_join"] = SETSIM_PREFIX_JOIN_SQL


# --- near-dup cluster canonicalization ---------------------------------------
# The step after connected components in every production dedup pipeline:
# each cluster keeps ONE representative (the longest document, ties to the
# smallest doc_id) and maps every member to it.  One window shuffle keyed
# by component on top of the CC labels — skew is bounded by the largest
# near-dup cluster, the same unit the CC loop already carries; the
# representative choice is a deterministic function of (n_chars, doc_id)
# so reruns and repartitioning cannot flip winners.
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reads the written component table (shared with modularity) — the
    # canonicalization step consumes CC output, it does not re-run CC
    comp = cc_labels_cached(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    scored = comp.join(docs, "doc_id")
    w = (
        W.partitionBy("component")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        scored.select(
            "doc_id",
            "component",
            F.first("doc_id").over(w).alias("keep_id"),
        )
        .withColumn("kept", F.col("doc_id") == F.col("keep_id"))
        .orderBy("doc_id")
    )


DEDUP_KEEP_BEST_SQL = f"""
WITH comp AS (
  SELECT doc_id, component FROM ({DEDUP_COMPONENTS_SQL})
), scored AS (
  SELECT c.doc_id, c.component, d.n_chars
  FROM comp c JOIN documents d USING (doc_id)
)
SELECT doc_id, component,
       first_value(doc_id) OVER (
         PARTITION BY component ORDER BY n_chars DESC, doc_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS keep_id,
       doc_id = first_value(doc_id) OVER (
         PARTITION BY component ORDER BY n_chars DESC, doc_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS kept
FROM scored ORDER BY doc_id
"""

QUERIES["dedup_keep_best"] = dedup_keep_best
ORACLES["dedup_keep_best"] = DEDUP_KEEP_BEST_SQL


# --- minhash estimate-vs-exact calibration -----------------------------------
# The sketch-quality gate for the minhash family (what sim_recall is to
# the ANN family): for every LSH candidate pair, the signature-agreement
# estimate (matching minhashes / 16) against the EXACT shingle Jaccard,
# rolled up as an error histogram in integer ppm.  If the signature
# layout, banding, or shingle recipe ever drifts from true Jaccard
# behavior, the histogram moves and the oracle hash breaks — the
# estimator's calibration is a DRIVER ROW, not a pytest claim.
# Scale: signatures, shingle arrays and the candidate pairs are each
# built once per session (persisted index tables at prod — session
# artifacts here); candidates are the LSH band equi-join's pairs
# (lsh_pairs_cached), never all-pairs; the exact verify is per-pair
# array_intersect, so the costly leg is |candidates| rows.
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = minhash_sigs_cached(spark, sf_dir)
    pairs = lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{j}").alias(f"a{j}") for j in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{j}").alias(f"b{j}") for j in range(N_HASHES)],
    )
    n_match = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(N_HASHES)
    )
    est = pairs.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", n_match.alias("n_match")
    )
    arrs = (
        shingles_cached(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.collect_list("sh").alias("arr"))
        .localCheckpoint(eager=True)
    )
    ppm = (
        est.join(arrs.selectExpr("doc_id AS doc_a", "arr AS arr_a"), "doc_a")
        .join(arrs.selectExpr("doc_id AS doc_b", "arr AS arr_b"), "doc_b")
        .selectExpr(
            "CAST(n_match AS BIGINT) * 62500 AS est_ppm",
            "(1000000 * CAST(size(array_intersect(arr_a, arr_b)) AS BIGINT))"
            " div (size(arr_a) + size(arr_b) - size(array_intersect(arr_a, arr_b)))"
            " AS jacc_ppm",
        )
    )
    return (
        ppm.selectExpr("abs(est_ppm - jacc_ppm) AS err_ppm", "jacc_ppm")
        .groupBy(F.expr("CAST(err_ppm div 100000 AS INT)").alias("err_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("err_ppm").alias("sum_err_ppm"),
            F.sum("jacc_ppm").alias("sum_jacc_ppm"),
        )
        .orderBy("err_decile")
    )


MINHASH_ESTIMATE_ERROR_SQL = f"""
WITH {_minhash_band_ctes()}
, pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), est AS (
  SELECT p.doc_a, p.doc_b,
         ({" + ".join(f"CAST(sa.s{j} = sb.s{j} AS INT)" for j in range(N_HASHES))})
           AS n_match
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b
), ppm AS (
  SELECT CAST(e.n_match AS BIGINT) * 62500 AS est_ppm,
         (1000000 * CAST(len(list_intersect(ma.shingles, mb.shingles)) AS BIGINT))
           // (len(ma.shingles) + len(mb.shingles)
               - len(list_intersect(ma.shingles, mb.shingles))) AS jacc_ppm
  FROM est e
  JOIN msh ma ON ma.doc_id = e.doc_a
  JOIN msh mb ON mb.doc_id = e.doc_b
)
SELECT CAST(abs(est_ppm - jacc_ppm) // 100000 AS INT) AS err_decile,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(abs(est_ppm - jacc_ppm)) AS BIGINT) AS sum_err_ppm,
       CAST(sum(jacc_ppm) AS BIGINT) AS sum_jacc_ppm
FROM ppm GROUP BY 1 ORDER BY 1
"""

QUERIES["minhash_estimate_error"] = minhash_estimate_error
ORACLES["minhash_estimate_error"] = MINHASH_ESTIMATE_ERROR_SQL


# --- dedup_lsh_quality: the dedup family's sim_recall -------------------
# sim_recall gates the ANN paths' retrieval quality every round; nothing
# gated the LSH DEDUP pass the same way — this op does: precision and
# recall of the minhash band index's candidate pairs against the exact
# shingle-Jaccard >= 0.2 ground truth (the identical pair universe:
# both sides run over the same df-cutoff shingle sets).  Banding theory
# says b=4/r=4 fires with p = 1-(1-J^4)^4 — near-certain on true
# near-dups (J >= 0.5 of the planted 'dup' family), probabilistic in the
# 0.2-0.3 band — so recall lands high-but-not-1 and precision reflects
# band-collision noise; BOTH are driver-hashed output columns, making
# the index's quality a per-round regression gate, not a one-time claim.
# Metrics are integer ppm with a -1 sentinel for empty denominators
# (Spark DIV-by-zero yields NULL where DuckDB // raises — the sentinel
# keeps the engines aligned without dialect-divergent NULL handling).


def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pred = the SAME persisted near-dup pair index every graph consumer
    # reads; truth = the jaccard ground truth over the session's cutoff'd
    # shingle artifact — identical pair universe, built once per session
    pred = lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    truth = _shingle_jaccard_from_cut(shingles_cut_cached(spark, sf_dir)).select(
        "doc_a", "doc_b"
    )
    hit = pred.join(truth, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    np_ = pred.agg(F.count(F.lit(1)).cast("long").alias("n_pred"))
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    return (
        hit.crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(nt))
        .selectExpr(
            "n_truth",
            "n_pred",
            "n_hit",
            "CASE WHEN n_pred = 0 THEN CAST(-1 AS BIGINT)"
            " ELSE (1000000 * n_hit) DIV n_pred END AS precision_ppm",
            "CASE WHEN n_truth = 0 THEN CAST(-1 AS BIGINT)"
            " ELSE (1000000 * n_hit) DIV n_truth END AS recall_ppm",
        )
    )


DEDUP_LSH_QUALITY_SQL = f"""
WITH pred AS (
  SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_LSH_SQL})
), truth AS (
  SELECT doc_a, doc_b FROM ({DEDUP_SHINGLE_JACCARD_SQL})
), m AS (
  SELECT (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM pred) AS n_pred,
         (SELECT count(*) FROM pred JOIN truth USING (doc_a, doc_b)) AS n_hit
)
SELECT CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_pred AS BIGINT) AS n_pred,
       CAST(n_hit AS BIGINT) AS n_hit,
       CASE WHEN n_pred = 0 THEN CAST(-1 AS BIGINT)
            ELSE CAST((1000000 * n_hit) // n_pred AS BIGINT) END
         AS precision_ppm,
       CASE WHEN n_truth = 0 THEN CAST(-1 AS BIGINT)
            ELSE CAST((1000000 * n_hit) // n_truth AS BIGINT) END
         AS recall_ppm
FROM m
"""

QUERIES["dedup_lsh_quality"] = dedup_lsh_quality
ORACLES["dedup_lsh_quality"] = DEDUP_LSH_QUALITY_SQL


# --- substring-level dedup: duplicated token spans ---------------------------
# The span-level half of training-data dedup (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better"): document-
# level near-dup removal keeps boilerplate passages that repeat ACROSS
# otherwise-distinct documents; substring dedup finds the repeated spans
# themselves.  Exact distributed shape (suffix arrays are the single-node
# tool; the equivalent at cluster scale is gram chaining):
#   1. positional L-grams (L=8 tokens) built codegen-side — posexplode +
#      lead() window, the measured _shingle_rows formulation, never a HOF;
#   2. grams occurring in >= 2 DISTINCT docs, found by ONE combinable agg
#      on the 60-bit md5 of the gram (shuffle carries a long, not the
#      40-char string);
#   3. flagged positions widen to token intervals [pos, pos+L) and merge
#      per doc with the covered_days_union window sweep (new span when
#      pos > running max end), so overlapping duplicated grams compact
#      into maximal spans.
# Every step is one shuffle (gram agg; the window shares the doc key) and
# all arithmetic is integer; output is the full span table, so the driver
# hash pins every detected span boundary.
SUBSTR_L = 8  # tokens per gram = minimum duplicated-span length


def _substr_grams(docs: DataFrame) -> DataFrame:
    """Positional L-gram hash rows (doc_id, pos, gh) — the one gram table
    both halves of substring dedup (find + apply) read."""
    toks = docs.select("doc_id", F.posexplode(_tokens()).alias("pos", "t"))
    w = W.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ", F.col("t"), *[F.lead("t", k).over(w) for k in range(1, SUBSTR_L)]
    )
    return (
        toks.select(
            "doc_id",
            "pos",
            gram.alias("g"),
            F.lead("t", SUBSTR_L - 1).over(w).alias("_tl"),
        )
        .filter(F.col("_tl").isNotNull())
        .selectExpr(
            "doc_id",
            "pos",
            md5_prefix_long_sql("g", 15, "spark") + " AS gh",
        )
    )


def substr_grams_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session artifact: the written positional-gram table (the costly
    per-doc window pass runs once for find + apply)."""
    return session_artifact(
        spark,
        f"substr_grams:{sf_dir}",
        lambda: _substr_grams(_docs(spark, sf_dir).select("doc_id", "text")),
    )


def substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = substr_grams_cached(spark, sf_dir)
    dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gh")
    )
    flagged = grams.join(dup, "gh").select(
        "doc_id", "pos", (F.col("pos") + SUBSTR_L).alias("end")
    )
    wd = W.partitionBy("doc_id").orderBy("pos")
    prev = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, -1
    )
    spans = (
        flagged.select(
            "doc_id",
            "pos",
            "end",
            F.when(
                F.col("pos") > F.coalesce(F.max("end").over(prev), F.lit(-1)),
                1,
            )
            .otherwise(0)
            .alias("new_span"),
        )
        .select(
            "doc_id", "pos", "end", F.sum("new_span").over(wd).alias("span_id")
        )
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            F.max("end").cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
    )
    return spans.selectExpr(
        "doc_id",
        "span_start",
        "span_end",
        "span_end - span_start AS span_tokens",
        "n_grams",
    ).orderBy("doc_id", "span_start")


def _substring_dedup_sql() -> str:
    leads = " || ' ' || ".join(
        ["t"] + [f"lead(t, {k}) OVER w" for k in range(1, SUBSTR_L)]
    )
    gh = md5_prefix_long_sql("g", 15, "duck")
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS t,
         unnest(range(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')))) AS pos
  FROM documents
), grams0 AS (
  SELECT doc_id, pos, {leads} AS g,
         lead(t, {SUBSTR_L - 1}) OVER w AS _tl
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), grams AS (
  SELECT doc_id, pos, {gh} AS gh FROM grams0 WHERE _tl IS NOT NULL
), dup AS (
  SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
), flagged AS (
  SELECT g.doc_id, g.pos, g.pos + {SUBSTR_L} AS e
  FROM grams g JOIN dup USING (gh)
), marked AS (
  SELECT doc_id, pos, e,
         CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_span
  FROM flagged
), ids AS (
  SELECT doc_id, pos, e,
         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM marked
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(e) AS BIGINT) AS span_end,
       CAST(max(e) - min(pos) AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_grams
FROM ids
GROUP BY doc_id, span_id
ORDER BY doc_id, span_start
"""


SUBSTRING_DEDUP_SPANS_SQL = _substring_dedup_sql()

QUERIES["substring_dedup_spans"] = substring_dedup_spans
ORACLES["substring_dedup_spans"] = SUBSTRING_DEDUP_SPANS_SQL


# --- substring_dedup_apply: remove duplicated spans, keep one canonical copy --
# The APPLY half of substring dedup (substring_dedup_spans finds; this
# rewrites): following Lee et al. 2022, each duplicated passage keeps
# exactly ONE canonical occurrence corpus-wide — the copy in the lowest
# doc_id holding the gram — and every other occurrence's token range is
# cut.  Gram-level rule: position p of doc d is removable iff some
# L-gram at p has document frequency >= 2 AND d > min(doc) of that gram;
# removable grams widen to [pos, pos+L) token intervals whose union is
# dropped.  One gram agg (carrying min(doc) beside the df — no second
# shuffle vs the find op), a semi-join back, an interval explode bounded
# by L, and an ordered per-doc reassembly (the packed_sequence_texts
# struct-sort recipe; DuckDB string_agg ORDER BY pos).  Output pins the
# rewrite for EVERY doc: token counts before/after and the md5 of the
# cleaned text.
def substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = docs.select("doc_id", F.posexplode(_tokens()).alias("pos", "t"))
    grams = substr_grams_cached(spark, sf_dir)
    dup = (
        grams.groupBy("gh")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").alias("keeper"),
        )
        .where(F.col("nd") >= 2)
        .select("gh", "keeper")
    )
    removable = grams.join(dup, "gh").where(F.col("doc_id") != F.col("keeper"))
    cut = removable.selectExpr(
        "doc_id", f"explode(sequence(pos, pos + {SUBSTR_L - 1})) AS pos"
    ).distinct()
    kept = toks.join(cut, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_after"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("t")))),
                    lambda s: s["t"],
                ),
                " ",
            )
        ).alias("clean_md5"),
    )
    before = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_before")
    )
    return (
        before.join(rebuilt, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "n_before",
            "coalesce(n_after, 0) AS n_after",
            "n_before - coalesce(n_after, 0) AS n_removed",
            # a doc whose every token was cut rebuilds to the empty text
            "coalesce(clean_md5, md5('')) AS clean_md5",
        )
        .orderBy("doc_id")
    )


def _substring_apply_sql() -> str:
    leads = " || ' ' || ".join(
        ["t"] + [f"lead(t, {k}) OVER w" for k in range(1, SUBSTR_L)]
    )
    gh = md5_prefix_long_sql("g", 15, "duck")
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS t,
         unnest(range(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')))) AS pos
  FROM documents
), grams0 AS (
  SELECT doc_id, pos, {leads} AS g,
         lead(t, {SUBSTR_L - 1}) OVER w AS _tl
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), grams AS (
  SELECT doc_id, pos, {gh} AS gh FROM grams0 WHERE _tl IS NOT NULL
), dup AS (
  SELECT gh, min(doc_id) AS keeper
  FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
), cut AS (
  SELECT DISTINCT g.doc_id, g.pos + k AS pos
  FROM grams g JOIN dup USING (gh), (SELECT unnest(range({SUBSTR_L})) AS k) kk
  WHERE g.doc_id <> dup.keeper
), kept AS (
  SELECT t.doc_id, t.pos, t.t
  FROM toks t ANTI JOIN cut c ON t.doc_id = c.doc_id AND t.pos = c.pos
), rebuilt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_after,
         md5(string_agg(t, ' ' ORDER BY pos)) AS clean_md5
  FROM kept GROUP BY doc_id
), before AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_before FROM toks GROUP BY doc_id
)
SELECT b.doc_id, b.n_before,
       coalesce(r.n_after, 0) AS n_after,
       b.n_before - coalesce(r.n_after, 0) AS n_removed,
       coalesce(r.clean_md5, md5('')) AS clean_md5
FROM before b LEFT JOIN rebuilt r ON b.doc_id = r.doc_id
ORDER BY b.doc_id
"""


SUBSTRING_DEDUP_APPLY_SQL = _substring_apply_sql()

QUERIES["substring_dedup_apply"] = substring_dedup_apply
ORACLES["substring_dedup_apply"] = SUBSTRING_DEDUP_APPLY_SQL


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
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
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
    order = [F.col("containment_micro").desc(), F.col("a"), F.col("b")]
    return (
        top_k(scored, [], order, CONTAIN_TOPK, "rk")
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
