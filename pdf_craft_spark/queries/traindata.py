"""Training-set assembly operators: deterministic splits and sequence
packing — the last mile of a 100 TB training-data pipeline (after dedup /
quality filtering, documents must land in reproducible train/val/test
partitions and be packed into fixed-token-budget training sequences).

Scale notes:

- the split is a pure PROJECTION (one md5 per row, no shuffle, no state):
  membership is content-derived, so it is stable under reruns, appends,
  and repartitioning — the properties a split must have at scale (a
  random() split is none of these);
- packing is SHARD-LOCAL: a global greedy packer is a single sequential
  scan (non-distributable); sharding by a content-derived bucket gives
  ~n/shards docs per running-sum window, each window an independent task.
  One shuffle on the shard key, exactly like any windowed aggregate.

Both are DuckDB-oracle-backed: md5-derived assignment and integer window
arithmetic reproduce exactly across engines.  So are the sampling plans a
training run draws with: epoch shuffles, group-aware k-fold assignment,
temperature-scaled mixture weights and token-budget water-filling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries.dedup import (
    DF_CUTOFF_FRAC as _DF_CUTOFF_FRAC,
    HASH_PCT_SQL as _HASH_PCT_SQL,
    _df_cutoff,
    _docs,
    _shingle_list_duck,
    _tokens,
    hash_pct as _dedup_hash_pct,
    md5_prefix_long_sql,
    shingles_cached,
    top_k,
)
from pdf_craft_spark.queries.similarity import _emb
from pdf_craft_spark.sources import load_table

# split fractions in percent: train 90 / val 5 / test 5
VAL_PCT, TEST_PCT = 5, 5
N_SHARDS = 16
SEQ_CAPACITY = 2048  # tokens per packed training sequence


def _hash_pct() -> F.Column:
    # 4 hex chars of md5(doc_id) → uniform 0..65535 → % 100 — the ONE
    # md5-percentile recipe, hosted in dedup (hash_pct / HASH_PCT_SQL)
    # and shared with the ingest split there.  The shard key reads a
    # 6-char prefix of the same digest; sharing the digest is fine
    # because split and shard are never joined or correlated.
    return _dedup_hash_pct()


def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash split: doc → train/val/test by
    md5(doc_id) % 100 (< 90 / < 95 / else).  Pure narrow projection."""
    pct = _hash_pct()
    split = (
        F.when(pct < 100 - VAL_PCT - TEST_PCT, F.lit("train"))
        .when(pct < 100 - TEST_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", split.alias("split"), F.length("text").alias("n_chars"))
        .orderBy("doc_id")
    )


SPLIT_TRAIN_VAL_TEST_SQL = f"""
SELECT doc_id,
       CASE WHEN pct < {100 - VAL_PCT - TEST_PCT} THEN 'train'
            WHEN pct < {100 - TEST_PCT} THEN 'val'
            ELSE 'test' END AS split,
       CAST(length(text) AS INT) AS n_chars
FROM (
  SELECT doc_id, text, {_HASH_PCT_SQL} AS pct
  FROM documents
) ORDER BY doc_id
"""


def _shard() -> F.Column:
    """The packers' shared shard key: md5(doc_id)[:6] % N_SHARDS — both
    packing operators MUST use the identical assignment (the exact twin
    packs the same shards as the approximate one)."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast(
            "long"
        ),
        F.lit(N_SHARDS),
    )


def _n_tokens() -> F.Column:
    """Whitespace token count — the same tokenization as text_token_count."""
    return F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")).cast(
        "long"
    )


def _packing_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", _shard().alias("shard"), _n_tokens().alias("n_tokens")
    )


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-local sequence packing: whitespace token counts per doc, a
    running sum within each md5-derived shard (doc_id order), and the
    packed-sequence id ``floor(pre_cum / SEQ_CAPACITY)`` — the sequence a
    document STARTS in.  Documents are never split; a doc that straddles
    a capacity boundary belongs to the sequence it started in
    (capacity-approximate packing — the deterministic, one-window-pass
    formulation; an exact greedy first-fit is inherently sequential).

    Plan: one shuffle on (shard), then a partition-local running-sum
    window — the same cost envelope as any per-key windowed aggregate."""
    base = _packing_base(spark, sf_dir)
    w = W.partitionBy("shard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    return (
        base.withColumn("cum_tokens", cum)
        # integer `div`, not floor(double /): bit-exact at any magnitude
        # (the oracle's `//` is integer division on exact ints too)
        .withColumn(
            "seq_id",
            F.expr(f"(cum_tokens - n_tokens) div {SEQ_CAPACITY}").cast("long"),
        )
        .select("doc_id", F.col("shard").cast("int").alias("shard"), "n_tokens",
                "cum_tokens", "seq_id")
        .orderBy("shard", "doc_id")
    )


PACK_TRAINING_SEQUENCES_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 6)) AS BIGINT) % {N_SHARDS} AS shard,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT)
           AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum_tokens
  FROM t
)
SELECT doc_id, CAST(shard AS INT) AS shard, n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST((cum_tokens - n_tokens) // {SEQ_CAPACITY} AS BIGINT) AS seq_id
FROM c ORDER BY shard, doc_id
"""


QUERIES = {
    "split_train_val_test": split_train_val_test,
    "pack_training_sequences": pack_training_sequences,
}
ORACLES = {
    "split_train_val_test": SPLIT_TRAIN_VAL_TEST_SQL,
    "pack_training_sequences": PACK_TRAINING_SEQUENCES_SQL,
}


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: for every TEST-split document, the
    fraction of its distinct word-3-gram shingles that also occur in any
    TRAIN-split document.  Composes the content-hash split with the
    dedup family's shingling — the standard pre-training hygiene check
    (did evaluation text leak into the training corpus?).

    Scale shape: one equi-join on the shingle string — the test side is
    5% of the corpus by construction, the train side is deduplicated to
    distinct shingles before the join (map-side combine on the grouped
    agg), and the per-doc rollup shuffles on doc_id.  Fan-out bound: the
    train side additionally drops HOT shingles (document frequency among
    train docs > max(2, ceil(DF_CUTOFF_FRAC·n_train)), the dedup family's
    _df_cutoff, applied via broadcast anti-join) BEFORE the distinct —
    without it one boilerplate shingle present in df_train documents
    joins every test doc containing it, so a corpus-wide template line
    alone drives the join toward |test|·df_train rows; with it per-key
    fan-out is capped and boilerplate-grade shingles (which are not
    meaningful leak evidence — they're corpus furniture, exactly what
    boilerplate_global_strip removes upstream) leave the contamination
    vocabulary.  The cutoff is mirrored in the DuckDB oracle, so the
    overlap-rate semantics stay engine-checked.  No all-pairs surface
    anywhere.  Note the two branches each re-shingle their slice of the
    corpus (disjoint slices, so total shingling work is one corpus
    pass); at production scale the exploded shingle table would be
    written once and both branches would read it."""
    # the session shingle artifact replaces both shingling passes (pct is
    # a pure function of doc_id, so tagging the materialized rows is
    # row-identical to carrying it through the shingler); the cutoff's
    # n_train is the distinct doc count over the train slice of the same
    # artifact — every doc with >= 3 tokens emits >= 1 shingle, so this
    # equals the old doc-level count without a tokenize pass
    pct = _hash_pct()
    docs = shingles_cached(spark, sf_dir).withColumn("pct", pct)
    train_rows = docs.filter(F.col("pct") < 100 - VAL_PCT - TEST_PCT).select(
        "doc_id", "sh"
    )
    train_docs = train_rows.select("doc_id").distinct()
    # shingles are distinct per doc (_shingle_rows ends in distinct()), so
    # count(*) per shingle in train_rows IS its train document frequency
    train_sh = _df_cutoff(train_rows, train_docs, "sh").select("sh").distinct()
    test_sh = docs.filter(F.col("pct") >= 100 - TEST_PCT).select("doc_id", "sh")
    marked = test_sh.join(
        train_sh.withColumn("in_train", F.lit(1)), "sh", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("in_train", F.lit(0))).cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.round(
                F.col("n_contaminated").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ),
        )
        .orderBy("doc_id")
    )


CONTAMINATION_CHECK_SQL = f"""
WITH s AS ({_shingle_list_duck(
    src=f"(SELECT doc_id, text, {_HASH_PCT_SQL} AS pct FROM documents)",
    extra="pct",
)}
), sh AS (
  SELECT doc_id, pct, unnest(shingles) AS sh FROM s
), train_rows AS (
  SELECT doc_id, sh FROM sh WHERE pct < {100 - VAL_PCT - TEST_PCT}
), cut AS (
  -- n_train from the DOC-level CTE (mirrors the Spark plan: no extra
  -- shingling pass; equals count(DISTINCT doc_id) over train_rows since
  -- every doc past the len(toks)>=3 filter emits >=1 shingle)
  SELECT greatest(CAST(2 AS BIGINT),
                  CAST(ceil({_DF_CUTOFF_FRAC!r} * count(*)) AS BIGINT)) AS c
  FROM s WHERE pct < {100 - VAL_PCT - TEST_PCT}
), hot AS (
  SELECT sh FROM (SELECT sh, count(*) AS df FROM train_rows GROUP BY 1)
  WHERE df > (SELECT c FROM cut)
), train_sh AS (
  SELECT DISTINCT sh FROM train_rows ANTI JOIN hot USING (sh)
), test_sh AS (
  SELECT doc_id, sh FROM sh WHERE pct >= {100 - TEST_PCT}
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(tr.sh) AS BIGINT) AS n_contaminated,
       round(CAST(count(tr.sh) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS contamination
FROM test_sh t LEFT JOIN train_sh tr ON t.sh = tr.sh
GROUP BY t.doc_id ORDER BY t.doc_id
"""


QUERIES["contamination_check"] = contamination_check
ORACLES["contamination_check"] = CONTAMINATION_CHECK_SQL


GREEDY_SCHEMA = (
    "doc_id bigint, shard int, n_tokens bigint, seq_id bigint, filled bigint"
)


def pack_greedy_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT greedy first-fit packing — the stateful custom-operator twin
    of pack_training_sequences: within each shard, documents fill the
    current sequence until adding the next would exceed SEQ_CAPACITY,
    then a new sequence opens (a doc larger than the capacity occupies a
    sequence alone).  The fill state is inherently sequential, so it runs
    as an ``applyInPandas`` kernel per shard — the Spark-native shape for
    order-dependent per-group state (one shuffle on shard, each group an
    independent task).  The DuckDB oracle recomputes the identical fill
    with a WITH RECURSIVE closure, so the distributed stateful kernel is
    value-checked against a declarative ground truth (same pairing as
    dedup_components)."""
    import pandas as pd

    from pdf_craft_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    base = _packing_base(spark, sf_dir).withColumn(
        "shard", F.col("shard").cast("int")
    )

    def fill(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seq_ids, filleds = [], []
        seq, filled = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if filled > 0 and filled + n > SEQ_CAPACITY:
                seq += 1
                filled = 0
            filled += n
            seq_ids.append(seq)
            filleds.append(filled)
        pdf["seq_id"] = seq_ids
        pdf["filled"] = filleds
        return pdf

    return (
        base.groupBy("shard")
        .applyInPandas(fill, schema=GREEDY_SCHEMA)
        .orderBy("shard", "doc_id")
    )


PACK_GREEDY_EXACT_SQL = f"""
WITH RECURSIVE t AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 6)) AS BIGINT) % {N_SHARDS} AS INT) AS shard,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), o AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM t
), fill AS (
  SELECT doc_id, shard, n_tokens, rn,
         CAST(0 AS BIGINT) AS seq_id, n_tokens AS filled
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.shard, o.n_tokens, o.rn,
         CASE WHEN f.filled > 0 AND f.filled + o.n_tokens > {SEQ_CAPACITY}
              THEN f.seq_id + 1 ELSE f.seq_id END,
         CASE WHEN f.filled > 0 AND f.filled + o.n_tokens > {SEQ_CAPACITY}
              THEN o.n_tokens ELSE f.filled + o.n_tokens END
  FROM fill f JOIN o ON o.shard = f.shard AND o.rn = f.rn + 1
)
SELECT doc_id, shard, n_tokens, seq_id, CAST(filled AS BIGINT) AS filled
FROM fill ORDER BY shard, doc_id
"""


QUERIES["pack_greedy_exact"] = pack_greedy_exact
ORACLES["pack_greedy_exact"] = PACK_GREEDY_EXACT_SQL


def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the standard
    compression step before writing training shards or serving indexes
    (4-8x smaller vectors, recall loss ~nil at 8 bits).  Per-vector scale
    = max(|x|); q_i = floor(x_i*127/scale + 0.5) in [-127, 127].  Pure
    narrow projection (two higher-order expressions per row, no shuffle).

    Float parity: both engines evaluate x*127/scale left-to-right on
    doubles and floor() is exact, so the quantized integers are
    bit-identical — no rounding-mode divergence surface (round() was
    avoided deliberately: HALF_UP vs banker's rounding differs across
    engines).  Ragged-data edges are normalized identically on both
    sides: a NULL embedding is treated as empty (coalesced to [] before
    any op), and an empty one quantizes to scale 0.0 / q_csv '' (Spark's
    fold/array_join identities; the oracle coalesces DuckDB's NULL
    list_max/string_agg to match)."""
    emb = _emb(spark, sf_dir)
    scale = "aggregate(emb2, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"
    q = (
        "CASE WHEN sc = 0.0 THEN transform(emb2, x -> 0) "
        "ELSE transform(emb2, x -> "
        "CAST(floor(CAST(x AS DOUBLE) * 127.0 / sc + 0.5) AS INT)) END"
    )
    # the vector ships as a comma-joined string: full fidelity, but a
    # scalar column — the driver's canonicalizer (and ours) hashes
    # scalars; array-typed outputs are avoided across the registry
    return (
        emb.selectExpr(
            "vec_id", "coalesce(embedding, CAST(array() AS ARRAY<DOUBLE>)) AS emb2"
        )
        .selectExpr("vec_id", f"({scale}) AS sc", "emb2")
        .selectExpr(
            "vec_id",
            "sc AS scale",
            f"array_join(transform(({q}), v -> CAST(v AS STRING)), ',') AS q_csv",
        )
        .orderBy("vec_id")
    )


EMBED_QUANTIZE_INT8_SQL = """
WITH n AS (
  -- NULL embedding normalized to empty on BOTH engines before any op
  SELECT vec_id, coalesce(embedding, []::DOUBLE[]) AS emb2 FROM embeddings
), s AS (
  SELECT vec_id, emb2,
         -- empty-embedding edge normalized to Spark's aggregate() identity:
         -- list_max([]) is NULL in DuckDB, Spark's fold yields its 0.0 init
         coalesce(list_max(list_transform(emb2, x -> abs(CAST(x AS DOUBLE)))),
                  0.0) AS sc
  FROM n
), q AS (
  SELECT vec_id, sc,
         CASE WHEN sc = 0.0 THEN list_transform(emb2, x -> 0)
              ELSE list_transform(emb2, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 127.0 / sc + 0.5) AS INT)) END AS qv
  FROM s
)
SELECT vec_id, sc AS scale,
       -- string_agg over an empty list is NULL; Spark's array_join gives ''
       coalesce(list_aggregate(list_transform(qv, v -> CAST(v AS STRING)),
                               'string_agg', ','), '') AS q_csv
FROM q ORDER BY vec_id
"""


QUERIES["embed_quantize_int8"] = embed_quantize_int8
ORACLES["embed_quantize_int8"] = EMBED_QUANTIZE_INT8_SQL


def packed_sequence_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard assembly — the step that turns packed sequence ids into the
    actual training shards: per (shard, seq_id), documents concatenated
    in doc_id order with a single space.  Emitted as md5(text) + counts
    (the hash keeps the driver's comparison scalar-compact while still
    pinning every byte of the assembled shard).

    Order determinism: collect_list has no ordering guarantee, so the
    texts are collected as (doc_id, text) structs and array_sort'd by the
    leading doc_id field JVM-side before joining — the same trick
    to_nested_output uses for span arrays.  One shuffle on the group
    key."""
    base = _docs(spark, sf_dir).select(
        "doc_id", _shard().cast("int").alias("shard"), "text", _n_tokens().alias("n_tokens")
    )
    w = W.partitionBy("shard").orderBy("doc_id")
    seq = base.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "seq_id", F.expr(f"(cum - n_tokens) div {SEQ_CAPACITY}").cast("long")
    )
    return (
        seq.groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("doc_id"), F.col("text")))
                        ),
                        lambda s: s["text"],
                    ),
                    " ",
                )
            ).alias("text_md5"),
        )
        .orderBy("shard", "seq_id")
    )


PACKED_SEQUENCE_TEXTS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 6)) AS BIGINT) % {N_SHARDS} AS INT) AS shard,
         text,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
  FROM t
), s AS (
  SELECT *, CAST((cum - n_tokens) // {SEQ_CAPACITY} AS BIGINT) AS seq_id FROM c
)
SELECT shard, seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
       md5(string_agg(text, ' ' ORDER BY doc_id)) AS text_md5
FROM s GROUP BY shard, seq_id ORDER BY shard, seq_id
"""


QUERIES["packed_sequence_texts"] = packed_sequence_texts
ORACLES["packed_sequence_texts"] = PACKED_SEQUENCE_TEXTS_SQL


# --- domain-mixture sampling -------------------------------------------------
# Balanced-mixture curriculum sampling: downsample each language to the
# minority language's count, deterministically (content-hash percentile,
# not rand()), emitting the inverse-rate weight a loss-reweighting
# consumer needs.  The big-table path is shuffle-free: the per-lang keep
# thresholds are a tiny counts aggregate (map-side partial over a 1-column
# projection) broadcast back onto the scan, so at 100 TB the documents
# table is read once, filtered in place, and never exchanged (the final
# orderBy is driver-facing presentation only).  Thresholds use pure
# integer arithmetic — keep_pct = max(1, (100*min_count) div count) — so
# both engines agree exactly; the one float op is the output weight.
def sample_mixture_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    mn = counts.agg(F.min("n_lang").alias("mn"))
    dim = counts.crossJoin(F.broadcast(mn)).selectExpr(
        "lang", "greatest(CAST(1 AS BIGINT), (100 * mn) DIV n_lang) AS keep_pct"
    )
    return (
        docs.withColumn("pct", _dedup_hash_pct())
        .join(F.broadcast(dim), "lang")
        .filter(F.col("pct") < F.col("keep_pct"))
        .selectExpr(
            "doc_id",
            "lang",
            "keep_pct",
            "round(100.0 / CAST(keep_pct AS DOUBLE), 6) AS weight",
        )
        .orderBy("doc_id")
    )


SAMPLE_MIXTURE_BY_LANG_SQL = f"""
WITH c AS (
  SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1
), m AS (
  SELECT min(n_lang) AS mn FROM c
), dim AS (
  SELECT lang, greatest(CAST(1 AS BIGINT), (100 * mn) // n_lang) AS keep_pct
  FROM c, m
), d AS (
  SELECT doc_id, lang, {_HASH_PCT_SQL} AS pct FROM documents
)
SELECT d.doc_id, d.lang, keep_pct,
       round(100.0 / CAST(keep_pct AS DOUBLE), 6) AS weight
FROM d JOIN dim USING (lang)
WHERE pct < keep_pct
ORDER BY d.doc_id
"""


QUERIES["sample_mixture_by_lang"] = sample_mixture_by_lang
ORACLES["sample_mixture_by_lang"] = SAMPLE_MIXTURE_BY_LANG_SQL


# --- deterministic reservoir sample -----------------------------------------
# Uniform k-sample without replacement as TOP-K BY HASH PRIORITY — the
# distributed reservoir: priority = md5(doc_id) is uniform and content-
# stable, so the global k smallest-priority docs are a uniform sample
# that is (a) reproducible across reruns/appends/repartitioning (unlike
# rand()), and (b) MERGEABLE: top-k of a union == top-k of per-shard
# top-ks, so executors reduce locally and ship k rows each — Spark plans
# the global top_k as TakeOrderedAndProject, exactly that shape.
# The tie-break is the hash itself (collision-free on distinct doc_ids).
RESERVOIR_K = 100


def reservoir_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", "md5(CAST(doc_id AS STRING)) AS priority", "n_chars"
    )
    sample = top_k(docs, [], [F.asc("priority")], RESERVOIR_K, "rk")
    return sample.select(
        F.col("rk").cast("long").alias("rk"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "priority",
        F.col("n_chars").cast("long").alias("n_chars"),
    ).orderBy("rk")


RESERVOIR_SAMPLE_DOCS_SQL = f"""
WITH pri AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS priority, n_chars
  FROM documents
), topk AS (
  SELECT * FROM pri ORDER BY priority LIMIT {RESERVOIR_K}
)
SELECT CAST(row_number() OVER (ORDER BY priority) AS BIGINT) AS rk,
       CAST(doc_id AS BIGINT) AS doc_id,
       priority,
       CAST(n_chars AS BIGINT) AS n_chars
FROM topk
ORDER BY rk
"""


QUERIES["reservoir_sample_docs"] = reservoir_sample_docs
ORACLES["reservoir_sample_docs"] = RESERVOIR_SAMPLE_DOCS_SQL


# --- overlapping fixed-token chunking (RAG / embedding prep) -----------------
# Split every document into CHUNK_TOKENS-token windows advancing by
# CHUNK_STRIDE tokens (overlap = CHUNK_TOKENS - CHUNK_STRIDE), the standard
# retrieval / embedding preprocessing step.  Entirely whole-stage-codegen
# Catalyst: tokenize once, compute the chunk count in integer arithmetic,
# explode a 0..n_chunks-1 sequence, and slice() the token array per chunk —
# no lambda HOFs, no Python, no shuffle at all (explode + slice are
# per-row; rows stay where the scan put them).  At 100 TB this is a pure
# map stage whose output is the embedding kernel's input; the last chunk
# starts at the smallest stride multiple covering the tail, so every token
# lands in >= 1 chunk and no chunk is a strict subset of its predecessor.
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    C, S = CHUNK_TOKENS, CHUNK_STRIDE
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", _tokens().alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
        .withColumn(
            "n_chunks",
            F.when(F.col("n") <= C, F.lit(1)).otherwise(
                F.expr(f"CAST((n - {C} + {S} - 1) DIV {S} AS INT) + 1")
            ),
        )
    )
    return (
        docs.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.slice(F.col("toks"), F.col("chunk_idx") * S + 1, C).alias("ctoks"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("ctoks").cast("int").alias("n_tokens"),
            F.concat_ws(" ", "ctoks").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


CHUNK_DOCUMENTS_OVERLAP_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM toks WHERE len(toks) > 0
), nchunks AS (
  SELECT doc_id, toks, n,
         CASE WHEN n <= {CHUNK_TOKENS} THEN 1
              ELSE CAST((n - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE} AS INT) + 1
         END AS n_chunks
  FROM sized
), chunks AS (
  SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
         toks[CAST(u.i AS INT) * {CHUNK_STRIDE} + 1 :
              CAST(u.i AS INT) * {CHUNK_STRIDE} + {CHUNK_TOKENS}] AS ctoks
  FROM nchunks, UNNEST(range(0, n_chunks)) AS u(i)
)
SELECT doc_id, chunk_idx, CAST(len(ctoks) AS INT) AS n_tokens,
       array_to_string(ctoks, ' ') AS chunk_text
FROM chunks ORDER BY doc_id, chunk_idx
"""

QUERIES["chunk_documents_overlap"] = chunk_documents_overlap
ORACLES["chunk_documents_overlap"] = CHUNK_DOCUMENTS_OVERLAP_SQL


# --- contrastive pair generation (self-supervised training prep) --------------
# The training-pair assembly step for contrastive/embedding objectives:
# POSITIVES are adjacent overlapping chunks of the same document (their
# CHUNK_TOKENS-token windows share CHUNK_TOKENS-CHUNK_STRIDE tokens, the
# standard weak-supervision signal); each anchor also gets ONE hard-coded
# deterministic NEGATIVE — the lexicographically-first-by-md5 chunk of
# its md5 bucket that belongs to a DIFFERENT document.  Hash-derived
# pairing keeps the sample stable under reruns, appends, and
# repartitioning (the same properties as split_train_val_test); a rand()
# pairing has none of them.
# Scale shape: positives are a self-join on (doc_id, chunk_idx+1) —
# co-partitioned, per-key fan-out exactly 1; negatives shuffle once on
# the bucket key, and the per-bucket representative comes from one window
# pass.  No all-pairs surface.
PAIR_BUCKETS = 64


def contrastive_pairs_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = chunk_documents_overlap(spark, sf_dir).select(
        "doc_id", "chunk_idx"
    ).localCheckpoint(eager=True)  # anchors, positives and negatives
    pos = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.chunk_idx") == F.col("a.chunk_idx") + 1),
        )
        .selectExpr(
            "a.doc_id AS doc_id",
            "a.chunk_idx AS chunk_idx",
            "b.doc_id AS pair_doc",
            "b.chunk_idx AS pair_idx",
            "'pos' AS label",
        )
    )
    keyed = chunks.selectExpr(
        "doc_id",
        "chunk_idx",
        "md5(CAST(doc_id AS STRING) || ':' || CAST(chunk_idx AS STRING)) AS h",
    ).selectExpr(
        "doc_id",
        "chunk_idx",
        "h",
        f"CAST(conv(substr(h, 1, 4), 16, 10) AS BIGINT) % {PAIR_BUCKETS} AS bkt",
    )
    rep = top_k(keyed, ["bkt"], [F.asc("h")], 1, "rk").selectExpr(
        "bkt", "doc_id AS pair_doc", "chunk_idx AS pair_idx"
    )
    neg = (
        keyed.join(F.broadcast(rep), "bkt")
        .filter(F.col("doc_id") != F.col("pair_doc"))
        .selectExpr("doc_id", "chunk_idx", "pair_doc", "pair_idx", "'neg' AS label")
    )
    return pos.unionByName(neg).orderBy("doc_id", "chunk_idx", "label", "pair_doc")


CONTRASTIVE_PAIRS_CHUNKS_SQL = f"""
WITH chunks AS (
  SELECT doc_id, chunk_idx FROM ({CHUNK_DOCUMENTS_OVERLAP_SQL})
), pos AS (
  SELECT a.doc_id, a.chunk_idx, b.doc_id AS pair_doc, b.chunk_idx AS pair_idx,
         'pos' AS label
  FROM chunks a JOIN chunks b
    ON b.doc_id = a.doc_id AND b.chunk_idx = a.chunk_idx + 1
), keyed AS (
  SELECT doc_id, chunk_idx,
         md5(CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR)) AS h
  FROM chunks
), bucketed AS (
  SELECT doc_id, chunk_idx, h,
         CAST(('0x' || substr(h, 1, 4)) AS BIGINT) % {PAIR_BUCKETS} AS bkt
  FROM keyed
), rep AS (
  SELECT bkt, doc_id AS pair_doc, chunk_idx AS pair_idx FROM (
    SELECT bkt, doc_id, chunk_idx,
           row_number() OVER (PARTITION BY bkt ORDER BY h) AS rk
    FROM bucketed
  ) WHERE rk = 1
), neg AS (
  SELECT b.doc_id, b.chunk_idx, r.pair_doc, r.pair_idx, 'neg' AS label
  FROM bucketed b JOIN rep r USING (bkt)
  WHERE b.doc_id <> r.pair_doc
)
SELECT * FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
ORDER BY doc_id, chunk_idx, label, pair_doc
"""

QUERIES["contrastive_pairs_chunks"] = contrastive_pairs_chunks
ORACLES["contrastive_pairs_chunks"] = CONTRASTIVE_PAIRS_CHUNKS_SQL


# --- deterministic negative sampling -------------------------------------------
# The other half of contrastive training-set assembly (positives come
# from contrastive_pairs_chunks): for every anchor document, k negatives
# drawn pseudo-randomly but REPRODUCIBLY — the negative pool is the 64
# docs with the smallest md5(doc_id) (a content-stable sample, invariant
# under append/repartition like the split), and each anchor ranks the
# pool by md5(anchor || ':' || candidate), a per-anchor deterministic
# shuffle.  Scale shape: the pool is a broadcast table, so the candidate
# surface is a bounded 64x map-side fan-out (never doc x doc), and the
# top-k window partitions on the anchor — high cardinality, no hot
# reducer.  Rerunning on the same corpus reproduces the exact pairs;
# that reproducibility is what makes training-data audits possible.
NEG_POOL = 64
NEG_K = 3


def negative_sample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id")
    pool = (
        docs.select(F.col("doc_id").alias("neg_id"))
        .orderBy(F.md5(F.col("neg_id").cast("string")), "neg_id")
        .limit(NEG_POOL)
    )
    drawn = (
        docs.crossJoin(F.broadcast(pool))
        .filter(F.col("doc_id") != F.col("neg_id"))
        .withColumn(
            "r",
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("neg_id").cast("string"),
                )
            ),
        )
    )
    return (
        top_k(drawn, ["doc_id"], [F.asc("r"), F.asc("neg_id")], NEG_K, "rk")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("neg_id").cast("long").alias("neg_id"),
            F.col("rk").cast("int").alias("rk"),
            F.substring("r", 1, 8).alias("draw_prefix"),
        )
        .orderBy("doc_id", "rk")
    )


NEGATIVE_SAMPLE_PAIRS_SQL = f"""
WITH pool AS (
  SELECT doc_id AS neg_id FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
  LIMIT {NEG_POOL}
), cand AS (
  SELECT d.doc_id, p.neg_id,
         md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(p.neg_id AS VARCHAR))
           AS r
  FROM documents d, pool p
  WHERE d.doc_id <> p.neg_id
), ranked AS (
  SELECT doc_id, neg_id, r,
         row_number() OVER (PARTITION BY doc_id ORDER BY r, neg_id) AS rk
  FROM cand
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(neg_id AS BIGINT) AS neg_id,
       CAST(rk AS INT) AS rk,
       substr(r, 1, 8) AS draw_prefix
FROM ranked WHERE rk <= {NEG_K}
ORDER BY doc_id, rk
"""

QUERIES["negative_sample_pairs"] = negative_sample_pairs
ORACLES["negative_sample_pairs"] = NEGATIVE_SAMPLE_PAIRS_SQL


# --- feature hashing (the hashing trick) ----------------------------------------
# Fixed-width bag-of-words features without a vocabulary table: every
# token maps to one of 16 buckets by md5 (engine-identical via the
# shared md5_prefix_long_sql spelling), with a second hash bit giving
# the ±1 sign that keeps collisions unbiased (Weinberger et al.'s
# signed hashing trick).  Pure map + one (doc, bucket) aggregation —
# no vocabulary build, no join, which is the whole point at 100 TB:
# the feature space is fixed a priori, so the op is embarrassingly
# parallel and append-incremental.  Long-format output (doc_id, bucket,
# val) — zero buckets simply absent — avoids array columns per the
# canonicalizer contract.
FH_BUCKETS = 16


def feature_hash_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    h = md5_prefix_long_sql("term", 8, "spark")
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z]+")
            ).alias("term"),
        )
        .filter(F.length("term") >= 3)
        .selectExpr(
            "doc_id",
            f"CAST(({h}) % {FH_BUCKETS} AS INT) AS bucket",
            f"CASE WHEN (({h}) DIV {FH_BUCKETS}) % 2 = 0"
            " THEN 1 ELSE -1 END AS sign",
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").cast("long").alias("val"))
        .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "bucket", "val")
        .orderBy("doc_id", "bucket")
    )


def _fh_duck_sql() -> str:
    h = md5_prefix_long_sql("term", 8, "duck")
    return f"""
WITH t AS (
  SELECT doc_id, lower(x) AS term
  FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS u(x)
  WHERE length(x) >= 3
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(({h}) % {FH_BUCKETS} AS INT) AS bucket,
       CAST(sum(CASE WHEN (({h}) // {FH_BUCKETS}) % 2 = 0
                     THEN 1 ELSE -1 END) AS BIGINT) AS val
FROM t
GROUP BY 1, 2
ORDER BY doc_id, bucket
"""


FEATURE_HASH_BOW_SQL = _fh_duck_sql()

QUERIES["feature_hash_bow"] = feature_hash_bow
ORACLES["feature_hash_bow"] = FEATURE_HASH_BOW_SQL


# --- per-dimension rank normalization of embeddings ------------------------------
# Quantile (rank) normalization — the distribution-free feature scaling
# retrieval stacks apply before quantization: each embedding coordinate
# maps to its within-dimension quantile.  Exactness follows the spearman
# recipe: doubled tie-average ranks (2·cnt_less + cnt_eq + 1, always an
# integer) computed on the (dim, value, cnt) COMPRESSED table and joined
# back — never a per-row rank window, so a dimension's rank state is
# bounded by its distinct values.  Floats are only ever COMPARED and
# GROUPED (bit-identical parquet values in both engines), never summed;
# the quantile itself is integer ppm: q_ppm = u·500000 DIV n.  Output
# limited to the first 8 dimensions to keep the row budget flat.
_RANKNORM_DIMS = 8


def embed_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).filter(F.col("dim") < _RANKNORM_DIMS).select(
        "vec_id", "dim", F.col("xf").cast("double").alias("x")
    )
    cv = x.groupBy("dim", "x").agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        W.partitionBy("dim")
        .orderBy("x")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ranks = cv.select(
        "dim",
        "x",
        (
            2 * F.coalesce(F.sum("cnt").over(w), F.lit(0)) + F.col("cnt") + 1
        ).alias("u"),
    )
    n = x.groupBy("dim").agg(F.count(F.lit(1)).alias("n"))
    return (
        x.join(ranks, ["dim", "x"])
        .join(F.broadcast(n), "dim")
        .selectExpr(
            "CAST(vec_id AS BIGINT) AS vec_id",
            "CAST(dim AS INT) AS dim",
            "CAST((u * 500000) DIV n AS BIGINT) AS q_ppm",
        )
        .orderBy("vec_id", "dim")
    )


EMBED_RANK_NORMALIZE_SQL = f"""
WITH x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), xf AS (
  SELECT * FROM x WHERE dim < {_RANKNORM_DIMS}
), cv AS (
  SELECT dim, x, count(*) AS cnt FROM xf GROUP BY 1, 2
), ranks AS (
  SELECT dim, x,
         2 * coalesce(sum(cnt) OVER (PARTITION BY dim ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS u
  FROM cv
), n AS (
  SELECT dim, count(*) AS n FROM xf GROUP BY 1
)
SELECT CAST(xf.vec_id AS BIGINT) AS vec_id,
       CAST(xf.dim AS INT) AS dim,
       CAST((r.u * 500000) // n.n AS BIGINT) AS q_ppm
FROM xf
JOIN ranks r ON xf.dim = r.dim AND xf.x = r.x
JOIN n ON xf.dim = n.dim
ORDER BY vec_id, dim
"""

QUERIES["embed_rank_normalize"] = embed_rank_normalize
ORACLES["embed_rank_normalize"] = EMBED_RANK_NORMALIZE_SQL


# --- global contiguous id assignment ------------------------------------------
# Every corpus build eventually needs dense global row ids (sample
# bookkeeping, shard manifests, stable example numbering).  The naive
# row_number() OVER (ORDER BY ...) is a SINGLE-PARTITION sort — the
# textbook non-scalable plan.  The scalable pattern is two-pass:
#
#   1. shard every row by a content hash (16 here; thousands at 100 TB),
#      rank WITHIN each shard (independent window tasks, one shuffle);
#   2. aggregate per-shard counts (a shards-sized table, 16 rows),
#      prefix-sum those into shard base offsets, broadcast them back;
#      global_id = shard_offset + within-shard rank.
#
# The data is never globally sorted and no partition sees more than its
# shard; the only driver-sized object is the offsets table.  The result
# is IDENTICAL to row_number() OVER (ORDER BY shard, doc_id) — which is
# exactly what the DuckDB oracle runs, so the hash proves the two-pass
# decomposition equals the global sort.
N_ID_SHARDS = 16


def assign_global_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    shard_expr = (
        f"CAST({md5_prefix_long_sql('CAST(doc_id AS STRING)', 6, 'spark')} % {N_ID_SHARDS} AS INT)"
    )
    docs = _docs(spark, sf_dir).selectExpr("doc_id", f"{shard_expr} AS shard")
    ranked = docs.select(
        "doc_id",
        "shard",
        F.row_number()
        .over(W.partitionBy("shard").orderBy("doc_id"))
        .alias("rk"),
    )
    counts = docs.groupBy("shard").agg(F.count(F.lit(1)).alias("n"))
    # prefix sum over the 16-row counts table: the single-partition window
    # here is over N_ID_SHARDS rows, not the data
    offsets = counts.select(
        "shard",
        F.coalesce(
            F.sum("n").over(
                W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("base"),
    )
    return (
        ranked.join(F.broadcast(offsets), "shard")
        .selectExpr(
            "doc_id",
            "shard",
            "CAST(base + rk AS BIGINT) AS global_id",
        )
        .orderBy("global_id")
    )


def _assign_global_ids_sql() -> str:
    shard = f"CAST({md5_prefix_long_sql('CAST(doc_id AS STRING)', 6, 'duck')} % {N_ID_SHARDS} AS INT)"
    return f"""
WITH d AS (
  SELECT doc_id, {shard} AS shard FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (ORDER BY shard, doc_id) AS BIGINT) AS global_id
FROM d ORDER BY global_id
"""


ASSIGN_GLOBAL_IDS_SQL = _assign_global_ids_sql()

QUERIES["assign_global_ids"] = assign_global_ids
ORACLES["assign_global_ids"] = ASSIGN_GLOBAL_IDS_SQL


# --- priority sampling: weighted sample with unbiased subset sums ------------
# Priority sampling (Duffield, Lund, Thorup 2007): the weighted analog of
# the hash-priority reservoir above — draw k items with priority
# q_i = w_i / u_i (u_i the item's uniform), keep the top k, and estimate
# any subset-sum with w_hat_i = max(w_i, tau) where tau is the (k+1)-th
# priority; E[sum w_hat over sample ∩ S] = sum w over S, with variance
# optimal up to a factor among all k-sample schemes.  Deterministic
# integer recipe: u_i = (h40+1)/2^40 from the shared md5 helper, so the
# scaled priority q_i = (w_i << 40) DIV (h40+1) is exact int64 (w in
# dollars <= ~5e5 keeps w << 40 under 2^63); q_i = w_i/u_i is then
# ALREADY in weight units (the 2^40 cancels), so tau is too and
# w_hat_i = greatest(w_i, tau) directly.  Plan: the
# top-(k+1) is TakeOrderedAndProject (no global sort), the estimator is
# one agg over k rows, and the exact total (the check column) is one
# combinable agg over the facts.  err_bp is the one final double.
PRIORITY_K = 200


def priority_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = md5_prefix_long_sql("CAST(o_orderkey AS STRING)", 10, "spark")
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 100 AS w",
        f"({h}) + 1 AS u",
    )
    scored = o.selectExpr("o_orderkey", "w", f"(w * {1 << 40}) DIV u AS q")
    top = top_k(scored, [], [F.desc("q"), F.asc("o_orderkey")], PRIORITY_K + 1, "rk")
    tau = top.where(F.col("rk") == PRIORITY_K + 1).selectExpr("q AS tau")
    sample = top.where(F.col("rk") <= PRIORITY_K)
    est = (
        sample.crossJoin(F.broadcast(tau))
        .selectExpr(
            "o_orderkey",
            "greatest(w, tau) AS w_hat",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum("w_hat").cast("long").alias("est_total"),
            F.sum("o_orderkey").cast("long").alias("sample_key_sum"),
        )
    )
    exact = o.agg(F.sum("w").cast("long").alias("exact_total"))
    return (
        est.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(tau))
        .selectExpr(
            "k",
            "CAST(tau AS BIGINT) AS tau",
            "sample_key_sum",
            "est_total",
            "exact_total",
            "CAST(round(10000 * (CAST(est_total AS DOUBLE) - CAST(exact_total AS DOUBLE))"
            " / CAST(exact_total AS DOUBLE)) AS BIGINT) AS err_bp",
        )
    )


def _priority_sample_sql() -> str:
    h = md5_prefix_long_sql("CAST(o_orderkey AS VARCHAR)", 10, "duck")
    return f"""
WITH o AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS w,
         ({h}) + 1 AS u
  FROM orders
), q AS (
  SELECT o_orderkey, w, CAST((w * {1 << 40}) // u AS BIGINT) AS q FROM o
), top AS (
  SELECT o_orderkey, w, q,
         row_number() OVER (ORDER BY q DESC, o_orderkey) AS rk
  FROM (SELECT * FROM q ORDER BY q DESC, o_orderkey LIMIT {PRIORITY_K + 1})
), tau AS (
  SELECT q AS tau FROM top WHERE rk = {PRIORITY_K + 1}
), est AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(greatest(w, tau)) AS BIGINT) AS est_total,
         CAST(sum(o_orderkey) AS BIGINT) AS sample_key_sum
  FROM top, tau WHERE rk <= {PRIORITY_K}
), exact AS (
  SELECT CAST(sum(w) AS BIGINT) AS exact_total FROM o
)
SELECT k, CAST(tau AS BIGINT) AS tau, sample_key_sum, est_total, exact_total,
       CAST(round(10000 * (CAST(est_total AS DOUBLE) - CAST(exact_total AS DOUBLE))
            / CAST(exact_total AS DOUBLE)) AS BIGINT) AS err_bp
FROM est, exact, tau
"""


PRIORITY_SAMPLE_ORDERS_SQL = _priority_sample_sql()

QUERIES["priority_sample_orders"] = priority_sample_orders
ORACLES["priority_sample_orders"] = PRIORITY_SAMPLE_ORDERS_SQL


# --- training_label_join: point-in-time-correct supervised table --------------
# The last mile of a training-data pipeline: assemble (features, label)
# rows where every feature is computed STRICTLY BEFORE a cutoff and the
# label strictly after — the leakage discipline that decides whether a
# churn/propensity model is real.  Cutoff is DATA-DERIVED (min event day
# + 20 days, a 1-row broadcast), features are per-user conditional
# aggregates over the pre-cutoff window (counts by type, value cents,
# active days, recency), the label is "purchased within the 1-day window
# after cutoff" (next-day purchase propensity — the 7-day window labels
# ~94% positive on this highly-active corpus, a degenerate target; the
# 1-day window measures ~35-45%), and the leakage proof rides along as a hash-checked
# column: max feature timestamp < cutoff for every row, by construction
# of the WHERE — an auditor reads it off the output instead of trusting
# the pipeline.  One scan, one user-keyed agg each side, broadcast
# label join.
def training_label_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        "event_type",
        "CAST(ts AS DATE) AS day",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    )
    cut = ev.agg(
        F.expr("date_add(min(day), 20)").alias("cutoff"),
        F.expr("date_add(min(day), 21)").alias("label_end"),
    )
    evc = ev.crossJoin(F.broadcast(cut))
    feats = (
        evc.where(F.col("day") < F.col("cutoff"))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("n_clicks"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("n_views"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purchases"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(0)
            )
            .cast("long")
            .alias("purchase_cents"),
            F.countDistinct("day").cast("long").alias("days_active"),
            F.expr("datediff(max(cutoff), max(day))").cast("long").alias(
                "recency_days"
            ),
            F.max(
                F.col("day") < F.col("cutoff")
            ).alias("leakage_free"),
        )
    )
    labels = (
        evc.where(
            (F.col("day") >= F.col("cutoff"))
            & (F.col("day") < F.col("label_end"))
            & (F.col("event_type") == "purchase")
        )
        .select("user_id")
        .distinct()
        .withColumn("label", F.lit(1).cast("long"))
    )
    return (
        feats.join(F.broadcast(labels), "user_id", "left")
        .selectExpr(
            "user_id",
            "n_clicks",
            "n_views",
            "n_purchases",
            "purchase_cents",
            "days_active",
            "recency_days",
            "leakage_free",
            "coalesce(label, 0) AS label",
        )
        .orderBy("user_id")
    )


TRAINING_LABEL_JOIN_SQL = """
WITH ev AS (
  SELECT user_id, event_type, CAST(ts AS DATE) AS day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), cut AS (
  SELECT min(day) + INTERVAL 20 DAY AS cutoff,
         min(day) + INTERVAL 21 DAY AS label_end
  FROM ev
), feats AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clicks,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_views,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_purchases,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
           AS BIGINT) AS purchase_cents,
         CAST(count(DISTINCT day) AS BIGINT) AS days_active,
         CAST(date_diff('day', max(day), CAST(max(cutoff) AS DATE)) AS BIGINT)
           AS recency_days,
         max(day < cutoff) AS leakage_free
  FROM ev, cut WHERE day < cutoff
  GROUP BY user_id
), labels AS (
  SELECT DISTINCT user_id, CAST(1 AS BIGINT) AS label
  FROM ev, cut
  WHERE day >= cutoff AND day < label_end AND event_type = 'purchase'
)
SELECT f.user_id, n_clicks, n_views, n_purchases, purchase_cents,
       days_active, recency_days, leakage_free,
       coalesce(l.label, 0) AS label
FROM feats f LEFT JOIN labels l ON f.user_id = l.user_id
ORDER BY f.user_id
"""

QUERIES["training_label_join"] = training_label_join
ORACLES["training_label_join"] = TRAINING_LABEL_JOIN_SQL


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
    docs = load_table(spark, sf_dir, "documents").selectExpr(
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


# --- group-aware k-fold assignment -------------------------------------------
# Leakage-proof cross-validation at corpus scale: the fold is a pure hash
# of the GROUP key (user_id), so a user's events can never straddle folds
# — the invariant that plain row-hash k-fold (cv_kfold_mse) silently
# violates when rows are correlated within a user.  Pure projection + one
# aggregate; stable under rerun, append, and repartition exactly like
# split_train_val_test.  Output: per-fold distinct users, rows, and row
# share (the balance check).
KFOLDS = 5


def group_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    fold = (
        md5_prefix_long_sql("concat('gkf:', CAST(user_id AS STRING))", 6, "spark")
        + f" % {KFOLDS}"
    )
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", f"CAST({fold} AS INT) AS fold"
    )
    total = ev.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    return (
        ev.groupBy("fold")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "fold",
            "n_users",
            "n_rows",
            """CAST(round(1000000.0 * CAST(n_rows AS DOUBLE)
                 / CAST(n_tot AS DOUBLE)) AS BIGINT) AS rows_share_micro""",
        )
        .orderBy("fold")
    )


_GKF_DUCK = (
    md5_prefix_long_sql("concat('gkf:', CAST(user_id AS VARCHAR))", 6, "duck")
    + f" % {KFOLDS}"
)

GROUP_KFOLD_ASSIGNMENT_SQL = f"""
WITH ev AS (
  SELECT user_id, CAST({_GKF_DUCK} AS INT) AS fold FROM events
), total AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tot FROM ev
)
SELECT fold,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(round(1000000.0 * CAST(count(*) AS DOUBLE)
         / CAST(any_value(n_tot) AS DOUBLE)) AS BIGINT) AS rows_share_micro
FROM ev CROSS JOIN total
GROUP BY fold
ORDER BY fold
"""

QUERIES["group_kfold_assignment"] = group_kfold_assignment
ORACLES["group_kfold_assignment"] = GROUP_KFOLD_ASSIGNMENT_SQL


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
        load_table(spark, sf_dir, "documents")
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


# --- token-budget water-filling -----------------------------------------------
# The sampling planner behind every "cap each domain at L tokens" recipe
# (Gopher/LLaMA-style source balancing): given per-source token counts
# c_i and a total budget B (60% of the corpus), find the unique level L
# such that sum(min(c_i, L)) <= B with every source below L fully kept.
# Exact integer algorithm, fully distributed: sort sources by c asc,
# full_i <=> P_{i-1} + (n-i+1)*c_i <= B (a prefix, by monotonicity), and
# L = (B - P_{k*}) DIV (n - k*) over the k* fully-funded sources — three
# window functions, no driver loop, no floats.  The same plan at 100 TB
# runs over the per-source aggregate (|sources| rows), not base data.
WF_BUDGET_NUM, WF_BUDGET_DEN = 6, 10  # B = 60% of total tokens


def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_src = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.size(F.expr("regexp_extract_all(text, '[a-z]{3,}', 0)")).alias("nt"),
        )
        .groupBy("source")
        .agg(F.sum("nt").cast("long").alias("c"))
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    wo = W.orderBy("c", "source")
    wcum = wo.rowsBetween(W.unboundedPreceding, 0)
    staged = (
        per_src.withColumn("n", F.count(F.lit(1)).over(wall))
        .withColumn("total", F.sum("c").over(wall))
        .withColumn("i", F.row_number().over(wo))
        .withColumn("p", F.sum("c").over(wcum))
        .withColumn(
            "budget",
            F.expr(f"{WF_BUDGET_NUM} * total DIV {WF_BUDGET_DEN}"),
        )
        .withColumn(
            "fullk",
            F.expr("CASE WHEN p - c + (n - i + 1) * c <= budget THEN 1 ELSE 0 END"),
        )
    )
    lev = staged.withColumn("kstar", F.sum("fullk").over(wall)).withColumn(
        "pk",
        F.max(F.when(F.col("i") == F.col("kstar"), F.col("p")).otherwise(0)).over(
            wall
        ),
    )
    return lev.selectExpr(
        "source",
        "c AS tokens",
        "budget",
        """CAST(CASE WHEN kstar = n THEN c
                WHEN fullk = 1 THEN c
                ELSE (budget - pk) DIV (n - kstar) END AS BIGINT) AS alloc""",
        "CAST(1 - fullk AS BIGINT) AS capped",
        """CAST(CASE WHEN kstar = n THEN -1
                ELSE (budget - pk) DIV (n - kstar) END AS BIGINT) AS level""",
    )


TOKEN_BUDGET_WATERFILL_SQL = """
WITH per_src AS (
  SELECT source, SUM(len(regexp_extract_all(text, '[a-z]{3,}'))) AS c
  FROM documents GROUP BY source
), staged AS (
  SELECT source, c,
         COUNT(*) OVER () AS n,
         SUM(c) OVER () AS total,
         row_number() OVER (ORDER BY c, source) AS i,
         SUM(c) OVER (ORDER BY c, source ROWS UNBOUNDED PRECEDING) AS p
  FROM per_src
), flagged AS (
  SELECT *, 6 * total // 10 AS budget,
         CASE WHEN p - c + (n - i + 1) * c <= 6 * total // 10 THEN 1 ELSE 0 END AS fullk
  FROM staged
), ks AS (
  SELECT *, SUM(fullk) OVER () AS kstar FROM flagged
), lev AS (
  SELECT *, MAX(CASE WHEN i = kstar THEN p ELSE 0 END) OVER () AS pk
  FROM ks
)
SELECT source,
       CAST(c AS BIGINT) AS tokens,
       CAST(budget AS BIGINT) AS budget,
       CAST(CASE WHEN kstar = n THEN c
             WHEN fullk = 1 THEN c
             ELSE (budget - pk) // (n - kstar) END AS BIGINT) AS alloc,
       CAST(1 - fullk AS BIGINT) AS capped,
       CAST(CASE WHEN kstar = n THEN -1
             ELSE (budget - pk) // (n - kstar) END AS BIGINT) AS level
FROM lev
"""

QUERIES["token_budget_waterfill"] = token_budget_waterfill
ORACLES["token_budget_waterfill"] = TOKEN_BUDGET_WATERFILL_SQL
