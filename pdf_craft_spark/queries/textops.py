"""Text-analysis function library over the ``documents`` table.

Training-data-pipeline ops: token counting, quality scoring, language
guess, document fingerprinting.  All pure Catalyst expressions (JVM-side,
codegen) — no Python in the hot path; each has an exact DuckDB oracle.

Tokens are defined as the non-empty pieces of a ``\\s+`` split of the raw
text — identical semantics in both engines.  Corpus statistics over
``[a-z]+`` words live here too: Zipf rank-frequency, keyword-in-context,
and term burstiness.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pdf_craft_spark.queries.dedup import (
    HASH_PCT_SQL,
    _df_cutoff,
    _docs,
    _shingle_list_duck,
    _tokens,
    hash_pct,
    shingles_cached,
    top_k,
)
from pdf_craft_spark.queries.pipelineq import GOLDEN_DOCS, SEED
from pdf_craft_spark.sources import load_table

STOPWORDS = ("the", "of", "and", "a", "to", "in", "is", "it", "on", "for")


# --- token counting ---------------------------------------------------------
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens()
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
            F.length("text").alias("n_chars"),
        )
        .orderBy("doc_id")
    )


TEXT_TOKEN_COUNT_SQL = r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
       CAST(length(text) AS INT) AS n_chars
FROM t ORDER BY doc_id
"""


# --- BPE-ish token counting -------------------------------------------------
# GPT-2-style pre-tokenizer: contraction suffixes, space-prefixed letter /
# digit / symbol runs.  Written LOOKAHEAD-FREE (the original's \s+(?!\S)
# tail is dropped, whitespace-run tokens are simply not counted) so Java
# regex (Spark) and RE2 (DuckDB) produce the identical split — verified
# token-for-token on mixed ASCII/CJK/contraction inputs.  \x0b is listed
# explicitly: Java's \s includes vertical tab, RE2's does not, so without
# it a U+000B in the text would join a symbol run on one engine only.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\x0b\p{L}\p{N}]+"


def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-boundary token meter — the count an LLM-billing estimate
    needs, next to the whitespace count (text_token_count)."""
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.size(bpe).alias("n_bpe_tokens"),
            F.size(F.array_distinct(bpe)).alias("n_bpe_distinct"),
            F.size(_tokens()).alias("n_ws_tokens"),
        )
        .orderBy("doc_id")
    )


TEXT_TOKEN_BPE_SQL = (
    """
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(text, $$"""
    + BPE_PATTERN
    + r"""$$) AS bpe,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
  FROM documents
)
SELECT doc_id,
       CAST(len(bpe) AS INT) AS n_bpe_tokens,
       CAST(len(list_distinct(bpe)) AS INT) AS n_bpe_distinct,
       CAST(len(ws) AS INT) AS n_ws_tokens
FROM t ORDER BY doc_id
"""
)


# --- quality scoring --------------------------------------------------------
# length / punctuation / stopword ratios; ratios kept as exact integer
# numerators+denominators plus a rounded double score so the oracle hash
# is deterministic.
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = _tokens()
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    n_punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?]", ""))
    score = F.round(
        n_stop.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double"), 4
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        n_punct.alias("n_punct"),
        score.alias("stopword_ratio"),
    ).orderBy("doc_id")


TEXT_QUALITY_SCORE_SQL = r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_filter(toks, x -> list_contains(
            ['the','of','and','a','to','in','is','it','on','for'], lower(x)))) AS INT)
           AS n_stopwords,
       CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS INT) AS n_punct,
       round(CAST(len(list_filter(toks, x -> list_contains(
            ['the','of','and','a','to','in','is','it','on','for'], lower(x)))) AS DOUBLE)
             / CAST(greatest(len(toks), 1) AS DOUBLE), 4) AS stopword_ratio
FROM t ORDER BY doc_id
"""


# --- language guess (charclass + stopword heuristic) ------------------------
# Reference analog: is_latin_letter / is_chinese_char predicates
# /root/reference/pdf_craft/language.py:1-19 — codepoint-range language
# evidence.  Rule: CJK chars present → 'zh'; else leading-stopword evidence
# → 'en'; else 'other'.  Deterministic and SQL-expressible in both engines.
def text_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    n_cjk = F.length(F.regexp_replace(F.col("text"), r"[^一-鿿]", ""))
    has_en = F.col("text").rlike(r"(^| )(the|and|of)( |$)")
    guess = (
        F.when(n_cjk > 0, F.lit("zh")).when(has_en, F.lit("en")).otherwise(F.lit("other"))
    )
    return docs.select(
        "doc_id", "lang", guess.alias("lang_guess"), n_cjk.alias("n_cjk_chars")
    ).orderBy("doc_id")


TEXT_LANG_GUESS_SQL = r"""
SELECT doc_id, lang,
       CASE WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 THEN 'zh'
            WHEN regexp_matches(text, '(^| )(the|and|of)( |$)') THEN 'en'
            ELSE 'other' END AS lang_guess,
       CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS INT) AS n_cjk_chars
FROM documents ORDER BY doc_id
"""


# --- document fingerprint ---------------------------------------------------
# Deterministic content fingerprint: md5 over the sorted distinct token set
# (a set-semantics analog of the reference's sha-256 content addressing,
# /root/reference/pdf_craft/common/asset.py:16-34).
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens()
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))
    return _docs(spark, sf_dir).select("doc_id", fp.alias("fingerprint")).orderBy("doc_id")


TEXT_FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))), ' '))
           AS fingerprint
FROM documents ORDER BY doc_id
"""


# --- PII / URL scrubbing ------------------------------------------------------
# Runs over the interleaved BOOK corpus, whose generator plants
# corpus-shaped contact info (plus-tagged emails, subdomains, URLs with
# query strings/fragments — pdf_craft_spark/corpus.py:_pii_fragment) in
# the prose: the scrub meets natural data, not in-query injections.  The
# DuckDB oracle applies the same expressions to the committed RAW corpus
# (golden/n28/raw_spans.parquet — pre-extraction text, not a precomputed
# answer).  The patterns avoid lookaround/backreferences so Java regex
# (Spark) and RE2 (DuckDB) agree exactly.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL_RE = r"https?://[^\s]+"

_GOLDEN_RAW = os.path.normpath(
    os.path.join(
        os.path.dirname(__file__), "..", "..", "golden", "n28", "raw_spans.parquet"
    )
)


def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_craft_spark.plans.pipeline import corpus_df, explode_spans
    flat = explode_spans(corpus_df(spark, GOLDEN_DOCS, SEED))
    raw = F.col("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
    )
    return (
        flat.select(
            "doc_id",
            "offset",
            F.size(F.regexp_extract_all(raw, F.lit(_EMAIL_RE), 0)).alias("n_emails"),
            F.size(F.regexp_extract_all(raw, F.lit(_URL_RE), 0)).alias("n_urls"),
            scrubbed.alias("scrubbed"),
        )
        .filter((F.col("n_emails") > 0) | (F.col("n_urls") > 0))
        .orderBy("doc_id", "offset")
    )


TEXT_SCRUB_PII_SQL = rf"""
WITH raw AS (
  SELECT doc_id, "offset", text AS r
  FROM read_parquet('{_GOLDEN_RAW}')
), scrubbed AS (
  SELECT doc_id, "offset",
         CAST(len(regexp_extract_all(r, '{_EMAIL_RE}')) AS INT) AS n_emails,
         CAST(len(regexp_extract_all(r, '{_URL_RE}')) AS INT) AS n_urls,
         regexp_replace(regexp_replace(r, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_URL_RE}', '<URL>', 'g') AS scrubbed
  FROM raw
)
SELECT * FROM scrubbed WHERE n_emails > 0 OR n_urls > 0
ORDER BY doc_id, "offset"
"""


# --- global (cross-corpus) boilerplate line removal ---------------------------
# §2.12's per-document demotion has a corpus-level sibling in training-data
# pipelines: lines recurring across MANY documents (site chrome, license
# headers) are boilerplate.  Docs are synthesized as two lines — a shared
# header drawn from a 7-variant pool + the unique body — and any line
# occurring in more than BOILER_MIN_DOCS distinct docs is stripped.
# Plan shape: explode lines → count distinct docs per line (one shuffle on
# the line hash) → broadcast the tiny frequent-lines set back — at 100 TB
# the frequent set stays small by construction (it IS the repeated stuff).
BOILER_MIN_DOCS = 10

_LINES_SYNTH = (
    "array('NOTICE: auto-generated corpus header v' || CAST(doc_id % 7 AS STRING),"
    " text)"
)


def boilerplate_global_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", F.expr(_LINES_SYNTH).alias("lines"))
    lines = docs.select("doc_id", F.explode("lines").alias("line"))
    freq = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") > BOILER_MIN_DOCS)
        .select("line")
    )
    kept = lines.join(F.broadcast(freq), "line", "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.concat_ws("\n", F.array_sort(F.collect_list("line"))).alias("kept_text"),
        )
        .orderBy("doc_id")
    )


BOILERPLATE_GLOBAL_STRIP_SQL = f"""
WITH lines AS (
  SELECT doc_id, unnest([
    'NOTICE: auto-generated corpus header v' || CAST(doc_id % 7 AS STRING),
    text]) AS line
  FROM documents
), freq AS (
  SELECT line FROM lines GROUP BY line
  HAVING count(DISTINCT doc_id) > {BOILER_MIN_DOCS}
), kept AS (
  SELECT l.doc_id, l.line FROM lines l
  LEFT JOIN freq f ON l.line = f.line WHERE f.line IS NULL
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       string_agg(line, chr(10) ORDER BY line) AS kept_text
FROM kept GROUP BY doc_id ORDER BY doc_id
"""


# --- TF-IDF keyword extraction ----------------------------------------------
# Top-5 scoring terms per document — the keyword-extraction stage of a
# training-data pipeline (doc tagging, topic routing, index keys).  The
# idf factor is the RATIONAL surrogate (N / df) held as a scaled BIGINT
# ((IDF_SCALE * N) DIV df) instead of log(N/df): integer-exact, so both
# engines produce bit-identical scores with no float-log parity risk, and
# monotone in df so the ranking discriminates the same direction (rare
# terms up, ubiquitous terms down — more aggressively than log, which is
# fine for top-k selection).  IDF_SCALE * N * tf must stay under 2^63:
# at N = 1e9 docs and IDF_SCALE = 1e6 that allows tf < 9e3 — the scale
# constant is the dial if either bound moves.
#
# Terms are maximal ASCII-letter runs of length >= 3, lowercased AFTER
# the [A-Za-z] filter so only ASCII case-folding (identical in Java and
# DuckDB) is ever applied; unicode lower() differences never enter.
#
# Plan shape: ONE tokenizing explode feeding a single linear pipeline —
# tf via hash aggregation, df via a whole-partition count window over
# the tf rows (NOT a self-join: joining tf against a groupBy of itself
# makes Catalyst re-derive the tf subtree and tokenize the text twice),
# a broadcast 1-row doc count, and a per-doc top-k window.  Each stage
# boundary is an explicit repartition(defaultParallelism, keys) that the
# downstream agg/window reuses (hashpartitioning on the same keys
# satisfies the required clustering, so no extra exchange appears):
# the post-explode frame is skinny high-cardinality rows, and letting
# those stages inherit a byte-heavy session's wide shuffle setting (128
# partitions, AQE coalesce off) pays hundreds of near-empty tasks — the
# same scheduling-overhead disease the PageRank loop had.  At scale the
# explicit width would be sized from the term-row volume instead; AQE
# coalescing does this automatically in default sessions.  No Python
# anywhere.
IDF_SCALE = 10**6
_KW_TOPK = 5
_KW_MIN_LEN = 3


def keyword_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    par = spark.sparkContext.defaultParallelism
    docs = _docs(spark, sf_dir)
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), "[^A-Za-z]+")).alias("raw"),
    ).filter(F.length("raw") >= _KW_MIN_LEN).select(
        "doc_id", F.lower(F.col("raw")).alias("term")
    )
    tf = (
        terms.repartition(par, "doc_id", "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wdf = W.partitionBy("term")
    scored = (
        tf.repartition(par, "term")
        .withColumn("df", F.count(F.lit(1)).over(wdf))
        .crossJoin(F.broadcast(n_docs))
        .selectExpr(
            "doc_id",
            "term",
            f"tf * (({IDF_SCALE} * n_docs) DIV df) AS score",
        )
    )
    order = [F.col("score").desc(), F.asc("term")]
    return (
        top_k(scored.repartition(par, "doc_id"), ["doc_id"], order, _KW_TOPK, "rk")
        .select("doc_id", F.col("rk").cast("long").alias("rk"), "term", "score")
        .orderBy("doc_id", "rk")
    )


KEYWORD_TFIDF_TOPK_SQL = f"""
WITH t AS (
  SELECT doc_id, lower(x) AS term
  FROM documents, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS u(x)
  WHERE length(x) >= {_KW_MIN_LEN}
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), s AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (({IDF_SCALE} * n.n_docs) // df.df) AS score
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, rk, term, score FROM (
  SELECT doc_id, term, score,
         CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rk
  FROM s
) WHERE rk <= {_KW_TOPK}
ORDER BY doc_id, rk
"""


QUERIES = {
    "text_token_count": text_token_count,
    "text_token_bpe": text_token_bpe,
    "text_quality_score": text_quality_score,
    "text_lang_guess": text_lang_guess,
    "text_fingerprint": text_fingerprint,
    "text_scrub_pii": text_scrub_pii,
    "boilerplate_global_strip": boilerplate_global_strip,
    "keyword_tfidf_topk": keyword_tfidf_topk,
}

ORACLES = {
    "text_token_count": TEXT_TOKEN_COUNT_SQL,
    "text_token_bpe": TEXT_TOKEN_BPE_SQL,
    "text_quality_score": TEXT_QUALITY_SCORE_SQL,
    "text_lang_guess": TEXT_LANG_GUESS_SQL,
    "text_fingerprint": TEXT_FINGERPRINT_SQL,
    "text_scrub_pii": TEXT_SCRUB_PII_SQL,
    "boilerplate_global_strip": BOILERPLATE_GLOBAL_STRIP_SQL,
    "keyword_tfidf_topk": KEYWORD_TFIDF_TOPK_SQL,
}


# --- n-gram repetition filter (Gopher-style quality signals) ----------------
# Two repetition signals per document, in the style of the Gopher /
# MassiveText quality rules (Rae et al. 2021, table A1):
#   top2_ppm — characters covered by the single most-covering word 2-gram
#              (count * gram length), as parts-per-million of the text.
#              High values mean one phrase dominates the document.
#   dup3_ppm — characters covered by ALL word 3-grams that occur >= 2
#              times (overlap-counted, capped at 1e6).  High values mean
#              internally repeated content.
# keep = both signals under their thresholds — the actual drop decision a
# training-data pipeline would apply before packing.
#
# All-integer scoring: coverage is count*length (BIGINT), the fraction is
# (1e6 * chars) DIV nch — no float ever enters, so cross-engine parity is
# exact by construction.
#
# Plan shape — grams are built CODEGEN-SIDE, not with higher-order
# lambdas: one posexplode of the token array, lead(1)/lead(2) over the
# per-doc window, and a stack() unpivot into tagged (n, gram) rows.  The
# obvious transform(sequence(...), i -> concat_ws(...)) formulation was
# MEASURED AND REJECTED: interpreted lambda eval costs ~30µs per gram
# (13s for 266k 2-grams at sf0.1, single task) where the window+stack
# pipeline stays inside whole-stage codegen (5.7s cold / 1.5s warm for
# all 517k grams, and the window shuffle parallelizes what the
# single-split scan serializes).  Downstream: two hash aggregations
# (per-gram counts — partial-aggregated map-side — then per-doc max/sum)
# and one doc_id equi-join back to the documents spine so gram-less docs
# (< 2 tokens) still get a row.  At 100 TB every stage is a straight
# shuffle on high-cardinality keys; nothing is driver-side and nothing
# is quadratic.
REP_TOP2_MAX_PPM = 150_000
REP_DUP3_MAX_PPM = 100_000
_PPM = 1_000_000


def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    toks = docs.selectExpr(
        "doc_id",
        "length(text) AS nch",
        r"posexplode(filter(split(text, '\\s+'), t -> t != '')) AS (pos, tok)",
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    leads = toks.select(
        "doc_id",
        "nch",
        "tok",
        F.lead("tok", 1).over(w).alias("t1"),
        F.lead("tok", 2).over(w).alias("t2"),
    )
    grams = leads.selectExpr(
        "doc_id",
        "nch",
        "stack(2, "
        "2, CASE WHEN t1 IS NOT NULL THEN concat_ws(' ', tok, t1) END, "
        "3, CASE WHEN t2 IS NOT NULL THEN concat_ws(' ', tok, t1, t2) END"
        ") AS (n, g)",
    ).filter("g IS NOT NULL")
    counts = grams.groupBy("doc_id", "nch", "n", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    perdoc = counts.groupBy("doc_id", "nch").agg(
        F.max(
            F.expr("CASE WHEN n = 2 THEN c * length(g) ELSE CAST(0 AS BIGINT) END")
        ).alias("top2_chars"),
        F.sum(
            F.expr(
                "CASE WHEN n = 3 AND c >= 2 THEN c * length(g) "
                "ELSE CAST(0 AS BIGINT) END"
            )
        ).alias("dup3_chars"),
    )
    joined = docs.select("doc_id").join(perdoc, "doc_id", "left")
    scored = joined.selectExpr(
        "doc_id",
        f"CASE WHEN coalesce(nch, 0) = 0 THEN CAST(0 AS BIGINT) "
        f"ELSE least(CAST({_PPM} AS BIGINT), "
        f"(CAST({_PPM} AS BIGINT) * coalesce(top2_chars, 0)) DIV nch) END AS top2_ppm",
        f"CASE WHEN coalesce(nch, 0) = 0 THEN CAST(0 AS BIGINT) "
        f"ELSE least(CAST({_PPM} AS BIGINT), "
        f"(CAST({_PPM} AS BIGINT) * coalesce(dup3_chars, 0)) DIV nch) END AS dup3_ppm",
    )
    return scored.selectExpr(
        "doc_id",
        "top2_ppm",
        "dup3_ppm",
        f"top2_ppm <= {REP_TOP2_MAX_PPM} AND dup3_ppm <= {REP_DUP3_MAX_PPM} AS keep",
    ).orderBy("doc_id")


TEXT_REPETITION_FILTER_SQL = rf"""
WITH t AS (
  SELECT doc_id, length(text) AS nch,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, nch, 2 AS n, toks[i] || ' ' || toks[i + 1] AS g
  FROM t CROSS JOIN unnest(range(1, len(toks))) AS r(i)
  UNION ALL
  SELECT doc_id, nch, 3 AS n,
         toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS g
  FROM t CROSS JOIN unnest(range(1, len(toks) - 1)) AS r(i)
), c AS (
  SELECT doc_id, nch, n, g, count(*) AS c FROM g GROUP BY ALL
), p AS (
  SELECT doc_id, nch,
         max(CASE WHEN n = 2 THEN c * length(g) ELSE 0 END) AS top2_chars,
         sum(CASE WHEN n = 3 AND c >= 2 THEN c * length(g) ELSE 0 END) AS dup3_chars
  FROM c GROUP BY doc_id, nch
), s AS (
  SELECT d.doc_id,
         CAST(CASE WHEN coalesce(p.nch, 0) = 0 THEN 0
              ELSE least({_PPM}, ({_PPM} * coalesce(p.top2_chars, 0)) // p.nch)
              END AS BIGINT) AS top2_ppm,
         CAST(CASE WHEN coalesce(p.nch, 0) = 0 THEN 0
              ELSE least({_PPM}, ({_PPM} * coalesce(p.dup3_chars, 0)) // p.nch)
              END AS BIGINT) AS dup3_ppm
  FROM documents d LEFT JOIN p USING (doc_id)
)
SELECT doc_id, top2_ppm, dup3_ppm,
       top2_ppm <= {REP_TOP2_MAX_PPM} AND dup3_ppm <= {REP_DUP3_MAX_PPM} AS keep
FROM s ORDER BY doc_id
"""


QUERIES["text_repetition_filter"] = text_repetition_filter
ORACLES["text_repetition_filter"] = TEXT_REPETITION_FILTER_SQL


# --- bigram language-model coverage filter ----------------------------------
# The CCNet/Gopher-style LM quality gate, integer-exact: a bigram table
# "trained" on the train split (content-hash pct < 90, the same split
# rule split_train_val_test ships) scores every held-out doc by the
# fraction of its word bigrams the table knows — coverage in ppm, the
# divergence-free stand-in for perplexity (a real LM's float logprobs
# can never hash-match across engines; the coverage rank order is what a
# filter thresholds anyway).  Tokens are the house ASCII-word rule;
# bigrams come from posexplode + a lead window (codegen, the
# text_repetition_filter lesson); the trained table is DISTINCT bigrams
# — broadcast-sized for any closed vocabulary, exactly like a real
# pipeline broadcasts its LM scoring table.
LM_TRAIN_PCT = 90


def text_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", hash_pct().alias("pct")
    )
    toks = docs.select(
        "doc_id",
        "pct",
        F.posexplode(
            F.expr("regexp_extract_all(text, '[A-Za-z]{3,}', 0)")
        ).alias("pos", "t"),
    ).select("doc_id", "pct", "pos", F.lower("t").alias("t"))
    w = W.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.withColumn("t2", F.lead("t").over(w))
        .filter(F.col("t2").isNotNull())
        .select("doc_id", "pct", F.concat_ws(" ", "t", "t2").alias("bg"))
    )
    trained = (
        bigrams.filter(F.col("pct") < LM_TRAIN_PCT).select("bg").distinct()
    )
    val = bigrams.filter(F.col("pct") >= LM_TRAIN_PCT)
    known = F.broadcast(trained.withColumn("known", F.lit(1)))
    return (
        val.join(known, "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("known"), F.lit(0))).alias("n_known"),
        )
        .selectExpr(
            "doc_id",
            "CAST(n_bigrams AS BIGINT) AS n_bigrams",
            "CAST(n_known AS BIGINT) AS n_known",
            "CAST((1000000 * n_known) DIV n_bigrams AS BIGINT)"
            " AS coverage_ppm",
        )
        .orderBy("doc_id")
    )


def _lm_bigram_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, {HASH_PCT_SQL} AS pct,
         generate_subscripts(regexp_extract_all(text, '[A-Za-z]{{3,}}'), 1)
           AS pos,
         lower(unnest(regexp_extract_all(text, '[A-Za-z]{{3,}}'))) AS t
  FROM documents
), bigrams AS (
  SELECT doc_id, pct,
         t || ' ' || lead(t) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
  FROM toks
  QUALIFY lead(t) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
), trained AS (
  SELECT DISTINCT bg FROM bigrams WHERE pct < {LM_TRAIN_PCT}
)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN t.bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_known,
       CAST((1000000 * sum(CASE WHEN t.bg IS NOT NULL THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS coverage_ppm
FROM bigrams b LEFT JOIN trained t USING (bg)
WHERE b.pct >= {LM_TRAIN_PCT}
GROUP BY 1
ORDER BY doc_id
"""


TEXT_LM_BIGRAM_SCORE_SQL = _lm_bigram_sql()

QUERIES["text_lm_bigram_score"] = text_lm_bigram_score
ORACLES["text_lm_bigram_score"] = TEXT_LM_BIGRAM_SCORE_SQL


# --- BPE merge-candidate selection (tokenizer training, step 1) -------------
# The first iteration of byte-pair-encoding training, exactly as the
# classic algorithm runs it: collapse the corpus to a WORD-FREQUENCY
# table (the heavy part — one token-volume shuffle; BPE never rescans
# raw text), then count adjacent character pairs per distinct word
# WEIGHTED by word frequency and rank the merge candidates.  The
# char-pair expansion is a higher-order transform over the distinct-word
# table — interpreted, but over |vocabulary| rows, not the corpus; the
# corpus-sized work all happened in the word count.  Deterministic
# (count desc, pair asc) ranking; top-20 = the merges a tokenizer
# trainer would take.
BPE_MERGE_TOPK = 20


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.expr("regexp_extract_all(text, '[A-Za-z]{2,}', 0)")
            ).alias("w")
        )
        .select(F.lower("w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substr(w, i, 2))"
            )
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(F.sum("freq").alias("n"))
    return (
        top_k(agg, [], [F.desc("n"), F.asc("pair")], BPE_MERGE_TOPK, "rk")
        .selectExpr("CAST(rk AS BIGINT) AS rk", "pair", "CAST(n AS BIGINT) AS n")
        .orderBy("rk")
    )


BPE_MERGE_CANDIDATES_SQL = f"""
WITH words AS (
  SELECT lower(unnest(regexp_extract_all(text, '[A-Za-z]{{2,}}'))) AS w
  FROM documents
), wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM words GROUP BY 1
), pairs AS (
  SELECT freq,
         unnest(list_transform(range(1, length(w)),
                               i -> substr(w, CAST(i AS INT), 2))) AS pair
  FROM wf
), agg AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pairs GROUP BY 1
), ranked AS (
  SELECT pair, n,
         CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rk
  FROM agg
)
SELECT rk, pair, n FROM ranked WHERE rk <= {BPE_MERGE_TOPK}
ORDER BY rk
"""


QUERIES["bpe_merge_candidates"] = bpe_merge_candidates
ORACLES["bpe_merge_candidates"] = BPE_MERGE_CANDIDATES_SQL


# --- exact tf-idf cosine document pairs ----------------------------------------
# The IR-grade near-dup scorer that was previously recorded as SKIPPED:
# tf·idf weights square to ~1e21, past int64, and Spark wraps silently
# where DuckDB promotes to HUGEINT — so every moment (w_a·w_b products,
# per-doc norms) runs in DECIMAL(38,0), where both engines are exact, and
# doubles appear only in the single final cos projection (sqrt/division
# of identical exact inputs — IEEE-identical).  Pairing is the inverted-
# index equi-join on term with the shared document-frequency cutoff
# (_df_cutoff — stop-word-grade terms leave the join, bounding per-key
# fan-out exactly as in the jaccard family); the weighted postings table
# materializes once and feeds both join sides plus the norm aggregate.
# Top-50 pairs ranked by the 6-digit-rounded cosine with full id
# tie-breaks — a total order, so LIMIT is stable in both engines.
_TFIDF_PAIR_TOPK = 50


def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), "[^A-Za-z]+")).alias("raw"),
    ).filter(F.length("raw") >= _KW_MIN_LEN).select(
        "doc_id", F.lower(F.col("raw")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = _df_cutoff(tf, docs, "term")
    wdf = W.partitionBy("term")
    weighted = (
        tf.withColumn("df", F.count(F.lit(1)).over(wdf))
        .crossJoin(F.broadcast(n_docs))
        .selectExpr(
            "doc_id",
            "term",
            f"CAST(tf * (({IDF_SCALE} * n_docs) DIV df) AS DECIMAL(38,0)) AS w",
        )
        .localCheckpoint(eager=True)  # 3 plan branches: a-side, b-side, norms
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("norm2")
    )
    a, b = weighted.alias("a"), weighted.alias("b")
    num = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.sum(F.col("a.w") * F.col("b.w")).alias("num"),
            F.count(F.lit(1)).alias("n_shared_terms"),
        )
    )
    scored = (
        num.join(norms.selectExpr("doc_id AS doc_a", "norm2 AS na"), "doc_a")
        .join(norms.selectExpr("doc_id AS doc_b", "norm2 AS nb"), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(n_shared_terms AS BIGINT) AS n_shared_terms",
            "round(CAST(num AS DOUBLE)"
            " / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)"
            " AS cos6",
        )
    )
    return scored.orderBy(
        F.desc("cos6"), "doc_a", "doc_b"
    ).limit(_TFIDF_PAIR_TOPK)


TFIDF_COSINE_PAIRS_SQL = f"""
WITH t AS (
  SELECT doc_id, lower(x) AS term
  FROM documents, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS u(x)
  WHERE length(x) >= {_KW_MIN_LEN}
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
), cut AS (
  SELECT greatest(CAST(2 AS BIGINT),
                  CAST(ceil(0.1 * count(*)) AS BIGINT)) AS c
  FROM documents
), hot AS (
  SELECT term FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1)
  WHERE df > (SELECT c FROM cut)
), tff AS (
  SELECT tf.* FROM tf ANTI JOIN hot USING (term)
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tff GROUP BY 1
), weighted AS (
  SELECT tff.doc_id, tff.term,
         CAST(tff.tf * (({IDF_SCALE} * n.n_docs) // dfreq.df)
              AS DECIMAL(38,0)) AS w
  FROM tff JOIN dfreq USING (term), n
), norms AS (
  SELECT doc_id, sum(w * w) AS norm2 FROM weighted GROUP BY 1
), num AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         sum(a.w * b.w) AS num, count(*) AS n_shared_terms
  FROM weighted a JOIN weighted b
    ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_shared_terms AS BIGINT) AS n_shared_terms,
       round(CAST(num AS DOUBLE)
             / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))),
             6) AS cos6
FROM num
JOIN norms na ON num.doc_a = na.doc_id
JOIN norms nb ON num.doc_b = nb.doc_id
ORDER BY cos6 DESC, doc_a, doc_b
LIMIT {_TFIDF_PAIR_TOPK}
"""


QUERIES["tfidf_cosine_pairs"] = tfidf_cosine_pairs
ORACLES["tfidf_cosine_pairs"] = TFIDF_COSINE_PAIRS_SQL


# --- iterative BPE training (unrolled rounds, exact greedy merges) -------------
# True byte-pair-encoding TRAINING, not just the single candidate step
# (bpe_merge_candidates): each round counts adjacent symbol pairs over
# the frequency-weighted vocabulary, picks the argmax merge
# (cnt DESC, pair ASC — total order), and re-encodes every word by
# GREEDY LEFT-TO-RIGHT application of that merge.  Greediness is exact,
# not approximated with string replace() (whose resume-after-match
# semantics drop odd-run merges): a pair-start position merges iff its
# 1-based index within its island of consecutive pair-starts is odd —
# provably the greedy outcome, since only self-pairs (x,x) can form
# islands longer than one.  Everything is windows + aggregations over
# the VOCABULARY table (orders of magnitude smaller than the corpus —
# the corpus is touched once to build word frequencies), each round's
# encoding materializes before the next (the kmeans/LPA round pattern),
# and the per-round argmax rides in as a broadcast 1-row table — no
# driver-side collect.  The oracle unrolls the same rounds as chained
# CTEs with scalar-subquery merges.  Output: per round, the merge pair,
# its count, and the total symbol mass after applying it — any
# divergence in any round cascades into every later row.
_BPE_ROUNDS = 4
_BPE_WMIN, _BPE_WMAX = 2, 16


def _bpe_round(ex_enc: DataFrame):
    """One BPE round: (w, f, syms) -> (new encoded df, 1-row merge df)."""
    from pyspark.sql import Window as W

    wball = W.partitionBy("w").orderBy("pos")
    ex = ex_enc.select(
        "w", "f", F.posexplode("syms").alias("pos", "sym")
    ).withColumn("nxt", F.lead("sym").over(wball))
    pc = (
        ex.filter(F.col("nxt").isNotNull())
        .groupBy("sym", "nxt")
        .agg(F.sum("f").alias("cnt"))
    )
    mx = (
        pc.orderBy(F.desc("cnt"), "sym", "nxt")
        .limit(1)
        .selectExpr("sym AS mx_a", "nxt AS mx_b", "cnt AS mx_cnt")
        .localCheckpoint(eager=True)  # referenced by the re-encode AND the output row
    )
    g = ex.crossJoin(F.broadcast(mx)).withColumn(
        "is_start",
        (F.col("sym") == F.col("mx_a")) & (F.col("nxt") == F.col("mx_b")),
    )
    g = g.withColumn(
        "blk",
        F.sum(F.when(F.col("is_start"), 0).otherwise(1)).over(wball),
    )
    widx = W.partitionBy("w", "blk", "is_start").orderBy("pos")
    g = g.withColumn("idx", F.row_number().over(widx))
    g = g.withColumn(
        "merge_at", F.col("is_start") & (F.col("idx") % 2 == 1)
    ).withColumn(
        "consumed",
        F.coalesce(F.lag("merge_at").over(wball), F.lit(False)),
    )
    g = g.withColumn(
        "ns",
        F.when(F.col("merge_at"), F.concat("sym", "nxt")).when(
            ~F.col("consumed"), F.col("sym")
        ),
    ).filter(F.col("ns").isNotNull())
    enc = (
        g.groupBy("w", "f")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, ns))),"
                " s -> s.ns)"
            ).alias("syms")
        )
        .localCheckpoint(eager=True)  # round barrier: next round reads this
    )
    return enc, mx


def bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w")
        )
        .filter(
            (F.length("w") >= _BPE_WMIN) & (F.length("w") <= _BPE_WMAX)
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    enc = words.select(
        "w",
        "f",
        F.split(
            F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")), " "
        ).alias("syms"),
    ).localCheckpoint(eager=True)
    out_rows = []
    for r in range(_BPE_ROUNDS):
        enc, mx = _bpe_round(enc)
        tot = enc.agg(
            F.sum(F.col("f") * F.size("syms")).alias("syms_total_after")
        )
        out_rows.append(
            mx.crossJoin(tot).selectExpr(
                f"CAST({r + 1} AS INT) AS round",
                "mx_a AS pair_a",
                "mx_b AS pair_b",
                "CAST(mx_cnt AS BIGINT) AS cnt",
                "CAST(syms_total_after AS BIGINT) AS syms_total_after",
            )
        )
    res = out_rows[0]
    for df in out_rows[1:]:
        res = res.unionByName(df)
    return res.orderBy("round")


def _bpe_duck_sql() -> str:
    parts = [
        f"""words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
    SELECT lower(x) AS w
    FROM documents, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS u(x)
  ) WHERE length(w) BETWEEN {_BPE_WMIN} AND {_BPE_WMAX}
  GROUP BY w
), e0 AS (
  SELECT w, f,
         string_split(trim(regexp_replace(w, '(.)', '\\1 ', 'g')), ' ') AS syms
  FROM words
)"""
    ]
    for k in range(_BPE_ROUNDS):
        parts.append(f"""x{k} AS (
  SELECT w, f, generate_subscripts(syms, 1) - 1 AS pos, unnest(syms) AS sym
  FROM e{k}
), l{k} AS (
  SELECT *, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM x{k}
), p{k} AS (
  SELECT sym, nxt, sum(f) AS cnt FROM l{k} WHERE nxt IS NOT NULL GROUP BY 1, 2
), m{k} AS (
  SELECT sym AS a, nxt AS b, cnt FROM p{k}
  ORDER BY cnt DESC, sym ASC, nxt ASC LIMIT 1
), g{k} AS (
  SELECT l.*, (l.sym = (SELECT a FROM m{k})
               AND l.nxt = (SELECT b FROM m{k})) AS is_start
  FROM l{k} l
), b{k} AS (
  SELECT *, sum(CASE WHEN is_start THEN 0 ELSE 1 END)
              OVER (PARTITION BY w ORDER BY pos) AS blk
  FROM g{k}
), i{k} AS (
  SELECT *, row_number() OVER (PARTITION BY w, blk, is_start ORDER BY pos)
              AS idx
  FROM b{k}
), c{k} AS (
  SELECT *, (is_start AND idx % 2 = 1) AS merge_at,
         coalesce(lag(is_start AND idx % 2 = 1)
                    OVER (PARTITION BY w ORDER BY pos), false) AS consumed
  FROM i{k}
), n{k} AS (
  SELECT w, f, pos,
         CASE WHEN merge_at THEN sym || nxt
              WHEN NOT consumed THEN sym END AS ns
  FROM c{k}
), e{k + 1} AS (
  SELECT w, f, list(ns ORDER BY pos) AS syms
  FROM n{k} WHERE ns IS NOT NULL GROUP BY w, f
), s{k + 1} AS (
  SELECT CAST(sum(f * len(syms)) AS BIGINT) AS tot FROM e{k + 1}
)""")
    selects = [
        f"""SELECT CAST({k + 1} AS INT) AS round,
       (SELECT a FROM m{k}) AS pair_a,
       (SELECT b FROM m{k}) AS pair_b,
       CAST((SELECT cnt FROM m{k}) AS BIGINT) AS cnt,
       (SELECT tot FROM s{k + 1}) AS syms_total_after"""
        for k in range(_BPE_ROUNDS)
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY round"
    )


BPE_TRAIN_ROUNDS_SQL = _bpe_duck_sql()

QUERIES["bpe_train_rounds"] = bpe_train_rounds
ORACLES["bpe_train_rounds"] = BPE_TRAIN_ROUNDS_SQL


# --- readability score (integer Flesch-style) ------------------------------------
# A Flesch-reading-ease-shaped quality signal kept engine-exact: words =
# alpha runs, "syllables" = vowel GROUPS (the standard heuristic), and —
# because this corpus carries no sentence terminators at all (verified:
# its alphabet is [a-z ]) — sentences fall back to 15-word pseudo-
# sentences, greatest(terminator_runs, ceil(words/15)), so the score
# varies with the real signal left in the data: syllable density.  The
# classic float coefficients (206.835 − 1.015·w/s − 84.6·syl/w) become
# one integer milli-score via pure BIGINT floor arithmetic, identical in
# both engines.  One scan, regexp counts, no shuffle before the rollup.
def text_readability_milli(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    base = docs.selectExpr(
        "doc_id",
        "CAST(size(regexp_extract_all(text, '[A-Za-z]+', 0)) AS BIGINT)"
        " AS words",
        "CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS BIGINT)"
        " AS syllables",
        "CAST(greatest(size(regexp_extract_all(text, '[.!?]+', 0)),"
        " CAST((size(regexp_extract_all(text, '[A-Za-z]+', 0)) + 14) / 15"
        " AS INT)) AS BIGINT) AS sentences",
    ).filter("words > 0 AND sentences > 0")
    return base.selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id",
        "words",
        "sentences",
        "syllables",
        "CAST(206835 - ((1015 * words * 1000) DIV sentences) DIV 1000"
        " - (84600 * syllables) DIV words AS BIGINT) AS flesch_milli",
    ).orderBy("doc_id")


TEXT_READABILITY_MILLI_SQL = """
WITH base AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
           AS words,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS syllables,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')),
                       (len(regexp_extract_all(text, '[A-Za-z]+')) + 14) // 15)
              AS BIGINT) AS sentences
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       words, sentences, syllables,
       CAST(206835 - ((1015 * words * 1000) // sentences) // 1000
            - (84600 * syllables) // words AS BIGINT) AS flesch_milli
FROM base
WHERE words > 0 AND sentences > 0
ORDER BY doc_id
"""

QUERIES["text_readability_milli"] = text_readability_milli
ORACLES["text_readability_milli"] = TEXT_READABILITY_MILLI_SQL


# --- reciprocal-rank fusion of bounded retrieval lists -----------------------
# RRF (Cormack et al. 2009): combine several retrieval rankings without
# score calibration — fused(d) = sum over lists of 1/(k + rank_d), k=60.
# The scale-honest shape: each signal first produces a BOUNDED top-N list
# (TakeOrderedAndProject — a distributed partial top-k, never a global
# sort of the corpus), then ranking and fusion run over N-row tables.
# Arithmetic is integer (1e9 DIV (k + rank)), so the fused score is
# engine-exact; a document absent from a list contributes 0 (standard
# union-of-lists RRF).  Signals here: stopword-count (an English-ness /
# quality prior, cf. text_quality_score) and document length.
RRF_K = 60
RRF_LIST_N = 100
RRF_TOP = 25


def rrf_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = _tokens()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    stop = docs.select("doc_id", n_stop.alias("s"))
    size = docs.select("doc_id", F.col("n_chars").alias("c"))
    lista = top_k(stop, [], [F.desc("s"), F.asc("doc_id")], RRF_LIST_N, "ra")
    listb = top_k(size, [], [F.desc("c"), F.asc("doc_id")], RRF_LIST_N, "rb")
    fused = lista.join(listb, "doc_id", "full_outer").selectExpr(
        "doc_id",
        "CAST(ra AS INT) AS rank_stopword",
        "CAST(rb AS INT) AS rank_length",
        f"coalesce(1000000000 DIV ({RRF_K} + ra), CAST(0 AS BIGINT))"
        f" + coalesce(1000000000 DIV ({RRF_K} + rb), CAST(0 AS BIGINT))"
        " AS rrf_nano",
    )
    return fused.orderBy(F.desc("rrf_nano"), "doc_id").limit(RRF_TOP)


RRF_RANK_FUSION_SQL = rf"""
WITH t AS (
  SELECT doc_id, n_chars,
         len(list_filter(
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''),
           x -> list_contains(['the','of','and','a','to','in','is','it','on','for'],
                              lower(x)))) AS s
  FROM documents
), lista AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS ra
  FROM t ORDER BY s DESC, doc_id LIMIT {RRF_LIST_N}
), listb AS (
  SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rb
  FROM t ORDER BY n_chars DESC, doc_id LIMIT {RRF_LIST_N}
)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       CAST(a.ra AS INT) AS rank_stopword,
       CAST(b.rb AS INT) AS rank_length,
       coalesce(1000000000 // ({RRF_K} + a.ra), 0)
         + coalesce(1000000000 // ({RRF_K} + b.rb), 0) AS rrf_nano
FROM lista a FULL OUTER JOIN listb b ON a.doc_id = b.doc_id
ORDER BY rrf_nano DESC, doc_id LIMIT {RRF_TOP}
"""

QUERIES["rrf_rank_fusion"] = rrf_rank_fusion
ORACLES["rrf_rank_fusion"] = RRF_RANK_FUSION_SQL


# --- corpus novelty scoring ---------------------------------------------------
# Diversity/novelty measurement for corpus curation: what fraction of a
# document's distinct 3-gram shingles appear NOWHERE else in the corpus
# (df = 1)?  High-novelty docs carry unique content; near-zero novelty
# flags boilerplate families that the dedup passes should have caught.
# Uses the shared codegen shingler (_shingle_rows — posexplode + lead
# windows, never interpreted HOF lambdas); corpus document frequency is a
# window count over the shingle key (ONE shuffle, no self-join), then one
# per-doc aggregate.  Integer ppm output.
def text_novelty_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingles_cached(spark, sf_dir)
    d = sh.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("sh")))
    return (
        d.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
        .selectExpr(
            "doc_id",
            "CAST(n_shingles AS BIGINT) AS n_shingles",
            "CAST(n_novel AS BIGINT) AS n_novel",
            "CAST((1000000 * n_novel) DIV n_shingles AS BIGINT) AS novelty_ppm",
        )
        .orderBy("doc_id")
    )


def _text_novelty_sql() -> str:
    return f"""
WITH s AS (
  SELECT doc_id, unnest(shingles) AS sh FROM ({_shingle_list_duck()})
), d AS (
  SELECT doc_id, count(*) OVER (PARTITION BY sh) AS df FROM s
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST((1000000 * sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)) // count(*)
            AS BIGINT) AS novelty_ppm
FROM d GROUP BY doc_id ORDER BY doc_id
"""


TEXT_NOVELTY_PPM_SQL = _text_novelty_sql()

QUERIES["text_novelty_ppm"] = text_novelty_ppm
ORACLES["text_novelty_ppm"] = TEXT_NOVELTY_PPM_SQL


# --- bigram collocation lift (top-20 by frequency) ---------------------------
# "Which word pairs co-occur more than their margins predict?" — the PMI-rank
# primitive behind phrase mining and stopword-pair detection, with the log
# dropped (lift = P(ab)/(P(a.)P(.b)) ranks identically to PMI; no libm at
# query time per house rules).  Bigrams come from posexplode + one lead
# window (codegen); the three count tables (joint, first-margin,
# second-margin) are partial-agg shuffles bounded by |vocab|^2, and the
# margin joins are broadcastable at any corpus scale because the vocabulary,
# not the corpus, bounds them.  Lift is the single final double expression
# over exact counts (products < 2^53 through SF1, so the doubles are exact).
# Top-20 by joint count with bigram-lexicographic tiebreak — deterministic.
COLLOC_TOPK = 20


def collocation_lift_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.expr("regexp_extract_all(text, '[A-Za-z]{2,}', 0)")
        ).alias("pos", "t"),
    ).select("doc_id", "pos", F.lower("t").alias("t"))
    w = W.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.withColumn("t2", F.lead("t").over(w))
        .filter(F.col("t2").isNotNull())
        .select(F.col("t").alias("a"), F.col("t2").alias("b"))
    )
    joint = bg.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    first = bg.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("c_a"))
    second = bg.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("c_b"))
    n = bg.agg(F.count(F.lit(1)).cast("long").alias("n"))
    scored = (
        joint.join(F.broadcast(first), "a")
        .join(F.broadcast(second), "b")
        .crossJoin(F.broadcast(n))
    )
    order = [F.col("c_ab").desc(), F.col("a"), F.col("b")]
    return (
        top_k(scored, [], order, COLLOC_TOPK, "rk")
        .selectExpr(
            "a",
            "b",
            "c_ab",
            "c_a",
            "c_b",
            "n",
            "CAST(round(1000000 * CAST(c_ab AS DOUBLE) * CAST(n AS DOUBLE)"
            " / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))) AS BIGINT)"
            " AS lift_micro",
        )
        .orderBy("rk")
        .drop("rk")
    )


COLLOCATION_LIFT_BIGRAMS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(regexp_extract_all(text, '[A-Za-z]{{2,}}'), 1) AS pos,
         lower(unnest(regexp_extract_all(text, '[A-Za-z]{{2,}}'))) AS t
  FROM documents
), bg AS (
  SELECT t AS a, lead(t) OVER (PARTITION BY doc_id ORDER BY pos) AS b
  FROM toks
  QUALIFY lead(t) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
), joint AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY 1, 2
), fst AS (
  SELECT a, CAST(count(*) AS BIGINT) AS c_a FROM bg GROUP BY 1
), snd AS (
  SELECT b, CAST(count(*) AS BIGINT) AS c_b FROM bg GROUP BY 1
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM bg
), scored AS (
  SELECT j.a, j.b, c_ab, c_a, c_b, n,
         row_number() OVER (ORDER BY c_ab DESC, j.a, j.b) AS rk
  FROM joint j JOIN fst USING (a) JOIN snd USING (b), nn
)
SELECT a, b, c_ab, c_a, c_b, n,
       CAST(round(1000000 * CAST(c_ab AS DOUBLE) * CAST(n AS DOUBLE)
            / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))) AS BIGINT)
         AS lift_micro
FROM scored
WHERE rk <= {COLLOC_TOPK}
ORDER BY rk
"""

QUERIES["collocation_lift_bigrams"] = collocation_lift_bigrams
ORACLES["collocation_lift_bigrams"] = COLLOCATION_LIFT_BIGRAMS_SQL


# --- cleaning_funnel_report: C4/Gopher-style gate funnel ----------------------
# Production corpus cleaning is a SEQUENCE of gates, and what operators
# actually debug is the funnel: how many documents each gate killed AND
# how many survived to reach the next one — first-failing-gate
# attribution, not independent per-gate counts (a doc failing length and
# repetition must count once, at the first gate, or the report
# double-books removals and the stage deltas stop reconciling).  Gates
# (thresholds set from measured corpus quantiles so every gate has real
# bite): too_short (< 20 tokens, ~p10), dup_marker (contains the 'dup'
# boilerplate token, ~5%), too_repetitive (max single-token frequency
# > 160000 ppm, ~p95), low_diversity (type-token ratio < 310000 ppm,
# ~p5).  One token explode + two-level agg per doc (a single doc_id
# shuffle), then CASE-ordered attribution and a 5-row funnel with
# running survivors — all integer ppm.
FUNNEL_MIN_TOKENS = 20
FUNNEL_MAX_REP_PPM = 160_000
FUNNEL_MIN_TTR_PPM = 310_000


def cleaning_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("t")
    ).where(F.col("t") != "")
    per_tok = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    stats = per_tok.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.count(F.lit(1)).cast("long").alias("n_dist"),
        F.max("c").cast("long").alias("mx"),
        F.max(F.when(F.col("t") == "dup", 1).otherwise(0)).alias("has_dup"),
    )
    gated = stats.selectExpr(
        "doc_id",
        f"""CASE
             WHEN n_tok < {FUNNEL_MIN_TOKENS} THEN '1:too_short'
             WHEN has_dup = 1 THEN '2:dup_marker'
             WHEN (1000000 * mx) DIV n_tok > {FUNNEL_MAX_REP_PPM}
               THEN '3:too_repetitive'
             WHEN (1000000 * n_dist) DIV n_tok < {FUNNEL_MIN_TTR_PPM}
               THEN '4:low_diversity'
             ELSE '5:pass'
           END AS gate""",
    )
    counts = gated.groupBy("gate").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = W.orderBy("gate").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    return (
        counts.select(
            "gate",
            "n_docs",
            (F.sum("n_docs").over(wall) - F.sum("n_docs").over(w))
            .cast("long")
            .alias("n_remaining_after"),
            F.sum("n_docs").over(wall).cast("long").alias("n_total"),
        )
        .selectExpr(
            "gate",
            "n_docs",
            # survivors after this gate = docs not yet killed; the 'pass'
            # row's remaining is itself (it kills nothing)
            "CASE WHEN gate = '5:pass' THEN n_docs ELSE n_remaining_after END"
            " AS n_remaining_after",
            "CAST((1000000 * n_docs) DIV n_total AS BIGINT) AS frac_ppm",
        )
        .orderBy("gate")
    )


CLEANING_FUNNEL_REPORT_SQL = f"""
WITH tok AS (
  SELECT doc_id, t FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS t
    FROM documents)
), per_tok AS (
  SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
), stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
         CAST(count(*) AS BIGINT) AS n_dist,
         CAST(max(c) AS BIGINT) AS mx,
         max(CASE WHEN t = 'dup' THEN 1 ELSE 0 END) AS has_dup
  FROM per_tok GROUP BY doc_id
), gated AS (
  SELECT doc_id,
         CASE
           WHEN n_tok < {FUNNEL_MIN_TOKENS} THEN '1:too_short'
           WHEN has_dup = 1 THEN '2:dup_marker'
           WHEN (1000000 * mx) // n_tok > {FUNNEL_MAX_REP_PPM}
             THEN '3:too_repetitive'
           WHEN (1000000 * n_dist) // n_tok < {FUNNEL_MIN_TTR_PPM}
             THEN '4:low_diversity'
           ELSE '5:pass'
         END AS gate
  FROM stats
), counts AS (
  SELECT gate, CAST(count(*) AS BIGINT) AS n_docs FROM gated GROUP BY gate
)
SELECT gate, n_docs,
       CASE WHEN gate = '5:pass' THEN n_docs
            ELSE CAST(sum(n_docs) OVER () - sum(n_docs) OVER (ORDER BY gate
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       END AS n_remaining_after,
       CAST((1000000 * n_docs) // (sum(n_docs) OVER ()) AS BIGINT) AS frac_ppm
FROM counts
ORDER BY gate
"""

QUERIES["cleaning_funnel_report"] = cleaning_funnel_report
ORACLES["cleaning_funnel_report"] = CLEANING_FUNNEL_REPORT_SQL


# --- rbo_rank_overlap: rank-biased overlap between two rankings ---------------
# rrf_rank_fusion MERGES rankings; RBO (Webber, Moffat, Zobel 2010)
# MEASURES how much two rankings agree, top-weighted — the metric for
# "did the index rebuild change what users see?".  Rankings compared:
# suppliers by total revenue vs suppliers by lineitem count (two
# combinable aggs over the same scan).  Truncated RBO@10 without
# extrapolation: RBO = (1-p) * sum_{d=1..10} p^(d-1) * |A_d ∩ B_d| / d.
# Overlap at depth d needs no per-depth set ops: an item in both top-10
# lists enters every depth >= max(rank_a, rank_b), so one equi-join on
# the item gives m = max(ra, rb) and overlap_d = #{m <= d}.  The
# geometric weights p^(d-1) (p = 0.9) are scaled-integer literals
# precomputed by repeated (w * 9) DIV 10 — identical constants in both
# engines, no libm.  All arithmetic integer; rbo_ppm is exact.
RBO_DEPTH = 10
RBO_W = []  # scaled 1e6 weights: w_1 = 1e6, w_{d+1} = (w_d * 9) DIV 10
_w = 1_000_000
for _ in range(RBO_DEPTH):
    RBO_W.append(_w)
    _w = (_w * 9) // 10


def rbo_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_suppkey",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
    )
    per = li.groupBy("l_suppkey").agg(
        F.sum("cents").cast("long").alias("rev"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    wa = W.orderBy(F.desc("rev"), "l_suppkey")
    wb = W.orderBy(F.desc("cnt"), "l_suppkey")
    ranked = per.select(
        "l_suppkey",
        F.row_number().over(wa).cast("long").alias("ra"),
        F.row_number().over(wb).cast("long").alias("rb"),
    ).where(
        (F.col("ra") <= RBO_DEPTH) & (F.col("rb") <= RBO_DEPTH)
    )
    m = ranked.selectExpr("greatest(ra, rb) AS m")
    depth = spark.range(1, RBO_DEPTH + 1).selectExpr("id AS d")
    wmap = F.expr(
        "CASE d " + " ".join(
            f"WHEN {i + 1} THEN CAST({RBO_W[i]} AS BIGINT)"
            for i in range(RBO_DEPTH)
        ) + " END"
    )
    per_depth = (
        depth.join(F.broadcast(m), F.col("m") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("m").cast("long").alias("overlap_d"))
        .select("d", "overlap_d", wmap.alias("w"))
    )
    return per_depth.agg(
        F.sum(F.expr("(w * overlap_d) DIV d")).cast("long").alias("rbo_scaled"),
        F.max(F.when(F.col("d") == RBO_DEPTH, F.col("overlap_d"))).alias(
            "overlap_at_k"
        ),
    ).selectExpr(
        f"CAST({RBO_DEPTH} AS BIGINT) AS depth",
        "CAST(overlap_at_k AS BIGINT) AS overlap_at_k",
        "rbo_scaled DIV 10 AS rbo_ppm",
    )


def _rbo_sql() -> str:
    wcase = " ".join(
        f"WHEN {i + 1} THEN CAST({RBO_W[i]} AS BIGINT)" for i in range(RBO_DEPTH)
    )
    return f"""
WITH per AS (
  SELECT l_suppkey,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS BIGINT) AS rev,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_suppkey
), ranked AS (
  SELECT l_suppkey,
         CAST(row_number() OVER (ORDER BY rev DESC, l_suppkey) AS BIGINT) AS ra,
         CAST(row_number() OVER (ORDER BY cnt DESC, l_suppkey) AS BIGINT) AS rb
  FROM per
), both_m AS (
  SELECT greatest(ra, rb) AS m FROM ranked
  WHERE ra <= {RBO_DEPTH} AND rb <= {RBO_DEPTH}
), per_depth AS (
  SELECT d, CAST(count(m) AS BIGINT) AS overlap_d,
         CASE d {wcase} END AS w
  FROM (SELECT unnest(range(1, {RBO_DEPTH} + 1)) AS d) dd
  LEFT JOIN both_m ON m <= d
  GROUP BY d
)
SELECT CAST({RBO_DEPTH} AS BIGINT) AS depth,
       CAST(max(CASE WHEN d = {RBO_DEPTH} THEN overlap_d END) AS BIGINT)
         AS overlap_at_k,
       CAST(sum((w * overlap_d) // d) // 10 AS BIGINT) AS rbo_ppm
FROM per_depth
"""


RBO_RANK_OVERLAP_SQL = _rbo_sql()

QUERIES["rbo_rank_overlap"] = rbo_rank_overlap
ORACLES["rbo_rank_overlap"] = RBO_RANK_OVERLAP_SQL


# --- Zipf rank-frequency audit -----------------------------------------------
# The classic corpus sanity table: rank tokens by frequency and report
# rank·frequency, whose stability is Zipf's law (r·f ≈ f1).  The deviation
# dev = |r·f − f1| / f1 is rational — no log-log fit, no libm — and the
# ranking window runs over the VOCABULARY-sized aggregate (30 rows here;
# bounded vocab at any corpus scale), never the token stream.  The one
# data-sized operation is the token count shuffle.
ZIPF_TOPK = 20


def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(
        F.explode(F.expr("regexp_extract_all(text, '[a-z]+', 0)")).alias("t")
    )
    freq = toks.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("f"))
    f1 = freq.agg(F.max("f").cast("long").alias("f1"))
    return (
        top_k(freq, [], [F.col("f").desc(), F.col("t")], ZIPF_TOPK, "r")
        .crossJoin(F.broadcast(f1))
        .selectExpr(
            "CAST(r AS INT) AS r",
            "t",
            "f",
            "CAST(r * f AS BIGINT) AS rf",
            """CAST(round(1000000.0 * abs(CAST(r * f AS DOUBLE) - CAST(f1 AS DOUBLE))
                 / CAST(f1 AS DOUBLE)) AS BIGINT) AS dev_micro""",
        )
        .orderBy("r")
    )


ZIPF_RANK_FREQUENCY_SQL = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS t FROM documents
), freq AS (
  SELECT t, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY t
), f1 AS (
  SELECT CAST(max(f) AS BIGINT) AS f1 FROM freq
), ranked AS (
  SELECT t, f, CAST(row_number() OVER (ORDER BY f DESC, t) AS INT) AS r FROM freq
)
SELECT r, t, f, CAST(r * f AS BIGINT) AS rf,
       CAST(round(1000000.0 * abs(CAST(r * f AS DOUBLE) - CAST(f1.f1 AS DOUBLE))
         / CAST(f1.f1 AS DOUBLE)) AS BIGINT) AS dev_micro
FROM ranked CROSS JOIN f1
WHERE r <= {ZIPF_TOPK}
ORDER BY r
"""

QUERIES["zipf_rank_frequency"] = zipf_rank_frequency
ORACLES["zipf_rank_frequency"] = ZIPF_RANK_FREQUENCY_SQL


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
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
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
    order = [F.col("cnt").desc(), F.col("prev_t"), F.col("next_t")]
    return (
        top_k(ctx, [], order, KWIC_TOPK, "rk")
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


# --- per-term burstiness (variance-to-mean dispersion) -----------------------
# Corpus-linguistics sibling of zipf_rank_frequency / chi2_terms: a term
# that appears in bursts (high per-doc counts in few docs) is topical; a
# term spread evenly (VMR near its Bernoulli floor) is function-word-like
# — the standard keyword-vs-boilerplate signal.  Over ALL N docs
# (zero-inflated): mean = sc/N, var = (N*sq - sc^2)/N^2, so
# VMR = (N*sq - sc^2) / (N*sc) — rational, int64-exact until the single
# final double division.  One token explode + one groupBy(token): the
# same two-shuffle shape at any corpus size; N rides in as a broadcast
# one-row cross join (the dedup.py house pattern).
BURST_TOK_RE = "[a-z]{3,}"


def term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    per_dt = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(f"regexp_extract_all(text, '{BURST_TOK_RE}', 0)")
            ).alias("t"),
        )
        .groupBy("t", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_t = per_dt.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sq"),
    )
    return per_t.crossJoin(F.broadcast(n_docs)).selectExpr(
        "t AS token",
        "df",
        "sc AS tf_sum",
        "CAST(1000000 * df DIV n_docs AS BIGINT) AS df_ppm",
        """CAST(round(1000000.0 *
             (CAST(n_docs AS DOUBLE) * CAST(sq AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
             / (CAST(n_docs AS DOUBLE) * CAST(sc AS DOUBLE))
           ) AS BIGINT) AS vmr_micro""",
    )


TERM_BURSTINESS_SQL = """
WITH nd AS (SELECT COUNT(*) AS n_docs FROM documents),
per_dt AS (
  SELECT t, doc_id, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{3,}')) AS t
        FROM documents)
  GROUP BY t, doc_id
), per_t AS (
  SELECT t, COUNT(*) AS df, SUM(c) AS sc, SUM(c * c) AS sq
  FROM per_dt GROUP BY t
)
SELECT t AS token,
       CAST(df AS BIGINT) AS df,
       CAST(sc AS BIGINT) AS tf_sum,
       CAST(1000000 * df // n_docs AS BIGINT) AS df_ppm,
       CAST(round(1000000.0 *
            (CAST(n_docs AS DOUBLE) * CAST(sq AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
            / (CAST(n_docs AS DOUBLE) * CAST(sc AS DOUBLE))
          ) AS BIGINT) AS vmr_micro
FROM per_t, nd
"""

QUERIES["term_burstiness"] = term_burstiness
ORACLES["term_burstiness"] = TERM_BURSTINESS_SQL
