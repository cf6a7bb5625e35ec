"""Driver-visible streaming queries — REAL Structured Streaming jobs
(file source, multiple micro-batches, memory or foreachBatch sink) whose
results must hash-match a DuckDB batch truth, so streaming semantics are
oracle rows, not just pytest claims:

- ``streaming_doc_totals``: the stateful per-doc accumulator
  (applyInPandasWithState) across two micro-batches; final state ≡ the
  plain batch aggregate.
- ``streaming_windowed_metrics``: watermarked tumbling windows across
  three batches; the emitted set ≡ an oracle that spells out the
  tolerate/drop watermark literals.
- ``streaming_dedup_exact``: stateful ``dropDuplicates`` suppresses a
  hash re-delivered in a later batch.
- ``streaming_sessionize``: session windows that span a batch boundary
  merge in the state store.
- ``streaming_stream_join``: watermarked stream-stream interval join with
  a dropped late click set.
- ``streaming_static_enrich``: a fact stream joined to a static dimension.
- ``streaming_upsert_merge``: a CDC feed MERGEd latest-wins by
  ``foreachBatch``.
- ``streaming_hll_merge``: HLL registers merged per batch ≡ the one-shot
  batch sketch.
- ``streaming_checkpoint_restart``: exactly-once across a query restart
  from the same checkpoint.

All but the restart query run through ``_run_stream``, which owns the
lifecycle: each source is a parquet file-source stream read one file per
trigger; round *i* writes ONE file per source and is followed by
``processAllAvailable``, so every round is its own micro-batch; the result
is collected (detached) before the query's memory-sink view, the
checkpoint and the input files are removed.  The restart query spells its
lifecycle out because stopping and restarting the query object is what it
tests.

Event feeds are derived deterministically from the corpus tables."""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_craft_spark.queries.analyticsq import (
    CDC_COMPACT_LATEST_SQL,
    CDC_DEL_BP,
    CDC_U1_BP,
    CDC_U2_BP,
)
from pdf_craft_spark.queries.dedup import (
    HASH_PCT_SQL,
    INGEST_BATCH_PCT,
    hash_pct,
    md5_prefix_long_sql as _mpl,
)
from pdf_craft_spark.queries.sketches import (
    _AM2,
    _M,
    _RHO,
    _SCALE,
    _WBITS,
    _bitlen_case,
)
from pdf_craft_spark.sources import load_table

_EVENT_DDL = "doc_id string, kind string, n_chars long, event_time timestamp"


def _run_stream(spark: SparkSession, schemas, rounds, start, result) -> DataFrame:
    """Run one file-fed streaming query to completion and return its
    result detached from the sink.

    ``schemas`` maps each source name to its DDL; each source is its own
    directory, read as a parquet stream one file per trigger.  ``rounds``
    is a list of ``{source: DataFrame}``: round *i* writes each frame as
    one file ``b{i}`` into its source, then waits for the query to drain
    it.  ``start(streams, write)`` starts the query once round 0 is on
    disk, where ``write(df)`` is ``df``'s stream writer with the
    checkpoint set.  ``result(query)`` builds the final frame after the
    query stops; it is collected and re-created before the memory-sink
    view (named after the query), the checkpoint and the inputs go."""
    work = tempfile.mkdtemp(prefix="stream_")
    q = None

    def read(src, ddl):
        path = os.path.join(work, src)
        os.makedirs(path)
        return (
            spark.readStream.schema(ddl)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(path)
        )

    def write(df):
        return df.writeStream.option("checkpointLocation", os.path.join(work, "ckpt"))

    try:
        streams = {src: read(src, ddl) for src, ddl in schemas.items()}
        for i, feeds in enumerate(rounds):
            for src, df in feeds.items():
                df.coalesce(1).write.parquet(os.path.join(work, src, f"b{i}"))
            if q is None:
                q = start(streams, write)
            q.processAllAvailable()
        q.stop()
        final = result(q)
        return spark.createDataFrame(final.collect(), final.schema)
    finally:
        if q is not None:
            q.stop()
            if q.name:
                spark.catalog.dropTempView(q.name)
        shutil.rmtree(work, ignore_errors=True)


@contextlib.contextmanager
def _utc(spark: SparkSession):
    """Pin the session time zone to UTC for the block and restore it after.
    Build a pinned query's feeds inside the block: Spark fixes the zone of
    a timestamp expression when the DataFrame is built."""
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), (F.col("doc_id") % 4).cast("int"))
        ).alias("i"),
        F.length("text").alias("base"),
    )
    return ev.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "i",
        F.lit("text").alias("kind"),
        (F.col("base") + F.col("i")).cast("long").alias("n_chars"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("event_time"),
    )


def streaming_doc_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_craft_spark.streaming.eventtime import running_doc_totals

    events = _events(spark, sf_dir)
    return _run_stream(
        spark,
        {"in": _EVENT_DDL},
        # two rounds == two micro-batches: the second batch must ACCUMULATE
        # onto state built by the first
        [{"in": events.filter(F.col("i") % 2 == k).drop("i")} for k in (0, 1)],
        lambda s, write: write(running_doc_totals(s["in"]))
        .format("memory")
        .queryName("stream_doc_totals")
        .outputMode("update")
        .start(),
        # latest update per doc == the final state == the batch aggregate
        lambda q: spark.table(q.name)
        .groupBy("doc_id")
        .agg(F.max("n_spans").alias("n_events"), F.max("n_chars").alias("n_chars"))
        .orderBy("doc_id"),
    )


# the batch truth the streaming state must equal
STREAMING_DOC_TOTALS_SQL = """
WITH ev AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         length(text) + i AS n_chars
  FROM documents, unnest(range(0, doc_id % 4 + 1)) AS t(i)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM ev GROUP BY doc_id ORDER BY doc_id
"""

def streaming_windowed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window metrics as a REAL streaming job, with
    the late-data contract driver-checked.

    Spark's late-data contract: a late row is ACCEPTED while the watermark
    has not yet passed its window's END (the window is still open), and
    DROPPED once it has.  Three file batches, each fully processed (with
    its trailing no-data watermark-advance batch) before the next file is
    written — the watermark lags one trigger behind the data, so
    back-to-back queued files would see stale watermarks; interleaving
    processAllAvailable() with the writes pins the progression:
      b0  on-time events at 12:00+ (doc_id % 30) minutes   (max 12:29)
      b1  late rows at 12:09:30 for window [12:00,12:10): the watermark
          is 12:09:00 (= 12:29 - 20 min) < 12:10 → window still open →
          tolerated; plus fresh rows at 12:50+ that then advance the
          watermark to 12:34 (> 12:30: all three windows close and emit)
      b2  late rows at 12:03:00 for the now-closed [12:00,12:10) →
          DROPPED (any survivor would emit a duplicate window row and
          break the oracle's row count).
    The DuckDB oracle rebuilds the exact survivor set with the watermark
    literals spelled out — if the drop/tolerate semantics drift, the
    window counts change and the value hash breaks.

    Session timezone is pinned to UTC for the query's duration: Spark's
    tumbling windows align to the UTC epoch, so under a session tz whose
    offset is not a multiple of 10 minutes (e.g. +05:45) the local-time
    round trip would land events in windows the naive DuckDB
    time_bucket never produces."""
    from pdf_craft_spark.streaming.eventtime import windowed_extraction_metrics

    with _utc(spark):
        docs = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("doc_id").alias("id_num"),
            F.length("text").alias("n_chars"),
            (F.col("doc_id") % 30).cast("int").alias("m"),
        )
        base = F.to_timestamp(F.lit("2026-01-01 12:00:00"))
        kind = F.lit("text").alias("kind")

        def ev(df, t):
            return df.select("doc_id", kind, "n_chars", t.alias("event_time"))

        b0 = ev(docs, F.timestamp_add("MINUTE", F.col("m"), base))
        late_ok = ev(
            docs.filter(F.col("id_num") % 5 == 0),
            F.timestamp_add("SECOND", F.lit(570), base),
        )
        late_drop = ev(
            docs.filter(F.col("id_num") % 11 == 0),
            F.timestamp_add("MINUTE", F.lit(3), base),
        )
        fresh = ev(
            docs.filter(F.col("id_num") % 3 == 0),
            F.timestamp_add("MINUTE", F.col("m") % 5 + 50, base),
        )
        return _run_stream(
            spark,
            {"in": _EVENT_DDL},
            [{"in": b0}, {"in": late_ok.unionByName(fresh)}, {"in": late_drop}],
            lambda s, write: write(
                windowed_extraction_metrics(s["in"], "10 minutes", "20 minutes")
            )
            .format("memory")
            .queryName("stream_windowed_metrics")
            .outputMode("append")
            .start(),
            # string-format the window bounds so session-timezone handling
            # cancels on the round trip (to_timestamp -> date_format), and
            # drop the HLL estimate (not DuckDB-reproducible; checked in
            # pytest)
            lambda q: spark.table(q.name)
            .select(
                F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
                "n_spans",
                "n_chars",
            )
            .orderBy("window_start"),
        )


STREAMING_WINDOWED_METRICS_SQL = """
WITH d AS (
  SELECT doc_id, length(text) AS n_chars, doc_id % 30 AS m FROM documents
), b0 AS (
  SELECT n_chars, TIMESTAMP '2026-01-01 12:00:00'
         + to_minutes(CAST(m AS BIGINT)) AS t FROM d
-- watermark after batch 1 = max batch-1 event time - 20 min (derived, not
-- hardcoded: with dense doc_ids max(m)=29 this is 12:09, but a sparser
-- corpus moves it and the oracle must move with Spark)
), wm1 AS (
  SELECT TIMESTAMP '2026-01-01 12:00:00' + to_minutes(CAST(max(m) AS BIGINT))
         - INTERVAL '20 minutes' AS wm FROM d
-- final watermark = max event time across all batches - 20 min; only the
-- fresh batch (12:50 + m%5) can advance it past wm1, and the late rows
-- (12:09:30 / 12:03) never do
), wm2 AS (
  SELECT greatest(
           (SELECT wm FROM wm1),
           coalesce(
             (SELECT TIMESTAMP '2026-01-01 12:50:00'
                     + to_minutes(CAST(max(m % 5) AS BIGINT))
                     - INTERVAL '20 minutes'
              FROM d WHERE doc_id % 3 = 0),
             (SELECT wm FROM wm1))) AS wm
), late_ok AS (
  -- arrive in batch 2: kept iff their window's end (12:10) is still ahead
  -- of the batch-1 watermark (Spark drops a late row only once the
  -- watermark passes its WINDOW END, not its event time)
  SELECT n_chars, TIMESTAMP '2026-01-01 12:09:30' AS t
  FROM d WHERE doc_id % 5 = 0
    AND TIMESTAMP '2026-01-01 12:10:00' > (SELECT wm FROM wm1)
), late_drop AS (
  -- arrive in batch 3 at 12:03: dropped iff the batch-2 watermark already
  -- closed [12:00,12:10) — with dense ids wm2=12:34 so this is empty, but
  -- the condition (not an assumption) is what matches Spark
  SELECT n_chars, TIMESTAMP '2026-01-01 12:03:00' AS t
  FROM d WHERE doc_id % 11 = 0
    AND TIMESTAMP '2026-01-01 12:10:00' > (SELECT wm FROM wm2)
), fresh AS (
  SELECT n_chars, TIMESTAMP '2026-01-01 12:50:00'
         + to_minutes(CAST(m % 5 AS BIGINT)) AS t
  FROM d WHERE doc_id % 3 = 0
), surv AS (
  SELECT * FROM b0 UNION ALL SELECT * FROM late_ok
  UNION ALL SELECT * FROM late_drop UNION ALL SELECT * FROM fresh
), win AS (
  SELECT time_bucket(INTERVAL '10 minutes', t) AS ws, n_chars FROM surv
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S') AS window_end,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM win
-- append mode emits only windows the final watermark passed
WHERE ws + INTERVAL '10 minutes' <= (SELECT wm FROM wm2)
GROUP BY ws ORDER BY ws
"""


QUERIES = {
    "streaming_doc_totals": streaming_doc_totals,
    "streaming_windowed_metrics": streaming_windowed_metrics,
}
ORACLES = {
    "streaming_doc_totals": STREAMING_DOC_TOTALS_SQL,
    "streaming_windowed_metrics": STREAMING_WINDOWED_METRICS_SQL,
}


def streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest exact dedup as a REAL streaming job: two
    micro-batches of (content_hash, batch) rows through a stateful
    ``dropDuplicates`` — a hash first seen in batch 0 must be SUPPRESSED
    when batch 1 re-delivers it (from a different document), so every
    emitted row carries the hash's FIRST batch.  That first-batch column
    is what the DuckDB oracle recomputes declaratively (min batch per
    hash over the same pct split), making the cross-batch state an
    oracle-checked value, not a pytest claim.

    Output rows are batch-deterministic by construction: within a batch
    every duplicate of a hash carries the SAME batch id, so whichever
    physical row ``dropDuplicates`` keeps, the emitted value is
    identical.  At 100 TB the unbounded seen-hash state would be bounded
    with dropDuplicatesWithinWatermark (event-time retention) or the
    committed-index pattern of ``dedup_incremental``; the state
    semantics exercised here are the same."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.md5(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    rows = docs.select(
        norm.alias("content_hash"),
        (hash_pct() >= 100 - INGEST_BATCH_PCT).cast("int").alias("batch"),
    )
    # the synthetic corpus has no exact duplicates below sf0.1, so the
    # feed injects them deterministically (mirrored in the oracle, which
    # derives the SAME thresholds from the module constants): batch 1
    # RE-DELIVERS every pct<_REDELIVER_PCT hash (first seen in batch 0 —
    # these must be suppressed, any survivor shows up as an extra row)
    # and carries pct>=_INTRA_PCT hashes TWICE (intra-batch dedup)
    redeliver = docs.filter(hash_pct() < _REDELIVER_PCT).select(
        norm.alias("content_hash"), F.lit(1).alias("batch")
    )
    intra = docs.filter(hash_pct() >= _INTRA_PCT).select(
        norm.alias("content_hash"), F.lit(1).alias("batch")
    )
    return _run_stream(
        spark,
        {"in": "content_hash string, batch int"},
        [
            {"in": rows.filter(F.col("batch") == 0)},
            {
                "in": rows.filter(F.col("batch") == 1)
                .unionByName(redeliver)
                .unionByName(intra)
            },
        ],
        lambda s, write: write(s["in"].dropDuplicates(["content_hash"]))
        .format("memory")
        .queryName("stream_dedup_exact")
        .outputMode("append")
        .start(),
        lambda q: spark.table(q.name)
        .select("content_hash", F.col("batch").alias("first_batch"))
        .orderBy("content_hash"),
    )


_REDELIVER_PCT = 10
_INTRA_PCT = 95


def _streaming_dedup_sql() -> str:
    return f"""
WITH pct AS (
  SELECT md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_hash,
         {HASH_PCT_SQL} AS p
  FROM documents
), h AS (
  SELECT content_hash,
         CASE WHEN p >= {100 - INGEST_BATCH_PCT} THEN 1 ELSE 0 END AS b
  FROM pct
  UNION ALL  -- batch-1 re-delivery of batch-0 hashes
  SELECT content_hash, 1 AS b FROM pct WHERE p < {_REDELIVER_PCT}
  UNION ALL  -- intra-batch duplicate
  SELECT content_hash, 1 AS b FROM pct WHERE p >= {_INTRA_PCT}
)
SELECT content_hash, CAST(min(b) AS INT) AS first_batch
FROM h GROUP BY content_hash ORDER BY content_hash
"""


STREAMING_DEDUP_EXACT_SQL = _streaming_dedup_sql()


QUERIES["streaming_dedup_exact"] = streaming_dedup_exact
ORACLES["streaming_dedup_exact"] = STREAMING_DEDUP_EXACT_SQL


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful SESSION WINDOWS as a real streaming job: the native
    ``session_window`` gap-merge (gap = 1 day) over the event stream's
    (user_id, ts) rows, fed as three strictly time-ordered micro-batches
    split at time-tertile cuts DERIVED FROM THE DATA's own [min, max] ts
    span (a fixed calendar split would silently lose the time-ordering
    precondition on a corpus spanning multiple months) — so sessions
    that SPAN a batch boundary must be
    carried in the state store and merged when their continuation
    arrives.  A final far-future flush row (sentinel user -1, filtered
    from the output) advances the watermark past every real session's
    end, so append mode emits the complete session set exactly once.

    Why the batch oracle is exact: batches are time-split and the
    watermark delay equals the gap, so an event that could merge into a
    session always arrives while that session is still open (an event
    with ts >= wm cannot belong to a session the watermark already
    closed), and no event is ever late-dropped.  Streaming output ≡
    batch island sessionization — which is exactly what the DuckDB
    oracle computes (a step STRICTLY greater than the gap starts a new
    island: Spark merges an event landing exactly on the previous
    session's end — pinned in tests/test_streaming_sessionize.py;
    session_end = last event + gap).  Session tz pinned UTC like the other event-time jobs."""
    with _utc(spark):
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id") % SESSION_USER_MOD == 0)
            .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        )
        # 1-row stats collect (house-permitted): the two batch-cut instants
        lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
        span = hi - lo
        c1 = lo + span / 3
        c2 = lo + 2 * (span / 3)
        ts = F.col("ts")
        flush = spark.range(1).select(
            F.lit(-1).cast("long").alias("user_id"),
            F.to_timestamp(F.lit("2030-01-01 00:00:00")).alias("ts"),
        )
        return _run_stream(
            spark,
            {"in": "user_id long, ts timestamp"},
            [
                {"in": ev.filter(ts < F.lit(c1))},
                {"in": ev.filter((ts >= F.lit(c1)) & (ts < F.lit(c2)))},
                {"in": ev.filter(ts >= F.lit(c2))},
                {"in": flush},
            ],
            lambda s, write: write(
                s["in"]
                .withWatermark("ts", SESSION_GAP)
                .groupBy(F.session_window(ts, SESSION_GAP).alias("w"), "user_id")
                .agg(F.count("*").alias("n_events"))
            )
            .format("memory")
            .queryName("stream_sessionize")
            .outputMode("append")
            .start(),
            lambda q: spark.table(q.name)
            .filter(F.col("user_id") >= 0)
            .select(
                "user_id",
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                    "session_start"
                ),
                F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                    "session_end"
                ),
                F.col("n_events").cast("long").alias("n_events"),
            )
            .orderBy("user_id", "session_start"),
        )


SESSION_GAP = "1 day"
SESSION_USER_MOD = 11


STREAMING_SESSIONIZE_SQL = f"""
WITH ev AS (
  SELECT user_id, ts FROM events WHERE user_id % {SESSION_USER_MOD} = 0
), flag AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 1 DAY
              THEN 1 ELSE 0 END AS new_s
  FROM ev
), grp AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flag
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts) + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S.%f')
         AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM grp
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


QUERIES["streaming_sessionize"] = streaming_sessionize
ORACLES["streaming_sessionize"] = STREAMING_SESSIONIZE_SQL


# --- stream-stream interval join ---------------------------------------------
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream inner interval join (click attribution): an
    impression stream and a click stream, both watermarked 10 minutes,
    joined on user_id with click_time in [imp_time, imp_time + 10 min] —
    Spark's symmetric hash join keeps bounded per-side state because the
    interval condition upper-bounds how long an impression can still
    match a future click.

    Two micro-batch rounds pin the late-data contract: batch 0 carries
    all impressions + the on-time click set; batch 1 carries more
    on-time clicks (accepted, they join) AND a click set timestamped
    BEFORE the post-batch-0 global watermark — dropped by the join's
    state filter, proved because any survivor would add rows to the lag
    histogram and break the oracle hash.  The global watermark is
    min(max(imp_time), max(click_time)) - 10 min over batch 0 (one
    watermark per query, min across watermarked columns), and the oracle
    DERIVES it from the data rather than hardcoding 12:09.  By
    construction no event lands exactly ON the watermark (on-time
    batch-1 clicks sit >= 1 min above it on a dense corpus), so the
    kept-iff-strictly-newer boundary never decides a row.  State
    eviction is exercised but vacuous here: an impression is evictable
    once wm > imp_time + 10 min, which batch 1's watermark never reaches
    for any batch-0 impression — so the oracle's survivor rule is the
    late-input filter alone.

    The returned frame is the lag histogram (pairs + distinct users per
    click-minus-impression minute), so the driver compare stays a few
    rows while any semantic drift anywhere in the join changes it.

    Scale: state is per-user and watermark-bounded (10-minute horizon),
    the join shuffles both streams on user_id once — the standard
    production attribution topology."""
    with _utc(spark):
        ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
        base = F.to_timestamp(F.lit("2026-01-01 12:00:00"))
        m = (F.col("event_id") % 20).cast("int")
        c = (F.col("event_id") % 7).cast("int")

        def clicks(cond, minutes):
            return ev.filter(cond).select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.timestamp_add("MINUTE", minutes, base).alias("click_time"),
            )

        imps = ev.select(
            F.col("event_id").alias("imp_id"),
            "user_id",
            F.timestamp_add("MINUTE", m, base).alias("imp_time"),
        )
        c0 = clicks(F.col("event_id") % 3 == 0, m + c)
        c1_ok = clicks((F.col("event_id") % 11 == 0) & (m >= 2), m + 8)
        c1_late = clicks(F.col("event_id") % 13 == 0, F.lit(3))

        def start(s, write):
            si = s["imp"].withWatermark("imp_time", "10 minutes").alias("i")
            sc = s["clk"].withWatermark("click_time", "10 minutes").alias("c")
            joined = si.join(
                sc,
                (F.col("i.user_id") == F.col("c.user_id"))
                & (F.col("c.click_time") >= F.col("i.imp_time"))
                & (
                    F.col("c.click_time")
                    <= F.col("i.imp_time") + F.expr("INTERVAL 10 MINUTES")
                ),
                "inner",
            ).select(
                "imp_id",
                "click_id",
                F.col("i.user_id").alias("user_id"),
                "imp_time",
                "click_time",
            )
            return (
                write(joined)
                .format("memory")
                .queryName("stream_stream_join")
                .outputMode("append")
                .start()
            )

        return _run_stream(
            spark,
            {
                "imp": "imp_id long, user_id long, imp_time timestamp",
                "clk": "click_id long, user_id long, click_time timestamp",
            },
            [{"imp": imps, "clk": c0}, {"clk": c1_ok.unionByName(c1_late)}],
            start,
            lambda q: spark.table(q.name)
            .select(
                ((F.unix_micros("click_time") - F.unix_micros("imp_time")) / 60_000_000)
                .cast("int")
                .alias("lag_min"),
                "user_id",
            )
            .groupBy("lag_min")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.countDistinct("user_id").alias("n_users"),
            )
            .orderBy("lag_min"),
        )


STREAMING_STREAM_JOIN_SQL = """
WITH imps AS (
  SELECT event_id AS imp_id, user_id,
         TIMESTAMP '2026-01-01 12:00:00' + to_minutes(event_id % 20) AS imp_time
  FROM events
), c0 AS (
  SELECT event_id AS click_id, user_id,
         TIMESTAMP '2026-01-01 12:00:00'
           + to_minutes(event_id % 20 + event_id % 7) AS click_time
  FROM events WHERE event_id % 3 = 0
), c1_ok AS (
  SELECT event_id AS click_id, user_id,
         TIMESTAMP '2026-01-01 12:00:00' + to_minutes(event_id % 20 + 8) AS click_time
  FROM events WHERE event_id % 11 = 0 AND event_id % 20 >= 2
-- Spark's single global watermark after batch 0: min over both
-- watermarked columns of max(event_time) - 10 min, derived from data
), wm AS (
  SELECT least((SELECT max(imp_time) FROM imps),
               (SELECT max(click_time) FROM c0)) - INTERVAL 10 MINUTE AS w
-- batch-1 rows strictly below the watermark are dropped by the join's
-- state filter; survivors (possible only on a sparse corpus) join normally
), c1_late AS (
  SELECT event_id AS click_id, user_id,
         TIMESTAMP '2026-01-01 12:00:00' + to_minutes(3) AS click_time
  FROM events
  WHERE event_id % 13 = 0
    AND TIMESTAMP '2026-01-01 12:00:00' + to_minutes(3) >= (SELECT w FROM wm)
), clicks AS (
  SELECT * FROM c0 UNION ALL SELECT * FROM c1_ok UNION ALL SELECT * FROM c1_late
), pairs AS (
  SELECT i.user_id,
         CAST(date_diff('minute', i.imp_time, c.click_time) AS INT) AS lag_min
  FROM imps i JOIN clicks c ON i.user_id = c.user_id
  WHERE c.click_time >= i.imp_time
    AND c.click_time <= i.imp_time + INTERVAL 10 MINUTE
)
SELECT lag_min, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM pairs GROUP BY 1 ORDER BY 1
"""

QUERIES["streaming_stream_join"] = streaming_stream_join
ORACLES["streaming_stream_join"] = STREAMING_STREAM_JOIN_SQL


# --- stream-static enrichment join -------------------------------------------
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third canonical streaming join topology (after stream-stream
    and the stateful accumulators): a fact STREAM enriched against a
    STATIC dimension snapshot.  Spark re-plans the join per micro-batch
    with the dimension as an ordinary batch relation — broadcast when
    small, so the stream side never shuffles; no watermark, no state
    store (the static side is a snapshot, not a changing input).

    Two order file-batches (split by o_orderkey parity) stream through a
    join against the customer dimension and land in a memory sink; the
    final frame is the per-segment rollup, which equals the plain batch
    join — THE invariant stream-static enrichment must satisfy (each
    micro-batch sees the same dimension snapshot).  Any per-batch
    re-planning drift (lost rows, double joins) breaks the count/revenue
    hash.  Revenue goes through DECIMAL(18,2) so summation order cannot
    split the engines."""
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return _run_stream(
        spark,
        {"in": "o_orderkey long, o_custkey long, o_totalprice double"},
        [{"in": orders.filter(F.col("o_orderkey") % 2 == k)} for k in (0, 1)],
        lambda s, write: write(
            s["in"]
            .join(dim, s["in"]["o_custkey"] == dim["c_custkey"])
            .select(
                "o_orderkey",
                "c_mktsegment",
                F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
            )
        )
        .format("memory")
        .queryName("stream_static_enrich")
        .outputMode("append")
        .start(),
        lambda q: spark.table(q.name)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("price").cast("double"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment"),
    )


STREAMING_STATIC_ENRICH_SQL = """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY 1 ORDER BY 1
"""

QUERIES["streaming_static_enrich"] = streaming_static_enrich
ORACLES["streaming_static_enrich"] = STREAMING_STATIC_ENRICH_SQL


def streaming_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-lakehouse WRITE pattern: a CDC change feed consumed
    with ``foreachBatch``, each micro-batch MERGEd latest-wins into the
    accumulated table state (the Delta/Iceberg upsert loop).  The feed is
    the same deterministic 4-version log cdc_compact_latest synthesizes,
    delivered as three ordered micro-batches (inserts; two update waves;
    deletes); within a batch the merge argmaxes on version, across
    batches the incoming batch wins ties by construction (versions are
    globally ordered).  The invariant the oracle checks: after the last
    micro-batch, the streamed-upsert snapshot EQUALS the one-shot batch
    compaction of the full log — if foreachBatch dropped, reordered or
    double-applied a batch, the hash breaks.  State is materialized per
    batch (localCheckpoint — the written-table twin of a real MERGE
    target); tombstones filter only at read time so a later re-insert
    could resurrect a key (none does in this feed, by recipe)."""
    bp = _mpl("CAST(o_orderkey AS STRING)", 4, "spark") + " % 10000"
    base = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_orderstatus",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
        f"({bp}) AS bp",
    )
    feed = [
        base.selectExpr(
            "o_orderkey", "0L AS version", "'I' AS op", "o_orderstatus",
            "cents",
        ),
        base.filter(F.col("bp") < CDC_U1_BP)
        .selectExpr(
            "o_orderkey", "1L AS version", "'U' AS op",
            "'P' AS o_orderstatus", "cents + 500 AS cents",
        )
        .unionByName(
            base.filter(F.col("bp") < CDC_U2_BP).selectExpr(
                "o_orderkey", "2L AS version", "'U' AS op",
                "'F' AS o_orderstatus", "cents + 1000 AS cents",
            )
        ),
        base.filter(F.col("bp") >= CDC_DEL_BP).selectExpr(
            "o_orderkey", "3L AS version", "'D' AS op", "o_orderstatus",
            "0L AS cents",
        ),
    ]

    state: dict = {"df": None}

    def merge(bdf, batch_id):
        latest = (
            bdf.groupBy("o_orderkey")
            .agg(F.max(F.struct("version", "op", "o_orderstatus", "cents")).alias("m"))
            .selectExpr(
                "o_orderkey", "m.version AS version", "m.op AS op",
                "m.o_orderstatus AS o_orderstatus", "m.cents AS cents",
            )
        )
        if state["df"] is None:
            state["df"] = latest.localCheckpoint(eager=True)
            return
        s = state["df"].alias("s")
        n = latest.alias("n")
        merged = (
            s.join(n, F.col("s.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
            .selectExpr(
                "coalesce(n.o_orderkey, s.o_orderkey) AS o_orderkey",
                # incoming batch wins when present: versions are globally
                # ordered across micro-batches by feed construction
                "CASE WHEN n.version IS NOT NULL THEN n.version"
                "     ELSE s.version END AS version",
                "CASE WHEN n.version IS NOT NULL THEN n.op ELSE s.op END"
                " AS op",
                "CASE WHEN n.version IS NOT NULL THEN n.o_orderstatus"
                "     ELSE s.o_orderstatus END AS o_orderstatus",
                "CASE WHEN n.version IS NOT NULL THEN n.cents"
                "     ELSE s.cents END AS cents",
            )
        )
        state["df"] = merged.localCheckpoint(eager=True)

    return _run_stream(
        spark,
        {
            "in": "o_orderkey long, version long, op string,"
            " o_orderstatus string, cents long"
        },
        [{"in": f} for f in feed],
        lambda s, write: write(s["in"]).foreachBatch(merge).start(),
        lambda _q: state["df"]
        .filter(F.col("op") != "D")
        .selectExpr(
            "o_orderkey",
            "o_orderstatus",
            "CAST(cents AS BIGINT) AS cents",
            "CAST(version AS BIGINT) AS version",
        )
        .orderBy("o_orderkey"),
    )


def _streaming_upsert_sql() -> str:
    # the invariant IS batch compaction: same log, same latest-wins rule
    return (
        "SELECT o_orderkey, o_orderstatus, cents, version FROM ("
        + CDC_COMPACT_LATEST_SQL
        + ") ORDER BY o_orderkey"
    )


STREAMING_UPSERT_MERGE_SQL = _streaming_upsert_sql()

QUERIES["streaming_upsert_merge"] = streaming_upsert_merge
ORACLES["streaming_upsert_merge"] = STREAMING_UPSERT_MERGE_SQL


def streaming_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY under real incremental execution — the reason
    registers exist at 100 TB: the event feed arrives as three time-split
    micro-batches, each batch reduces to per-(event_type, bucket) HLL
    register maxes, and ``foreachBatch`` merges them into the accumulated
    state by register-wise GREATEST (a full-outer join on the register
    key — the written-sketch-table twin).  The oracle is the ONE-SHOT
    batch sketch over the whole table: registers are set-max-composable,
    so the streamed merge must be BIT-IDENTICAL to the batch build no
    matter how rows were batched — if foreachBatch dropped, double-
    applied or mis-merged a batch, every downstream estimate hash breaks.
    Counted entity: (user, day) per event_type (~1,600 per type at
    sf0.01 — inside the m=256 raw-estimate validity band, same choice as
    sliding_hll_user_days_7d); the exact distinct count rides along so
    the record shows estimator error, not just merge equality."""
    key = "concat(CAST(user_id AS STRING), '|', CAST(day AS STRING))"
    h = _mpl(key, 15, "spark")
    base = (
        load_table(spark, sf_dir, "events")
        .selectExpr(
            "event_type",
            "datediff(CAST(ts AS DATE), DATE '1970-01-01') AS day",
            "user_id",
        )
        .selectExpr(
            "event_type",
            "day",
            "user_id",
            "day % 3 AS batch_id",
            f"({h}) AS h",
        )
        .selectExpr(
            "event_type",
            "day",
            "user_id",
            "batch_id",
            f"CAST(h % {_M} AS INT) AS bucket",
            f"h DIV {_M} AS w",
        )
        .selectExpr(
            "event_type", "day", "user_id", "batch_id", "bucket",
            f"{_RHO} AS rho",
        )
        .localCheckpoint(eager=True)
    )

    state: dict = {"df": None}

    def merge(bdf, batch_id):
        regs = (
            bdf.groupBy("event_type", "bucket")
            .agg(F.max("rho").alias("mreg"))
        )
        if state["df"] is None:
            state["df"] = regs.localCheckpoint(eager=True)
            return
        s = state["df"].alias("s")
        n = regs.alias("n")
        state["df"] = (
            s.join(
                n,
                (F.col("s.event_type") == F.col("n.event_type"))
                & (F.col("s.bucket") == F.col("n.bucket")),
                "full_outer",
            )
            .selectExpr(
                "coalesce(s.event_type, n.event_type) AS event_type",
                "coalesce(s.bucket, n.bucket) AS bucket",
                "greatest(coalesce(s.mreg, 0), coalesce(n.mreg, 0)) AS mreg",
            )
            .localCheckpoint(eager=True)
        )

    def result(_q):
        sums = state["df"].groupBy("event_type").agg(
            F.expr(
                f"CAST(sum(CAST(power(2, {_WBITS + 1} - mreg) AS BIGINT))"
                f" + ({_M} - count(1)) * {_SCALE} AS BIGINT)"
            ).alias("s_scaled"),
            F.count(F.lit(1)).cast("int").alias("n_buckets_set"),
        )
        exact = (
            base.select("event_type", "day", "user_id")
            .distinct()
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("exact_user_days"))
        )
        return (
            sums.join(exact, "event_type")
            .selectExpr(
                "event_type",
                f"CAST(round(CAST({_AM2} AS DOUBLE) * CAST({_SCALE} AS"
                " DOUBLE) / CAST(s_scaled AS DOUBLE), 3) AS DOUBLE)"
                " AS est_user_days",
                "n_buckets_set",
                "exact_user_days",
            )
            .orderBy("event_type")
        )

    return _run_stream(
        spark,
        {"in": "event_type string, bucket int, rho int"},
        [
            {
                "in": base.filter(F.col("batch_id") == b).select(
                    "event_type", "bucket", "rho"
                )
            }
            for b in range(3)
        ],
        lambda s, write: write(s["in"]).foreachBatch(merge).start(),
        result,
    )


def _streaming_hll_sql() -> str:
    key = "CAST(user_id AS VARCHAR) || '|' || CAST(day AS VARCHAR)"
    hd = _mpl(key, 15, "duck")
    return f"""
WITH base AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         user_id
  FROM events
), rho AS (
  SELECT event_type,
         CAST(h % {_M} AS INT) AS bucket,
         {_WBITS + 1} - {_bitlen_case(f'(h // {_M})')} AS rho
  FROM (SELECT event_type, ({hd}) AS h FROM base)
), regs AS (
  SELECT event_type, bucket, max(rho) AS mreg
  FROM rho GROUP BY event_type, bucket
), sums AS (
  SELECT event_type,
         CAST(sum(CAST(power(2, {_WBITS + 1} - mreg) AS BIGINT))
              + ({_M} - count(*)) * {_SCALE} AS BIGINT) AS s_scaled,
         CAST(count(*) AS INT) AS n_buckets_set
  FROM regs GROUP BY event_type
), exact AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS exact_user_days
  FROM (SELECT DISTINCT event_type, day, user_id FROM base)
  GROUP BY event_type
)
SELECT s.event_type AS event_type,
       CAST(round(CAST({_AM2} AS DOUBLE) * CAST({_SCALE} AS DOUBLE)
            / CAST(s_scaled AS DOUBLE), 3) AS DOUBLE) AS est_user_days,
       n_buckets_set,
       exact_user_days
FROM sums s JOIN exact e ON e.event_type = s.event_type
ORDER BY event_type
"""


STREAMING_HLL_MERGE_SQL = _streaming_hll_sql()

QUERIES["streaming_hll_merge"] = streaming_hll_merge
ORACLES["streaming_hll_merge"] = STREAMING_HLL_MERGE_SQL


def streaming_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ACROSS A RESTART — the streaming property everything
    else rests on: a query consumes micro-batch 0, STOPS (planned
    restart / executor loss), and a NEW query object resumes from the
    same checkpointLocation to consume batches 1-2.  The sink is a
    durable append table of per-(event_type, batch) partial aggregates —
    deliberately NOT driver memory, which would survive this in-process
    restart and prove nothing.  The invariant the oracle hashes: summed
    partials equal the one-shot batch aggregate of the whole feed AND
    each type saw exactly 3 batch appends — if the restarted query
    re-delivered batch 0 (at-least-once without checkpoint dedup) the
    sums double and n_batches hits 4+; if it skipped ahead, they
    undercount.  Feed = the events table split into three deterministic
    10-day windows, same recipe as streaming_hll_merge."""
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(ts AS DATE) AS day",
        "CAST(round(value * 100) AS BIGINT) AS cents",
    )
    lo = ev.agg(F.min("day").alias("d0"))
    evc = ev.crossJoin(F.broadcast(lo)).selectExpr(
        "event_type",
        "cents",
        "CAST(datediff(day, d0) AS INT) DIV 10 AS win",
    )
    feed = [evc.where(F.col("win") == i).drop("win") for i in range(3)]

    work = tempfile.mkdtemp(prefix="stream_restart_")
    in_dir = os.path.join(work, "in")
    out_dir = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    schema = "event_type string, cents long"

    def sink(bdf, batch_id):
        (
            bdf.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("cents").cast("long").alias("c"),
            )
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .coalesce(1)
            .write.mode("append")
            .parquet(out_dir)
        )

    def start_query():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(in_dir)
        )
        return (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    try:
        feed[0].coalesce(1).write.parquet(os.path.join(in_dir, "b0"))
        q1 = start_query()
        try:
            q1.processAllAvailable()
        finally:
            q1.stop()  # planned restart: q1 is gone, checkpoint survives
        feed[1].coalesce(1).write.parquet(os.path.join(in_dir, "b1"))
        feed[2].coalesce(1).write.parquet(os.path.join(in_dir, "b2"))
        q2 = start_query()
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        final = (
            spark.read.parquet(out_dir)
            .groupBy("event_type")
            .agg(
                F.sum("n").cast("long").alias("n_events"),
                F.sum("c").cast("long").alias("sum_cents"),
                F.countDistinct("batch_id").cast("long").alias("n_batches"),
            )
            .orderBy("event_type")
        )
        rows = final.collect()
        return spark.createDataFrame(rows, final.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


STREAMING_CHECKPOINT_RESTART_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(3 AS BIGINT) AS n_batches
FROM events
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["streaming_checkpoint_restart"] = streaming_checkpoint_restart
ORACLES["streaming_checkpoint_restart"] = STREAMING_CHECKPOINT_RESTART_SQL
