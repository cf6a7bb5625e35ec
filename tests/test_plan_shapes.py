"""Physical-plan shape guards: the scale properties PLANS.md documents are
asserted here so a future edit cannot silently regress them.

- ANN candidate generation stays an equi-join (no CartesianProduct /
  BroadcastNestedLoopJoin anywhere in either plan);
- the relational family keeps predicate pushdown + column pruning at the
  parquet scan;
- the extraction plan is fully NARROW (zero exchanges) between scan and
  kernel for every input, and building it starts no Spark job; the
  rebalance of under-partitioned inputs lives in the landing.
"""

from __future__ import annotations

import uuid

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs_started(spark, fn) -> list[int]:
    """Run ``fn()`` under a fresh job group; the ids of the jobs it started."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", ["sim_lsh_topk", "sim_ivf_topk"])
def test_ann_plans_have_no_cartesian(spark, name):
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan  # candidates come from an equi-join


def test_a1_scan_pushdown_and_pruning(spark):
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["a1_pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [" in plan and "LessThanOrEqual(l_shipdate" in plan
    # projection pruning: the 4-column money math must not drag the wide
    # comment/name columns through the scan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


@pytest.mark.parametrize(
    "builder, kwargs",
    [
        ("extract_spans_df", {}),
        ("extract_markdown_df", {}),
        ("extract_epub_records_df", {"which": "records"}),
        ("extract_epub_records_df", {"which": "toc"}),
    ],
    ids=["spans", "markdown", "records", "toc"],
)
def test_extraction_has_zero_exchanges(spark, builder, kwargs):
    """Round 4: extraction is fully narrow — one row per document means
    explode already co-locates every doc's spans, so no sink's plan may
    carry an exchange at all (only a partition-local sort), whatever the
    input's partition count."""
    from pdf_craft_spark.plans import pipeline

    build = getattr(pipeline, builder)
    for docs in (pipeline.corpus_df(spark, 64), pipeline.corpus_df(spark, 8, partitions=1)):
        plan = _executed_plan(build(docs, **kwargs))
        n_exchanges = plan.count("Exchange ")
        assert n_exchanges == 0, f"expected a fully narrow plan, got:\n{plan}"
        assert "Sort " in plan  # the partition-local offset-order restore


def test_building_extraction_plans_starts_no_job(spark):
    """Building any extraction plan, over a scan or over the landing's
    broadcast anti-join, runs nothing: asking the anti-join for its
    partition count would run the committed-ids scan and its broadcast."""
    from pyspark.sql import functions as F

    from pdf_craft_spark.plans import pipeline

    docs = pipeline.corpus_df(spark, 8, partitions=2)
    done = pipeline.corpus_df(spark, 4, partitions=1).select("doc_id").distinct()
    todo = docs.join(F.broadcast(done), "doc_id", "left_anti")
    builds = (
        pipeline.extract_spans_df,
        pipeline.extract_markdown_df,
        pipeline.extract_epub_records_df,
        lambda d: pipeline.extract_epub_records_df(d, which="toc"),
    )
    for source in (docs, todo):
        for build in builds:
            assert _jobs_started(spark, lambda: build(source)) == []


def test_extraction_rebalances_underpartitioned_input(spark, tmp_path):
    """The zero-shuffle plan's one precondition is parallelism: the
    landing rebalances a source with fewer partitions than cores
    (nested-row repartition — doc atomicity preserved by construction),
    so the kernel runs on at least one partition per core."""
    from pdf_craft_spark.plans.checkpoint import append_uncommitted
    from pdf_craft_spark.plans.pipeline import corpus_df
    from pdf_craft_spark.plans.sinks import ParquetBucketSink

    jobs: list[int] = []

    class Sink(ParquetBucketSink):
        def append_spans(self, flat):
            jobs.extend(_jobs_started(spark, lambda: super(Sink, self).append_spans(flat)))

    append_uncommitted(corpus_df(spark, 8, partitions=1), Sink(str(tmp_path / "out")), "r1")
    tracker = spark.sparkContext.statusTracker()
    tasks = [
        info.numTasks
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
        if (info := tracker.getStageInfo(s)) is not None
    ]
    assert max(tasks) >= spark.sparkContext.defaultParallelism, tasks


def test_minhash_band_index_is_materialized(spark):
    """The LSH band self-join must read the materialized index on BOTH
    sides — a parquet scan in the final plan means Catalyst re-inlined
    the shingle→hash→agg pipeline into a join input (2x corpus scan at
    scale)."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["dedup_minhash_lsh"](spark, SF_DIR))
    assert "Scan parquet" not in plan, plan


def test_budget_abort_prunes_via_broadcast_anti_join(spark):
    """a8_budget_abort must decide the abort set from the cheap marker scan
    and prune docs BEFORE the kernel: a broadcast LeftAnti join feeding the
    extraction side, never a shuffled join of the full corpus."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["a8_budget_abort"](spark, SF_DIR))
    assert "LeftAnti, BuildRight" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_jaccard_df_cutoff_is_broadcast_anti_join(spark):
    """The document-frequency cutoff must prune hot tokens via a
    BROADCAST anti-join (the hot set is tiny by construction) — a
    shuffled anti-join here would add a full exchange of the exploded
    token table."""
    from pdf_craft_spark.queries import QUERIES

    for name in ("dedup_token_jaccard_topk", "dedup_shingle_jaccard"):
        plan = _executed_plan(QUERIES[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, (name, plan)
        assert "CartesianProduct" not in plan, name


def test_incremental_dedup_plan_shape(spark):
    """The ingest check must stay batch-proportional: band candidates via
    equi hash join against the committed index, exact check via hash join
    on the content hash — no cartesian / nested-loop surface anywhere."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["dedup_incremental"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_traindata_plan_shapes(spark):
    """split is a pure projection (its only exchange is the driver-facing
    orderBy); pack carries exactly the shard exchange + that orderBy; the
    contamination join is an equi-join, never a cartesian."""
    from pdf_craft_spark.queries import QUERIES

    split_plan = _executed_plan(QUERIES["split_train_val_test"](spark, SF_DIR))
    assert split_plan.count("Exchange ") <= 1, split_plan

    pack_plan = _executed_plan(QUERIES["pack_training_sequences"](spark, SF_DIR))
    assert pack_plan.count("Exchange ") <= 2 and "Window" in pack_plan, pack_plan

    cont_plan = _executed_plan(QUERIES["contamination_check"](spark, SF_DIR))
    assert "CartesianProduct" not in cont_plan
    # the only nested-loop join is the df-cutoff's broadcast 1-row corpus
    # count (same benign shape as the jaccard ops); the cutoff itself must
    # be a broadcast ANTI hash join and the shingle join an equi hash join
    assert cont_plan.count("BroadcastNestedLoopJoin") <= 1, cont_plan
    assert "BroadcastHashJoin" in cont_plan and "LeftAnti" in cont_plan, cont_plan

    # exact greedy: the shard exchange feeding the stateful kernel + the
    # driver-facing orderBy, nothing more
    greedy_plan = _executed_plan(QUERIES["pack_greedy_exact"](spark, SF_DIR))
    assert greedy_plan.count("Exchange ") <= 2, greedy_plan
    assert "FlatMapGroupsInPandas" in greedy_plan or "ApplyInPandas" in greedy_plan, (
        greedy_plan
    )

    # quantization is a pure projection (orderBy exchange only)
    q_plan = _executed_plan(QUERIES["embed_quantize_int8"](spark, SF_DIR))
    assert q_plan.count("Exchange ") <= 1, q_plan


def test_range_join_is_bucketized_equi_join(spark):
    """The 24h-window range join must plan as a hash/sort-merge equi-join
    on (user_id, day-bucket) — never the BroadcastNestedLoopJoin Spark
    produces for a raw non-equi time predicate."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["range_join_click_attribution"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_hypertable_rollup_reaggregates_hourly(spark):
    """The daily grain must derive from the hourly partials: one raw-scan
    branch, two HashAggregate levels stacked above it (plus the final
    union/sort) — not a second scan of events."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["hypertable_rollup_events"](spark, SF_DIR))
    assert plan.count("Scan parquet") <= 2  # hourly branch + daily-ladder branch
    # the re-aggregation property: the daily branch stacks TWO agg levels
    # (hourly partial+final, then daily partial+final) above its scan, so
    # the whole plan carries >= 6 HashAggregates (hourly branch has 2); a
    # naive daily-direct-from-raw rewrite would show only 4
    assert plan.count("HashAggregate") >= 6, plan


def test_hll_sketch_is_two_level_aggregation(spark):
    """Registers come from a partial-max agg (the merge operator) and the
    estimate from a constant-size second agg — no distinct-expand of the
    raw rows on the sketch path, no per-row Python."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["hll_distinct_orders"](spark, SF_DIR))
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the stated "no distinct-expand of raw rows": a multi-distinct
    # regression would plan an Expand multiplying the lineitem scan
    assert "Expand" not in plan, plan


def test_mixture_sampling_big_table_path_is_broadcast_only(spark):
    """The documents scan must be filtered via broadcast joins — the only
    exchanges are the tiny counts aggregate and the driver-facing
    orderBy; the wide table itself is never shuffled."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["sample_mixture_by_lang"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    # the only nested-loop join is the broadcast 1-row min (same benign
    # shape as the dedup df-cutoff); the lang-counts subtree may shuffle
    # its 1-column projection (twice — counts + min branches), but the
    # wide documents scan itself must never be hash-exchanged
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "Exchange hashpartitioning(doc_id" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_funnel_single_user_exchange(spark):
    """The three stage-min windows must share ONE user_id partitioning —
    a window with different keys (or a distinct hoisted above them) would
    add a second wide shuffle and break the documented scale shape."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["funnel_conversion"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 3, plan


def test_asof_join_is_single_window_no_join(spark):
    """The as-of join must execute as the merge-sorted-streams plan: one
    user_id shuffle feeding one window, and NO join operator at all —
    reintroducing an inequality join would make it quadratic per user."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["asof_join_last_click"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_keyword_tfidf_no_cartesian_single_text_scan(spark):
    """tf/df/top-k must be ONE linear pipeline over a single tokenizing
    explode: df comes from a whole-partition count window over the tf
    rows, NOT a tf-joined-with-groupBy-of-tf self-join (which makes
    Catalyst re-derive the tf subtree and tokenize the text twice).
    Exactly three key exchanges — (doc_id,term), (term), (doc_id) — all
    explicitly sized; the only nested-loop join is the broadcast 1-row
    doc count."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["keyword_tfidf_topk"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert plan.count("Generate explode") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 3, plan


def test_repetition_filter_codegen_grams_no_cartesian(spark):
    """Grams must come from the codegen pipeline — ONE tokenizing
    posexplode plus ONE stack unpivot (a transform()-lambda gram builder
    was measured 4-10x slower and would show as extra Generates or
    re-tokenization); the spine join back to documents is an equi-join,
    never a nested loop."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["text_repetition_filter"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Generate posexplode") == 1, plan
    assert plan.count("Generate stack") == 1, plan
    assert plan.count("Generate") == 2, plan


def test_scd2_merge_is_broadcast_left_join(spark):
    """The CDC merge joins the big dim against the small delta exactly
    once, broadcast, LeftOuter — no shuffle of the dimension side and no
    nested loop."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["scd2_customer_history"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan, plan


def test_sq8_scores_materialized_codes_not_requantized(spark):
    """The quantized index must be materialized (ExistingRDD from the
    localCheckpoint) so the interpreted transform() is evaluated once per
    vector, never inlined into the scoring join; the only nested loop is
    the broadcast N_QUERIES-row side."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["sim_sq8_topk"](spark, SF_DIR))
    assert "ExistingRDD" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "transform" not in plan.split("BroadcastNestedLoopJoin")[-1], plan


def test_anomaly_scaffold_bounded_joins(spark):
    """The zero-filled hourly counts must be materialized once
    (ExistingRDD) and feed BOTH the stats agg and the flag projection —
    without that Catalyst re-derives the scaffold+agg subtree, scanning
    the event table twice.  No nested loop may survive into the final
    plan (the bounded types x hours scaffold sits behind the
    materialization), and the stats attach is a broadcast equi-join."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["anomaly_hourly_events"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_cms_sketch_broadcast_probe_two_scans(spark):
    """The d*w-row sketch must broadcast onto the probe side; the probe
    dim derives from the exact aggregate (no third scan of orders) and
    nothing goes nested-loop."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["cms_heavy_hitters"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Scan parquet") <= 2, plan


def test_triangle_stats_reads_materialized_pairs(spark):
    """All four references to the near-dup pair list must read the
    materialized table (ExistingRDD) — a parquet scan in the plan means
    Catalyst re-derived the shingle->minhash->band pipeline per
    reference; the triangle closure is equi-join + LeftSemi, never a
    nested loop."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["graph_triangle_stats"](spark, SF_DIR))
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftSemi" in plan, plan


def test_transition_matrix_single_user_shuffle(spark):
    """The lead window and nothing else sees event volume: exactly one
    hashpartitioning exchange on user_id before the tiny (from, to)
    aggregate; no joins at all."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["event_transition_matrix"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_incremental_agg_merge_joins_aggregates_not_raw(spark):
    """The full-outer merge must join the two ~|groups|-row aggregates —
    both join inputs sit above a HashAggregate, the orders scan feeds the
    aggregates (2 scans of the pct-split source, never a third), and
    nothing goes nested-loop."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["incremental_agg_maintenance"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FullOuter" in plan, plan
    assert plan.count("Scan parquet") <= 2, plan


def test_gap_fill_scaffold_from_bounds_no_nested_loop(spark):
    """The dense scaffold derives from the 1-row bounds aggregate
    (sequence explode), the known counts attach via an equi-join, and the
    neighbor windows run over the hour frame — no cartesian anywhere."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["timeseries_gap_fill"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Generate explode") == 1, plan


def test_inverted_index_one_token_shuffle(spark):
    """Token volume is shuffled exactly once (the (term, doc) partial
    count); the term-level window + aggregate ride the term
    repartitioning.  No joins, no nested loops."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["inverted_index_postings"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "Generate explode" in plan, plan
    # two key exchanges total: (term, doc_id) for the partial count,
    # term for the window/final agg
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_zorder_pure_arithmetic_single_agg(spark):
    """The Morton interleave is row-local codegen arithmetic: one scan,
    one aggregate exchange, no joins, no Python."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["zorder_cluster_key"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_dq_expectations_anti_join_not_nested(spark):
    """The referential check is a real anti equi-join (broadcast or
    shuffled), never a nested loop; the conditional-aggregate sweep costs
    one orders scan, the anti-join probe a second."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["dq_expectations_orders"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "LeftAnti" in plan, plan
    nested = [seg for seg in plan.split("BroadcastNestedLoopJoin")[1:]]
    # the only permissible nested loop is the 1-row n_rows attach
    assert len(nested) <= 1, plan
    # the sweep aggregate is materialized once (ExistingRDD); orders is
    # scanned exactly twice (sweep + anti-join probe), customer once —
    # a third orders scan means the n_rows attach re-derived the sweep
    assert "ExistingRDD" in plan, plan
    assert plan.count("Scan parquet") <= 2, plan


def test_er_blocking_is_equi_join(spark):
    """Candidate generation must be a hash/sort-merge equi-join on the
    blocking key — an ER pass that plans as a cartesian with a filter
    would be quadratic in the customer count."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["er_fuzzy_match_customers"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_market_basket_pair_join_on_order_key(spark):
    """Pair generation must be an equi-join on l_orderkey (basket-bounded
    fan-out) — a cartesian or part-keyed join would be quadratic in the
    part count.  The 1-row order count is the only permissible nested
    loop."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["market_basket_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "l_orderkey" in plan, plan


def test_json_extract_no_python_single_scan(spark):
    """JSON path extraction stays engine-native: one scan, no Python
    evaluators, no joins."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["json_extract_props"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_rfm_fact_agg_then_dimension_windows(spark):
    """The orders fact table is aggregated BEFORE the ntile windows (the
    windows sort only the customer dimension); one fact scan for the
    metrics + one for the 1-row anchor, anchor attach broadcast."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["ntile_rfm_segments"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert plan.count("Scan parquet") <= 2, plan


def test_skyline_window_formulation_no_pairwise(spark):
    """The Spark side must be the O(n log n) running-max window, never the
    oracle's quadratic NOT EXISTS (which would plan as a nested loop)."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["skyline_pareto_parts"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan


def test_reservoir_is_take_ordered_no_global_sort(spark):
    """The hash-priority sample must plan as TakeOrderedAndProject (per-
    partition top-k reduce, k rows shipped per task) — a full global Sort
    of the corpus here would be the non-scalable formulation."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["reservoir_sample_docs"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan


def test_trigram_paths_single_user_shuffle(spark):
    """Both lead offsets share one user_id window partitioning; the rank
    window runs over the ≤125-row path aggregate."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["event_path_trigrams"](spark, SF_DIR))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan, plan


def test_profile_single_scan(spark):
    """All five column profiles (incl. the multi-distinct counts) must
    come from ONE scan of documents — the Expand-based multi-distinct
    plan, never five per-column scans."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["dq_profile_documents"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_label_propagation_rounds_read_materialized_tables(spark):
    """Each LPA round must read the materialized edge/label tables
    (ExistingRDD) — a parquet scan means Catalyst re-derived the
    minhash pipeline into an iteration; the argmax is a window over the
    (v,label) aggregate, no nested loops anywhere."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["graph_label_propagation"](spark, SF_DIR))
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bucketed_join_has_no_join_side_exchange(spark):
    """Both join inputs read bucketed tables with matching specs, so the
    join must consume them with ZERO exchanges on either side — the only
    exchange in the whole plan is the post-join nation aggregate.  (The
    plan is captured inside the query run, before its temp tables drop.)"""
    from pdf_craft_spark.queries import QUERIES
    import pdf_craft_spark.queries.sourcesq as sq

    QUERIES["bucketed_join_colocate"](spark, SF_DIR).collect()
    plan = sq._LAST_BUCKETED_PLAN
    assert "SortMergeJoin" in plan, plan
    join_subtree = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange hashpartitioning(c_custkey" not in join_subtree, plan
    assert "Exchange hashpartitioning(o_custkey" not in join_subtree, plan
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan


def test_cdc_diff_single_full_outer(spark):
    """The snapshot diff is ONE full-outer equi-join on the key; no
    nested loops, and the customer source feeds both sides (≤2 scans)."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["cdc_snapshot_diff"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FullOuter" in plan, plan


def test_rolling_window_slides_over_daily_aggregate(spark):
    """The RANGE frame must slide over the pre-aggregated day spine, not
    raw orders: one scan, one agg exchange, the window above the agg."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["rolling_revenue_7d"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" in plan and "Window" in plan, plan


def test_cep_single_user_aggregate(spark):
    """The symbol-sequence build is one user-keyed aggregate; the regex
    runs in the projection — no joins, no Python evaluators."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["cep_pattern_match"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_lm_bigram_trained_table_broadcasts(spark):
    """The trained bigram table must attach via a broadcast hash join —
    the LM scoring-table pattern; val bigrams never re-shuffle onto the
    trained side."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["text_lm_bigram_score"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_setsim_prefix_probes_materialized_shingles(spark):
    """All shingle references (ranking, both prefix probe sides, the
    verify intersection, sizes) must read the ONE materialized table
    (ExistingRDD, no parquet re-scan of documents), and every join stays
    an equi hash join."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["setsim_prefix_join"](spark, SF_DIR))
    assert "ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_knn_graph_blocked_equi_join(spark):
    """Pair generation must equi-join on the label block — never a
    corpus-level cartesian; ranking rides the per-vector window."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["knn_graph_block"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan


def test_bpe_pairs_expand_from_word_table_not_corpus(spark):
    """The char-pair transform must run above the word-frequency
    aggregate (vocabulary-sized), with exactly one corpus scan feeding
    the word count; no joins."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["bpe_merge_candidates"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    # two Generates: token explode (corpus side) + pair explode (vocab
    # side), separated by the word-count aggregate
    assert plan.count("Generate") == 2 and "HashAggregate" in plan, plan


def test_spatial_grid_join_no_cartesian(spark):
    """The grid join must stay an equi-join on cell ids — a regression to
    the quadratic formulation (the oracle's shape) would be a
    BroadcastNestedLoopJoin/CartesianProduct on the distance predicate."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["spatial_grid_join"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_kmeans_round_joins_centroids_broadcast(spark):
    """Each Lloyd round joins the component rows against the K centroid
    COLUMNS — that side is K x DIM literals and must broadcast; a shuffle
    join on pos would reshuffle the big component table every round.
    (The query's own final plan only shows the post-checkpoint rollup, so
    the guard inspects the round builder directly.)"""
    from pyspark.sql import functions as F

    from pdf_craft_spark.queries.similarity import (
        KMEANS_K,
        _emb,
        _kmeans_round_dists,
    )

    q = _emb(spark, SF_DIR).select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).selectExpr("vec_id", "pos", "CAST(floor(x * 1000) AS LONG) AS qv")
    cdf = spark.createDataFrame(
        [tuple([p] + [0] * KMEANS_K) for p in range(64)],
        "pos int, " + ", ".join(f"c{j} long" for j in range(KMEANS_K)),
    )
    plan = _executed_plan(_kmeans_round_dists(q, cdf, KMEANS_K))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_conjunctive_query_broadcasts_terms(spark):
    """Retrieval must probe the persisted term-doc table with a broadcast
    semi/inner join on the tiny query-term set — never reshuffle the
    index per query."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["index_conjunctive_query"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_spearman_ranks_join_compressed_table_no_row_window(spark):
    """Spearman's doubled ranks must come from the (brand, value, cnt)
    compressed table joined back — never a per-row rank window over the
    fact rows (the single-reducer-per-group shape that dies at scale)."""
    from pdf_craft_spark.queries.statsq import spearman_brand_price_size

    plan = _executed_plan(spearman_brand_price_size(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the rank windows run over HashAggregate outputs (the compressed
    # value table), so every Window sits above an aggregate, and the
    # fact table reaches the moment aggregation through equi-joins
    assert plan.count("Window") >= 2
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_q21_exclusive_blame_is_aggregation_not_self_joins(spark):
    """The Q21 analog must keep the one-aggregation formulation: no
    nested-loop artifacts, supplier dimension broadcast, and the fact
    table scanned once (the reference's EXISTS/NOT EXISTS version scans
    lineitem three times)."""
    from pdf_craft_spark.queries.statsq import q21_late_exclusive_suppliers

    plan = _executed_plan(q21_late_exclusive_suppliers(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # supplier side
    # the (orderkey, suppkey) rollup materializes once and feeds both
    # branches — the final plan reads it, not a re-derived fact scan
    assert "Scan ExistingRDD" in plan
    assert plan.count("lineitem.parquet") == 0


def test_recsys_pairs_join_on_basket_key(spark):
    """Item-item co-occurrence must pair via the orderkey equi-join on the
    materialized basket table (fan-out bounded by basket size), never an
    item-item cross surface."""
    from pdf_craft_spark.queries.behavior import recsys_item_cooccurrence_topk

    plan = _executed_plan(recsys_item_cooccurrence_topk(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan  # the localCheckpoint'd basket list


def test_tfidf_cosine_postings_materialized_no_cartesian(spark):
    """tfidf_cosine_pairs must probe the materialized weighted postings
    (one checkpoint feeding both join sides + norms) through a term
    equi-join; the top-k is a TakeOrdered, not a global sort."""
    from pdf_craft_spark.queries.textops import tfidf_cosine_pairs

    plan = _executed_plan(tfidf_cosine_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan  # materialized weighted postings
    assert "TakeOrderedAndProject" in plan


def test_hilbert_is_pure_arithmetic_single_agg(spark):
    """The Hilbert key must stay whole-stage-codegen integer arithmetic:
    one scan, one aggregation exchange, no joins, no Python."""
    from pdf_craft_spark.queries.indexing import hilbert_cluster_key

    plan = _executed_plan(hilbert_cluster_key(spark, SF_DIR))
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange ") <= 2  # partial->final agg + order


def test_bpe_rounds_read_materialized_encodings(spark):
    """Each BPE round must read the previous round's materialized encoding
    (the kmeans/LPA round pattern) and take the argmax in as a broadcast
    1-row side — the final plan contains checkpoint scans, and its only
    nested-loop joins are broadcast singletons (crossJoin with the 1-row
    merge/total tables), never a shuffled pair surface."""
    from pdf_craft_spark.queries.textops import bpe_train_rounds

    plan = _executed_plan(bpe_train_rounds(spark, SF_DIR))
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 8  # 2 singleton sides/round


def test_negative_sampling_pool_is_broadcast(spark):
    """The negative pool must ride in as a broadcast side (bounded 64x
    fan-out) — no shuffle join anywhere in the candidate surface."""
    from pdf_craft_spark.queries.traindata import negative_sample_pairs

    plan = _executed_plan(negative_sample_pairs(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "Broadcast" in plan


def test_analyze_stats_single_scan_no_join(spark):
    """ANALYZE must be one scan + one value-histogram aggregation — the
    stack unpivot is map-side; no joins, no per-column rescans."""
    from pdf_craft_spark.queries.dataquality import analyze_table_stats

    plan = _executed_plan(analyze_table_stats(spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("lineitem.parquet") == 1


def test_q5_dimensions_broadcast_date_pushed(spark):
    """The 5-way snowflake must broadcast all three dimensions, keep the
    fact-side joins hash joins, and push the order-year predicate into
    the orders scan."""
    from pdf_craft_spark.queries.tpchx import q5_local_supplier_volume

    plan = _executed_plan(q5_local_supplier_volume(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PushedFilters: [" in plan and "o_orderdate" in plan


def test_q8_single_pass_ratio(spark):
    """Q8's numerator and denominator must aggregate in ONE pass — a
    single scan of lineitem, no second branch for the total."""
    from pdf_craft_spark.queries.tpchx import q8_market_share

    plan = _executed_plan(q8_market_share(spark, SF_DIR))
    assert plan.count("lineitem.parquet") == 1
    assert "CartesianProduct" not in plan


def test_q3_pushes_dates_into_both_scans(spark):
    """Q3's cut-date predicates must reach BOTH parquet scans."""
    from pdf_craft_spark.queries.tpchx import q3_shipping_priority

    plan = _executed_plan(q3_shipping_priority(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l for l in pushed)
    assert any("l_shipdate" in l for l in pushed)


def test_q9_part_filter_before_broadcast(spark):
    """Q9's part-name predicate must prune at the part scan (inside the
    broadcast build side), and all three dimensions broadcast."""
    from pdf_craft_spark.queries.tpchx import q9_product_profit

    plan = _executed_plan(q9_product_profit(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_name" in l for l in pushed)


@pytest.mark.parametrize("name", ["pq_topk", "ivfpq_topk"])
def test_pq_family_no_cartesian_and_materialized_index(spark, name):
    """PQ/IVF-PQ: the ADC scan is a broadcast (10-row query side) or
    coarse-id equi-join over the MATERIALIZED code table (an ExistingRDD
    after localCheckpoint — the interpreted HOF encode must never inline
    into the join), and nothing in the plan is a cartesian product."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan  # the checkpointed code/LUT tables
    # the SUBSPACE encode/LUT expressions (slice over the codebook
    # literals) live in the checkpointed index build, never the join
    # stage; the rerank's full-vector dot products legitimately remain
    assert plan.count("slice(") == 0, "PQ encode leaked into the final plan"


def test_assign_global_ids_never_globally_sorts_the_data(spark):
    """The two-pass id assignment must keep windows per-shard: exactly one
    hash-partitioned exchange for the shard window over the data, plus the
    16-row offsets side — never a SinglePartition exchange carrying the
    full table's window."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["assign_global_ids"](spark, SF_DIR))
    # the offsets prefix-sum runs on the 16-row counts table; the final
    # orderBy is a range exchange on the result.  The DATA window must be
    # partitioned by shard:
    assert "hashpartitioning(shard" in plan
    win_lines = [l for l in plan.splitlines() if "Window" in l and "row_number" in l]
    assert any("shard" in l for l in win_lines)


def test_median_two_pass_histogram_is_materialized(spark):
    """median_binned_two_pass: the bin histogram feeds the prefix sum AND
    the target-bin join; after localCheckpoint the final plan reads it as
    ExistingRDD instead of re-aggregating the fact table per branch."""
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["median_binned_two_pass"](spark, SF_DIR))
    assert "ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan  # targets broadcast into pass 2


def test_table_reads_go_through_the_source_seam():
    """Every sf_dir table read goes through sources.load_table (or
    sources.table_path where no session exists) — the one place that knows
    the table layout — so the layout (or the switch to Iceberg scans)
    changes in one file."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "pdf_craft_spark"
    seam = pkg / "sources" / "testdata.py"
    bypass = [
        f"{path.relative_to(pkg)}:{i}"
        for path in sorted(pkg.rglob("*.py"))
        if path != seam
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "read.parquet(os.path.join(" in line or "os.path.join(sf_dir" in line
    ]
    assert not bypass, f"read tables via sources.load_table: {bypass}"


def test_stream_lifecycle_lives_in_the_driver():
    """Stream set-up (readers, writers, draining, the scratch dir) appears
    only in streamingq._run_stream and in streaming_checkpoint_restart,
    whose restart of the query object is what it tests; every other
    streaming query goes through the driver, so the lifecycle and its
    cleanup are spelled once."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "pdf_craft_spark" / "queries"
    owners = {"_run_stream", "streaming_checkpoint_restart"}

    def is_setup(node, path):
        if not isinstance(node, ast.Attribute):
            return False
        if node.attr in {"readStream", "writeStream", "processAllAvailable"}:
            return True
        # batch queries elsewhere in queries/ use scratch dirs of their own
        return (
            path.name == "streamingq.py"
            and node.attr == "mkdtemp"
            and isinstance(node.value, ast.Name)
            and node.value.id == "tempfile"
        )

    outside = [
        f"{path.name}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        for top in ast.parse(path.read_text()).body
        if getattr(top, "name", None) not in owners
        for node in ast.walk(top)
        if is_setup(node, path)
    ]
    assert not outside, f"run streams through streamingq._run_stream: {outside}"


def test_round_loops_run_through_the_driver():
    """A loop that checkpoints per round goes through dedup.rounds, which
    owns the checkpoint-per-round lifecycle, the shuffle-width pin and the
    non-convergence error.  maximal_matching_rounds keeps its own loop:
    its residual is part of its output, not a failure."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "pdf_craft_spark" / "queries"
    owners = {"rounds", "maximal_matching_rounds"}
    loops = [
        f"{path.name}:{top.name}:{loop.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        for top in ast.parse(path.read_text()).body
        if isinstance(top, ast.FunctionDef) and top.name not in owners
        for loop in ast.walk(top)
        if isinstance(loop, (ast.For, ast.While))
        and any(
            isinstance(node, ast.Attribute) and node.attr == "localCheckpoint"
            for stmt in loop.body + loop.orelse
            for node in ast.walk(stmt)
        )
    ]
    assert not loops, f"run round loops through dedup.rounds: {loops}"


def test_retrieval_ranks_through_one_tail():
    """The vector-search family ranks and scores through one copy of each
    step: queries/similarity.py spells no row_number window (its ranks go
    through dedup.top_k, the one place a top-k cutoff changes), and the
    cosine division round(dot / sqrt(na * nb), 6) appears only in _cosine.
    The DuckDB oracles are SQL text and spell out their own."""
    import ast
    import pathlib

    path = (
        pathlib.Path(__file__).resolve().parents[1]
        / "pdf_craft_spark" / "queries" / "similarity.py"
    )

    def is_rank(node):
        return isinstance(node, ast.Attribute) and node.attr == "row_number"

    def is_cosine(node):
        # <dot> / F.sqrt(...): numpy's np.sqrt in the fits is not a cosine
        return (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Div)
            and isinstance(node.right, ast.Call)
            and isinstance(node.right.func, ast.Attribute)
            and node.right.func.attr == "sqrt"
            and isinstance(node.right.func.value, ast.Name)
            and node.right.func.value.id == "F"
        )

    strays = [
        f"{what}:{node.lineno}"
        for top in ast.parse(path.read_text()).body
        for node in ast.walk(top)
        for what, owner, hit in (
            ("row_number", "_top_k", is_rank),
            ("cosine", "_cosine", is_cosine),
        )
        if hit(node) and getattr(top, "name", None) != owner
    ]
    assert not strays, f"rank through dedup.top_k, score in similarity._cosine: {strays}"


def test_top_k_plans_a_partial_cut(spark):
    """dedup.top_k relies on the planner for its eager cut: a keyed rank
    is cut per partition (a partial WindowGroupLimit) before it shuffles,
    and a global rank becomes TakeOrderedAndProject, so no rank ever
    funnels every row through one task."""
    from pyspark.sql import functions as F

    from pdf_craft_spark.queries.dedup import top_k

    df = spark.range(1000).selectExpr("id % 7 AS g", "id")
    keyed = _executed_plan(top_k(df, ["g"], [F.desc("id")], 3, "rk"))
    exchange = keyed.find("Exchange")
    assert exchange != -1 and "row_number(), 3, Partial" in keyed[exchange:], keyed
    glob = _executed_plan(top_k(df, [], [F.desc("id")], 3, "rk"))
    assert "TakeOrderedAndProject(limit=3" in glob, glob


def test_rank_and_cut_runs_through_top_k():
    """Every constant-k rank-and-cut in the query package is dedup.top_k:
    outside it, no row_number column (a Column window, or F.expr/selectExpr
    SQL) is filtered with exactly ``<= k``, ``< k`` or ``= 1``, and no
    row_number ranks a frame already cut by a hand-written ``.limit(k)``.
    Picks of one rank (``mr = 3``), medians, per-row prefix lengths,
    numbering and multi-window conditions keep their own code; the DuckDB
    oracles are SQL text passed to no Spark call and spell out their own."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "pdf_craft_spark" / "queries"
    sql_rank = re.compile(r"row_number\(\)\s*OVER\s*\(", re.I)
    sql_cut = re.compile(r"\s*(\w+)\s*(<=|>=|<|>|=)\s*(\d+|\{\})\s*")

    def text(node):
        # string constants and f-strings, each {...} part as "{}"
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        if isinstance(node, ast.JoinedStr):
            return "".join(
                v.value if isinstance(v, ast.Constant) else "{}" for v in node.values
            )
        return None

    def sql_names(s):
        # the AS name after each row_number() OVER (...)
        for m in sql_rank.finditer(s):
            depth, i = 1, m.end()
            while depth and i < len(s):
                depth += {"(": 1, ")": -1}.get(s[i], 0)
                i += 1
            alias = re.match(r"\s*AS\s+(\w+)", s[i:], re.I)
            if alias:
                yield alias.group(1)

    def strays(top):
        parent = {c: p for p in ast.walk(top) for c in ast.iter_child_nodes(p)}
        assigned = {}
        for node in ast.walk(top):
            if isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name):
                assigned[node.targets[0].id] = node.value

        def chain(node):
            # the receivers of a method chain: F.row_number().over(w).cast(..)
            while True:
                yield node
                if isinstance(node, ast.Call):
                    node = node.func
                elif isinstance(node, ast.Attribute):
                    node = node.value
                else:
                    return

        def reaches(node, hit, seen=()):
            # a link of the chain, or of a named frame's assignment, is a hit
            for link in chain(node):
                if hit(link):
                    return True
                if isinstance(link, ast.Name) and link.id in assigned and link.id not in seen:
                    return reaches(assigned[link.id], hit, seen + (link.id,))
            return False

        def is_rank(link):
            if isinstance(link, ast.Call) and getattr(link.func, "attr", None) == "expr":
                return bool(link.args and sql_rank.search(text(link.args[0]) or ""))
            return isinstance(link, ast.Attribute) and link.attr == "row_number"

        def ranks(node):
            return reaches(node, is_rank)

        def limited(node):
            return reaches(node, lambda link: getattr(link, "attr", None) == "limit")

        # rank name -> [(line, frame the window is added to)]
        bound = {}
        for node in ast.walk(top):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            what, args = node.func.attr, node.args
            if what == "withColumn" and len(args) == 2 and ranks(args[1]):
                bound.setdefault(text(args[0]), []).append((args[1].lineno, node.func.value))
            elif what == "alias" and args and ranks(node.func.value):
                frame = parent.get(node)
                while frame is not None and not (
                    isinstance(frame, ast.Call)
                    and isinstance(frame.func, ast.Attribute)
                    and frame.func.attr in ("select", "withColumn")
                ):
                    frame = parent.get(frame)
                recv = frame.func.value if frame is not None else None
                bound.setdefault(text(args[0]), []).append((node.lineno, recv))
            elif what in ("selectExpr", "expr"):
                for arg in args:
                    for name in sql_names(text(arg) or ""):
                        recv = node.func.value if what == "selectExpr" else None
                        bound.setdefault(name, []).append((arg.lineno, recv))

        def window(name, line):
            sites = sorted(bound.get(name, ()), key=lambda s: s[0])
            before = [s for s in sites if s[0] <= line]
            return (before or sites or [(None, None)])[-1][0]

        hits = {line for sites in bound.values() for line, recv in sites
                if recv is not None and limited(recv)}
        # (name, op, constant rhs) of each filter that is one comparison
        tests = []
        for node in ast.walk(top):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("filter", "where")
                and len(node.args) == 1
            ):
                continue
            cond, s = node.args[0], text(node.args[0])
            if s is not None and (m := sql_cut.fullmatch(s)):
                tests.append((node.func.end_lineno, m.group(1), m.group(2), m.group(3)))
            elif (
                isinstance(cond, ast.Compare)
                and len(cond.ops) == 1
                and isinstance(cond.left, ast.Call)
                and getattr(cond.left.func, "attr", getattr(cond.left.func, "id", None)) == "col"
                and cond.left.args
                and not any(isinstance(n, ast.Call) for n in ast.walk(cond.comparators[0]))
            ):
                right = cond.comparators[0]
                op = {ast.LtE: "<=", ast.Lt: "<", ast.Eq: "=", ast.GtE: ">=", ast.Gt: ">"}
                tests.append((
                    node.func.end_lineno,
                    text(cond.left.args[0]),
                    op.get(type(cond.ops[0])),
                    str(right.value) if isinstance(right, ast.Constant) else "{}",
                ))
        # a rank read as both `<= k` and `> k` splits its rows in two: no cut
        split = {name for _, name, op, _ in tests if op in (">", ">=")}
        hits.update(
            window(name, line)
            for line, name, op, rhs in tests
            if name in bound and name not in split
            and (op in ("<=", "<") or op == "=" and rhs == "1")
        )
        return hits

    found = sorted(
        f"{path.name}:{line}"
        for path in sorted(pkg.rglob("*.py"))
        for top in ast.parse(path.read_text()).body
        if isinstance(top, ast.FunctionDef)
        and not (path.name == "dedup.py" and top.name == "top_k")
        for line in strays(top)
    )
    assert not found, f"rank and cut through dedup.top_k: {found}"


def test_env_knobs_are_allowlisted():
    """The package reads exactly these env vars; every other decision is a
    module constant, so no unset knob multiplies the configurations the
    tests would have to cover."""
    import ast
    import pathlib

    def env_name(node):
        # os.environ.get("X", ...), os.getenv("X", ...), os.environ["X"]
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                f.attr == "getenv"
                or (f.attr == "get" and isinstance(f.value, ast.Attribute)
                    and f.value.attr == "environ")
            ):
                return node.args[0]
        if isinstance(node, ast.Subscript) and isinstance(node.value, ast.Attribute):
            if node.value.attr == "environ":
                return node.slice
        return None

    pkg = pathlib.Path(__file__).resolve().parents[1] / "pdf_craft_spark"
    read = set()
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            arg = env_name(node)
            if arg is not None:
                assert isinstance(arg, ast.Constant), f"{path}:{node.lineno}"
                read.add(arg.value)
    assert read == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_ORACLE_SF_DIR",
    }


def test_module_memos_are_allowlisted():
    """Every cross-query memo lives in the one artifact registry
    (queries/dedup.py), keyed on its session and its input fingerprint; a
    module-level empty container anywhere else is a new memo that can
    outlive its inputs.  The registry tables of queries and oracles, and
    textops' precomputed weight list, are filled once at import."""
    import ast
    import pathlib

    def empty(node):
        if isinstance(node, ast.Dict):
            return not node.keys
        if isinstance(node, (ast.List, ast.Set)):
            return not node.elts
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id in {"set", "dict", "list"}
            and not node.args
            and not node.keywords
        )

    pkg = pathlib.Path(__file__).resolve().parents[1] / "pdf_craft_spark"
    found = set()
    for path in sorted(pkg.rglob("*.py")):
        for top in ast.parse(path.read_text()).body:
            if isinstance(top, ast.Assign):
                targets, value = top.targets, top.value
            elif isinstance(top, ast.AnnAssign) and top.value is not None:
                targets, value = [top.target], top.value
            else:
                continue
            if empty(value):
                found.update(
                    f"{path.stem}.{t.id}" for t in targets if isinstance(t, ast.Name)
                )
    allowed = {"dedup._REGISTRY", "dedup.PROTECTED_RDD_IDS", "textops.RBO_W"}
    unlisted = {
        name for name in found - allowed if name.split(".")[1] not in {"QUERIES", "ORACLES"}
    }
    assert not unlisted, f"keep cross-query memos in dedup.registered: {sorted(unlisted)}"


# Test modules named after the batch that wrote them.  They keep their
# names so their test ids stay comparable with earlier runs; the list may
# only shrink (a file folded into its family test module leaves it).
_NUMBERED_TEST_MODULES = {
    "test_corpusops2",
    "test_corpusops3",
    "test_corpusops4",
    "test_corpusops5",
    "test_r06_optimizations",
    "test_round5_ops",
    "test_session8_properties",
    "test_session10_properties",
    "test_session10_random_corpora",
    "test_session11_ops",
    "test_session12_ops",
    "test_session13_ops",
    "test_session14_ops",
    "test_stats2_ops",
    "test_stats2_series",
}


def test_module_names_carry_no_batch_numbers():
    """Modules are named for the family they hold, not for the session,
    batch or round that wrote them: a numbered module is a family split
    across files, whose shared helpers then cross module lines."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    stems = {
        path.stem
        for top in ("pdf_craft_spark", "tests")
        for path in (root / top).rglob("*.py")
    }
    assert _NUMBERED_TEST_MODULES <= stems, sorted(_NUMBERED_TEST_MODULES - stems)
    numbered = sorted(
        stem
        for stem in stems - _NUMBERED_TEST_MODULES - {"test_golden_e2e"}
        if any(ch.isdigit() for ch in stem)
    )
    assert not numbered, f"name modules by family: {numbered}"
