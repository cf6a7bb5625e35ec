"""Invariant tests for theta_sketch_intersection (session-11): the KMV
set-algebra op that fixes the HLL intersection-error caveat.  The oracle
hash proves cross-engine equality; these assert the claims the op exists
to make — exact-mode degradation below k, bounded intersection error in
estimate mode, and the superiority over the HLL inclusion-exclusion path
on the same sets."""

from __future__ import annotations

SF_SMALL = "/root/testdata/sf0.001"  # both sets < k=256 -> exact branch
SF_EST = "/root/testdata/sf0.01"  # sets ~1600 -> estimate branch


def _row(spark, sf_dir):
    from pdf_craft_spark.queries.sketches import theta_sketch_intersection

    rows = theta_sketch_intersection(spark, sf_dir).collect()
    assert len(rows) == 1
    return rows[0]


def test_theta_exact_mode_below_k(spark):
    """With both sets smaller than k the sketch holds every hash: theta is
    the full range (frac 1.0) and every estimate IS the exact count."""
    r = _row(spark, SF_SMALL)
    assert r["theta_frac"] == 1.0
    for part in ("purchase", "click", "intersection", "union"):
        assert r[f"est_{part}"] == float(r[f"exact_{part}"]), part
    assert r["err_pct_intersection"] == 0.0
    assert r["err_pct_union"] == 0.0


def test_theta_estimate_mode_error_bounded(spark):
    """Estimate mode at sf0.01: theta strictly below 1, every estimate
    within 10% of exact, and the intersection error far inside the HLL
    algebra op's measured 22.5% at the same overlap (house bound: 15%)."""
    r = _row(spark, SF_EST)
    assert 0.0 < r["theta_frac"] < 1.0
    for part in ("purchase", "click", "union"):
        rel = abs(r[f"est_{part}"] - r[f"exact_{part}"]) / r[f"exact_{part}"]
        assert rel < 0.10, (part, rel)
    assert abs(r["err_pct_intersection"]) < 15.0
    assert abs(r["err_pct_union"]) < 10.0


def test_theta_beats_hll_intersection_on_same_sets(spark):
    """The head-to-head the docstring claims: KMV intersection error is
    strictly smaller than the HLL inclusion-exclusion intersection error
    on the identical purchase/click user-day sets."""
    from pdf_craft_spark.queries.sketches import hll_set_algebra_user_days

    kmv = _row(spark, SF_EST)
    hll = hll_set_algebra_user_days(spark, SF_EST).collect()[0]
    hll_err = abs(
        100.0
        * (hll["est_intersection"] - hll["exact_intersection"])
        / hll["exact_intersection"]
    )
    assert abs(kmv["err_pct_intersection"]) < hll_err, (
        kmv["err_pct_intersection"],
        hll_err,
    )


def test_theta_plan_has_no_cartesian_and_two_stage_topk(spark):
    """Plan shape: the only nested-loop is the broadcast 1-row theta/exact
    attach (BroadcastNestedLoopJoin), never a CartesianProduct; both
    row_number stages are present (sharded then global k-min)."""
    from pdf_craft_spark.queries.sketches import theta_sketch_intersection

    plan = (
        theta_sketch_intersection(spark, SF_EST)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert plan.count("row_number") >= 2


# --- html_main_content_extract: the density rule is live, not template-keyed


def _page(paras, ad_text="sponsored content click here"):
    body = "".join(f"<p>{p}</p>" for p in paras)
    return (
        "<html><head><title>doc 1</title></head><body>"
        '<nav><a href="/">home</a> <a href="/a">archive</a></nav>'
        "<header><h1>document 1</h1></header>"
        f'<article>{body}<div class="ad"><a href="/s">{ad_text}</a></div>'
        "</article>"
        '<aside><ul><li><a href="/r">related one</a></li></ul></aside>'
        "<footer>copyright twenty twenty six corpus press all rights"
        " reserved</footer></body></html>"
    )


def _mains(html):
    from pdf_craft_spark.queries.htmlx import classify_main, extract_blocks

    return [
        t for t, nw, lc in extract_blocks(html) if classify_main(nw, lc, len(t))
    ]


def test_html_density_rule_recovers_exactly_the_article():
    para = " ".join(f"word{i}" for i in range(30))
    assert _mains(_page([para])) == [para]


def test_html_ad_padded_to_plain_prose_flips_to_main():
    """Pad the ad block's LINK to 20 words: link density stays 1.0 so it
    stays boiler; pad with text OUTSIDE the link and it flips to main —
    the classifier reads density, not the class=ad attribute."""
    para = " ".join(f"word{i}" for i in range(30))
    linked = " ".join(f"buy{i}" for i in range(20))
    assert _mains(_page([para], ad_text=linked)) == [para]
    pad = " ".join(f"plain{i}" for i in range(20))
    html = _page([para]).replace(
        "</a></div>", f"</a> {pad}</div>"
    )
    mains = _mains(html)
    assert len(mains) == 2 and mains[0] == para and "plain0" in mains[1]


def test_html_paragraph_moved_into_aside_stays_main():
    """Tag names never enter the classifier: a long link-free paragraph
    inside <aside> is still main content (Boilerpipe semantics)."""
    para = " ".join(f"word{i}" for i in range(30))
    moved = " ".join(f"aside{i}" for i in range(25))
    html = _page([para]).replace(
        "<aside><ul>", f"<aside><p>{moved}</p><ul>"
    )
    mains = _mains(html)
    assert mains == [para, moved]


def test_html_malformed_markup_still_parses():
    """Unclosed tags (tag-soup web reality): html.parser recovers and the
    article text still comes back whole."""
    para = " ".join(f"word{i}" for i in range(30))
    html = _page([para]).replace("</p>", "").replace("</nav>", "")
    assert _mains(html) == [para]


# --- randomized-corpus structural claims for the session-11 ops


import datetime
import hashlib
import os
import random

import pytest

from tests.oracle_harness import write_table


@pytest.mark.parametrize("seed", [13, 59])
def test_theta_on_random_overlap(spark, tmp_path, seed):
    """On a random corpus with a planted overlap the KMV estimates stay
    inside the k=256 statistical envelope and the exact columns are the
    true set sizes (recomputed independently in Python)."""
    from pdf_craft_spark.queries.sketches import theta_sketch_intersection

    rng = random.Random(seed)
    users = list(range(1, 400))
    days = [datetime.datetime(1996, 1, 1) + datetime.timedelta(days=d) for d in range(30)]
    rows, p_set, c_set = [], set(), set()
    eid = 0
    for u in users:
        for day in rng.sample(days, rng.randint(4, 16)):
            kinds = rng.choice([("purchase",), ("click",), ("purchase", "click")])
            for k in kinds:
                eid += 1
                # multiple events per (user, day, kind) — sets must dedup
                for _ in range(rng.randint(1, 2)):
                    rows.append((eid, day, u, k, 1.0, "{}"))
                key = (u, (day.date() - datetime.date(1970, 1, 1)).days)
                (p_set if k == "purchase" else c_set).add(key)
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    write_table(str(tmp_path), "events", df)

    r = theta_sketch_intersection(spark, str(tmp_path)).collect()[0]
    inter, union = p_set & c_set, p_set | c_set
    assert r["exact_purchase"] == len(p_set)
    assert r["exact_click"] == len(c_set)
    assert r["exact_intersection"] == len(inter)
    assert r["exact_union"] == len(union)
    # sets are ~2-3k >> k=256: estimate mode, ~1/sqrt(k) envelope (+5 sigma)
    assert 0.0 < r["theta_frac"] < 1.0
    for part, true in (
        ("purchase", len(p_set)),
        ("click", len(c_set)),
        ("union", len(union)),
        ("intersection", len(inter)),
    ):
        assert abs(r[f"est_{part}"] - true) / true < 0.35, (part, r[f"est_{part}"], true)


@pytest.mark.parametrize("seed", [7, 31])
def test_html_lossless_recovery_on_random_texts(spark, tmp_path, seed):
    """The lossless-recovery invariant holds on random token streams the
    synthetic corpus never produces (token lengths 1..12, doc lengths
    spanning both paragraph regimes including the merge-rule boundary)."""
    from pdf_craft_spark.queries.htmlx import (
        _BOILER_WORDS,
        html_main_content_extract,
    )

    rng = random.Random(seed)
    docs = []
    for i in range(120):
        # hit the boundary lengths (59/60) often — the para-merge rule edge
        n = rng.choice([10, 25, 59, 60, 61, rng.randint(10, 120)])
        toks = [
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(1, 12)))
            for _ in range(n)
        ]
        docs.append((i, " ".join(toks), "en", "synth", len(" ".join(toks))))
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang", "source", "n_chars"])
    write_table(str(tmp_path), "documents", df)

    got = {r["doc_id"]: r for r in html_main_content_extract(spark, str(tmp_path)).collect()}
    assert len(got) == len(docs)
    for i, text, *_ in docs:
        r = got[i]
        n = len(text.split())
        assert r["main_md5"] == hashlib.md5(text.encode()).hexdigest(), i
        assert r["main_words"] == n
        assert r["boiler_words"] == _BOILER_WORDS
        assert r["n_main"] == (2 if n >= 60 else 1)
        assert r["n_blocks"] == 8 + r["n_main"]


# --- graph_random_walks: structural claims


def test_random_walks_follow_real_edges_and_alternate(spark):
    """Every consecutive hop pair is an actual edge of the bipartite
    purchase graph and the metapath alternates c->s->c->s."""
    from pyspark.sql import functions as F

    from pdf_craft_spark.queries.graphq import graph_random_walks

    sf = SF_SMALL
    walks = graph_random_walks(spark, sf).collect()
    assert walks
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    pairs = {
        (f"c{r['o_custkey']}", f"s{r['l_suppkey']}")
        for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .collect()
    }
    edges = pairs | {(b, a) for a, b in pairs}
    for w in walks:
        seq = [w["start"], w["hop1"], w["hop2"], w["hop3"]]
        kinds = [n[0] for n in seq]
        assert kinds == ["c", "s", "c", "s"], seq
        for a, b in zip(seq, seq[1:]):
            assert (a, b) in edges, (a, b)


def test_random_walks_deterministic_under_shuffle_width(spark):
    """The walk corpus is a pure function of the graph: changing the
    shuffle width (different physical partitioning) yields the identical
    set of walks — the rerun/retry determinism contract."""
    from pdf_craft_spark.queries.graphq import graph_random_walks

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(map(tuple, graph_random_walks(spark, SF_SMALL).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = sorted(map(tuple, graph_random_walks(spark, SF_SMALL).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b and len(a) > 0


# --- decision_stump_train: the learner finds a planted split


@pytest.mark.parametrize("seed,planted_t", [(17, 30), (41, 12)])
def test_stump_finds_planted_split(spark, tmp_path, seed, planted_t):
    """Plant a strong dependency y ~ (qty > T) in a random fact table:
    the stump must select the qty feature at exactly threshold T, with a
    large gain; price stays uninformative by construction."""
    from pdf_craft_spark.queries.mlq import decision_stump_train

    rng = random.Random(seed)
    rows = []
    for i in range(4000):
        qty = rng.randint(1, 50)
        noisy = rng.random() < 0.05
        y = (qty > planted_t) != noisy
        rows.append(
            (
                i,
                float(qty),
                "R" if y else rng.choice("AN"),
                float(rng.randint(1000, 99999)),
            )
        )
    df = spark.createDataFrame(
        rows, ["l_orderkey", "l_quantity", "l_returnflag", "l_extendedprice"]
    )
    write_table(str(tmp_path), "lineitem", df)

    r = decision_stump_train(spark, str(tmp_path)).collect()[0]
    assert r["feature"] == "qty"
    assert r["threshold"] == planted_t
    assert r["gain_ppm"] > 300_000, r["gain_ppm"]
    assert r["n_left"] + r["n_right"] == 4000
    assert r["pos_left"] + r["pos_right"] == sum(
        1 for _, _, f, _ in rows if f == "R"
    )


def test_stump_near_zero_gain_on_uncorrelated_corpus(spark):
    """On the synthetic corpus the label is independent of both features:
    the best split's gain must be ppm-noise (the learner does not invent
    structure)."""
    from pdf_craft_spark.queries.mlq import decision_stump_train

    r = decision_stump_train(spark, SF_EST).collect()[0]
    assert 0 <= r["gain_ppm"] < 2000, r["gain_ppm"]


# --- pca_power_iteration: converges onto a planted dominant direction


@pytest.mark.parametrize("seed", [23, 67])
def test_pca_finds_planted_direction(spark, tmp_path, seed):
    """Vectors = +/- u + small noise for a random unit u: after three
    integer power iterations the state must align with u
    (|cos| > 0.95) — convergence is measured, not assumed."""
    import math

    from pdf_craft_spark.queries.mlq import pca_power_iteration

    rng = random.Random(seed)
    dimn = 64
    u = [rng.gauss(0, 1) for _ in range(dimn)]
    nrm = math.sqrt(sum(x * x for x in u))
    u = [x / nrm for x in u]
    rows = []
    for i in range(800):
        sign = 1.0 if rng.random() < 0.5 else -1.0
        vec = [
            sign * u[k] + rng.gauss(0, 0.15) / math.sqrt(dimn)
            for k in range(dimn)
        ]
        rows.append((i, vec, 0))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    write_table(str(tmp_path), "embeddings", df)

    got = {
        r["dim"]: r["v_scaled"]
        for r in pca_power_iteration(spark, str(tmp_path)).collect()
    }
    v = [got[k] for k in range(dimn)]
    dot = sum(v[k] * u[k] for k in range(dimn))
    cos = abs(dot) / math.sqrt(sum(x * x for x in v))
    assert cos > 0.95, cos


def test_pca_output_is_unit_scale_and_complete(spark):
    """On the real corpus: one row per dimension, and the renormalized
    state stays in the intended ~1e6 integer scale (no silent overflow
    or collapse)."""
    from pdf_craft_spark.queries.mlq import pca_power_iteration

    rows = pca_power_iteration(spark, SF_EST).collect()
    assert len(rows) == 64
    mx = max(abs(r["v_scaled"]) for r in rows)
    assert 500_000 <= mx <= 1_100_000, mx


# --- plan-shape guards for the session-11 ops (scale regressions fail CI)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_html_extract_plan_is_zero_shuffle(spark):
    """Synthesis is codegen, the parse is one Arrow crossing: the whole
    plan must contain NO exchange — scan-shaped at any scale."""
    from pdf_craft_spark.queries.htmlx import html_main_content_extract

    plan = _plan(html_main_content_extract(spark, SF_EST))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan


def test_stump_plan_compresses_before_windows(spark):
    """The histogram method's contract: partial aggregation (map-side
    combine) runs below the windows, and no cartesian anywhere."""
    from pdf_craft_spark.queries.mlq import decision_stump_train

    plan = _plan(decision_stump_train(spark, SF_EST))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_walks_plan_has_no_neighbor_fanout_join(spark):
    """Every step's neighbor lookup must be an equi-join on (src, rnk) —
    a SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin with two join
    keys — never a nested-loop over the adjacency."""
    from pdf_craft_spark.queries.graphq import graph_random_walks

    plan = _plan(graph_random_walks(spark, SF_EST))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pca_plan_broadcasts_the_state_vector(spark):
    """The 64-row state joins the exploded table broadcast-side (the
    pagerank discipline); no cartesian."""
    from pdf_craft_spark.queries.mlq import pca_power_iteration

    plan = _plan(pca_power_iteration(spark, SF_EST))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_lsh_dedup_quality_gate(spark):
    """The per-round LSH dedup quality gate the driver will hash: recall
    of the band index against exact Jaccard >= 0.2 truth must stay >= 0.9
    (banding theory: near-certain firing on the planted J >= 0.5 family),
    with sane precision and counts."""
    from pdf_craft_spark.queries.dedup import dedup_lsh_quality

    r = dedup_lsh_quality(spark, SF_EST).collect()[0]
    assert r["n_truth"] > 0 and r["n_pred"] > 0
    assert r["n_hit"] <= min(r["n_truth"], r["n_pred"])
    assert r["recall_ppm"] >= 900_000, r
    assert 0 < r["precision_ppm"] <= 1_000_000


# --- poisson_bootstrap_ci: coverage and width scaling


def test_bootstrap_covers_truth_on_real_corpus(spark):
    """Deterministic md5 resampling: the observed outcome is fixed, so the
    5/5 coverage seen at sf0.01 is a pinned regression gate, not a
    probabilistic claim."""
    from pdf_craft_spark.queries.statsq import poisson_bootstrap_ci

    rows = poisson_bootstrap_ci(spark, SF_EST).collect()
    assert len(rows) == 5
    assert all(r["covers_truth"] == 1 for r in rows)
    for r in rows:
        assert r["ci_lo_mc"] < r["mean_exact_mc"] < r["ci_hi_mc"]
        # ~2% relative width at n~3000 — an order-of-magnitude envelope
        assert r["ci_width_mc"] < 0.2 * r["mean_exact_mc"]


def test_bootstrap_width_shrinks_with_n(spark, tmp_path):
    """CI width must scale roughly 1/sqrt(n): a 16x larger group's
    interval is 2.5-6x narrower (random corpus, same value
    distribution)."""
    from pdf_craft_spark.queries.statsq import poisson_bootstrap_ci

    rng = random.Random(97)
    rows = []
    k = 0
    for grp, n in (("small", 400), ("large", 6400)):
        for _ in range(n):
            k += 1
            rows.append((k, grp, round(rng.uniform(100.0, 900.0), 2)))
    df = spark.createDataFrame(
        rows, ["o_orderkey", "o_orderpriority", "o_totalprice"]
    )
    write_table(str(tmp_path), "orders", df)

    got = {
        r["grp"]: r
        for r in poisson_bootstrap_ci(spark, str(tmp_path)).collect()
    }
    ratio = got["small"]["ci_width_mc"] / got["large"]["ci_width_mc"]
    assert 2.5 < ratio < 6.5, ratio
    assert got["large"]["covers_truth"] == 1


# --- permutation_test_diff: both tails pinned on planted corpora


def _perm_orders(rng, n, shift):
    rows = []
    for i in range(n):
        grp = "1-URGENT" if i % 2 == 0 else "5-LOW"
        val = rng.uniform(100.0, 900.0) + (shift if grp == "1-URGENT" else 0.0)
        rows.append((i, grp, round(val, 2)))
    return rows


def test_permutation_detects_planted_shift(spark, tmp_path):
    """A +40% mean shift on one group must drive p to the add-one floor
    (1000 // 129 = 7)."""
    from pdf_craft_spark.queries.statsq import permutation_test_diff

    rng = random.Random(5)
    df = spark.createDataFrame(
        _perm_orders(rng, 3000, 200.0),
        ["o_orderkey", "o_orderpriority", "o_totalprice"],
    )
    write_table(str(tmp_path), "orders", df)
    r = permutation_test_diff(spark, str(tmp_path)).collect()[0]
    assert r["p_milli"] == 7, r
    # $200 planted shift = 20M milli-cents
    assert r["obs_diff_mc"] > 15_000_000


def test_permutation_high_p_under_true_null(spark, tmp_path):
    """Identical distributions in both groups: p must land well above any
    rejection threshold (deterministic md5 resampling pins the value)."""
    from pdf_craft_spark.queries.statsq import permutation_test_diff

    rng = random.Random(8)
    df = spark.createDataFrame(
        _perm_orders(rng, 3000, 0.0),
        ["o_orderkey", "o_orderpriority", "o_totalprice"],
    )
    write_table(str(tmp_path), "orders", df)
    r = permutation_test_diff(spark, str(tmp_path)).collect()[0]
    assert r["p_milli"] > 100, r


# --- conformal_interval_orders: the coverage guarantee realizes


def test_conformal_coverage_at_both_scales(spark):
    """Split conformal promises >= 90% marginal coverage in expectation;
    the deterministic md5 folds make the realized number a pinned gate —
    measured 90.9% (sf0.001) and 92.1% (sf0.01), both >= the floor minus
    finite-sample slack."""
    from pdf_craft_spark.queries.mlq import conformal_interval_orders

    for sf in (SF_SMALL, SF_EST):
        r = conformal_interval_orders(spark, sf).collect()[0]
        assert r["coverage_ppm"] >= 880_000, (sf, r)
        assert r["n_cal"] > 0 and r["n_test"] > 0
        assert r["width_mc"] == 2 * r["qhat_mc"]


def test_conformal_adapts_to_noise_scale(spark, tmp_path):
    """The interval width must track the noise: a corpus with 4x the
    residual spread gets a ~4x wider q_hat (same fold recipe, same
    predictor form)."""
    from pdf_craft_spark.queries.mlq import conformal_interval_orders

    widths = []
    for sigma in (20.0, 80.0):
        rng = random.Random(3)
        rows = [
            (
                i,
                rng.choice(["1-URGENT", "5-LOW"]),
                round(500.0 + rng.uniform(-sigma, sigma), 2),
            )
            for i in range(4000)
        ]
        df = spark.createDataFrame(
            rows, ["o_orderkey", "o_orderpriority", "o_totalprice"]
        )
        sub = os.path.join(str(tmp_path), f"s{int(sigma)}")
        os.makedirs(sub, exist_ok=True)
        write_table(sub, "orders", df)
        r = conformal_interval_orders(spark, sub).collect()[0]
        assert r["coverage_ppm"] >= 870_000, (sigma, r)
        widths.append(r["width_mc"])
    ratio = widths[1] / widths[0]
    assert 3.0 < ratio < 5.0, ratio


def test_streaming_hll_merge_estimates_sane(spark):
    """The streamed-merge == batch-sketch invariant is the oracle hash;
    here: all five event types present, estimator error inside the m=256
    band (~6%/sqrt-ish at n~1600), and every register count <= m."""
    from pdf_craft_spark.queries.streamingq import streaming_hll_merge

    rows = streaming_hll_merge(spark, SF_EST).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 < r["n_buckets_set"] <= 256
        rel = abs(r["est_user_days"] - r["exact_user_days"]) / r["exact_user_days"]
        assert rel < 0.15, (r["event_type"], rel)
