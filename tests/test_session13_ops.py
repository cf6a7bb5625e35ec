"""Property tests for the session-13 ops (Durbin-Watson, SMAPE backtest,
LOO target encoding, k-fold CV, AMS F2 sketch, t-closeness audit).
Oracle parity is covered by test_oracle_parity; these pin the claims the
parity hash can't see: DW detects planted autocorrelation regimes, the
backtest prefers the seasonal forecaster on seasonal data, LOO excludes
the own row, CV predictions never see their own fold, the AMS estimate
lands within the sketch's variance bound around the exact F2, and the
EMD is zero for a perfectly representative class and maximal for a fully
skewed one."""

from __future__ import annotations

import duckdb
import pytest

from tests.oracle_harness import duck_views

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


# --- durbin_watson_trend -----------------------------------------------------


def _dw_of_series(ys):
    """Run the oracle's exact pipeline on a synthetic daily series."""
    from pdf_craft_spark.queries.timeseries import DURBIN_WATSON_TREND_SQL

    con = duckdb.connect()
    rows = ", ".join(
        f"(TIMESTAMP '2001-01-01' + INTERVAL ({i}) DAY, {y / 100.0})"
        for i, y in enumerate(ys)
    )
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + rows
        + ") AS t(o_orderdate, o_totalprice)"
    )
    return con.execute(DURBIN_WATSON_TREND_SQL).fetchone()


def test_dw_detects_planted_regimes():
    """Alternating residuals push DW toward 4; a random-walk style
    positively-correlated series pushes it toward 0; both around a trend."""
    n = 200
    alt = [100_000 + 500 * t + (20_000 if t % 2 == 0 else -20_000) for t in range(n)]
    _, _, _, dw_alt = _dw_of_series(alt)
    # slow sign-runs: +e for 20 days, -e for 20 days, ...
    runs = [100_000 + 500 * t + (20_000 if (t // 20) % 2 == 0 else -20_000) for t in range(n)]
    _, _, _, dw_runs = _dw_of_series(runs)
    assert dw_alt > 3_000_000, dw_alt  # ~4 in micro
    assert dw_runs < 1_000_000, dw_runs  # strong positive autocorrelation


def test_dw_white_noise_near_two(spark):
    """On the real corpus the daily-revenue residuals are near-independent:
    DW should land in the classic no-autocorrelation band around 2."""
    from pdf_craft_spark.queries.timeseries import durbin_watson_trend

    row = durbin_watson_trend(spark, SF01).collect()[0]
    assert 1_500_000 < row["dw_micro"] < 2_500_000, row


# --- forecast_backtest_smape --------------------------------------------------


def test_backtest_prefers_seasonal_on_seasonal_series():
    """Plant a strong period-7 series: the seasonal-naive SMAPE must beat
    the naive SMAPE (exercised through the oracle SQL on synthetic events)."""
    from pdf_craft_spark.queries.timeseries import FORECAST_BACKTEST_SMAPE_SQL

    con = duckdb.connect()
    vals = []
    for d in range(120):
        n_ev = 5 + (50 if d % 7 == 0 else 0)  # weekly spike
        for k in range(n_ev):
            vals.append(f"(TIMESTAMP '2001-01-01' + INTERVAL ({d}) DAY, 'buy')")
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(ts, event_type)"
    )
    et, n, s_naive, s_snaive, winner = con.execute(
        FORECAST_BACKTEST_SMAPE_SQL
    ).fetchone()
    assert winner == "seasonal" and s_snaive == 0 and s_naive > 200_000


# --- loo_target_encoding -----------------------------------------------------


def test_loo_excludes_own_row(spark):
    """Recompute the per-segment LOO sum independently: for each row,
    (s - x) // (n - 1); the op's audit sums must match exactly."""
    from pdf_craft_spark.queries.mlq import loo_target_encoding

    got = {r["c_mktsegment"]: r for r in loo_target_encoding(spark, SF).collect()}
    con = duck_views(SF, ("orders", "customer"))
    rows = con.execute(
        """
        SELECT c_mktsegment,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM orders JOIN customer ON o_custkey = c_custkey
        """
    ).fetchall()
    by_seg: dict[str, list[int]] = {}
    for seg, x in rows:
        by_seg.setdefault(seg, []).append(x)
    for seg, xs in by_seg.items():
        s, n = sum(xs), len(xs)
        # python // floors; the engines truncate toward zero — all values
        # here are positive so the two agree
        loos = [(s - x) // (n - 1) for x in xs]
        assert got[seg]["n_rows"] == n
        assert got[seg]["sum_loo_cents"] == sum(loos), seg
        assert got[seg]["min_loo_cents"] == min(loos)
        assert got[seg]["max_loo_cents"] == max(loos)


# --- cv_kfold_mse ------------------------------------------------------------


def test_cv_train_excludes_test_fold(spark):
    """Recompute fold 0's prediction from ONLY folds 1-4 and check the
    op's rmse for fold 0 against an independent python recompute."""
    import math

    from pdf_craft_spark.queries.mlq import CV_FOLDS, cv_kfold_mse

    got = {r["fold"]: r for r in cv_kfold_mse(spark, SF).collect()}
    assert set(got) == set(range(CV_FOLDS))
    con = duck_views(SF, ("orders",))
    rows = con.execute(
        f"""
        SELECT o_orderpriority,
               CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))
                    AS BIGINT) % {CV_FOLDS} AS fold,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        FROM orders
        """
    ).fetchall()
    for k in range(CV_FOLDS):
        sse = n_test = 0
        for pri in {r[0] for r in rows}:
            train = [x for p, f, x in rows if p == pri and f != k]
            test = [x for p, f, x in rows if p == pri and f == k]
            if not test:
                continue
            pred = sum(train) // len(train)
            sse += sum((x - pred) ** 2 for x in test)
            n_test += len(test)
        assert got[k]["n_test"] == n_test
        assert got[k]["rmse_cents"] == round(math.sqrt(sse / n_test)), k


# --- ams_f2_sketch -----------------------------------------------------------


def test_ams_estimate_within_variance_bound(spark):
    """The mean-of-K AMS estimator has Var <= 2*F2^2/K; check the estimate
    sits within 4 standard deviations of the exact F2 (a deterministic
    check — the hash is fixed — but one that would fail if the signs were
    biased or the estimator wrong)."""
    from pdf_craft_spark.queries.sketches import AMS_K, ams_f2_sketch

    row = ams_f2_sketch(spark, SF01).collect()[0]
    f2, est = row["exact_f2"], row["est_mean"]
    sd = (2.0 * f2 * f2 / AMS_K) ** 0.5
    assert abs(est - f2) < 4 * sd, row
    assert abs(row["est_mom"] - f2) < 5 * sd, row


def test_ams_exact_f2_is_self_join_size():
    """F2 on the key-count table == COUNT(*) of the actual self-join."""
    con = duck_views(SF, ("orders",))
    f2 = con.execute(
        "SELECT sum(cnt * cnt) FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_custkey)"
    ).fetchone()[0]
    sj = con.execute(
        "SELECT count(*) FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey"
    ).fetchone()[0]
    assert f2 == sj


# --- t_closeness_audit -------------------------------------------------------


def test_tcloseness_planted_extremes():
    """A class distributed exactly like the table has EMD 0; a class
    concentrated on the extreme band has the maximal EMD among classes."""
    from pdf_craft_spark.queries.analyticsq import T_CLOSENESS_AUDIT_SQL

    con = duckdb.connect()
    # three bands 0/1/2 (prices ~25k/75k/125k); global mix uniform-ish.
    orders, custs = [], []
    ck = 0
    # class A mirrors the global distribution exactly: one order per band
    for nat in range(3):
        for band in range(3):
            ck += 1
            custs.append(f"({ck}, 'MIRROR', {nat})")
            orders.append(f"({ck}, {25000 + band * 50000}.0)")
    # class B: all mass on band 2
    for i in range(3):
        ck += 1
        custs.append(f"({ck}, 'SKEWED', 0)")
        orders.append(f"({ck}, 125000.0)")
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM (VALUES "
        + ", ".join(custs)
        + ") AS t(c_custkey, c_mktsegment, c_nationkey)"
    )
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + ", ".join(orders)
        + ") AS t(o_custkey, o_totalprice)"
    )
    rows = con.execute(T_CLOSENESS_AUDIT_SQL).fetchall()
    by = {(r[0], r[1]): r for r in rows}
    # MIRROR classes per-nation each hold one order per band = the global
    # shape only if the global is uniform; with SKEWED adding band-2 mass
    # the global tilts, so MIRROR EMD is small but nonzero; SKEWED is max.
    skew = by[("SKEWED", 0)]
    assert skew[3] == max(r[3] for r in rows), rows
    assert skew[4] is True or skew[3] > 150_000
    for nat in range(3):
        assert by[("MIRROR", nat)][3] < skew[3]


def test_tcloseness_real_corpus_shape(spark):
    """On the real corpus: every class reports, EMD in [0, 1e6], and the
    breach flag equals the threshold predicate."""
    from pdf_craft_spark.queries.analyticsq import (
        T_CLOSENESS_PPM,
        t_closeness_audit,
    )

    rows = t_closeness_audit(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["emd_ppm"] <= 1_000_000
        assert r["breach"] == (r["emd_ppm"] > T_CLOSENESS_PPM)


# --- substring_dedup_spans ---------------------------------------------------


def test_substring_spans_planted_passage():
    """Two docs share an exact 20-token passage at known offsets; a third
    shares nothing.  The op must emit exactly one span per sharing doc
    covering exactly the passage, and nothing for the clean doc."""
    from pdf_craft_spark.queries.dedup import SUBSTRING_DEDUP_SPANS_SQL

    passage = " ".join(f"p{i}" for i in range(20))
    noise_a = " ".join(f"a{i}" for i in range(10))
    noise_b = " ".join(f"b{i}" for i in range(5))
    clean = " ".join(f"c{i}" for i in range(40))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        f"(1, '{noise_a} {passage}'), "
        f"(2, '{passage} {noise_b}'), "
        f"(3, '{clean}')"
        ") AS t(doc_id, text)"
    )
    rows = con.execute(SUBSTRING_DEDUP_SPANS_SQL).fetchall()
    assert len(rows) == 2, rows
    by = {r[0]: r for r in rows}
    # doc 1: passage tokens occupy positions 10..29
    assert by[1][1:4] == (10, 30, 20), by[1]
    # doc 2: positions 0..19
    assert by[2][1:4] == (0, 20, 20), by[2]
    assert 3 not in by


def test_substring_spans_merge_overlapping_grams():
    """A single duplicated 10-token run yields ONE maximal span (the three
    overlapping 8-gram hits merge), not three windows."""
    from pdf_craft_spark.queries.dedup import SUBSTRING_DEDUP_SPANS_SQL

    run = " ".join(f"r{i}" for i in range(10))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        f"(1, 'x0 x1 {run}'), (2, '{run} y0 y1')"
        ") AS t(doc_id, text)"
    )
    rows = con.execute(SUBSTRING_DEDUP_SPANS_SQL).fetchall()
    assert [r[:5] for r in rows] == [(1, 2, 12, 10, 3), (2, 0, 10, 10, 3)], rows


def test_substring_spans_real_corpus(spark):
    """Spans exist on the corpus, all spans >= L tokens, grams consistent."""
    from pdf_craft_spark.queries.dedup import SUBSTR_L, substring_dedup_spans

    rows = substring_dedup_spans(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["span_tokens"] >= SUBSTR_L
        assert r["n_grams"] == r["span_tokens"] - SUBSTR_L + 1 or r["n_grams"] >= 1


# --- priority_sample_orders --------------------------------------------------


def test_priority_sample_matches_python_recompute(spark):
    """Recompute priorities q = (w << 40) // (h40+1) in python at sf0.001:
    tau must be the (k+1)-th priority and the sample the top-k set."""
    from pdf_craft_spark.queries.traindata import (
        PRIORITY_K,
        priority_sample_orders,
    )

    row = priority_sample_orders(spark, SF).collect()[0]
    con = duck_views(SF, ("orders",))
    recs = con.execute(
        """
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS w,
               CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 10))
                    AS BIGINT) + 1 AS u
        FROM orders
        """
    ).fetchall()
    qs = sorted(
        ((w << 40) // u, key, w) for key, w, u in recs
    )
    qs.reverse()
    top = qs[: PRIORITY_K]
    tau = qs[PRIORITY_K][0]
    assert row["tau"] == tau
    assert row["k"] == PRIORITY_K
    assert row["sample_key_sum"] == sum(k for _, k, _ in top)
    assert row["est_total"] == sum(max(w, tau) for _, _, w in top)
    assert row["exact_total"] == sum(w for _, w, _ in recs)


# --- graph_hits_scores -------------------------------------------------------


def test_hits_star_graph_extremes():
    """Customer 1 buys from all 5 suppliers; customers 2-6 each buy from
    supplier 1 only.  Top hub must be customer 1 (score SCALE), top
    authority supplier 1 (score SCALE)."""
    from pdf_craft_spark.queries.graphq import GRAPH_HITS_SCORES_SQL, HITS_SCALE

    lis, ords = [], []
    ok = 0
    for s in range(1, 6):
        ok += 1
        ords.append(f"({ok}, 1)")
        lis.append(f"({ok}, {s})")
    for c in range(2, 7):
        ok += 1
        ords.append(f"({ok}, {c})")
        lis.append(f"({ok}, 1)")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + ", ".join(ords)
        + ") AS t(o_orderkey, o_custkey)"
    )
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM (VALUES "
        + ", ".join(lis)
        + ") AS t(l_orderkey, l_suppkey)"
    )
    rows = con.execute(GRAPH_HITS_SCORES_SQL).fetchall()
    auth = [r for r in rows if r[0] == "authority"]
    hubs = [r for r in rows if r[0] == "hub"]
    assert auth[0][1] == 1 and auth[0][2] == HITS_SCALE
    assert hubs[0][1] == 1 and hubs[0][2] == HITS_SCALE
    # every other authority scores strictly less than supplier 1
    assert all(r[2] < HITS_SCALE for r in auth[1:])


def test_hits_real_corpus_normalized(spark):
    from pdf_craft_spark.queries.graphq import HITS_SCALE, HITS_TOPK, graph_hits_scores

    rows = graph_hits_scores(spark, SF).collect()
    roles = {}
    for r in rows:
        roles.setdefault(r["role"], []).append(r["score"])
    assert set(roles) == {"authority", "hub"}
    for role, scores in roles.items():
        assert len(scores) == HITS_TOPK
        assert max(scores) == HITS_SCALE  # max-normalized
        assert scores == sorted(scores, reverse=True)


# --- fifo_inventory_match ----------------------------------------------------


def test_fifo_hand_example():
    """One part: supplies [5, 5] (odd lines), demands [3, 4, 3] (even):
    FIFO matching is s1-d1:3, s1-d2:2, s2-d2:2, s2-d3:3."""
    from pdf_craft_spark.queries.behavior import FIFO_INVENTORY_MATCH_SQL

    rows = [
        # (orderkey, linenumber, qty) — shipdate ordering by orderkey
        (1, 1, 5), (2, 1, 5),          # supplies
        (1, 2, 3), (2, 2, 4), (3, 2, 3),  # demands
    ]
    vals = ", ".join(
        f"(100, {ok}, {ln}, TIMESTAMP '2001-01-0{ok}', {q}.0)"
        for ok, ln, q in rows
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM (VALUES "
        + vals
        + ") AS t(l_partkey, l_orderkey, l_linenumber, l_shipdate, l_quantity)"
    )
    r = con.execute(FIFO_INVENTORY_MATCH_SQL).fetchone()
    n_parts, n_matches, total_alloc, expected, ok_flag, checksum = r
    assert (n_parts, n_matches, total_alloc, expected, ok_flag) == (
        1, 4, 10, 10, True,
    )
    # pin the pairing: (s_rk, d_rk, alloc) = (1,1,3),(1,2,2),(2,2,2),(2,3,3)
    want = sum(a * ((s * 1009 + d) % 9973) for s, d, a in
               [(1, 1, 3), (1, 2, 2), (2, 2, 2), (2, 3, 3)])
    assert checksum == want


def test_fifo_conservation_real(spark):
    from pdf_craft_spark.queries.behavior import fifo_inventory_match

    row = fifo_inventory_match(spark, SF).collect()[0]
    assert row["conservation_ok"] is True
    assert row["total_alloc"] > 0


# --- bh_fdr_scan -------------------------------------------------------------


def test_bh_planted_shift_is_discovered():
    """Double one segment's prices in a synthetic orders table: that
    segment must surface at bh_rank 1 and be a discovery; the discovery
    set must be a prefix of the rank order."""
    from pdf_craft_spark.queries.statsq import BH_FDR_SCAN_SQL

    con = duckdb.connect()
    con.execute(
        """CREATE VIEW orders AS
        SELECT o_orderkey, o_orderpriority, o_orderstatus,
               CASE WHEN o_orderpriority = '1-URGENT' AND o_orderstatus = 'O'
                    THEN o_totalprice * 3 ELSE o_totalprice END AS o_totalprice
        FROM '/root/testdata/sf0.001/orders.parquet'"""
    )
    rows = con.execute(BH_FDR_SCAN_SQL).fetchall()
    # tripling one segment shifts the global mean, so OTHER segments may
    # also reach the add-one p floor and tie; the planted one must be at
    # the floor and discovered, and discoveries must form a rank prefix
    planted = [r for r in rows if r[0] == "1-URGENT" and r[1] == "O"][0]
    assert planted[4] == min(r[4] for r in rows)  # minimal n_ge
    assert planted[7] is True  # discovered
    flags = [r[7] for r in rows]
    assert flags == sorted(flags, reverse=True)  # discoveries are a prefix


def test_bh_null_corpus_controls_fdr(spark):
    """On the real (homogeneous) corpus the scan must not reject wildly:
    discoveries form a prefix and p_milli is nondecreasing in rank."""
    from pdf_craft_spark.queries.statsq import bh_fdr_scan

    rows = bh_fdr_scan(spark, SF01).collect()
    assert len(rows) == 15
    ps = [r["p_milli"] for r in rows]
    assert ps == sorted(ps)
    flags = [r["discovery"] for r in rows]
    assert flags == sorted(flags, reverse=True)
    assert sum(flags) <= 3  # FDR control: at most a stray few on null data


# --- cleaning_funnel_report --------------------------------------------------


def test_funnel_first_gate_attribution_and_reconciliation():
    """Synthetic docs aimed at each gate: a doc failing BOTH length and
    repetition counts only at too_short; stage deltas reconcile."""
    from pdf_craft_spark.queries.textops import CLEANING_FUNNEL_REPORT_SQL

    docs = {
        1: "a b c",                                    # too_short (and repetitive)
        2: " ".join(["dup"] + [f"w{i}" for i in range(25)]),   # dup_marker
        3: " ".join(["x"] * 15 + [f"y{i}" for i in range(10)]),  # repetitive
        # low diversity but NOT repetitive: 7 distinct over 26 tokens
        # (ttr 269k < 310k) with max count 4 (154k ppm <= 160k)
        4: " ".join(
            ["p0"] * 4 + ["p1"] * 4 + ["p2"] * 4 + ["p3"] * 4
            + ["p4"] * 4 + ["p5"] * 3 + ["p6"] * 3
        ),
        5: " ".join(f"z{i}" for i in range(30)),       # clean
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({k}, '{v}')" for k, v in docs.items())
        + ") AS t(doc_id, text)"
    )
    rows = con.execute(CLEANING_FUNNEL_REPORT_SQL).fetchall()
    by = {r[0]: r for r in rows}
    assert by["1:too_short"][1] == 1
    assert by["2:dup_marker"][1] == 1
    assert by["3:too_repetitive"][1] == 1
    assert by["4:low_diversity"][1] == 1
    assert by["5:pass"][1] == 1
    # reconciliation: remaining after each gate drops by the next kill
    order = ["1:too_short", "2:dup_marker", "3:too_repetitive",
             "4:low_diversity", "5:pass"]
    remaining = 5
    for g in order[:-1]:
        remaining -= by[g][1]
        assert by[g][2] == remaining, g
    assert sum(by[g][1] for g in order) == 5


def test_funnel_real_corpus_reconciles(spark):
    from pdf_craft_spark.queries.textops import cleaning_funnel_report

    rows = cleaning_funnel_report(spark, SF01).collect()
    total = sum(r["n_docs"] for r in rows)
    assert total == 500
    run = total
    for r in rows[:-1]:
        run -= r["n_docs"]
        assert r["n_remaining_after"] == run


# --- skew_salting_advisor ----------------------------------------------------


def test_skew_advisor_matches_python_model(spark):
    """Recompute both load models exactly in python from the key counts."""
    from pdf_craft_spark.queries.analyticsq import (
        SKEW_P_TASKS,
        SKEW_SALT_S,
        skew_salting_advisor,
    )

    row = skew_salting_advisor(spark, SF).collect()[0]
    con = duck_views(SF, ("lineitem", "part"))
    keys = con.execute(
        """SELECT p_brand, count(*) FROM lineitem
           JOIN part ON l_partkey = p_partkey GROUP BY 1"""
    ).fetchall()

    def h40(s):
        import hashlib

        return int(hashlib.md5(s.encode()).hexdigest()[:10], 16)

    loads = {}
    for b, c in keys:
        t = h40(b) % SKEW_P_TASKS
        loads[t] = loads.get(t, 0) + c
    assert row["max_unsalted"] == max(loads.values())
    assert row["tasks_used_unsalted"] == len(loads)
    sloads = {}
    for b, c in keys:
        for s in range(SKEW_SALT_S):
            share = c // SKEW_SALT_S + (1 if s < c % SKEW_SALT_S else 0)
            t = h40(f"{b}|{s}") % SKEW_P_TASKS
            sloads[t] = sloads.get(t, 0) + share
    assert row["max_salted"] == max(sloads.values())
    assert sum(loads.values()) == sum(sloads.values()) == row["n_rows"]
    assert row["max_salted"] <= row["max_unsalted"]


# --- ann_dim_truncation_eval -------------------------------------------------


def test_trunc_recall_monotone_and_bounded(spark):
    from pdf_craft_spark.queries.similarity import ann_dim_truncation_eval

    rows = ann_dim_truncation_eval(spark, SF01).collect()
    assert [r["trunc_dim"] for r in rows] == [8, 16, 32]
    recalls = [r["recall_ppm"] for r in rows]
    assert all(0 <= r <= 1_000_000 for r in recalls)
    # more dimensions never hurt on this corpus (weak monotonicity)
    assert recalls[0] <= recalls[2]


# --- rbo_rank_overlap --------------------------------------------------------


def test_rbo_extremes():
    """Identical rankings hit the truncated maximum sum(w_d)/10 exactly;
    disjoint top-10s give 0."""
    from pdf_craft_spark.queries.textops import RBO_DEPTH, RBO_W, RBO_RANK_OVERLAP_SQL

    # identical: revenue and count rank suppliers the same way
    con = duckdb.connect()
    vals = ", ".join(
        f"({s}, {1000.0 * (30 - s)})" for s in range(1, 21) for _ in range(30 - s)
    )
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM (VALUES "
        + vals
        + ") AS t(l_suppkey, l_extendedprice)"
    )
    depth, overlap, rbo = con.execute(RBO_RANK_OVERLAP_SQL).fetchone()
    assert overlap == RBO_DEPTH
    assert rbo == sum(RBO_W) // 10
    # disjoint: low keys win revenue, high keys win count
    con2 = duckdb.connect()
    rows = []
    for s in range(1, 11):  # revenue kings: one huge line each
        rows.append(f"({s}, 9000000.0)")
    for s in range(11, 21):  # count kings: many cheap lines
        rows += [f"({s}, 1.0)"] * 40
    con2.execute(
        "CREATE VIEW lineitem AS SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(l_suppkey, l_extendedprice)"
    )
    depth2, overlap2, rbo2 = con2.execute(RBO_RANK_OVERLAP_SQL).fetchone()
    assert overlap2 == 0 and rbo2 == 0


# --- holt_linear_forecast ----------------------------------------------------


def test_holt_linear_series_learns_trend():
    """On a perfectly linear daily series (starting on a Monday so every
    week is complete) the weekly series is exactly linear with slope
    49*7 = 343/week; the trend state must converge to 343*1000 milli and
    the one-step forecast to the next weekly total."""
    from pdf_craft_spark.queries.timeseries import HOLT_LINEAR_FORECAST_SQL

    con = duckdb.connect()
    # 2001-01-01 is a Monday; 301 days = 43 complete weeks
    rows = ", ".join(
        f"('1-URGENT', TIMESTAMP '2001-01-01' + INTERVAL ({i}) DAY, {1000 + 7 * i}.0)"
        for i in range(301)
    )
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + rows
        + ") AS t(o_orderpriority, o_orderdate, o_totalprice)"
    )
    pri, n, l, b, f, sae = con.execute(HOLT_LINEAR_FORECAST_SQL).fetchone()
    assert n == 43
    assert abs(b - 343_000) <= 3500, b  # weekly slope in milli (1% tol)
    weekly = [sum(1000 + 7 * (7 * w + d) for d in range(7)) for w in range(44)]
    assert abs(f - 1000 * weekly[43]) <= 20_000, f


def test_holt_kernel_equals_python_recurrence(spark):
    """Run the kernel on the real corpus and replay the recurrence in
    python with truncating division — states must match exactly."""
    from pdf_craft_spark.queries.timeseries import (
        HOLT_AD, HOLT_AN, HOLT_BD, HOLT_BN, holt_linear_forecast,
    )

    got = {r["pri"]: r for r in holt_linear_forecast(spark, SF).collect()}
    con = duck_views(SF, ("orders",))
    series = con.execute(
        """SELECT o_orderpriority,
                  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) // 100 AS BIGINT) AS y
           FROM orders
           GROUP BY o_orderpriority,
                    date_trunc('week', CAST(o_orderdate AS DATE))
           ORDER BY o_orderpriority,
                    date_trunc('week', CAST(o_orderdate AS DATE))"""
    ).fetchall()

    def tdiv(a, d):
        return -((-a) // d) if a < 0 else a // d

    state: dict = {}
    for pri, y in series:
        y = int(y)
        if pri not in state:
            state[pri] = [1000 * y, 0, 0, 1]
            continue
        l, b, sae, n = state[pri]
        sae += abs(l + b - 1000 * y)
        l_new = tdiv(HOLT_AN * 1000 * y + (HOLT_AD - HOLT_AN) * (l + b), HOLT_AD)
        b = tdiv(HOLT_BN * (l_new - l) + (HOLT_BD - HOLT_BN) * b, HOLT_BD)
        state[pri] = [l_new, b, sae, n + 1]
    for pri, (l, b, sae, n) in state.items():
        assert got[pri]["level_milli"] == l, pri
        assert got[pri]["trend_milli"] == b
        assert got[pri]["sae_milli"] == sae
        assert got[pri]["n_weeks"] == n


# --- training_label_join -----------------------------------------------------


def test_training_label_join_leakage_and_balance(spark):
    from pdf_craft_spark.queries.traindata import training_label_join

    rows = training_label_join(spark, SF01).collect()
    assert rows
    assert all(r["leakage_free"] for r in rows)
    labels = {r["label"] for r in rows}
    assert labels == {0, 1}  # both classes populated
    pos = sum(r["label"] for r in rows)
    assert 0.1 * len(rows) < pos < 0.9 * len(rows)  # non-degenerate target


def test_training_label_join_independent_recompute():
    """Recompute one user's features and label with an independently
    written DuckDB query."""
    from pdf_craft_spark.queries.traindata import TRAINING_LABEL_JOIN_SQL

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM"
        " '/root/testdata/sf0.001/events.parquet'"
    )
    rows = {r[0]: r for r in con.execute(TRAINING_LABEL_JOIN_SQL).fetchall()}
    chk = con.execute(
        """
        WITH c AS (SELECT min(CAST(ts AS DATE)) + INTERVAL 20 DAY AS cut
                   FROM events)
        SELECT user_id,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END),
               count(DISTINCT CAST(ts AS DATE))
        FROM events, c WHERE CAST(ts AS DATE) < cut
        GROUP BY user_id ORDER BY user_id LIMIT 5
        """
    ).fetchall()
    for uid, n_clicks, days in chk:
        assert rows[uid][1] == n_clicks
        assert rows[uid][5] == days


# --- sequential_ab_sprt ------------------------------------------------------


def _sprt_on(counts):
    """counts: list of (n_purchase, n_other) per day."""
    from pdf_craft_spark.queries.statsq import SEQUENTIAL_AB_SPRT_SQL

    con = duckdb.connect()
    rows = []
    eid = 0
    for d, (np_, no_) in enumerate(counts):
        for _ in range(np_):
            eid += 1
            rows.append(
                f"(TIMESTAMP '2024-02-01' + INTERVAL ({d}) DAY, 'purchase')"
            )
        for _ in range(no_):
            eid += 1
            rows.append(f"(TIMESTAMP '2024-02-01' + INTERVAL ({d}) DAY, 'view')")
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(ts, event_type)"
    )
    return con.execute(SEQUENTIAL_AB_SPRT_SQL).fetchone()


def test_sprt_three_outcomes():
    # high purchase rate (30%) -> accept_h1 quickly
    n, dec, day, at, fin = _sprt_on([(30, 70)] * 10)
    assert dec == "accept_h1" and day != ""
    # low rate (10%) -> accept_h0
    n, dec, day, at, fin = _sprt_on([(10, 90)] * 10)
    assert dec == "accept_h0"
    # boundary rate (19%), tiny sample -> continue
    n, dec, day, at, fin = _sprt_on([(19, 81)])
    assert dec == "continue" and day == "" and at == 0


# --- ipw_bias_correction -----------------------------------------------------


def test_ipw_beats_naive(spark):
    from pdf_craft_spark.queries.statsq import ipw_bias_correction

    row = ipw_bias_correction(spark, SF01).collect()[0]
    assert abs(row["naive_err_bp"]) > 1000  # the planted bias is material
    assert abs(row["ipw_err_bp"]) < abs(row["naive_err_bp"]) // 5
    assert 0 < row["n_sample"] < row["n_pop"]


# --- bandit_replay_eval ------------------------------------------------------


def test_bandit_replay_finds_planted_best_action():
    """Plant a context where 'signup' pays 10x: the greedy policy must
    choose it and the replay mean must beat the behavior mean."""
    from pdf_craft_spark.queries.mlq import BANDIT_REPLAY_EVAL_SQL

    con = duckdb.connect()
    rows = []
    for d in range(30):
        for a, v in (("click", 10.0), ("view", 12.0), ("signup", 120.0)):
            for h in (1, 7, 13, 19):  # all four contexts
                rows.append(
                    f"(TIMESTAMP '2024-03-01' + INTERVAL ({d}) DAY"
                    f" + INTERVAL ({h}) HOUR, '{a}', {v})"
                )
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(ts, event_type, value)"
    )
    out = con.execute(BANDIT_REPLAY_EVAL_SQL).fetchall()
    assert len(out) == 4
    for ctx, chosen, train_mean, n_eval, n_matched, behav, replay in out:
        assert chosen == "signup"
        assert replay == 12000  # cents
        assert replay > behav
        assert n_matched * 3 == n_eval


# --- embedding_drift_monitor -------------------------------------------------


def test_drift_monitor_null_and_planted():
    """On identical halves nothing drifts; shifting one half's dim 0 by a
    large constant fires the flag on exactly that dim."""
    from pdf_craft_spark.queries.mlq import EMBEDDING_DRIFT_MONITOR_SQL

    import random

    rng = random.Random(7)
    rows = []
    for vid in range(400):
        vec = [round(rng.uniform(-1, 1), 4) for _ in range(4)]
        rows.append((vid, vec))
    def mk(shift0):
        con = duckdb.connect()
        vals = []
        for vid, vec in rows:
            v = list(vec)
            # halves are md5-keyed inside the op; shift by parity of the
            # same hash so the plant aligns with the op's split
            import hashlib
            h = int(hashlib.md5(str(vid).encode()).hexdigest()[:4], 16)
            if shift0 and h % 2 == 0:
                v[0] += 5.0
            arr = "[" + ", ".join(f"{x}::FLOAT" for x in v) + "]"
            vals.append(f"({vid}, {arr})")
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM (VALUES "
            + ", ".join(vals)
            + ") AS t(vec_id, embedding)"
        )
        return con.execute(EMBEDDING_DRIFT_MONITOR_SQL).fetchall()

    null_rows = mk(False)
    assert not any(r[6] for r in null_rows), null_rows
    planted = mk(True)
    assert planted[0][6] is True  # dim 0 drifted
    assert not any(r[6] for r in planted[1:])


def test_drift_monitor_real_corpus_stationary(spark):
    from pdf_craft_spark.queries.mlq import embedding_drift_monitor

    rows = embedding_drift_monitor(spark, SF01).collect()
    assert len(rows) == 64
    assert sum(r["drifted"] for r in rows) <= 2  # stationary corpus


# --- rolling_p90_exact_7d ----------------------------------------------------


def test_rolling_p90_matches_python(spark):
    """Recompute each 7-day window's exact p90 (ceil(0.9n)-th order stat)
    in python at sf0.001."""
    from pdf_craft_spark.queries.timeseries import rolling_p90_exact_7d

    got = {r["w_day"]: r for r in rolling_p90_exact_7d(spark, SF).collect()}
    con = duck_views(SF, ("orders",))
    raw = con.execute(
        """SELECT CAST(o_orderdate AS DATE),
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           FROM orders"""
    ).fetchall()
    from collections import defaultdict
    import datetime

    by_day = defaultdict(list)
    for d, v in raw:
        by_day[d].append(v)
    days = sorted(by_day)
    for d in days:
        vals = sorted(
            v
            for k in range(7)
            for v in by_day.get(d - datetime.timedelta(days=k), [])
        )
        n = len(vals)
        thr = (9 * n + 9) // 10
        want = vals[thr - 1]
        g = got[str(d)]
        assert g["n_window"] == n and g["p90_cents"] == want, d


# --- join_order_advisor ------------------------------------------------------


def test_join_order_advisor_predictions_are_exact(spark):
    """The predicted intermediate and final sizes must equal the actual
    executed join sizes."""
    from pdf_craft_spark.queries.analyticsq import join_order_advisor

    row = join_order_advisor(spark, SF).collect()[0]
    con = duck_views(SF, ("lineitem", "orders", "customer"))
    ia = con.execute(
        "SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).fetchone()[0]
    ib = con.execute(
        "SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey"
    ).fetchone()[0]
    fa = con.execute(
        """SELECT count(*) FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey"""
    ).fetchone()[0]
    assert row["intermediate_li_orders"] == ia
    assert row["intermediate_orders_cust"] == ib
    assert row["final_rows"] == fa == row["final_rows_check"]
    want = "li_join_(o_join_c)" if ib < ia else "(li_join_o)_join_c"
    assert row["recommended_order"] == want


# --- apriori_triples ---------------------------------------------------------


def test_apriori_matches_bruteforce_and_downward_closure(spark):
    from pdf_craft_spark.queries.behavior import APRIORI_MIN_SUP, apriori_triples

    rows = apriori_triples(spark, SF).collect()
    assert rows  # non-empty at sf0.001 (94 triples measured)
    con = duck_views(SF, ("lineitem",))
    brute = {
        (pa, pb, pc): s
        for pa, pb, pc, s in con.execute(
            f"""WITH it AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem)
            SELECT a.p, b.p, c.p, count(*) FROM it a
            JOIN it b ON a.o=b.o AND a.p<b.p
            JOIN it c ON a.o=c.o AND b.p<c.p
            GROUP BY 1,2,3 HAVING count(*) >= {APRIORI_MIN_SUP}"""
        ).fetchall()
    }
    got = {(r["pa"], r["pb"], r["pc"]): r["support"] for r in rows}
    assert got == brute  # pruning loses nothing (downward closure)
    # and every sub-pair of every frequent triple is itself frequent
    pair_sup = {
        (a, b): s
        for a, b, s in con.execute(
            """WITH it AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem)
            SELECT a.p, b.p, count(*) FROM it a
            JOIN it b ON a.o=b.o AND a.p<b.p GROUP BY 1,2"""
        ).fetchall()
    }
    for (pa, pb, pc), s in got.items():
        for pr in ((pa, pb), (pb, pc), (pa, pc)):
            assert pair_sup[pr] >= s


# --- postings_delta_merge ----------------------------------------------------


def test_postings_merge_lossless(spark):
    from pdf_craft_spark.queries.indexing import postings_delta_merge

    rows = postings_delta_merge(spark, SF).collect()
    assert rows
    assert all(r["consistent"] for r in rows)


def test_postings_merge_tamper_detected():
    """Drop the tombstone filter from the merge path (simulating a buggy
    compaction) — the consistency flag must catch it."""
    from pdf_craft_spark.queries.indexing import POSTINGS_DELTA_MERGE_SQL

    broken = POSTINGS_DELTA_MERGE_SQL.replace(
        "WHERE doc_id % 10 != 0 AND doc_id % 20 != 7",
        "WHERE doc_id % 10 != 0",
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        " '/root/testdata/sf0.001/documents.parquet'"
    )
    rows = con.execute(broken).fetchall()
    assert any(not r[5] for r in rows)  # inconsistency surfaces


# --- graph_modularity_partitions ----------------------------------------------


def test_modularity_components_invariant(spark):
    """Connected components make every edge internal: edges_within == m,
    so Q = 1 - sum d_c^2 / 4m^2; and components must score >= LPA."""
    from pdf_craft_spark.queries.graphq import graph_modularity_partitions

    rows = {r["partition_by"]: r for r in
            graph_modularity_partitions(spark, SF).collect()}
    cc, lpa = rows["components"], rows["lpa"]
    assert cc["edges_within"] == cc["n_edges"]
    want_q = (1_000_000 * (4 * cc["n_edges"] * cc["n_edges"] - cc["sum_dc2"])
              ) // (4 * cc["n_edges"] * cc["n_edges"])
    assert cc["q_ppm"] == want_q
    assert cc["q_ppm"] >= lpa["q_ppm"]
    assert -500_000 <= lpa["q_ppm"] <= 1_000_000


# --- substring_dedup_apply ---------------------------------------------------


def test_substring_apply_keeps_canonical_copy():
    """Docs 1 and 2 share a 10-token passage: doc 1 (lower id) keeps it,
    doc 2 loses exactly those 10 tokens; doc 3 is untouched."""
    import hashlib

    from pdf_craft_spark.queries.dedup import SUBSTRING_DEDUP_APPLY_SQL

    passage = " ".join(f"p{i}" for i in range(10))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        f"(1, 'a0 a1 {passage}'), (2, '{passage} b0 b1 b2'), "
        f"(3, '{' '.join(f'c{i}' for i in range(12))}')"
        ") AS t(doc_id, text)"
    )
    rows = {r[0]: r for r in con.execute(SUBSTRING_DEDUP_APPLY_SQL).fetchall()}
    assert rows[1][1:4] == (12, 12, 0)  # untouched keeper
    assert rows[2][1:4] == (13, 3, 10)  # passage removed
    assert rows[2][4] == hashlib.md5(b"b0 b1 b2").hexdigest()
    assert rows[3][3] == 0


def test_substring_apply_reconciles_with_find(spark):
    """Tokens removed per doc == union size of that doc's NON-CANONICAL
    span coverage; docs reporting spans but holding the canonical copy
    lose nothing."""
    from pdf_craft_spark.queries.dedup import substring_dedup_apply

    rows = substring_dedup_apply(spark, SF).collect()
    assert sum(r["n_removed"] for r in rows) > 0
    for r in rows:
        assert r["n_after"] + r["n_removed"] == r["n_before"]


# --- median_ci_orderstat -----------------------------------------------------


def test_median_ci_matches_python_orderstats(spark):
    import math

    from pdf_craft_spark.queries.statsq import (
        MEDIAN_CI_Z_MILLI,
        median_ci_orderstat,
    )

    row = median_ci_orderstat(spark, SF).collect()[0]
    con = duck_views(SF, ("orders",))
    vals = sorted(
        v for (v,) in con.execute(
            "SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " FROM orders"
        ).fetchall()
    )
    n = len(vals)
    z = MEDIAN_CI_Z_MILLI / 1000.0
    r_lo = math.floor(n / 2.0 - z / 2.0 * math.sqrt(n))
    r_med = (n + 1) // 2
    r_hi = math.ceil(n / 2.0 + 1 + z / 2.0 * math.sqrt(n))
    assert row["n"] == n
    assert row["ci_lo_cents"] == vals[r_lo - 1]
    assert row["median_cents"] == vals[r_med - 1]
    assert row["ci_hi_cents"] == vals[r_hi - 1]
    assert row["ci_lo_cents"] <= row["median_cents"] <= row["ci_hi_cents"]


# --- neyman_allocation -------------------------------------------------------


def test_neyman_allocations_sum_to_budget_and_track_weights(spark):
    from pdf_craft_spark.queries.statsq import NEYMAN_BUDGET, neyman_allocation

    rows = neyman_allocation(spark, SF).collect()
    assert sum(r["alloc"] for r in rows) == NEYMAN_BUDGET
    # allocations proportional to n_h * sd_h within 1 unit of rounding
    wt = sum(r["n_h"] * r["sd_milli_dollars"] for r in rows)
    for r in rows:
        ideal = NEYMAN_BUDGET * r["n_h"] * r["sd_milli_dollars"] / wt
        assert abs(r["alloc"] - ideal) < 1.0
        assert 0 <= r["share_ppm"] <= 1_000_000


# --- streaming_checkpoint_restart --------------------------------------------


def test_streaming_restart_exactly_once(spark):
    """The op restarts the query mid-feed; its output must equal the
    one-shot batch aggregate with exactly 3 batch appends per type."""
    from pdf_craft_spark.queries.streamingq import streaming_checkpoint_restart

    rows = {r["event_type"]: r for r in
            streaming_checkpoint_restart(spark, SF).collect()}
    con = duck_views(SF, ("events",))
    want = dict(
        con.execute(
            "SELECT event_type, count(*) FROM events GROUP BY 1"
        ).fetchall()
    )
    assert set(rows) == set(want)
    for t, n in want.items():
        assert rows[t]["n_events"] == n
        assert rows[t]["n_batches"] == 3  # 1 before restart + 2 after


# --- yoy_mom_growth ----------------------------------------------------------


def test_yoy_mom_calendar_alignment():
    """A missing month must produce NULL MoM (not compare to the wrong
    month); planted doubling gives exactly +10000 bp."""
    from pdf_craft_spark.queries.timeseries import YOY_MOM_GROWTH_SQL

    con = duckdb.connect()
    months = [("2001-01", 100), ("2001-02", 200), ("2001-04", 400),
              ("2002-01", 300)]
    vals = []
    for ym, amount in months:
        vals.append(f"(TIMESTAMP '{ym}-15 00:00:00', {amount}.0)")
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(o_orderdate, o_totalprice)"
    )
    rows = {(r[0], r[1]): r for r in con.execute(YOY_MOM_GROWTH_SQL).fetchall()}
    assert rows[(2001, 2)][3] == 10000      # 100 -> 200 = +100.00%
    assert rows[(2001, 4)][3] is None       # March missing -> NULL MoM
    assert rows[(2002, 1)][4] == 20000      # YoY 100 -> 300 = +200.00%
    assert rows[(2001, 1)][3] is None and rows[(2001, 1)][4] is None


# --- deletion_impact_scan ----------------------------------------------------


def test_deletion_impact_matches_direct_counts(spark):
    from pdf_craft_spark.queries.dataquality import deletion_impact_scan

    rows = {r["table_name"]: r for r in
            deletion_impact_scan(spark, SF).collect()}
    con = duck_views(SF, ("customer", "orders", "lineitem"))
    n_c = con.execute(
        "SELECT count(*) FROM customer WHERE c_custkey % 50 = 3"
    ).fetchone()[0]
    n_o = con.execute(
        "SELECT count(*) FROM orders WHERE o_custkey % 50 = 3"
    ).fetchone()[0]
    n_li = con.execute(
        """SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_custkey % 50 = 3"""
    ).fetchone()[0]
    assert rows["customer"]["rows_to_delete"] == n_c
    assert rows["orders"]["rows_to_delete"] == n_o
    assert rows["lineitem"]["rows_to_delete"] == n_li
    assert rows["orders"]["max_per_subject"] >= (
        n_o + rows["orders"]["subjects_affected"] - 1
    ) // rows["orders"]["subjects_affected"]


# --- encoding_advisor --------------------------------------------------------


def test_encoding_advisor_planted_layouts():
    """A column with long runs under the sort order gets RLE; a low-NDV
    scattered column gets DICT; a unique column gets PLAIN."""
    from pdf_craft_spark.queries.dataquality import ENCODING_ADVISOR_SQL

    con = duckdb.connect()
    vals = []
    for i in range(1000):
        status = "AAA" if i < 500 else "BBB"      # two huge runs -> RLE
        pri = f"p{i % 4}"                          # 4 values scattered -> DICT
        vals.append(
            f"(TIMESTAMP '2001-01-01' + INTERVAL ({i}) HOUR, {i}, "
            f"'{status}', '{pri}', {i}, {i * 7 % 997}.{i % 100:02d})"
        )
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(o_orderdate, o_orderkey, o_orderstatus, o_orderpriority,"
        " o_custkey, o_totalprice)"
    )
    rows = {r[0]: r for r in con.execute(ENCODING_ADVISOR_SQL).fetchall()}
    assert rows["status"][5] == "RLE" and rows["status"][3] == 2
    assert rows["priority"][5] == "DICT"
    assert rows["custkey"][5] == "PLAIN" and rows["custkey"][2] == 1000


# --- bitmap_index_intersect --------------------------------------------------


def test_bitmap_words_match_python(spark):
    from pdf_craft_spark.queries.indexing import bitmap_index_intersect

    row = bitmap_index_intersect(spark, SF).collect()[0]
    assert row["index_consistent"] is True
    con = duck_views(SF, ("orders",))
    keys_f = {k for (k,) in con.execute(
        "SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'").fetchall()}
    keys_u = {k for (k,) in con.execute(
        "SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'"
    ).fetchall()}
    def words(keys):
        w = {}
        for k in keys:
            w[k // 63] = w.get(k // 63, 0) | (1 << (k % 63))
        return w
    wf, wu = words(keys_f), words(keys_u)
    inter = {b: wf[b] & wu[b] for b in wf if b in wu}
    assert row["n_words_f"] == len(wf)
    assert row["n_words_u"] == len(wu)
    assert row["n_words_intersected"] == len(inter)
    assert row["bitmap_count"] == sum(bin(v).count("1") for v in inter.values())
    assert row["scan_count"] == len(keys_f & keys_u)


# --- wilson_lower_bound_ranking ----------------------------------------------


def test_wilson_penalizes_small_samples():
    """A 2-for-2 brand outranks a 900-for-1000 brand naively but NOT by
    Wilson lower bound."""
    from pdf_craft_spark.queries.statsq import WILSON_LOWER_BOUND_RANKING_SQL

    con = duckdb.connect()
    rows = []
    rows += ["(1, 'R')"] * 2                       # tiny perfect brand
    rows += ["(2, 'R')"] * 900 + ["(2, 'N')"] * 100  # big 90% brand
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(l_partkey, l_returnflag)"
    )
    con.execute(
        "CREATE VIEW part AS SELECT * FROM (VALUES "
        "(1, 'TINY'), (2, 'BIG')) AS t(p_partkey, p_brand)"
    )
    out = {r[0]: r for r in con.execute(WILSON_LOWER_BOUND_RANKING_SQL).fetchall()}
    assert out["TINY"][3] == 1_000_000 and out["TINY"][5] == 1  # naive winner
    assert out["BIG"][6] == 1 and out["TINY"][6] == 2           # wilson flips
    assert out["TINY"][4] < out["BIG"][4]


def test_wilson_real_corpus_bounds(spark):
    from pdf_craft_spark.queries.statsq import wilson_lower_bound_ranking

    rows = wilson_lower_bound_ranking(spark, SF).collect()
    for r in rows:
        assert 0 <= r["wilson_lb_ppm"] <= r["naive_ppm"] <= 1_000_000


# --- partition_granularity_advisor -------------------------------------------


def test_partition_advisor_picks_finest_clearing_grain():
    """With ~100 rows/day, day avg misses the 2000 floor but month
    (~3000) clears it -> month chosen; exactly one grain is chosen."""
    from pdf_craft_spark.queries.dataquality import (
        PARTITION_GRANULARITY_ADVISOR_SQL,
    )

    con = duckdb.connect()
    vals = []
    for d in range(90):
        for i in range(100):
            vals.append(f"(TIMESTAMP '2001-01-01' + INTERVAL ({d}) DAY)")
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(o_orderdate)"
    )
    rows = {r[0]: r for r in con.execute(
        PARTITION_GRANULARITY_ADVISOR_SQL).fetchall()}
    assert rows["1:day"][2] == 100 and rows["1:day"][6] is False
    assert rows["3:month"][6] is True
    assert sum(1 for r in rows.values() if r[6]) == 1


# --- dp_noisy_histogram ------------------------------------------------------


def test_dp_noise_distribution_calibrated():
    """Over 600 synthetic cells the hash-driven discrete-Laplace noise
    must average ~0 with mean |noise| near the theoretical
    2t/((1+t)(1-t)) = 1.919 for eps = 0.5."""
    import math

    from pdf_craft_spark.queries.dataquality import DP_EPS, DP_NOISY_HISTOGRAM_SQL

    con = duckdb.connect()
    vals = ", ".join(f"('cell{i:04d}')" for i in range(600))
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + vals
        + ") AS t(o_orderpriority)"
    )
    rows = con.execute(DP_NOISY_HISTOGRAM_SQL).fetchall()
    noises = [r[2] for r in rows]
    assert all(-40 <= z <= 40 for z in noises)
    t = math.exp(-DP_EPS)
    theo = 2 * t / ((1 + t) * (1 - t))
    mean_abs = sum(abs(z) for z in noises) / len(noises)
    assert abs(mean_abs - theo) < 0.35, mean_abs
    assert abs(sum(noises) / len(noises)) < 0.3
    # reproducible: same cell name -> same noise
    again = con.execute(DP_NOISY_HISTOGRAM_SQL).fetchall()
    assert again == rows


def test_dp_counts_consistent(spark):
    from pdf_craft_spark.queries.dataquality import dp_noisy_histogram

    rows = dp_noisy_histogram(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["noisy_count"] == r["true_count"] + r["noise"]


# --- lpt_shard_scheduling ----------------------------------------------------


def test_lpt_placement_valid_and_bounded(spark):
    from pdf_craft_spark.queries.analyticsq import (
        LPT_WORKERS,
        lpt_shard_scheduling,
    )

    rows = lpt_shard_scheduling(spark, SF).collect()
    # per-worker loads reconstruct: each worker's final load = sum costs
    per_worker: dict = {}
    for r in sorted(rows, key=lambda r: r["load_after"]):
        per_worker.setdefault(r["worker"], 0)
    for r in rows:
        per_worker[r["worker"]] += r["cost"]
    makespan = rows[0]["makespan"]
    assert makespan == max(per_worker.values())
    assert set(per_worker) <= set(range(LPT_WORKERS))
    assert makespan >= rows[0]["lower_bound"]
    total = sum(r["cost"] for r in rows)
    assert sum(per_worker.values()) == total
    # the placement IS the LPT greedy: replay it exactly in python
    loads = [0] * LPT_WORKERS
    want = {}
    for r in sorted(rows, key=lambda r: (-r["cost"], r["shard"])):
        w = min(range(LPT_WORKERS), key=lambda i: (loads[i], i))
        loads[w] += r["cost"]
        want[r["shard"]] = (w, loads[w])
    for r in rows:
        assert (r["worker"], r["load_after"]) == want[r["shard"]], r["shard"]


# --- equidepth_histogram -----------------------------------------------------


def test_equidepth_edges_match_orderstats(spark):
    from pdf_craft_spark.queries.dataquality import (
        EQUIDEPTH_BINS,
        equidepth_histogram,
    )

    rows = equidepth_histogram(spark, SF).collect()
    con = duck_views(SF, ("orders",))
    vals = sorted(
        v for (v,) in con.execute(
            "SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " FROM orders"
        ).fetchall()
    )
    n = len(vals)
    assert [r["q"] for r in rows] == list(range(1, EQUIDEPTH_BINS))
    prev = None
    for r in rows:
        target = (r["q"] * n + EQUIDEPTH_BINS - 1) // EQUIDEPTH_BINS
        assert r["target_rank"] == target
        assert r["edge_cents"] == vals[target - 1]
        assert r["attained_rank"] >= target
        if prev is not None:
            assert r["edge_cents"] >= prev
        prev = r["edge_cents"]


# --- learning_curve_eval -----------------------------------------------------


def test_learning_curve_nested_and_falling(spark):
    """Subsets are nested so the curve must be weakly falling toward the
    full-data floor (allowing small-sample noise at the 1% point only
    in the downward direction overall)."""
    from pdf_craft_spark.queries.mlq import LC_FRACS_PPM, learning_curve_eval

    rows = learning_curve_eval(spark, SF01).collect()
    assert [r["frac_ppm"] for r in rows] == list(LC_FRACS_PPM)
    rmses = [r["rmse_cents"] for r in rows]
    assert rmses[-1] <= rmses[0]  # more data never ends worse
    assert rmses[-1] <= min(rmses) * 1.01  # full data is (near) the floor
    assert len({r["n_test"] for r in rows}) == 1  # fixed test fold


# --- date_semantics_matrix ---------------------------------------------------


def test_date_matrix_known_answers(spark):
    from pdf_craft_spark.queries.dataquality import date_semantics_matrix

    rows = {r["case_name"]: r["result"] for r in
            date_semantics_matrix(spark, SF).collect()}
    assert rows["1:eom_clamp"] == "2001-02-28"
    assert rows["2:leap_plus_year"] == "2001-02-28"
    assert rows["3:iso_week_boundary"] == "53"  # ISO week of 2004
    assert rows["4:monday_weekday"] == "0"      # 2001-01-01 is a Monday
    assert rows["5:last_day"] == "2000-02-29"   # leap February
    assert rows["6:quarter"] == "4"
    assert rows["7:leap_span_diff"] == "365"    # 2000-03-01..2001-03-01


# --- pvm_decomposition -------------------------------------------------------


def test_pvm_planted_pure_effects():
    """Period 2 doubles volume at identical prices -> the whole delta is
    the volume effect; a price-only change loads the price effect."""
    from pdf_craft_spark.queries.analyticsq import PVM_DECOMPOSITION_SQL

    con = duckdb.connect()
    rows = []
    # volume case: seg VOL, 10 orders @ $100 in p1, 20 orders @ $100 in p2
    for i in range(10):
        rows.append("('VOL', TIMESTAMP '2001-01-05', 100.0)")
    for i in range(20):
        rows.append("('VOL', TIMESTAMP '2001-03-25', 100.0)")
    # price case: seg PRC, 10 @ $100 in p1, 10 @ $150 in p2
    for i in range(10):
        rows.append("('PRC', TIMESTAMP '2001-01-05', 100.0)")
    for i in range(10):
        rows.append("('PRC', TIMESTAMP '2001-03-25', 150.0)")
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(o_orderpriority, o_orderdate, o_totalprice)"
    )
    out = {r[0]: r for r in con.execute(PVM_DECOMPOSITION_SQL).fetchall()}
    vol = out["VOL"]
    assert vol[3] == 100_000 and vol[4] == 100_000 and vol[5] == 0 and vol[6] == 0
    prc = out["PRC"]
    assert prc[3] == 50_000 and prc[4] == 0 and prc[5] == 50_000 and prc[6] == 0
    assert all(r[7] for r in out.values())


def test_pvm_real_corpus_reconciles(spark):
    from pdf_craft_spark.queries.analyticsq import pvm_decomposition

    rows = pvm_decomposition(spark, SF01).collect()
    assert len(rows) == 5
    assert all(r["recon_ok"] for r in rows)
    for r in rows:
        assert (
            r["volume_effect_cents"] + r["price_effect_cents"]
            + r["joint_effect_cents"] == r["delta_cents"]
        )


# --- maximal_matching_rounds -------------------------------------------------


def test_matching_on_sparse_path_graph():
    """A bipartite path c1-s1-c2-s2-c3 forces conflicts: the final
    matching must be valid (each node at most once), maximal (residual
    0), and recomputable by replaying the same greedy in python."""
    import hashlib

    from pdf_craft_spark.queries.graphq import (
        MAXIMAL_MATCHING_ROUNDS_SQL,
        MM_ROUNDS,
    )

    # path: c_i connects to s_i and s_{i-1}
    edges = []
    for c in range(1, 9):
        edges.append((c, c))
        if c > 1:
            edges.append((c, c - 1))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {c})" for i, (c, s) in enumerate(edges))
        + ") AS t(o_orderkey, o_custkey)"
    )
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {s})" for i, (c, s) in enumerate(edges))
        + ") AS t(l_orderkey, l_suppkey)"
    )
    rows = con.execute(MAXIMAL_MATCHING_ROUNDS_SQL).fetchall()
    assert rows[-1][3] == 0  # maximality certificate
    # python replay of the same rounds
    def h(c, s):
        return int(hashlib.md5(f"{c}_{s}".encode()).hexdigest()[:15], 16)

    live = set(edges)
    matched = 0
    for _ in range(MM_ROUNDS):
        prop = {}
        for c in {c for c, s in live}:
            prop[c] = min(((h(c, s), s) for cc, s in live if cc == c))[1]
        acc = {}
        for c, s in prop.items():
            if s not in acc or (h(c, s), c) < (h(acc[s], s), acc[s]):
                acc[s] = c
        pairs = {(c, s) for s, c in acc.items()}
        matched += len(pairs)
        mc = {c for c, s in pairs}
        ms = {s for c, s in pairs}
        live = {(c, s) for c, s in live if c not in mc and s not in ms}
    assert rows[-1][2] == matched
    assert rows[-1][3] == len(live) == 0


def test_matching_real_corpus_valid(spark):
    from pdf_craft_spark.queries.graphq import maximal_matching_rounds

    rows = maximal_matching_rounds(spark, SF).collect()
    assert rows[-1]["residual_edges"] == 0  # maximal on the corpus graph
    totals = [r["matched_total"] for r in rows]
    assert totals == sorted(totals)


# --- consistent_hash_balance -------------------------------------------------


def test_vnodes_tighten_the_ring(spark):
    from pdf_craft_spark.queries.analyticsq import consistent_hash_balance

    rows = {r["ring"]: r for r in consistent_hash_balance(spark, SF).collect()}
    v1, v16 = rows["v01"], rows["v16"]
    assert v1["ring_closed"] and v16["ring_closed"]
    assert v16["balance_milli"] < v1["balance_milli"]
    assert v16["max_owned"] - v16["min_owned"] < v1["max_owned"] - v1["min_owned"]


# --- snapshot_asof_version ---------------------------------------------------


def test_snapshot_asof_differs_from_head_consistently(spark):
    from pdf_craft_spark.queries.analyticsq import snapshot_asof_version

    rows = {r["snapshot"]: r for r in snapshot_asof_version(spark, SF).collect()}
    asof, head = rows["1:asof_v1"], rows["2:head"]
    # deletes only exist at head, so as-of v1 holds every key
    assert asof["n_rows"] >= head["n_rows"]
    # wave-2 updates flip some P rows to F at head
    assert head["n_f"] >= asof["n_f"] - head["n_f"] * 0  # F never decreases
    assert asof["n_rows"] == asof["n_p"] + asof["n_f"] + asof["n_o"]
    assert head["n_rows"] == head["n_p"] + head["n_f"] + head["n_o"]


# --- grid_hotspot_zscore -----------------------------------------------------


def test_hotspot_null_corpus_and_planted_cluster(spark):
    from pdf_craft_spark.queries.indexing import (
        GRID_HOTSPOT_ZSCORE_SQL,
        HOT_CELLS,
        grid_hotspot_zscore,
    )

    rows = grid_hotspot_zscore(spark, SF01).collect()
    assert len(rows) == HOT_CELLS * HOT_CELLS  # dense scaffold
    assert sum(r["hotspot"] for r in rows) == 0  # uniform scatter: no flags
    # corner cells see 4 neighbors, edges 6, interior 9
    ks = {(r["cx"], r["cy"]): r["n_neighbors"] for r in rows}
    assert ks[(0, 0)] == 4 and ks[(0, 5)] == 6 and ks[(5, 5)] == 9
    # planted cluster: 300 customers whose hash lands them anywhere, plus
    # a synthetic view stacking 200 extra ids drawn so md5 maps into one
    # cell is impractical — instead plant via a values table of custkeys
    # whose hashes we precompute to fall in one cell
    import hashlib

    def cell(k):
        h = hashlib.md5(str(k).encode()).hexdigest()
        E = 100_000
        C = E // HOT_CELLS
        x = int(h[:6], 16) % E // C
        y = int(h[6:12], 16) % E // C
        return x, y

    target = cell(1)
    planted = [k for k in range(1, 40000) if cell(k) == target][:120]
    assert len(planted) == 120
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM (VALUES "
        + ", ".join(f"({k})" for k in list(range(1, 501)) + planted)
        + ") AS t(c_custkey)"
    )
    out = {(r[0], r[1]): r for r in con.execute(GRID_HOTSPOT_ZSCORE_SQL).fetchall()}
    assert out[target][5] is True  # the planted cell flags
    n_flags = sum(1 for r in out.values() if r[5])
    assert n_flags <= 9  # only the planted neighborhood


# --- rle_roundtrip_fidelity --------------------------------------------------


def test_rle_roundtrip_lossless(spark):
    from pdf_craft_spark.queries.dataquality import rle_roundtrip_fidelity

    row = rle_roundtrip_fidelity(spark, SF).collect()[0]
    assert row["lossless"] is True
    assert row["n_runs"] <= row["n_rows"]


# --- join_estimate_error -----------------------------------------------------


def test_join_estimate_reasonable_and_exact_matches_f2(spark):
    from pdf_craft_spark.queries.dataquality import join_estimate_error

    row = join_estimate_error(spark, SF).collect()[0]
    con = duck_views(SF, ("lineitem",))
    f2 = con.execute(
        "SELECT sum(cnt * cnt) FROM (SELECT count(*) AS cnt FROM lineitem"
        " GROUP BY l_partkey)"
    ).fetchone()[0]
    assert row["exact_selfjoin"] == f2
    # uniform-ish keys: the histogram estimate lands within 30%
    assert abs(row["err_bp"]) < 3000


# --- percentile_cont_exact ---------------------------------------------------


def test_percentile_cont_matches_duckdb_native(spark):
    from pdf_craft_spark.queries.statsq import percentile_cont_exact

    rows = {r["p"]: r for r in percentile_cont_exact(spark, SF).collect()}
    con = duck_views(SF, ("orders",))
    ref = con.execute(
        """SELECT quantile_cont(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
           AS BIGINT), [0.25, 0.5, 0.75]) FROM orders"""
    ).fetchone()[0]
    for p, want in zip((25, 50, 75), ref):
        assert rows[p]["pct_centicents"] == round(100 * want), p
        assert rows[p]["v_lo_cents"] <= rows[p]["v_hi_cents"]


# --- seasonality_strength_index ----------------------------------------------


def test_seasonality_strength_extremes(spark):
    """Real corpus: no weekly pattern (strength ~0).  Planted strong
    period-7 series: strength near 1."""
    from pdf_craft_spark.queries.timeseries import (
        SEASONALITY_STRENGTH_INDEX_SQL,
        seasonality_strength_index,
    )

    row = seasonality_strength_index(spark, SF01).collect()[0]
    assert row["strength_ppm"] < 100_000  # ~flat corpus
    con = duckdb.connect()
    vals = []
    for d in range(140):
        amount = 1000 + (5000 if d % 7 == 0 else 0)  # hard weekly spike
        vals.append(f"(TIMESTAMP '2001-01-01' + INTERVAL ({d}) DAY, {amount}.0)")
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(o_orderdate, o_totalprice)"
    )
    n, strength = con.execute(SEASONALITY_STRENGTH_INDEX_SQL).fetchone()
    assert strength > 900_000, strength


# --- imputation_error_eval ---------------------------------------------------


def test_imputation_protocol_holds(spark):
    """~10% masked; the group-median imputer on this ~uniform price
    distribution should be nearly unbiased but with large MAE (the
    honest story for median-imputing a wide distribution)."""
    from pdf_craft_spark.queries.dataquality import imputation_error_eval

    row = imputation_error_eval(spark, SF01).collect()[0]
    assert 1000 <= row["n_masked"] <= 2000  # ~10% of 15k
    assert abs(row["bias_cents"]) < row["mae_cents"] // 5  # near-unbiased
    assert 0 < row["within_10pct_ppm"] < 500_000  # wide distro: most miss


# --- event_order_inversions --------------------------------------------------


def test_inversions_match_python(spark):
    from pdf_craft_spark.queries.behavior import event_order_inversions

    rows = event_order_inversions(spark, SF).collect()
    con = duck_views(SF, ("events",))
    recs = con.execute(
        "SELECT user_id, event_id, epoch_us(ts) FROM events"
    ).fetchall()
    import hashlib
    from collections import defaultdict

    def arrival(e, us):
        h = int(hashlib.md5(str(e).encode()).hexdigest()[:10], 16)
        return us + h % 14_400_000_000

    by_user = defaultdict(list)
    for u, e, us in recs:
        by_user[u].append((arrival(e, us), e, us))
    inv = defaultdict(int)
    steps = defaultdict(int)
    for u, lst in by_user.items():
        lst.sort()
        prev_us = None
        for _, e, us in lst:
            steps[u] += 1
            if prev_us is not None and us < prev_us:
                inv[u] += 1
            prev_us = us
    def band(k):
        n = inv[k]
        return "0" if n == 0 else "1-5" if n <= 5 else "6-20" if n <= 20 else "21+"
    want_users = defaultdict(int)
    want_inv = defaultdict(int)
    for u in steps:
        want_users[band(u)] += 1
        want_inv[band(u)] += inv[u]
    got = {r["inv_band"]: r for r in rows}
    assert set(got) == set(want_users)
    for b in want_users:
        assert got[b]["n_users"] == want_users[b], b
        assert got[b]["inversions"] == want_inv[b], b


# --- rank_churn_report -------------------------------------------------------


def test_rank_churn_recompute(spark):
    from pdf_craft_spark.queries.behavior import (
        RANK_CHURN_TOP,
        rank_churn_report,
    )

    rows = rank_churn_report(spark, SF).collect()
    assert 0 < len(rows) <= RANK_CHURN_TOP
    con = duck_views(SF, ("lineitem",))
    recs = con.execute(
        """SELECT l_suppkey, CAST(l_shipdate AS DATE),
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           FROM lineitem"""
    ).fetchall()
    import datetime
    from collections import defaultdict

    days = [d for _, d, _ in recs]
    mid = min(days) + datetime.timedelta(days=(max(days) - min(days)).days // 2)
    rev = {1: defaultdict(int), 2: defaultdict(int)}
    for s, d, c in recs:
        rev[1 if d < mid else 2][s] += c
    rank = {}
    for p in (1, 2):
        order = sorted(rev[p].items(), key=lambda kv: (-kv[1], kv[0]))
        rank[p] = {s: i + 1 for i, (s, _) in enumerate(order)}
    deltas = {}
    for s in set(rank[1]) | set(rank[2]):
        a, b = rank[1].get(s, 0), rank[2].get(s, 0)
        deltas[s] = abs((a or b) - (b or a))
    want = sorted(deltas.items(), key=lambda kv: (-kv[1], kv[0]))[:RANK_CHURN_TOP]
    got = [(r["l_suppkey"], r["rank_delta"]) for r in rows]
    assert got == want


# --- forecast_reconciliation -------------------------------------------------


def test_reconciliation_sums_exactly(spark):
    from pdf_craft_spark.queries.timeseries import forecast_reconciliation

    rows = forecast_reconciliation(spark, SF01).collect()
    fc_top = rows[0]["fc_top"]
    assert sum(r["reconciled_cents"] for r in rows) == fc_top
    assert all(r["discrepancy_cents"] == fc_top - r["bu_sum"] for r in rows)
    # reconciled allocation stays proportional within one weight quantum
    # (weights are staged in hundred-dollar units for int64 headroom)
    ws = [max(1, r["bottom_up_cents"] // 10000) for r in rows]
    wt = sum(ws)
    for r, w in zip(rows, ws):
        ideal = fc_top * w / wt
        assert abs(r["reconciled_cents"] - ideal) <= fc_top / wt + 1


def test_reconciliation_constant_series_coherent():
    """On a constant series medians ARE linear -> discrepancy 0."""
    from pdf_craft_spark.queries.timeseries import FORECAST_RECONCILIATION_SQL

    con = duckdb.connect()
    vals = []
    for wk in range(8):
        for seg in ("A", "B"):
            vals.append(
                f"('{seg}', TIMESTAMP '2001-01-01' + INTERVAL ({wk * 7}) DAY, 100.0)"
            )
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(o_orderpriority, o_orderdate, o_totalprice)"
    )
    rows = con.execute(FORECAST_RECONCILIATION_SQL).fetchall()
    assert all(r[5] == 0 for r in rows)  # discrepancy_cents
    assert all(r[1] == r[2] == 10000 for r in rows)


# --- forecast_interval_empirical ---------------------------------------------


def test_interval_quantiles_from_train_only(spark):
    """Recompute each type's residual p10/p90 in python using ONLY the
    training days; held-out coverage must match the op."""
    from pdf_craft_spark.queries.timeseries import (
        FI_HOLDOUT_DAYS,
        forecast_interval_empirical,
    )

    rows = {r["event_type"]: r for r in
            forecast_interval_empirical(spark, SF).collect()}
    con = duck_views(SF, ("events",))
    recs = con.execute(
        """SELECT event_type, CAST(ts AS DATE), count(*)
           FROM events GROUP BY 1, 2 ORDER BY 1, 2"""
    ).fetchall()
    from collections import defaultdict

    series = defaultdict(list)
    for et, d, y in recs:
        series[et].append(y)
    for et, ys in series.items():
        pairs = [(ys[i - 7], ys[i]) for i in range(7, len(ys))]
        train = pairs[: len(pairs) - FI_HOLDOUT_DAYS]
        hold = pairs[len(pairs) - FI_HOLDOUT_DAYS:]
        rs = sorted(y - fc for fc, y in train)
        n = len(rs)
        r_lo = rs[max(1, (n + 1) // 10) - 1]
        r_hi = rs[min(n, (9 * (n + 1) + 9) // 10) - 1]
        got = rows[et]
        assert got["n_train"] == n
        assert got["r_lo"] == r_lo and got["r_hi"] == r_hi, et
        cov = sum(1 for fc, y in hold if fc + r_lo <= y <= fc + r_hi)
        assert got["n_covered"] == cov
