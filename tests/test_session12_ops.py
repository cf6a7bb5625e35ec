"""Property tests for the session-12 ops (ALS half-step, stump boosting,
calibration bins, EWMA recurrence).  Oracle parity is covered by
test_oracle_parity; these pin the mathematical claims the parity hash
can't see: the ALS solve satisfies its normal equations exactly, the
boosting round genuinely reduces training SSE, ECE is the weighted mean
of the bin gaps, and the EWMA kernel implements the recurrence."""

from __future__ import annotations

from fractions import Fraction

import duckdb
import pytest

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


# --- als_factor_step ---------------------------------------------------------


def _als_rows(spark, sf_dir):
    from pdf_craft_spark.queries.mlq import als_factor_step

    return {r["o_custkey"]: r for r in als_factor_step(spark, sf_dir).collect()}


def test_als_solution_satisfies_normal_equations(spark):
    """Recompute each user's (A, b) independently in exact rational
    arithmetic and check x_micro == trunc(1e6 * A^-1 b) — the emitted
    factors ARE the exact Cramer solve, not an approximation."""
    from pdf_craft_spark.queries.mlq import _ALS_LAMBDA, _ALS_Q_MOD

    rows = _als_rows(spark, SF)
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    rat = con.execute(
        f"""
        SELECT o_custkey,
               CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
                    AS BIGINT) AS h,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_custkey, l_partkey
        """
    ).fetchall()
    eqs: dict[int, list] = {}
    for cust, h, r in rat:
        q1 = 1 + h % _ALS_Q_MOD
        q2 = 1 + (h // _ALS_Q_MOD) % _ALS_Q_MOD
        a = eqs.setdefault(cust, [0, 0, 0, 0, 0, 0])
        a[0] += q1 * q1
        a[1] += q1 * q2
        a[2] += q2 * q2
        a[3] += q1 * r
        a[4] += q2 * r
        a[5] += 1
    assert set(eqs) == set(rows)
    for cust, (s11, s12, s22, b1, b2, n) in eqs.items():
        a11, a12, a22 = _ALS_LAMBDA + s11, s12, _ALS_LAMBDA + s22
        det = a11 * a22 - a12 * a12
        assert det > 0  # ridge makes A positive definite
        x1 = Fraction((a22 * b1 - a12 * b2) * 1_000_000, det)
        x2 = Fraction((a11 * b2 - a12 * b1) * 1_000_000, det)
        row = rows[cust]
        assert row["n_items"] == n
        assert row["det"] == det
        # Spark DIV truncates toward zero
        assert row["x1_micro"] == int(x1)
        assert row["x2_micro"] == int(x2)


def test_als_factors_beat_zero_model(spark):
    """The solved factors must reduce ridge-regularized squared error vs
    the zero-factor baseline for every user (guaranteed by optimality;
    failing means the solve is wrong even if internally consistent)."""
    from pdf_craft_spark.queries.mlq import _ALS_LAMBDA, _ALS_Q_MOD

    rows = _als_rows(spark, SF)
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    rat = con.execute(
        """
        SELECT o_custkey,
               CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
                    AS BIGINT) AS h,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_custkey, l_partkey
        """
    ).fetchall()
    per_user: dict[int, list] = {}
    for cust, h, r in rat:
        q1 = 1 + h % _ALS_Q_MOD
        q2 = 1 + (h // _ALS_Q_MOD) % _ALS_Q_MOD
        per_user.setdefault(cust, []).append((q1, q2, r))
    for cust, items in per_user.items():
        x1 = Fraction(rows[cust]["x1_micro"], 1_000_000)
        x2 = Fraction(rows[cust]["x2_micro"], 1_000_000)
        obj = sum((r - q1 * x1 - q2 * x2) ** 2 for q1, q2, r in items)
        obj += _ALS_LAMBDA * (x1 * x1 + x2 * x2)
        base = sum(r * r for _, _, r in items)
        assert obj < base, cust


# --- gbt_residual_boost ------------------------------------------------------


def test_gbt_rounds_and_gain_shape(spark):
    from pdf_craft_spark.queries.mlq import gbt_residual_boost

    rows = {r["round"]: r for r in gbt_residual_boost(spark, SF).collect()}
    assert set(rows) == {1, 2}
    for r in rows.values():
        assert r["feature"] in ("qty", "price_kilo")
        # SSE-reduction of the argmax split is nonnegative by construction
        assert r["gain"] >= 0
    # round-1 leaves are milli-means of a {0,1000} label
    assert 0 <= rows[1]["leaf_left_milli"] <= 1000
    assert 0 <= rows[1]["leaf_right_milli"] <= 1000


def test_gbt_second_round_reduces_training_sse(spark):
    """Applying stump 2 on top of stump 1 must lower the exact integer
    training SSE — the boosting step is live, not a no-op."""
    from pdf_craft_spark.queries.mlq import gbt_residual_boost

    b1, b2 = sorted(
        gbt_residual_boost(spark, SF01).collect(), key=lambda r: r["round"]
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{SF01}/lineitem.parquet'")

    def pred_case(b):
        return (
            f"CASE WHEN ({'qty' if b['feature'] == 'qty' else 'price_kilo'}"
            f" <= {b['threshold']}) THEN {b['leaf_left_milli']}"
            f" ELSE {b['leaf_right_milli']} END"
        )

    sse1, sse2 = con.execute(
        f"""
        WITH base AS (
          SELECT CAST(l_quantity AS BIGINT) AS qty,
                 CAST(l_extendedprice AS BIGINT) // 1000 AS price_kilo,
                 CASE WHEN l_returnflag = 'R' THEN 1000 ELSE 0 END AS t
          FROM lineitem
        )
        SELECT sum((t - ({pred_case(b1)})) ** 2),
               sum((t - ({pred_case(b1)}) - ({pred_case(b2)})) ** 2)
        FROM base
        """
    ).fetchone()
    assert sse2 < sse1, (sse1, sse2)


# --- calibration_bins_eval ---------------------------------------------------


def test_calibration_ece_is_weighted_gap_mean(spark):
    from pdf_craft_spark.queries.mlq import calibration_bins_eval

    rows = calibration_bins_eval(spark, SF01).collect()
    assert len(rows) >= 3  # the (lang, source) predictor populates bins
    n_tot = sum(r["n_test"] for r in rows)
    ece = sum(r["n_test"] * r["gap_ppm"] for r in rows) // n_tot
    for r in rows:
        assert 0 <= r["bin"] <= 10
        assert r["gap_ppm"] == abs(r["mean_pred_ppm"] - r["actual_ppm"])
        assert r["ece_ppm"] == ece  # the window sum IS the weighted mean
        assert 0 <= r["actual_ppm"] <= 1_000_000
        # bin membership: mean prediction lies in the bin's ppm range
        assert r["bin"] * 100_000 <= r["mean_pred_ppm"] < (r["bin"] + 1) * 100_000 or (
            r["bin"] == 10 and r["mean_pred_ppm"] == 1_000_000
        )


# --- ewma_order_smoothing ----------------------------------------------------


def test_ewma_kernel_matches_pure_python_walk(spark):
    from pdf_craft_spark.queries.timeseries import (
        _EWMA_DEN,
        _EWMA_NUM,
        ewma_order_smoothing,
    )

    got = {r["o_custkey"]: r for r in ewma_order_smoothing(spark, SF).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF}/orders.parquet'")
    series = con.execute(
        """
        SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT)
        FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey
        """
    ).fetchall()
    walks: dict[int, list] = {}
    for cust, cents in series:
        walks.setdefault(cust, []).append(cents)
    assert set(walks) == set(got)
    for cust, xs in walks.items():
        s = None
        peak = 0
        for x in xs:
            s = x if s is None else (x + _EWMA_NUM * s) // _EWMA_DEN
            peak = max(peak, s)
        r = got[cust]
        assert r["n_orders"] == len(xs)
        assert r["final_ewma_cents"] == s
        assert r["peak_ewma_cents"] == peak
        assert r["peak_ewma_cents"] >= r["final_ewma_cents"]


def test_ewma_smooths_toward_series_range(spark):
    """EWMA output stays within [min, max] of the prefix it smooths —
    the defining contraction property (exact under this integer scheme
    because (x + 3 s) // 4 lies between min(x, s) and max(x, s))."""
    from pdf_craft_spark.queries.timeseries import ewma_order_smoothing

    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF}/orders.parquet'")
    lo, hi = con.execute(
        "SELECT min(CAST(round(o_totalprice * 100) AS BIGINT)),"
        " max(CAST(round(o_totalprice * 100) AS BIGINT)) FROM orders"
    ).fetchone()
    for r in ewma_order_smoothing(spark, SF).collect():
        assert lo - 3 <= r["final_ewma_cents"] <= hi
        assert lo - 3 <= r["peak_ewma_cents"] <= hi


# --- isotonic_price_by_items ---------------------------------------------------


def _pure_pava(points):
    """Independent weighted PAVA (pool-adjacent-violators) in exact
    rationals: [(x, n, s)] -> fitted Fraction per x."""
    blocks = [[n, s, [x]] for x, n, s in points]  # weight, sum, members
    i = 0
    while i < len(blocks) - 1:
        if Fraction(blocks[i][1], blocks[i][0]) > Fraction(
            blocks[i + 1][1], blocks[i + 1][0]
        ):
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            blocks[i][2] += blocks[i + 1][2]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    fit = {}
    for w, s, xs in blocks:
        for x in xs:
            fit[x] = Fraction(s, w)
    return fit


def test_isotonic_matches_pure_pava_within_truncation(spark):
    from pdf_craft_spark.queries.mlq import isotonic_price_by_items

    rows = isotonic_price_by_items(spark, SF01).collect()
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF01}/{t}.parquet'")
    pts = con.execute(
        """
        SELECT x, count(*) AS n, sum(cents) AS s FROM (
          SELECT o_orderkey,
                 CAST(round(max(o_totalprice) * 100) AS BIGINT) AS cents,
                 count(*) AS x
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          GROUP BY o_orderkey
        ) GROUP BY x ORDER BY x
        """
    ).fetchall()
    fit = _pure_pava(pts)
    got = {r["n_items"]: r["fit_micro_cents"] for r in rows}
    assert set(got) == set(fit)
    prev = None
    for x in sorted(got):
        # monotone nondecreasing
        assert prev is None or got[x] >= prev
        prev = got[x]
        # within 1 micro-cent of the exact rational PAVA solution
        assert abs(Fraction(got[x], 1_000_000) - fit[x]) * 1_000_000 <= 1, x


# --- survival_km_curve ---------------------------------------------------------


def test_km_curve_matches_pure_python_product_limit(spark):
    from pdf_craft_spark.queries.mlq import survival_km_curve

    rows = survival_km_curve(spark, SF).collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF}/orders.parquet'")
    raw = con.execute(
        """
        WITH ranked AS (
          SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS rk
          FROM orders
        )
        SELECT o_custkey, min(d) AS d1,
               max(CASE WHEN rk = 2 THEN d END) AS d2
        FROM ranked WHERE rk <= 2 GROUP BY o_custkey
        """
    ).fetchall()
    horizon = max(max(d1, d2 or d1) for _, d1, d2 in raw)
    obs = []
    for _, d1, d2 in raw:
        if d2 is not None:
            obs.append(((d2 - d1).days, 1))
        else:
            obs.append(((horizon - d1).days, 0))
    times = sorted({t for t, _ in obs})
    n_at_risk = len(obs)
    s = 1_000_000
    expect = []
    for t in times:
        d = sum(1 for tt, e in obs if tt == t and e == 1)
        c = sum(1 for tt, e in obs if tt == t and e == 0)
        if d > 0:
            s = (s * (n_at_risk - d)) // n_at_risk
            expect.append((t, n_at_risk, d, c, s))
        n_at_risk -= d + c
    got = [
        (r["t_days"], r["n_at_risk"], r["d_events"], r["c_censored"], r["s_ppm"])
        for r in sorted(rows, key=lambda r: r["t_days"])
    ]
    assert got == expect
    # survival is a nonincreasing probability
    ss = [r[-1] for r in got]
    assert all(a >= b for a, b in zip(ss, ss[1:]))
    assert 0 <= ss[-1] <= ss[0] <= 1_000_000


# --- grouping_sets_revenue -----------------------------------------------------


def test_grouping_sets_grains_are_consistent(spark):
    from pdf_craft_spark.queries.relational import grouping_sets_revenue

    rows = grouping_sets_revenue(spark, SF).collect()
    fine = [r for r in rows if r["grain"] == 0]
    per_flag = {r["returnflag"]: r for r in rows if r["grain"] == 1}
    total = [r for r in rows if r["grain"] == 3]
    assert len(total) == 1
    # each rollup level must sum exactly to the level below
    for flag, fr in per_flag.items():
        sub = [r for r in fine if r["returnflag"] == flag]
        assert fr["n_rows"] == sum(r["n_rows"] for r in sub)
        assert fr["revenue_cents"] == sum(r["revenue_cents"] for r in sub)
    assert total[0]["n_rows"] == sum(r["n_rows"] for r in per_flag.values())
    assert total[0]["revenue_cents"] == sum(
        r["revenue_cents"] for r in per_flag.values()
    )
    # rolled-up keys read 'ALL', and grain flags match the key pattern
    assert total[0]["returnflag"] == total[0]["linestatus"] == "ALL"
    assert all(r["linestatus"] == "ALL" for r in per_flag.values())


# --- ndcg_eval_topk ------------------------------------------------------------


def test_ndcg_perfect_on_planted_clustered_corpus(spark, tmp_path):
    """A corpus where every query's label-mates are its exact nearest
    neighbors must score ndcg_ppm == 1_000_000 for every query — the
    metric's calibration point (dcg == idcg exactly, including the
    truncated discount literals)."""
    import os as _os

    from pdf_craft_spark.queries.similarity import ndcg_eval_topk

    rows = []
    for vid in range(40):
        lab = vid % 4
        emb = [0.0] * 64
        emb[16 * lab] = 1.0
        emb[16 * lab + 1] = 0.001 * (vid // 4)  # break exact ties
        rows.append((vid, lab, emb))
    df = spark.createDataFrame(rows, schema="vec_id long, label int, embedding array<float>")
    df.write.mode("overwrite").parquet(
        _os.path.join(str(tmp_path), "embeddings.parquet")
    )
    out = ndcg_eval_topk(spark, str(tmp_path)).collect()
    assert len(out) == 10
    for r in out:
        assert r["rel_at_k"] == 5
        assert r["ndcg_ppm"] == 1_000_000, r


def test_ndcg_bounds_and_idcg_on_corpus(spark):
    from pdf_craft_spark.queries.similarity import (
        _NDCG_DISC,
        TOP_K,
        ndcg_eval_topk,
    )

    rows = ndcg_eval_topk(spark, SF01).collect()
    assert len(rows) == 10
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF01}/embeddings.parquet'"
    )
    pops = dict(
        con.execute("SELECT label, count(*) FROM embeddings GROUP BY 1").fetchall()
    )
    for r in rows:
        assert 0 <= r["ndcg_ppm"] <= 1_000_000
        k_eff = min(pops[r["label"]] - 1, TOP_K)
        assert r["idcg_micro"] == sum(_NDCG_DISC[:k_eff])
        assert r["dcg_micro"] <= r["idcg_micro"]


# --- benford_first_digit --------------------------------------------------------


def test_benford_conformant_vs_uniform_sample(spark, tmp_path):
    """A log-uniform (scale-invariant) sample must pass the screen with a
    small TVD; a uniform sample must be flagged with a large one — the
    audit separates the two regimes it exists to separate."""
    import os as _os
    import random as _random

    from pdf_craft_spark.queries.dataquality import benford_first_digit

    rng = _random.Random(7)
    n = 6000
    conform = [
        (i, round(10 ** (2 + 3 * rng.random()) / 100.0, 2)) for i in range(n)
    ]
    uniform = [(i, round(rng.uniform(1000.0, 9999.99), 2)) for i in range(n)]
    tvds = {}
    for name, rows in (("conform", conform), ("uniform", uniform)):
        d = str(tmp_path / name)
        spark.createDataFrame(
            rows, schema="o_orderkey long, o_totalprice double"
        ).write.mode("overwrite").parquet(_os.path.join(d, "orders.parquet"))
        out = benford_first_digit(spark, d).collect()
        assert sum(r["n"] for r in out) == n
        for r in out:
            assert r["dev_ppm"] == abs(r["observed_ppm"] - r["expected_ppm"])
        tvds[name] = out[0]["tvd_ppm"]
    assert tvds["conform"] < 30_000, tvds
    assert tvds["uniform"] > 150_000, tvds
    assert tvds["uniform"] > 5 * tvds["conform"]


# --- sssp_weighted_copurchase ---------------------------------------------------


def test_sssp_matches_dijkstra_on_planted_graph(spark, tmp_path):
    """Build baskets whose co-purchase graph is a known weighted graph and
    check the relaxation fixpoint against an independent Dijkstra."""
    import heapq
    import os as _os

    from pdf_craft_spark.queries.graphq import (
        SSSP_N_SEEDS,
        sssp_weighted_copurchase,
    )

    # edge (u, v) with support s -> weight 1000 // s; build s distinct
    # orders containing both u and v
    planted = [
        (0, 1, 2),
        (1, 2, 4),
        (0, 2, 2),
        (2, 3, 2),
        (3, 4, 5),
        (1, 4, 2),
        (4, 5, 4),
        (3, 5, 2),
    ]
    rows = []
    ok = 0
    for u, v, s in planted:
        for _ in range(s):
            rows.append((ok, u))
            rows.append((ok, v))
            ok += 1
    spark.createDataFrame(
        rows, schema="l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(
        _os.path.join(str(tmp_path), "lineitem.parquet")
    )
    got = {
        r["part_id"]: r["dist"]
        for r in sssp_weighted_copurchase(spark, str(tmp_path)).collect()
    }
    adj: dict[int, list] = {}
    for u, v, s in planted:
        w = 1000 // s
        adj.setdefault(u, []).append((v, w))
        adj.setdefault(v, []).append((u, w))
    seeds = sorted(adj)[:SSSP_N_SEEDS]
    dist = {s: 0 for s in seeds}
    pq = [(0, s) for s in seeds]
    heapq.heapify(pq)
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, 1 << 62):
            continue
        for v, w in adj[u]:
            nd = d + w
            if nd < dist.get(v, 1 << 62):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    assert got == dist


# --- l_diversity_audit ----------------------------------------------------------


def test_l_diversity_flags_planted_leaky_classes(spark, tmp_path):
    import os as _os

    from pdf_craft_spark.queries.analyticsq import l_diversity_audit

    custs, orders = [], []
    # class ('A', 0): 10 customers, ALL orders URGENT -> flagged (l=1)
    # class ('B', 1): majority LOW (7 of 10) -> flagged (majority rule)
    # class ('C', 2): 4 distinct priorities evenly -> clean
    ck = 0
    for seg, nat, prios in (
        ("A", 0, ["URGENT"] * 10),
        ("B", 1, ["LOW"] * 7 + ["HIGH", "MEDIUM", "URGENT"]),
        ("C", 2, ["LOW", "HIGH", "MEDIUM", "URGENT"] * 3),
    ):
        for p in prios:
            custs.append((ck, seg, nat))
            orders.append((ck, ck, p))
            ck += 1
    spark.createDataFrame(
        custs, schema="c_custkey long, c_mktsegment string, c_nationkey long"
    ).write.mode("overwrite").parquet(
        _os.path.join(str(tmp_path), "customer.parquet")
    )
    spark.createDataFrame(
        orders, schema="o_orderkey long, o_custkey long, o_orderpriority string"
    ).write.mode("overwrite").parquet(
        _os.path.join(str(tmp_path), "orders.parquet")
    )
    rows = {r["c_mktsegment"]: r for r in l_diversity_audit(spark, str(tmp_path)).collect()}
    assert rows["A"]["flagged"] == 1 and rows["A"]["distinct_l"] == 1
    assert rows["B"]["flagged"] == 1 and rows["B"]["max_value_freq"] == 7
    assert rows["C"]["flagged"] == 0 and rows["C"]["distinct_l"] == 4
    assert all(r["table_min_l"] == 1 for r in rows.values())


# --- cusum_changepoint_revenue ---------------------------------------------------


def test_cusum_finds_planted_level_shift(spark, tmp_path):
    import datetime as _dt
    import os as _os
    import random as _random

    from pdf_craft_spark.queries.timeseries import cusum_changepoint_revenue

    rng = _random.Random(13)
    d0 = _dt.datetime(2000, 1, 1)
    rows = []
    ok = 0
    shift_at = 120  # day index (1-based t = 120)
    for day in range(200):
        level = 100.0 if day < shift_at else 200.0
        for _ in range(3):
            rows.append(
                (ok, d0 + _dt.timedelta(days=day), round(rng.gauss(level, 5.0), 2))
            )
            ok += 1
    spark.createDataFrame(
        rows, schema="o_orderkey long, o_orderdate timestamp_ntz, o_totalprice double"
    ).write.mode("overwrite").parquet(
        _os.path.join(str(tmp_path), "shifted", "orders.parquet")
    )
    r = cusum_changepoint_revenue(spark, str(tmp_path / "shifted")).collect()[0]
    assert r["n_days"] == 200
    assert abs(r["t_index"] - shift_at) <= 3, r

    # null corpus: same noise, no shift -> much smaller statistic
    rows = []
    for day in range(200):
        for k in range(3):
            rows.append(
                (day * 3 + k, d0 + _dt.timedelta(days=day), round(rng.gauss(100.0, 5.0), 2))
            )
    spark.createDataFrame(
        rows, schema="o_orderkey long, o_orderdate timestamp_ntz, o_totalprice double"
    ).write.mode("overwrite").parquet(
        _os.path.join(str(tmp_path), "null", "orders.parquet")
    )
    r0 = cusum_changepoint_revenue(spark, str(tmp_path / "null")).collect()[0]
    assert r["stat_cents"] > 10 * r0["stat_cents"], (r, r0)
