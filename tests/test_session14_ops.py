"""Property tests for the session-14 ops (exact tied-rank AUC, CUPED,
window-rank semantics matrix, term burstiness, market HHI).  Oracle
parity is covered by test_oracle_parity; these pin the claims the parity
hash can't see: AUC is exactly the Mann-Whitney identity on a
hand-checkable series (including ties), the nearest-centroid scorer
beats chance on the real corpus, CUPED's adjusted effect equals the
hand-derived theta-correction, the float window functions equal their
integer num/den identities row-for-row, burstiness VMR has its
Bernoulli floor, and HHI is bounded by [1/k, 1] with the degenerate
single-brand case at exactly 1."""

from __future__ import annotations

import duckdb

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


# --- auc_exact_eval ----------------------------------------------------------


def test_auc_matches_sklearn_style_reference(spark):
    """Exact tied-rank AUC on the real corpus == the O(n^2) pair-count
    definition (ties count half), computed in pure Python."""
    from pdf_craft_spark.queries.mlq import auc_exact_eval

    rows = auc_exact_eval(spark, SF01).collect()
    assert len(rows) == 3

    # recompute scores exactly as the op defines them
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF01}/embeddings.parquet'"
    )
    scored = con.execute(
        """
        WITH q AS (
          SELECT vec_id, label, i AS pos,
                 CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT) AS qv
          FROM (SELECT vec_id, label, unnest(embedding) AS e,
                       unnest(range(len(embedding))) AS i FROM embeddings)
        ), cent AS (
          SELECT label AS cl, pos, SUM(qv) AS csum
          FROM q WHERE label IN (0,1,2) GROUP BY 1,2
        )
        SELECT cl, MIN(label) AS lbl, SUM(qv*csum) AS score
        FROM q JOIN cent USING (pos) GROUP BY cl, vec_id
        """
    ).fetchall()
    by_label = {r["label"]: r for r in (row.asDict() for row in rows)}
    for cl in (0, 1, 2):
        pos = [s for c, l, s in scored if c == cl and l == cl]
        neg = [s for c, l, s in scored if c == cl and l != cl]
        wins = sum(
            1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
        )
        auc = wins / (len(pos) * len(neg))
        got = by_label[cl]
        assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
        assert got["auc_micro"] == round(auc * 1_000_000)
        # nearest-centroid must beat chance on its own label
        assert got["auc_micro"] > 500_000


# --- cuped_adjustment --------------------------------------------------------


def test_cuped_identity_and_bounds(spark):
    """diff_cuped == diff_raw - theta * (xbar1 - xbar0), re-derived from
    the per-user table in DuckDB; rho2 in [0, 1e6]."""
    from pdf_craft_spark.queries.statsq import cuped_adjustment

    row = cuped_adjustment(spark, SF01).collect()[0].asDict()
    assert row["n"] == row["n0"] + row["n1"] and row["n0"] > 0 and row["n1"] > 0
    assert 0 <= row["rho2_ppm"] <= 1_000_000

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF01}/events.parquet'")
    us = con.execute(
        """
        SELECT user_id,
               SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15'
                        THEN CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT) ELSE 0 END) AS x,
               SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-15'
                        THEN CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT) ELSE 0 END) AS y
        FROM events GROUP BY user_id
        """
    ).fetchall()
    n = len(us)
    sx = sum(x for _, x, _ in us)
    sy = sum(y for _, _, y in us)
    sxy = sum(x * y for _, x, y in us)
    sxx = sum(x * x for _, x, _ in us)
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    t = [(x, y) for u, x, y in us if u % 2 == 1]
    c = [(x, y) for u, x, y in us if u % 2 == 0]
    dy = sum(y for _, y in t) / len(t) - sum(y for _, y in c) / len(c)
    dx = sum(x for x, _ in t) / len(t) - sum(x for x, _ in c) / len(c)
    assert row["theta_micro"] == round(theta * 1_000_000)
    assert row["diff_raw_micro"] == round(dy * 1_000_000)
    assert row["diff_cuped_micro"] == round((dy - theta * dx) * 1_000_000)


# --- window_rank_semantics_matrix --------------------------------------------


def test_rank_matrix_float_integer_identities(spark):
    """percent_rank == pr_num/pr_den and cume_dist == cd_num/cd_den in
    EXACT IEEE terms on every sampled row; rank/dense_rank/row_number
    obey their order constraints."""
    from pdf_craft_spark.queries.dataquality import (
        window_rank_semantics_matrix,
    )

    rows = [r.asDict() for r in window_rank_semantics_matrix(spark, SF01).collect()]
    assert len(rows) > 50
    saw_tie = False
    for r in rows:
        assert r["percent_rank_d"] == r["pr_num"] / r["pr_den"]
        assert r["cume_dist_d"] == r["cd_num"] / r["cd_den"]
        assert r["drnk"] <= r["rnk"] <= r["rn"] or r["rnk"] >= r["rn"] - (
            r["cd_num"] - r["rnk"]
        )  # rn lies within the tie block starting at rnk
        assert 1 <= r["nt4"] <= 4
        if r["cd_num"] > r["rnk"]:
            saw_tie = True
    assert saw_tie, "banding must produce real ties or the matrix is vacuous"


# --- term_burstiness ---------------------------------------------------------


def test_burstiness_bernoulli_floor_and_bounds(spark):
    """For a token with all per-doc counts == 1, VMR = 1 - df/N (the
    Bernoulli floor, < 1); any VMR above 1 requires a repeated token in
    some doc.  df and tf_sum are consistent."""
    from pdf_craft_spark.queries.textops import term_burstiness

    rows = [r.asDict() for r in term_burstiness(spark, SF01).collect()]
    assert len(rows) >= 25  # the 30-token closed vocabulary, minus rares
    n_docs = duckdb.execute(
        f"SELECT COUNT(*) FROM '{SF01}/documents.parquet'"
    ).fetchone()[0]
    for r in rows:
        assert 1 <= r["df"] <= n_docs
        assert r["tf_sum"] >= r["df"]
        assert r["df_ppm"] == 1_000_000 * r["df"] // n_docs
        if r["tf_sum"] == r["df"]:  # all counts are exactly 1
            expect = round(1_000_000 * (n_docs - r["df"]) / n_docs)
            assert r["vmr_micro"] == expect
        assert r["vmr_micro"] >= 0


def test_burstiness_planted_burst():
    """A planted corpus: 'aaa' once in each of 8 docs (VMR floor), 'bbb'
    8 times in one doc of 8 (bursty, VMR > 1)."""
    from pdf_craft_spark.queries.textops import TERM_BURSTINESS_SQL

    con = duckdb.connect()
    docs = ["aaa bbb" + " bbb" * 7] + ["aaa"] * 7
    vals = ", ".join(f"({i}, '{t}')" for i, t in enumerate(docs))
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM (VALUES {vals}) AS t(doc_id, text)"
    )
    got = {r[0]: r for r in con.execute(TERM_BURSTINESS_SQL).fetchall()}
    # aaa: df=8, sc=8, sq=8 -> VMR = (64-64)/64 = 0
    assert got["aaa"][1] == 8 and got["aaa"][4] == 0
    # bbb: df=1, sc=8, sq=64 -> VMR = (8*64-64)/(8*8) = 7.0
    assert got["bbb"][1] == 1 and got["bbb"][4] == 7_000_000


# --- market_concentration_hhi ------------------------------------------------


def test_hhi_bounds_and_monopoly_case(spark):
    """HHI in [1e6/k, 1e6] per nation on the real corpus; a planted
    single-brand market scores exactly 1e6 through the oracle."""
    from pdf_craft_spark.queries.analyticsq import (
        MARKET_CONCENTRATION_HHI_SQL,
        market_concentration_hhi,
    )

    rows = [r.asDict() for r in market_concentration_hhi(spark, SF01).collect()]
    assert len(rows) == 25
    for r in rows:
        assert r["t_dollars"] > 0
        lo = round(1_000_000 / r["n_brands"]) - 1
        assert lo <= r["hhi_micro"] <= 1_000_000

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM (VALUES (1, 1, 500.0), (1, 2, 250.0)) "
        "AS t(l_orderkey, l_partkey, l_extendedprice)"
    )
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES (1, 1)) AS t(o_orderkey, o_custkey)"
    )
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM (VALUES (1, 1)) AS t(c_custkey, c_nationkey)"
    )
    con.execute(
        "CREATE VIEW nation AS SELECT * FROM (VALUES (1, 'X')) AS t(n_nationkey, n_name)"
    )
    con.execute(
        "CREATE VIEW part AS SELECT * FROM (VALUES (1, 'B1'), (2, 'B1')) "
        "AS t(p_partkey, p_brand)"
    )
    row = con.execute(MARKET_CONCENTRATION_HHI_SQL).fetchone()
    assert row == ("X", 1, 750, 1_000_000)


# --- er_jaro_winkler_pairs ----------------------------------------------------


def test_jaro_winkler_kernel_matches_duckdb_builtin_exactly():
    """Two independent implementations (our kernel, DuckDB's builtin) on
    textbook + fuzz cases: EXACT double equality (the parity claim)."""
    import random
    import string

    import duckdb

    from pdf_craft_spark.queries.dataquality import _jaro_winkler

    con = duckdb.connect()
    cases = [
        ("martha", "marhta"),
        ("dixon", "dicksonx"),
        ("jellyfish", "smellyfish"),
        ("abc", "abc"),
        ("a", "b"),
        ("cold widget", "old widget"),
    ]
    rng = random.Random(14)
    for _ in range(500):
        a = "".join(rng.choices(string.ascii_lowercase[:6], k=rng.randint(1, 10)))
        b = "".join(rng.choices(string.ascii_lowercase[:6], k=rng.randint(1, 10)))
        cases.append((a, b))
    for a, b in cases:
        d = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert _jaro_winkler(a, b) == d, (a, b)


def test_jaro_winkler_pairs_blocked_and_bounded(spark):
    from pdf_craft_spark.queries.dataquality import er_jaro_winkler_pairs

    rows = [r.asDict() for r in er_jaro_winkler_pairs(spark, SF01).collect()]
    assert len(rows) > 50
    for r in rows:
        assert r["name_a"] < r["name_b"]
        assert r["name_a"].endswith(r["block"]) and r["name_b"].endswith(r["block"])
        assert 0.0 <= r["jw_d"] <= 1.0
    # same-noun near-identical modifiers must rank near the top
    top = max(rows, key=lambda r: r["jw_d"])
    assert top["jw_d"] > 0.9


# --- mutual_nn_pairs ----------------------------------------------------------


def test_mutual_nn_symmetric_and_label_coherent(spark):
    """Every reported pair is mutually-best within its bucket's candidate
    set (re-derived via the oracle CTE), and pairs agree on label more
    often than the 10-label chance rate."""
    from pdf_craft_spark.queries.similarity import mutual_nn_pairs

    rows = [r.asDict() for r in mutual_nn_pairs(spark, SF01).collect()]
    assert len(rows) > 20
    seen = set()
    for r in rows:
        assert r["vec_a"] < r["vec_b"]
        key = (r["vec_a"], r["vec_b"])
        assert key not in seen
        seen.add(key)
    # structural claim: every pair is mutually-best — re-derive each side's
    # best candidate from the oracle's own CTE chain and check agreement.
    # (No label-coherence claim: the sf0.01 embeddings are deliberately
    # ISOTROPIC — labels are independent of geometry, so mutual-NN label
    # agreement sits at the 1/10 chance rate by design; see ann_frontier.)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF01}/embeddings.parquet'"
    )
    from pdf_craft_spark.queries.similarity import MUTUAL_NN_PAIRS_SQL

    best = con.execute(
        MUTUAL_NN_PAIRS_SQL.split("), mutual AS")[0].replace("WITH q AS", "WITH q AS")
        + ") SELECT src, prt FROM best WHERE rk = 1"
    ).fetchall()
    best_map = dict(best)
    for r in rows:
        assert best_map[r["vec_a"]] == r["vec_b"]
        assert best_map[r["vec_b"]] == r["vec_a"]


# --- lift_gains_table ---------------------------------------------------------


def test_lift_gains_monotone_and_consistent(spark):
    from pdf_craft_spark.queries.mlq import lift_gains_table

    rows = sorted(
        (r.asDict() for r in lift_gains_table(spark, SF01).collect()),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    # gains are cumulative-monotone and end at exactly 100%
    gains = [r["gains_ppm"] for r in rows]
    assert gains == sorted(gains)
    assert rows[-1]["gains_ppm"] == 1_000_000
    assert rows[-1]["cum_pos"] == sum(r["n_pos"] for r in rows)
    # the top decile of a better-than-chance scorer must over-capture
    assert rows[0]["lift_micro"] > 1_000_000
    # the final lift is exactly 1.0 by construction
    assert rows[-1]["lift_micro"] == 1_000_000


# --- filter_disparate_impact --------------------------------------------------


def test_disparate_impact_reference_group_and_flag(spark):
    from pdf_craft_spark.queries.dataquality import filter_disparate_impact

    rows = [r.asDict() for r in filter_disparate_impact(spark, SF01).collect()]
    assert len(rows) == 5  # the 5 corpus languages
    best = max(r["pass_ppm"] for r in rows)
    for r in rows:
        assert r["pass_ppm"] == 1_000_000 * r["n_pass"] // r["n"]
        assert r["impact_ppm"] == 1_000_000 * r["pass_ppm"] // best
        assert r["below_80pct_rule"] == (1 if r["impact_ppm"] < 800_000 else 0)
    assert any(r["impact_ppm"] == 1_000_000 for r in rows)  # the reference group


# --- token_budget_waterfill ---------------------------------------------------


def test_waterfill_planted_skew():
    """Skewed counts through the oracle: sources (10, 20, 1000, 2000)
    tokens, B = 60% of 3030 = 1818 -> the two small sources are fully
    funded, the two big ones capped at level (1818-30)//2 = 894."""
    from pdf_craft_spark.queries.traindata import TOKEN_BUDGET_WATERFILL_SQL

    con = duckdb.connect()
    docs = []
    for i, (src, n) in enumerate([("a", 10), ("b", 20), ("c", 1000), ("d", 2000)]):
        docs.append((i, " ".join(["tok"] * n), src))
    vals = ", ".join(f"({i}, '{t}', '{s}')" for i, t, s in docs)
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM (VALUES {vals}) AS t(doc_id, text, source)"
    )
    got = {r[0]: r for r in con.execute(TOKEN_BUDGET_WATERFILL_SQL).fetchall()}
    assert got["a"] == ("a", 10, 1818, 10, 0, 894)
    assert got["b"] == ("b", 20, 1818, 20, 0, 894)
    assert got["c"] == ("c", 1000, 1818, 894, 1, 894)
    assert got["d"] == ("d", 2000, 1818, 894, 1, 894)


def test_waterfill_budget_respected(spark):
    """On the real corpus: allocations never exceed the budget, leftover
    is bounded by the number of capped sources, and every capped source
    had more tokens than the level."""
    from pdf_craft_spark.queries.traindata import token_budget_waterfill

    rows = [r.asDict() for r in token_budget_waterfill(spark, SF01).collect()]
    assert len(rows) == 20
    budget = rows[0]["budget"]
    total_alloc = sum(r["alloc"] for r in rows)
    n_capped = sum(r["capped"] for r in rows)
    assert total_alloc <= budget
    assert budget - total_alloc < max(n_capped, 1)
    for r in rows:
        assert r["alloc"] <= r["tokens"]
        if r["capped"]:
            assert r["tokens"] > r["level"] >= 0
        else:
            assert r["alloc"] == r["tokens"]


# --- hierarchy_share_of_parent --------------------------------------------------


def test_hierarchy_shares_sum_within_parent(spark):
    from collections import defaultdict

    from pdf_craft_spark.queries.analyticsq import hierarchy_share_of_parent

    rows = [r.asDict() for r in hierarchy_share_of_parent(spark, SF01).collect()]
    assert len(rows) == 25
    by_region = defaultdict(list)
    for r in rows:
        by_region[r["r_name"]].append(r)
    region_share_total = 0
    for reg, rs in by_region.items():
        s = sum(r["nation_share_ppm"] for r in rs)
        # integer DIV floors each share: sum within (1e6 - k, 1e6]
        assert 1_000_000 - len(rs) < s <= 1_000_000
        assert len({r["region_share_ppm"] for r in rs}) == 1
        region_share_total += rs[0]["region_share_ppm"]
    assert 1_000_000 - len(by_region) < region_share_total <= 1_000_000


# --- fd_discovery_matrix --------------------------------------------------------


def test_fd_matrix_identities(spark):
    """n_pair >= n_det always; fd_holds iff equality; the (yr -> mon)
    pair cannot hold (each year has 12 months) while any self-consistent
    derived FD the corpus does satisfy must be flagged 1."""
    from pdf_craft_spark.queries.analyticsq import fd_discovery_matrix

    rows = [r.asDict() for r in fd_discovery_matrix(spark, SF01).collect()]
    assert len(rows) == 20
    for r in rows:
        assert r["n_pair"] >= r["n_det"] >= 1
        assert r["fd_holds"] == (1 if r["n_pair"] == r["n_det"] else 0)
        assert r["violation_ppm"] == 1_000_000 * (r["n_pair"] - r["n_det"]) // r["n_pair"]
    yr_mon = next(r for r in rows if r["det"] == "yr" and r["dep"] == "mon")
    assert yr_mon["fd_holds"] == 0


# --- pareto_concentration_report -------------------------------------------------


def test_pareto_monotone_and_exact_k(spark):
    import duckdb as _duck

    from pdf_craft_spark.queries.analyticsq import pareto_concentration_report

    rows = sorted(
        (r.asDict() for r in pareto_concentration_report(spark, SF01).collect()),
        key=lambda r: r["top_pct"],
    )
    assert [r["top_pct"] for r in rows] == [1, 5, 10, 20, 50]
    n = _duck.execute(
        f"SELECT COUNT(DISTINCT o_custkey) FROM '{SF01}/orders.parquet'"
    ).fetchone()[0]
    shares = [r["share_ppm"] for r in rows]
    assert shares == sorted(shares)
    for r in rows:
        assert r["k_customers"] == (r["top_pct"] * n + 99) // 100
        # top p% always holds at least p% of revenue (sorted desc)
        assert r["share_ppm"] >= r["top_pct"] * 10_000 - 1


# --- graph_degree_assortativity -------------------------------------------------


def test_assortativity_planted_graphs():
    """A star graph is maximally disassortative (r = -1); through the
    oracle on a planted basket table."""
    from pdf_craft_spark.queries.graphq import (
        GRAPH_DEGREE_ASSORTATIVITY_SQL,
    )

    con = duckdb.connect()
    # star: hub part 0 co-ordered (twice, to clear sup>=2) with parts 1..5
    rows = []
    ok = 0
    for leaf in range(1, 6):
        for rep in range(2):
            ok += 1
            rows.append((ok, 0))
            rows.append((ok, leaf))
    vals = ", ".join(f"({o}, {p})" for o, p in rows)
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM (VALUES {vals}) AS t(l_orderkey, l_partkey)"
    )
    m, r = con.execute(GRAPH_DEGREE_ASSORTATIVITY_SQL).fetchone()
    assert m == 10  # 5 undirected edges, both orientations
    assert r == -1_000_000


def test_assortativity_near_zero_on_random_corpus(spark):
    from pdf_craft_spark.queries.graphq import graph_degree_assortativity

    row = graph_degree_assortativity(spark, SF01).collect()[0]
    assert row.n_directed_edges > 1000
    assert abs(row.assortativity_micro) < 100_000  # random graph ~ 0


# --- cluster_sample_design_effect -----------------------------------------------


def test_design_effect_planted_clustering():
    """Clusters with identical within-cluster values (perfect ICC=1)
    give DEFF = m; independent values give ICC ~ 0."""
    from pdf_craft_spark.queries.statsq import (
        CLUSTER_SAMPLE_DESIGN_EFFECT_SQL,
        CLUSTER_TAKE,
    )

    con = duckdb.connect()
    rows = []
    eid = 0
    # 30 clusters, each user's 20 events all equal to user-specific value
    for u in range(30):
        for i in range(CLUSTER_TAKE):
            eid += 1
            rows.append((eid, u, f"2024-01-{(i % 28) + 1:02d}", 10.0 + u))
    vals = ", ".join(
        f"({e}, {u}, TIMESTAMP '{d} 00:00:00', {v})" for e, u, d, v in rows
    )
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM (VALUES {vals}) "
        "AS t(event_id, user_id, ts, value)"
    )
    k, n, icc, deff = con.execute(CLUSTER_SAMPLE_DESIGN_EFFECT_SQL).fetchone()
    assert (k, n) == (30, 600)
    assert icc == 1_000_000  # all within-cluster variance is zero
    assert deff == CLUSTER_TAKE * 1_000_000  # DEFF = 1 + (m-1)*1 = m


def test_design_effect_real_corpus_near_one(spark):
    from pdf_craft_spark.queries.statsq import cluster_sample_design_effect

    row = cluster_sample_design_effect(spark, SF01).collect()[0]
    assert row.n_clusters > 100
    # event values are iid across users: DEFF must hover near 1
    assert 700_000 < row.deff_micro < 1_400_000


# --- did_estimator ---------------------------------------------------------------


def test_did_hand_computed(spark):
    from pdf_craft_spark.queries.statsq import did_estimator

    row = did_estimator(spark, SF01).collect()[0].asDict()
    cells = duckdb.execute(
        f"""
        SELECT user_id % 2 AS arm,
               CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15' THEN 0 ELSE 1 END AS period,
               COUNT(*) AS n,
               SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS s
        FROM '{SF01}/events.parquet' GROUP BY 1, 2
        """
    ).fetchall()
    d = {(a, p): (n, s) for a, p, n, s in cells}
    did = (d[(1, 1)][1] / d[(1, 1)][0] - d[(1, 0)][1] / d[(1, 0)][0]) - (
        d[(0, 1)][1] / d[(0, 1)][0] - d[(0, 0)][1] / d[(0, 0)][0]
    )
    assert row["did_micro_cents"] == round(did * 1_000_000)
    assert row["n_treat_post"] == d[(1, 1)][0]


# --- ltv_cohort_curve -------------------------------------------------------------


def test_ltv_curve_monotone_per_cohort(spark):
    from collections import defaultdict

    from pdf_craft_spark.queries.behavior import ltv_cohort_curve

    rows = [r.asDict() for r in ltv_cohort_curve(spark, SF01).collect()]
    assert len(rows) >= 20
    by_cohort = defaultdict(list)
    for r in rows:
        by_cohort[r["cohort"]].append(r)
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r["age"])
        assert rs[0]["age"] == 0
        cum = 0
        for r in rs:
            cum += r["rev_cents"]
            assert r["cum_rev_cents"] == cum
            assert (
                r["ltv_micro_cents"]
                == 1_000_000 * r["cum_rev_cents"] // r["cohort_users"]
            )
        # curves only grow
        ltvs = [r["ltv_micro_cents"] for r in rs]
        assert ltvs == sorted(ltvs)
    # the 1995 cohort spans the full 7-year window
    assert max(r["age"] for r in by_cohort[1995]) == 6
