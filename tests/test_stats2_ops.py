"""Property tests for the rank, ANOVA and resampling ops in statsq.
Oracle parity is covered by test_oracle_parity; these recompute each statistic independently — brute
force / exact rational (Fraction) — and check the distributed plans emit the
textbook value, not merely a self-consistent one."""

from __future__ import annotations

import math
from collections import defaultdict
from fractions import Fraction
from itertools import combinations

from tests.oracle_harness import duck_views

SF = "/root/testdata/sf0.001"


# --- mannwhitney_u_priority --------------------------------------------------


def test_mannwhitney_matches_bruteforce_ranks(spark):
    from pdf_craft_spark.queries.statsq import MW_A, MW_B, mannwhitney_u_priority

    row = mannwhitney_u_priority(spark, SF).collect()[0]
    raw = duck_views(SF, ("orders", "part", "lineitem")).execute(
        """
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT),
               o_orderpriority
        FROM orders WHERE o_orderpriority IN (?, ?)
        """,
        [MW_A, MW_B],
    ).fetchall()
    xs = sorted(x for x, _ in raw)
    # average ranks as exact Fractions
    rank: dict[int, Fraction] = {}
    i = 0
    while i < len(xs):
        j = i
        while j < len(xs) and xs[j] == xs[i]:
            j += 1
        rank[xs[i]] = Fraction(i + 1 + j, 2)  # mean of ranks i+1..j
        i = j
    r_a = sum(rank[x] for x, p in raw if p == MW_A)
    n_a = sum(1 for _, p in raw if p == MW_A)
    n_b = len(raw) - n_a
    u_a = r_a - Fraction(n_a * (n_a + 1), 2)
    assert row["n_a"] == n_a and row["n_b"] == n_b
    assert Fraction(row["u_a_x2"], 2) == u_a
    assert row["mu_x2"] == n_a * n_b
    # tie-corrected variance, exact
    cnt: dict[int, int] = defaultdict(int)
    for x, _ in raw:
        cnt[x] += 1
    t_sum = sum(c * c * c - c for c in cnt.values())
    assert row["t_sum"] == t_sum
    n = n_a + n_b
    var = Fraction(n_a * n_b, 12) * (
        (n + 1) - Fraction(t_sum, n * (n - 1))
    )
    z = float(u_a - Fraction(n_a * n_b, 2)) / math.sqrt(float(var))
    assert abs(row["z_micro"] / 1e6 - z) < 1e-5


# --- jackknife_ratio_ci ------------------------------------------------------


def test_jackknife_matches_exact_loo(spark):
    from pdf_craft_spark.queries.statsq import jackknife_ratio_ci

    rows = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in jackknife_ratio_ci(spark, SF).collect()
    }
    raw = duck_views(SF, ("orders", "part", "lineitem")).execute(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)),
               CAST(l_quantity AS BIGINT)
        FROM lineitem
        """
    ).fetchall()
    groups: dict[tuple, list] = defaultdict(list)
    for rf, ls, r, q in raw:
        groups[(rf, ls)].append((r, q))
    assert set(groups) == set(rows)
    for key, items in groups.items():
        sr = sum(r for r, _ in items)
        sq = sum(q for _, q in items)
        n = len(items)
        theta_c = (sr * 100) // sq if sr >= 0 else -((-sr * 100) // sq)
        ds = []
        for r, q in items:
            num = (sr - r) * 100
            den = sq - q
            # trunc-toward-zero like Spark DIV / DuckDB //
            ti = abs(num) // abs(den) * (1 if num * den >= 0 else -1)
            ds.append(ti - theta_c)
        row = rows[key]
        assert row["n"] == n
        assert row["theta_c"] == theta_c
        assert row["sd"] == sum(ds)
        assert row["sdd"] == sum(d * d for d in ds)
        var = Fraction(n - 1, n * n) * (
            sum(d * d for d in ds) - Fraction(sum(ds) ** 2, n)
        )
        assert abs(row["jk_se_milli"] / 1e3 - math.sqrt(float(var))) < 2e-3


# --- anova_f_price_by_brand --------------------------------------------------


def test_anova_f_matches_exact_fractions(spark):
    from pdf_craft_spark.queries.statsq import anova_f_price_by_brand

    row = anova_f_price_by_brand(spark, SF).collect()[0]
    raw = duck_views(SF, ("orders", "part", "lineitem")).execute(
        """
        SELECT p_brand, CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        FROM part
        """
    ).fetchall()
    groups: dict[str, list] = defaultdict(list)
    for b, x in raw:
        groups[b].append(x)
    n = sum(len(v) for v in groups.values())
    k = len(groups)
    grand = Fraction(sum(sum(v) for v in groups.values()), n)
    ssb = sum(len(v) * (Fraction(sum(v), len(v)) - grand) ** 2 for v in groups.values())
    ssw = sum(
        sum((x - Fraction(sum(v), len(v))) ** 2 for x in v) for v in groups.values()
    )
    f_exact = (ssb / (k - 1)) / (ssw / (n - k))
    assert row["k"] == k and row["n"] == n
    # milli-scaled SS carry <= 1 milli truncation per brand + 1 on the grand term
    assert abs(row["ssb_milli"] - float(ssb * 1000)) <= k + 2
    assert abs(row["ssw_milli"] - float(ssw * 1000)) <= k + 2
    assert abs(row["f_micro"] / 1e6 - float(f_exact)) < 1e-4


# --- kendall_tau_price_size --------------------------------------------------


def test_kendall_tau_matches_bruteforce_pairs(spark):
    from pdf_craft_spark.queries.statsq import kendall_tau_price_size

    rows = {r["p_brand"]: r for r in kendall_tau_price_size(spark, SF).collect()}
    raw = duck_views(SF, ("orders", "part", "lineitem")).execute(
        """
        SELECT p_brand, CAST(p_size AS BIGINT),
               CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        FROM part
        """
    ).fetchall()
    groups: dict[str, list] = defaultdict(list)
    for b, x, y in raw:
        groups[b].append((x, y))
    for brand, pts in groups.items():
        if len(pts) < 2:
            assert brand not in rows
            continue
        nc = nd = tx = ty = 0
        for (x1, y1), (x2, y2) in combinations(pts, 2):
            if x1 == x2:
                tx += 1
            if y1 == y2:
                ty += 1
            s = (x1 - x2) * (y1 - y2)
            if x1 != x2 and y1 != y2:
                nc += s > 0
                nd += s < 0
        row = rows[brand]
        n0 = len(pts) * (len(pts) - 1) // 2
        assert (row["n0"], row["nc"], row["nd"], row["tx"], row["ty"]) == (
            n0,
            nc,
            nd,
            tx,
            ty,
        )
        tau = (nc - nd) / math.sqrt((n0 - tx) * (n0 - ty))
        assert abs(row["tau_b_micro"] / 1e6 - tau) < 1e-5


# --- theil_sen_slope_customer ------------------------------------------------


def test_theil_sen_matches_bruteforce_median(spark):
    from pdf_craft_spark.queries.statsq import theil_sen_slope_customer

    rows = {r["o_custkey"]: r for r in theil_sen_slope_customer(spark, SF).collect()}
    raw = duck_views(SF, ("orders", "part", "lineitem")).execute(
        """
        SELECT o_custkey,
               CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT),
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        FROM orders
        """
    ).fetchall()
    groups: dict[int, list] = defaultdict(list)
    for c, d, v in raw:
        groups[c].append((d, v))
    checked = 0
    for cust, pts in groups.items():
        slopes = []
        for (d1, c1), (d2, c2) in combinations(pts, 2):
            if d1 == d2:
                continue
            if d1 > d2:
                d1, c1, d2, c2 = d2, c2, d1, c1
            num = (c2 - c1) * 1000000
            den = d2 - d1
            slopes.append(abs(num) // den * (1 if num >= 0 else -1))
        if not slopes:
            assert cust not in rows
            continue
        slopes.sort()
        med = slopes[(len(slopes) + 1) // 2 - 1]  # lower median, rank (m+1) DIV 2
        assert rows[cust]["n_pairs"] == len(slopes)
        assert rows[cust]["ts_slope_micro"] == med
        checked += 1
    assert checked > 50
