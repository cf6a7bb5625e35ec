"""Randomized-corpus property tests for the session-10 ops whose
correctness claims are structural (banding finds every pair exactly once;
the weighted median is the weighted order statistic; KS is the exact
sup-distance).  The per-corpus oracle parity suite pins these on ONE
distribution; here the same operator code runs over seeded random tables
written to temp parquet, so the claims hold on inputs the synthetic
corpus never produces (dense ties, boundary-straddling values, empty
cohorts are avoided by construction where the op's contract requires)."""

from __future__ import annotations

import random

import pytest

from tests.oracle_harness import write_table


@pytest.mark.parametrize("seed", [11, 29, 47])
def test_price_band_exactly_once_on_random_prices(spark, tmp_path, seed):
    """Banding must find each qualifying pair exactly once even when
    prices pile on band boundaries (multiples of eps) and duplicate
    exactly."""
    from pdf_craft_spark.queries.analyticsq import (
        BAND_EPS_CENTS,
        price_band_self_join,
    )

    rng = random.Random(seed)
    n = 400
    rows = []
    for i in range(n):
        # cluster prices tightly around band boundaries to stress the
        # straddle logic; duplicates are likely by construction
        base = rng.choice([1000, 1050, 1100, 2000]) * BAND_EPS_CENTS
        cents = base + rng.randint(-BAND_EPS_CENTS, BAND_EPS_CENTS)
        rows.append((i, rng.choice(["ta", "tb"]), cents / 100.0))
    df = spark.createDataFrame(rows, ["p_partkey", "p_type", "p_retailprice"])
    sf = str(tmp_path)
    write_table(sf, "part", df)

    got = {r["p_type"]: r for r in price_band_self_join(spark, sf).collect()}
    by_type: dict[str, list] = {}
    for i, t, pr in rows:
        by_type.setdefault(t, []).append(round(pr * 100))
    for t, cents in by_type.items():
        cents.sort()
        npairs = sumd = 0
        for a in range(len(cents)):
            for b in range(a + 1, len(cents)):
                d = cents[b] - cents[a]
                if d > BAND_EPS_CENTS:
                    break
                npairs += 1
                sumd += d
        if npairs == 0:
            assert t not in got
        else:
            assert got[t]["n_pairs"] == npairs, (t, npairs, got[t])
            assert got[t]["sum_diff_cents"] == sumd


@pytest.mark.parametrize("seed", [5, 83])
def test_weighted_median_on_random_weighted_multisets(spark, tmp_path, seed):
    from pdf_craft_spark.queries.analyticsq import weighted_median_price

    rng = random.Random(seed)
    rows = []
    for flag in ("A", "B", "C"):
        for _ in range(rng.randint(3, 120)):
            rows.append(
                (flag, rng.randint(1, 40) * 1.0, rng.randint(100, 999) / 1.0)
            )
    df = spark.createDataFrame(
        rows, ["l_returnflag", "l_quantity", "l_extendedprice"]
    )
    sf = str(tmp_path)
    write_table(sf, "lineitem", df)

    got = {r["l_returnflag"]: r for r in weighted_median_price(spark, sf).collect()}
    by_flag: dict[str, list] = {}
    for flag, w, pr in rows:
        by_flag.setdefault(flag, []).append((round(pr * 100), int(w)))
    for flag, pairs in by_flag.items():
        pairs.sort()
        tot = sum(w for _, w in pairs)
        cum = 0
        for cents, w in pairs:
            cum += w
            if 2 * cum >= tot:
                assert got[flag]["wmedian_cents"] == cents
                break


@pytest.mark.parametrize("seed", [3, 61])
def test_mode_ties_on_random_multisets(spark, tmp_path, seed):
    """Exact mode under heavy ties: many sizes share the max count, the
    tie-break must pick the smallest."""
    from pdf_craft_spark.queries.analyticsq import mode_exact_per_group

    rng = random.Random(seed)
    rows = []
    for i in range(300):
        # few distinct sizes => ties guaranteed
        rows.append((i, rng.choice(["ba", "bb"]), rng.choice([4, 7, 9])))
    df = spark.createDataFrame(rows, ["p_partkey", "p_brand", "p_size"])
    write_table(str(tmp_path), "part", df)
    got = {r["p_brand"]: r for r in mode_exact_per_group(spark, str(tmp_path)).collect()}
    from collections import Counter

    by_brand: dict[str, Counter] = {}
    for _, b, sz in rows:
        by_brand.setdefault(b, Counter())[sz] += 1
    for b, cnt in by_brand.items():
        best = max(cnt.values())
        expect = min(s for s, c in cnt.items() if c == best)
        assert got[b]["mode_size"] == expect and got[b]["mode_count"] == best


@pytest.mark.parametrize("seed", [17])
def test_gini_extremes_on_constructed_distributions(spark, tmp_path, seed):
    """Gini sanity at the boundaries: an equal-revenue nation scores ~0;
    a winner-takes-nearly-all nation scores high; both match the
    pairwise definition."""
    from pdf_craft_spark.queries.analyticsq import gini_revenue_concentration

    li_rows, sup_rows = [], []
    # nation 0: 10 suppliers, equal revenue
    for k in range(10):
        sup_rows.append((k, 0))
        li_rows.append((k, 100.0))
    # nation 1: 10 suppliers, one giant
    for k in range(10, 20):
        sup_rows.append((k, 1))
        li_rows.append((k, 10000.0 if k == 10 else 1.0))
    li = spark.createDataFrame(li_rows, ["l_suppkey", "l_extendedprice"])
    sup = spark.createDataFrame(sup_rows, ["s_suppkey", "s_nationkey"])
    sf = str(tmp_path)
    write_table(sf, "lineitem", li)
    write_table(sf, "supplier", sup)
    got = {r["s_nationkey"]: r for r in gini_revenue_concentration(spark, sf).collect()}
    assert got[0]["gini_ppm"] == 0
    assert got[1]["gini_ppm"] > 800_000
    # pairwise definition on nation 1
    revs = [1_000_000 if k == 10 else 100 for k in range(10, 20)]
    num = sum(abs(a - b) for i, a in enumerate(revs) for b in revs[i + 1 :])
    assert got[1]["gini_ppm"] == (1_000_000 * num) // (len(revs) * sum(revs))
