"""Invariant tests for the session-8 operators — properties the oracle
hash implies but that deserve a direct, named assertion."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def test_allocation_conserves_money_exactly(spark):
    """Largest-remainder allocation: every day's allocated mils equal the
    source mils EXACTLY (no float residue), and the per-purchase share
    spread never exceeds one mil."""
    from pdf_craft_spark.queries.timeseries import attribution_linear_exact

    rows = attribution_linear_exact(spark, SF_DIR).collect()
    assert rows, "attribution produced no days"
    for r in rows:
        assert r["alloc_mils"] == r["value_mils"], r
        assert r["max_share_spread_mils"] <= 1, r


def test_kcore_every_survivor_has_core_degree(spark):
    """2-core output: every surviving node's in-core degree >= 2 (the
    defining property), and survivors are a subset of the original
    near-dup node set."""
    from pdf_craft_spark.queries.dedup import dedup_minhash_lsh
    from pdf_craft_spark.queries.graphq import (
        KCORE_K,
        graph_kcore_decomposition,
    )

    core = graph_kcore_decomposition(spark, SF_DIR)
    assert core.filter(F.col("core_degree") < KCORE_K).count() == 0
    nodes = {
        r[0]
        for r in dedup_minhash_lsh(spark, SF_DIR)
        .selectExpr("doc_a AS v")
        .union(dedup_minhash_lsh(spark, SF_DIR).selectExpr("doc_b AS v"))
        .distinct()
        .collect()
    }
    assert {r["doc_id"] for r in core.collect()} <= nodes


def test_feature_hash_matches_direct_md5(spark):
    """A hand-computed bucket/sign for a known token must agree with the
    query's md5 spelling (guards the shared hex-prefix recipe)."""
    import hashlib

    from pdf_craft_spark.queries.traindata import FH_BUCKETS

    term = "example"
    h = int(hashlib.md5(term.encode()).hexdigest()[:8], 16)
    bucket = h % FH_BUCKETS
    sign = 1 if (h // FH_BUCKETS) % 2 == 0 else -1
    got = spark.sql(
        f"SELECT CAST(conv(substring(md5('{term}'), 1, 8), 16, 10) AS BIGINT)"
        " AS h"
    ).collect()[0]["h"]
    assert got == h and 0 <= bucket < FH_BUCKETS and sign in (1, -1)


def test_sliding_distinct_lower_bounded_by_single_day(spark):
    """Trailing-7d actives can never be fewer than any single covered
    day's distinct users."""
    from pdf_craft_spark.queries.timeseries import sliding_distinct_users_7d

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    day = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    per_day = {
        r["day"]: r["n"]
        for r in ev.select("user_id", day.alias("day"))
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in sliding_distinct_users_7d(spark, SF_DIR).collect():
        assert r["n_active_users"] >= per_day.get(r["day_no"], 0)


def test_topk_other_sections_sum_to_group_total(spark):
    """The OTHER rollup's conservation property: per nation, the slot
    balances sum to the plain per-nation total."""
    from pdf_craft_spark.queries.relational import topk_suppliers_with_other

    got = (
        topk_suppliers_with_other(spark, SF_DIR)
        .groupBy("n_name")
        .agg(F.round(F.sum("balance"), 2).alias("total"))
    )
    s = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    want = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("total")
        )
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
