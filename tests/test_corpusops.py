"""Independent value checks for the corpus-mining ops (phrase search, OLS,
TV drift, saturation curve, epoch shuffle, chi-squared terms) — each op
verified against a brute-force pandas/numpy computation, not just the DuckDB hash
gate (which runs separately in test_oracle_parity)."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from pdf_craft_spark.queries import dedup, indexing, mlq, statsq, traindata

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_pd():
    return pd.read_parquet(f"{SF}/documents.parquet")


def test_phrase_hits_match_bruteforce(spark, docs_pd):
    got = indexing.phrase_query_positional(spark, SF).toPandas()
    # brute force: count adjacent (table, scan) token pairs per doc
    expect = {}
    for r in docs_pd.itertuples():
        toks = re.findall("[a-z]+", r.text)
        n = sum(
            1
            for i in range(len(toks) - 1)
            if toks[i] == indexing.PHRASE_A and toks[i + 1] == indexing.PHRASE_B
        )
        if n:
            expect[r.doc_id] = n
    ranked = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[: indexing.PHRASE_TOPK]
    got_pairs = list(zip(got.sort_values("rk").doc_id, got.sort_values("rk").n_hits))
    assert got_pairs == ranked


def test_ols_matches_numpy_lstsq(spark):
    part = pd.read_parquet(f"{SF}/part.parquet")
    x1 = part.p_size.to_numpy(dtype=float)
    x2 = part.p_type.str.len().to_numpy(dtype=float)
    y = np.round(part.p_retailprice.to_numpy() * 100)
    X = np.column_stack([np.ones_like(x1), x1, x2])
    beta, _, _, _ = np.linalg.lstsq(X, y, rcond=None)
    row = mlq.ols_normal_equations(spark, SF).toPandas().iloc[0]
    assert row.beta1_micro == pytest.approx(beta[1] * 1e6, abs=2)
    assert row.beta2_micro == pytest.approx(beta[2] * 1e6, abs=2)
    # R^2 sanity: within [0, 1e6]
    assert 0 <= row.r2_micro <= 1_000_000


def test_tv_distance_matches_bruteforce(spark, docs_pd):
    got = statsq.corpus_tv_distance_by_source(spark, SF).toPandas()
    toks = docs_pd.assign(t=docs_pd.text.map(lambda s: re.findall("[a-z]+", s)))
    rows = toks.explode("t")[["source", "t"]]
    glob = rows.t.value_counts()
    n_tot = len(rows)
    for src in ("src0", "src7"):
        sub = rows[rows.source == src].t.value_counts()
        n_s = int(sub.sum())
        tv = 0.0
        for t, ct in glob.items():
            cs = int(sub.get(t, 0))
            tv += abs(cs / n_s - ct / n_tot)
        tv /= 2
        row = got[got.source == src].iloc[0]
        assert row.tv_micro == pytest.approx(tv * 1e6, abs=2)
        assert 0 <= row.tv_micro <= 1_000_000


def test_saturation_curve_invariants(spark, docs_pd):
    got = dedup.dedup_saturation_curve(spark, SF).toPandas().sort_values("bucket")
    assert list(got.bucket) == list(range(dedup.SAT_BUCKETS))
    assert got.n_rows.sum() == len(docs_pd)
    assert got.n_new_unique.sum() == docs_pd.text.nunique()
    # cumulative columns are actual prefix sums and dup rate is monotone-safe
    assert (got.cum_rows == got.n_rows.cumsum()).all()
    assert (got.cum_unique == got.n_new_unique.cumsum()).all()
    assert (got.cum_unique <= got.cum_rows).all()


def test_epoch_shuffle_is_deterministic_permutation(spark, docs_pd):
    a = traindata.epoch_shuffle_plan(spark, SF).toPandas()
    b = traindata.epoch_shuffle_plan(spark, SF).toPandas()
    key = lambda df: sorted(map(tuple, df[["doc_id", "shard", "pos"]].to_numpy()))
    assert key(a) == key(b)  # same seed -> identical permutation
    assert sorted(a.doc_id) == sorted(docs_pd.doc_id)  # a true permutation
    for shard, grp in a.groupby("shard"):
        assert sorted(grp.pos) == list(range(1, len(grp) + 1))  # contiguous


def test_chi2_matches_bruteforce_cell(spark, docs_pd):
    got = statsq.chi2_terms_by_source(spark, SF).toPandas()
    toks = docs_pd.assign(t=docs_pd.text.map(lambda s: re.findall("[a-z]+", s)))
    rows = toks.explode("t")[["source", "t"]]
    n_tot = len(rows)
    top = got[got.source == "src0"].sort_values("rk").iloc[0]
    a = len(rows[(rows.source == "src0") & (rows.t == top.t)])
    n_s = len(rows[rows.source == "src0"])
    c_t = len(rows[rows.t == top.t])
    b, c, d = n_s - a, c_t - a, n_tot - n_s - (c_t - a)
    chi2 = n_tot * (a * d - b * c) ** 2 / ((a + b) * (c + d) * (a + c) * (b + d))
    assert top.a == a
    assert top.chi2_micro == pytest.approx(chi2 * 1e6, abs=2)
    assert all(lst == [1, 2, 3] for lst in got.groupby("source").rk.apply(list))
