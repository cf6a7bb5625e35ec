"""Independent brute-force checks for MAD, k-truss edge support, mixture
weights, containment and keyword-in-context."""

from __future__ import annotations

import itertools
import math
import re

import pandas as pd
import pytest

from pdf_craft_spark.queries import dedup, graphq, statsq, textops, traindata

SF = "/root/testdata/sf0.001"


def _lower_median(vals):
    s = sorted(vals)
    return s[(len(s) + 1) // 2 - 1]


def test_mad_matches_bruteforce(spark):
    part = pd.read_parquet(f"{SF}/part.parquet")
    part["v"] = part.p_retailprice.map(lambda x: round(x * 100))
    got = statsq.mad_price_by_brand(spark, SF).toPandas().set_index("p_brand")
    for brand, grp in part.groupby("p_brand"):
        med = _lower_median(grp.v)
        mad = _lower_median((grp.v - med).abs())
        row = got.loc[brand]
        assert (row.n, row.med_cents, row.mad_cents) == (len(grp), med, mad)


def test_edge_support_counts_triangles(spark):
    li = pd.read_parquet(f"{SF}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ].drop_duplicates()
    edges = set()
    for _, grp in li.groupby("l_orderkey"):
        for a, b in itertools.combinations(sorted(grp.l_partkey.unique()), 2):
            edges.add((a, b))
    # keep edges with >=2 shared orders
    from collections import Counter

    cnt = Counter()
    for _, grp in li.groupby("l_orderkey"):
        for a, b in itertools.combinations(sorted(grp.l_partkey.unique()), 2):
            cnt[(a, b)] += 1
    und = {e for e, c in cnt.items() if c >= 2}
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    support = {
        (a, b): len(adj[a] & adj[b]) for a, b in und if len(adj[a] & adj[b]) > 0
    }
    ranked = sorted(support.items(), key=lambda kv: (-kv[1], kv[0]))[: graphq.TRUSS_TOPK]
    got = graphq.graph_edge_support(spark, SF).toPandas().sort_values("rk")
    got_pairs = [((a, b), s) for a, b, s in zip(got.part_a, got.part_b, got.support)]
    assert got_pairs == ranked
    assert (got.max_truss == got.support + 2).all()


def test_temperature_weights_sum_and_order(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    ns = docs.groupby("source").size()
    got = traindata.temperature_mixture_weights(spark, SF).toPandas().set_index("source")
    assert (got.n_docs == ns).all()
    # proportional weights: check against exact ratio
    for src, n in ns.items():
        assert got.loc[src].w_prop_micro == pytest.approx(1e6 * n / ns.sum(), abs=1)
    # T=2 flattens: between uniform and proportional for over/under-represented
    sq = {s: round(1e6 * math.sqrt(n)) for s, n in ns.items()}
    tot = sum(sq.values())
    for src in ns.index:
        assert got.loc[src].w_t2_micro == round(1e6 * sq[src] / tot)
    # each weight family sums to ~1e6
    for col in ("w_prop_micro", "w_t2_micro"):
        assert abs(got[col].sum() - 1_000_000) <= len(ns)


def test_containment_between_zero_and_one_and_symmetric_pairs(spark):
    got = dedup.dedup_containment_topk(spark, SF).toPandas()
    assert len(got) <= dedup.CONTAIN_TOPK
    assert ((got.containment_micro >= 0) & (got.containment_micro <= 1_000_000)).all()
    assert (got.n_inter <= got.n_a).all()
    # brute-force one pair: recompute shingle containment for the top row
    top = got.iloc[0]
    docs = pd.read_parquet(f"{SF}/documents.parquet").set_index("doc_id")

    def shingles(txt):
        toks = [t for t in re.split(r"\s+", txt) if t]
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sa, sb = shingles(docs.loc[top.a].text), shingles(docs.loc[top.b].text)
    assert top.n_a == len(sa)
    assert top.n_inter == len(sa & sb)
    assert top.containment_micro == (1_000_000 * len(sa & sb)) // len(sa)


def test_kwic_matches_bruteforce(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    from collections import Counter

    ctx = Counter()
    for txt in docs.text:
        toks = re.findall("[a-z]+", txt)
        for i, t in enumerate(toks):
            if t == textops.KWIC_TERM:
                prev = toks[i - 1] if i > 0 else "^"
                nxt = toks[i + 1] if i < len(toks) - 1 else "$"
                ctx[(prev, nxt)] += 1
    ranked = sorted(ctx.items(), key=lambda kv: (-kv[1], kv[0]))[: textops.KWIC_TOPK]
    got = textops.kwic_contexts(spark, SF).toPandas().sort_values("rk")
    got_rows = [((p, n), c) for p, n, c in zip(got.prev_t, got.next_t, got.cnt)]
    assert got_rows == ranked
