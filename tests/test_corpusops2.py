"""Independent brute-force checks for blocking quality, curve locality,
edit-1 blocking, Zipf rank-frequency and group k-fold (the DuckDB hash
gate runs separately in test_oracle_parity)."""

from __future__ import annotations

import hashlib
import itertools
import re

import pandas as pd
import pytest

from pdf_craft_spark.queries import dataquality, indexing, textops, traindata

SF = "/root/testdata/sf0.001"


def test_blocking_quality_matches_materialized_pairs(spark):
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    cents = (cust.c_acctbal.map(lambda v: round(v * 100))).astype(int)
    blk = cents.map(lambda c: int(c / dataquality.ER_BLOCK_CENTS))  # trunc toward zero
    rows = list(zip(cust.c_nationkey, cust.c_mktsegment, blk))
    cand = true = capt = 0
    for a, b in itertools.combinations(rows, 2):
        same_truth = a[:2] == b[:2]
        same_blk = a[2] == b[2]
        cand += same_blk
        true += same_truth
        capt += same_truth and same_blk
    got = dataquality.blocking_quality_eval(spark, SF).toPandas().iloc[0]
    assert (got.cand_pairs, got.true_pairs, got.captured_pairs) == (cand, true, capt)
    assert got.total_pairs == len(rows) * (len(rows) - 1) // 2


def _hilbert_xy_to_d(n, x, y):
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        # rotate
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def _morton(x, y):
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_curve_locality_matches_python_curves(spark):
    orders = pd.read_parquet(f"{SF}/orders.parquet")
    epoch = pd.Timestamp("1995-01-01")
    x = (orders.o_orderkey * 0 + orders.o_custkey) & (indexing.CURVE_N - 1)
    y = (orders.o_orderdate.dt.normalize() - epoch).dt.days & (indexing.CURVE_N - 1)
    pts = pd.DataFrame({"x": x.astype(int), "y": y.astype(int)})
    keys = {
        "rowmajor": pts.x * indexing.CURVE_N + pts.y,
        "zorder": [_morton(a, b) for a, b in zip(pts.x, pts.y)],
        "hilbert": [
            _hilbert_xy_to_d(indexing.CURVE_N, a, b) for a, b in zip(pts.x, pts.y)
        ],
    }
    expect = {}
    for name, k in keys.items():
        df = pts.assign(k=list(k))
        df["shard"] = df.k // indexing.CURVE_SHARD
        df = df.sort_values(["shard", "k", "x", "y"]).reset_index(drop=True)
        tot = pairs = 0
        for _, grp in df.groupby("shard"):
            dx = grp.x.diff().abs()
            dy = grp.y.diff().abs()
            tot += int((dx + dy).dropna().sum())
            pairs += len(grp) - 1
        expect[name] = (pairs, tot)
    got = indexing.curve_locality_eval(spark, SF).toPandas()
    for r in got.itertuples():
        assert (r.n_pairs, r.sum_l1) == expect[r.ordering], r.ordering
    # the headline claim: hilbert strictly better locality than zorder,
    # zorder strictly better than row-major, on this corpus
    g = got.set_index("ordering").avg_l1_micro
    assert g["hilbert"] < g["zorder"] < g["rowmajor"]


def test_edit1_pairs_match_bruteforce(spark):
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    digits = cust.c_name.str[9:18].tolist()
    expect: dict[int, int] = {}
    for a, b in itertools.combinations(sorted(digits), 2):
        diff = [i for i in range(9) if a[i] != b[i]]
        if len(diff) == 1:
            expect[diff[0] + 1] = expect.get(diff[0] + 1, 0) + 1
    got = dataquality.edit1_blocking_pairs(spark, SF).toPandas()
    assert dict(zip(got.pos, got.n_pairs)) == expect
    assert (got.max_lev == 1).all()


def test_zipf_rank_frequency_bruteforce(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    toks = [t for s in docs.text for t in re.findall("[a-z]+", s)]
    freq = pd.Series(toks).value_counts()
    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[: textops.ZIPF_TOPK]
    got = textops.zipf_rank_frequency(spark, SF).toPandas().sort_values("r")
    assert list(zip(got.t, got.f)) == ranked
    assert (got.rf == got.r * got.f).all()
    assert got.dev_micro.iloc[0] == 0  # rank 1: r*f == f1 by definition


def test_group_kfold_no_group_straddles_folds(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet")

    def fold(uid):
        h = hashlib.md5(f"gkf:{uid}".encode()).hexdigest()[:6]
        return int(h, 16) % traindata.KFOLDS

    ev["fold"] = ev.user_id.map(fold)
    expect = ev.groupby("fold").agg(
        n_users=("user_id", "nunique"), n_rows=("user_id", "size")
    )
    got = traindata.group_kfold_assignment(spark, SF).toPandas().set_index("fold")
    assert (got.n_users == expect.n_users).all()
    assert (got.n_rows == expect.n_rows).all()
    # group-integrity: fold is a function of user_id, so the union of
    # per-fold distinct users must equal the global distinct count
    assert got.n_users.sum() == ev.user_id.nunique()
    assert got.n_rows.sum() == len(ev)
