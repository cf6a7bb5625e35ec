"""Checks for the extraction-QA batch: the A/B diff must agree with a
direct pandas diff of the two golden tables, and the audits must hold
the invariants they claim to guard."""

from __future__ import annotations

import os

import pandas as pd

from pdf_craft_spark.queries import pipelineq

SF = "/root/testdata/sf0.001"


def _golden(name):
    return pd.read_parquet(os.path.join(pipelineq._GOLDEN_DIR, f"{name}.parquet"))


def test_ab_diff_matches_pandas_sequences(spark):
    a = _golden("pipeline_extract_spans")
    b = _golden("pipeline_boilerplate_strip")

    def seqs(df):
        out = {}
        for doc, grp in df.sort_values("offset").groupby("doc_id"):
            out[doc] = list(zip(grp.kind, grp.text, grp.media_ref))
        return out

    sa, sb = seqs(a), seqs(b)
    got = pipelineq.pipeline_ab_span_diff(spark, SF).toPandas().set_index("doc_id")
    for doc in sa:
        ea, eb = sa[doc], sb.get(doc, [])
        lcp = 0
        for x, y in zip(ea, eb):
            if x != y:
                break
            lcp += 1
        row = got.loc[doc]
        assert (row.n_a, row.n_b, row.lcp) == (len(ea), len(eb), lcp)
        assert bool(row.identical) == (ea == eb)
    # the corpus must exercise BOTH branches: some docs identical, some not
    assert got.identical.sum() > 0
    assert (got.identical == 0).sum() > 0


def test_transitions_sum_to_spans_minus_docs(spark):
    g = _golden("pipeline_extract_spans")
    got = pipelineq.span_kind_transitions(spark, SF).toPandas()
    assert got.cnt.sum() == len(g) - g.doc_id.nunique()
    kinds = set(g.kind)
    assert set(got.kind_from) <= kinds and set(got.kind_to) <= kinds


def test_media_audit_invariants(spark):
    got = pipelineq.media_ref_integrity_audit(spark, SF).toPandas().set_index("kind")
    g = _golden("pipeline_extract_spans")
    assert got.loc["__all__"].n_spans == len(g)
    assert got.loc["__all__"].n_with_media == g.media_ref.notna().sum()
    assert got.loc["__all__"].n_distinct_media == g.media_ref.nunique()
    # content-addressed store contract: every asset referenced exactly once
    assert (got.n_dup_media == 0).all()
    assert got.loc["image"].n_with_media == got.loc["image"].n_spans
