"""dedup.rounds, the one Pregel-style round driver: it raises when a
convergence-checked loop runs out of rounds, runs a fixed-round loop
exactly its bound, and restores the shuffle width it pins even when the
loop raises."""

from __future__ import annotations

import pytest

from pdf_craft_spark.queries import dedup
from pdf_craft_spark.sources import load_table
from tests.test_artifact_registry import SF_DIR

WIDTH = "spark.sql.shuffle.partitions"


def _ids(spark):
    return load_table(spark, SF_DIR, "documents").select("doc_id")


def _shift(df):
    return df.selectExpr("doc_id + 1 AS doc_id")


def test_non_convergence_names_what_bound_and_count(spark):
    with pytest.raises(RuntimeError) as err:
        dedup.rounds(
            spark, "shift_probe", _ids(spark), _shift, 3, lambda new, old: new.count()
        )
    msg = str(err.value)
    assert "shift_probe" in msg and "3 rounds" in msg and "(500 still changing)" in msg


def test_fixed_rounds_call_step_exactly_max_rounds(spark):
    calls = []

    def step(df):
        calls.append(df)
        return _shift(df)

    out = dedup.rounds(spark, "fixed_probe", _ids(spark), step, 4)
    assert len(calls) == 4
    assert out.agg({"doc_id": "min"}).first()[0] == 4 + _ids(spark).agg(
        {"doc_id": "min"}
    ).first()[0]


def test_width_is_restored_after_a_raise(spark):
    before = spark.conf.get(WIDTH)
    seen = []

    def step(df):
        seen.append(spark.conf.get(WIDTH))
        return _shift(df)

    spark.conf.set(WIDTH, "7")
    try:
        with pytest.raises(RuntimeError):
            dedup.rounds(spark, "width_probe", _ids(spark), step, 2, lambda new, old: 1)
        assert seen == [str(spark.sparkContext.defaultParallelism)] * 2
        assert spark.conf.get(WIDTH) == "7"
    finally:
        spark.conf.set(WIDTH, before)
