"""The shared stream driver (streamingq._run_stream) and the UTC pin
(streamingq._utc) clean up after themselves: no memory-sink view, running
query or scratch dir outlives a call, whether it returns or raises, and
the session time zone comes back as it was."""

from __future__ import annotations

import os

import pytest

from pdf_craft_spark.queries import QUERIES, streamingq

SF_DIR = "/root/testdata/sf0.001"

MEMORY_SINK_QUERIES = [
    "streaming_doc_totals",
    "streaming_windowed_metrics",
    "streaming_dedup_exact",
    "streaming_sessionize",
    "streaming_stream_join",
    "streaming_static_enrich",
]


def _views(spark):
    return {t.name for t in spark.catalog.listTables()}


@pytest.mark.parametrize("name", MEMORY_SINK_QUERIES)
def test_memory_sink_query_leaves_no_view(spark, name):
    before = _views(spark)
    assert QUERIES[name](spark, SF_DIR).count() > 0
    assert _views(spark) == before
    assert not spark.streams.active


@pytest.fixture
def scratch_dirs(monkeypatch):
    made = []
    mkdtemp = streamingq.tempfile.mkdtemp

    def record(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(streamingq.tempfile, "mkdtemp", record)
    return made


def _assert_clean(spark, before, made):
    assert len(made) == 1 and not os.path.exists(made[0])
    assert not spark.streams.active
    assert _views(spark) == before


def _to_memory(s, write):
    return (
        write(s["in"])
        .format("memory")
        .queryName("stream_driver_probe")
        .outputMode("append")
        .start()
    )


def test_driver_cleans_up_when_start_raises(spark, scratch_dirs):
    def start(_s, _write):
        raise RuntimeError("start failed")

    before = _views(spark)
    with pytest.raises(RuntimeError, match="start failed"):
        streamingq._run_stream(
            spark, {"in": "x long"}, [{"in": spark.range(3).toDF("x")}], start,
            lambda q: spark.table(q.name),
        )
    _assert_clean(spark, before, scratch_dirs)


def test_driver_cleans_up_when_a_round_write_fails(spark, scratch_dirs):
    bad = spark.range(1).selectExpr(
        "CAST(raise_error('round write failed') AS BIGINT) AS x"
    )
    before = _views(spark)
    with pytest.raises(Exception, match="round write failed"):
        streamingq._run_stream(
            spark, {"in": "x long"}, [{"in": spark.range(3).toDF("x")}, {"in": bad}],
            _to_memory, lambda q: spark.table(q.name),
        )
    _assert_clean(spark, before, scratch_dirs)


def test_driver_detaches_the_result_and_drops_the_view(spark, scratch_dirs):
    before = _views(spark)
    out = streamingq._run_stream(
        spark, {"in": "x long"},
        [{"in": spark.range(3).toDF("x")}, {"in": spark.range(3, 5).toDF("x")}],
        _to_memory, lambda q: spark.table(q.name).orderBy("x"),
    )
    _assert_clean(spark, before, scratch_dirs)
    # one file per round, both drained: the detached rows survive cleanup
    assert [r.x for r in out.collect()] == [0, 1, 2, 3, 4]


def test_utc_restores_the_session_time_zone_on_exception(spark):
    key = "spark.sql.session.timeZone"
    prior = spark.conf.get(key)
    spark.conf.set(key, "Asia/Kathmandu")
    try:
        with pytest.raises(RuntimeError, match="inside"):
            with streamingq._utc(spark):
                assert spark.conf.get(key) == "UTC"
                raise RuntimeError("inside")
        assert spark.conf.get(key) == "Asia/Kathmandu"
    finally:
        spark.conf.set(key, prior)
