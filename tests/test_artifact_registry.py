"""The artifact registry never serves a value its inputs have outgrown.

Every cross-query memo (the DataFrame session artifacts, the numpy IVF/PQ
fits, the two-run resume rows) lives in one registry in queries/dedup.py,
keyed on its session and the fingerprint of its sf_dir's tables.  These
tests rewrite a table in place, delete an sf_dir and restart the session,
and check that none of them leaves a stale entry or a stale protected RDD
id behind."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pyarrow.parquet as pq

from pdf_craft_spark.queries import dedup, similarity as sim

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


def _shrink(path: str, n: int) -> None:
    pq.write_table(pq.read_table(path).slice(0, n), path)


def test_rewritten_tables_rebuild_their_artifacts(spark, tmp_path):
    d = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, d)
    before = set(dedup.PROTECTED_RDD_IDS)
    old = dedup.shingles_cached(spark, d)
    old_ids = dedup.PROTECTED_RDD_IDS - before
    assert old_ids
    assert old.select("doc_id").distinct().count() == 500
    assert sim.ivf_fit(d)[0] == 500
    assert dedup.shingles_cached(spark, d) is old  # unchanged inputs: a hit

    _shrink(os.path.join(d, "documents.parquet"), 3)
    _shrink(os.path.join(d, "embeddings.parquet"), 10)

    fresh = dedup.shingles_cached(spark, d)
    assert fresh is not old
    assert fresh.select("doc_id").distinct().count() == 3
    assert sim.ivf_fit(d)[0] == 10
    assert not old_ids & dedup.PROTECTED_RDD_IDS
    persisted = {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}
    assert not old_ids & persisted, "the stale checkpoint must be unpersisted"


def test_vanished_inputs_evict_their_artifacts(spark, tmp_path):
    """A sweep that builds on a fresh copy of its tables and then deletes
    the copy must not keep the old entry's blocks for the session."""
    d = str(tmp_path / "gone")
    shutil.copytree(SF_DIR, d)
    before = set(dedup.PROTECTED_RDD_IDS)
    dedup.shingles_cached(spark, d)
    old_ids = dedup.PROTECTED_RDD_IDS - before
    assert old_ids

    shutil.rmtree(d)
    dedup.shingles_cached(spark, SF_DIR)  # any artifact request

    assert all(name != f"shingles:{d}" for name, _scope in dedup._REGISTRY)
    assert not old_ids & dedup.PROTECTED_RDD_IDS
    persisted = {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}
    assert not old_ids & persisted, "the vanished input's checkpoint must be unpersisted"


def test_an_artifact_protects_only_its_own_checkpoint(spark, tmp_path):
    """The round checkpoints made while an artifact builds are cut off by
    the artifact's own checkpoint; protecting them too would keep their
    blocks for the whole session."""
    d = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, d)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = {int(k) for k in persisted().keySet()}
    want = dedup.dedup_components(spark, d).collect()
    app = spark.sparkContext.applicationId
    for name in ("cc_labels", "lsh_pairs"):
        assert len(dedup._REGISTRY[(f"{name}:{d}", app)][2]) == 1, name

    dedup.release_unprotected(spark, before)
    assert dedup.dedup_components(spark, d).collect() == want


_RESTART = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from pdf_craft_spark.queries import dedup
    from pdf_craft_spark.session import get_spark

    spark = get_spark(cores=1, app_name="registry_restart", shuffle_partitions=1)
    dead = spark.sparkContext.applicationId
    dedup.session_artifact(spark, "restart_probe", lambda: spark.range(10))
    dead_ids = set(dedup.PROTECTED_RDD_IDS)
    assert dead_ids
    spark.stop()

    spark = get_spark(cores=1, app_name="registry_restart", shuffle_partitions=1)
    assert spark.sparkContext.applicationId != dead
    rdd = spark.sparkContext.parallelize([1]).cache()
    while rdd.id() not in dead_ids:  # new RDD ids restart at 0
        rdd = spark.sparkContext.parallelize([1]).cache()
    dedup.release_unprotected(spark, set())
    persisted = {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}
    assert rdd.id() not in persisted, "a dead session's protection leaked"
    assert not dead_ids & dedup.PROTECTED_RDD_IDS
    assert all(scope != dead for _name, scope in dedup._REGISTRY)
    spark.stop()
    print("ok")
    """
)


def test_session_restart_drops_dead_application_entries():
    """Runs in its own process with its own local[1] session, so the shared
    test session is never stopped."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _RESTART, REPO],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert out.returncode == 0 and out.stdout.strip().endswith("ok"), out.stderr[-3000:]
