"""Round-6 optimization guards: the shared-artifact layer and the
reshaped per-query plans must keep their load-bearing properties.

Each test pins a structural claim from OPTIMIZATION_r06.md so a future
edit cannot silently regress it:
- session_artifact materializes once per (session, name) and protects
  its checkpoint blocks from sweep-harness unpersisting;
- setsim's verify attaches the per-doc arrays via BROADCAST joins (the
  pair side must never shuffle array payloads) and length-prefilters
  before the intersection;
- knn_graph_block evaluates the interpreted dot once per unordered pair
  (the mirrored union reads the materialized half, not a second join);
- mutual_nn_pairs scores pairs via broadcast joins + an array fold (no
  pair x dim explode/shuffle).
"""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_session_artifact_materializes_once_and_protects(spark):
    from pdf_craft_spark.queries.dedup import PROTECTED_RDD_IDS, session_artifact

    calls = []

    def build():
        calls.append(1)
        return spark.range(5).selectExpr("id", "id * 2 AS twice")

    before = set(PROTECTED_RDD_IDS)
    a = session_artifact(spark, "test_r06_artifact", build)
    b = session_artifact(spark, "test_r06_artifact", build)
    assert a is b, "second call must return the same materialized frame"
    assert calls == [1], "builder must run exactly once per (session, name)"
    assert PROTECTED_RDD_IDS - before, "checkpoint blocks must be protected"
    # the artifact is a checkpoint: its plan is a scan, not the builder
    assert "ExistingRDD" in _executed_plan(a)


def test_setsim_verify_broadcasts_arrays_and_prefilters(spark):
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["setsim_prefix_join"](spark, SF_DIR))
    # the array-attach joins must be broadcast hash joins (the pair side
    # never shuffles ~KB array payloads to meet a per-doc dimension)
    assert "BroadcastHashJoin" in plan, plan
    assert "array_intersect" in plan, plan
    # the PPJoin length prefilter sits below the intersect projection:
    # a Filter on the size columns must appear, and the final predicate
    # still references n_inter (losslessness is oracle-proved)
    assert "least(" in plan.lower(), plan


def test_knn_mirror_reads_materialized_half(spark):
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["knn_graph_block"](spark, SF_DIR))
    # exactly one label-keyed join computes the dots; the mirror is a
    # union over the checkpointed half-pair table
    assert "ExistingRDD" in plan, plan
    assert "Union" in plan, plan
    assert plan.count("aggregate(zip_with") <= 2, (
        "per-pair dot must not be re-evaluated per orientation",
        plan,
    )


def test_mutual_nn_scores_without_pair_dim_shuffle(spark):
    from pdf_craft_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["mutual_nn_pairs"](spark, SF_DIR))
    assert "aggregate(zip_with" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the old shape exploded (pair, dim) rows and re-aggregated them —
    # no posexplode may remain anywhere in the scorer
    assert "posexplode" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivf_assignment_artifact_shared_by_family(spark):
    import pdf_craft_spark.queries.similarity as sim

    a = sim.ivf_assign_cached(spark, SF_DIR)
    b = sim.ivf_assign_cached(spark, SF_DIR)
    assert a is b
    assert set(a.columns) == {"vec_id", "embedding", "norm2", "dsorted"}
    # consumers read the artifact: their plans scan ExistingRDD and the
    # interpreted centroid fold never leaks into a join stage
    plan = _executed_plan(sim.sim_ivf_topk(spark, SF_DIR))
    assert "ExistingRDD" in plan, plan


def test_media_table_survives_sweep_release(spark, tmp_path):
    """A sweep harness releases every persisted RDD outside
    PROTECTED_RDD_IDS between queries (dedup.release_unprotected, called
    by bench.py and bench_extra.py); the shared media table is a
    lineage-cut checkpoint, so it must be a protected session artifact or
    the next media query cannot read it."""
    import os
    import shutil

    from pdf_craft_spark.queries import QUERIES
    from pdf_craft_spark.queries.dedup import release_unprotected

    # a private sf_dir so the media table is built inside this test
    shutil.copy(os.path.join(SF_DIR, "documents.parquet"), tmp_path)
    sf_dir = str(tmp_path)
    jsc = spark.sparkContext._jsc
    before = {int(k) for k in jsc.getPersistentRDDs().keySet()}

    meta = QUERIES["media_metadata"](spark, sf_dir).collect()
    n_images = sum(r.mime.startswith("image/") for r in meta)
    assert n_images > 0

    release_unprotected(spark, before)

    assert QUERIES["media_dhash_index"](spark, sf_dir).count() == n_images
