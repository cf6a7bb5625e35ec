"""ivf_fit's two sampling paths must stay bit-identical.

The oracle SQL can be built without Spark (import-time, pyarrow batch
streaming) while the query runs with it (distributed pruned scan) — if
the two paths ever diverge, sim_ivf_topk and its oracle would quantize
with DIFFERENT centroids and the driver gate would fail confusingly far
from the cause.  Pin the equivalence here instead."""

from __future__ import annotations

import numpy as np

from pdf_craft_spark.queries import similarity as sim

SF_DIR = "/root/testdata/sf0.001"


def test_fit_sample_paths_bit_identical(spark, monkeypatch):
    n_spark, m_spark = sim._fit_sample(SF_DIR)  # active session → distributed

    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
    n_arrow, m_arrow = sim._fit_sample(SF_DIR)  # forced pyarrow fallback

    assert n_spark == n_arrow
    assert m_spark.shape == m_arrow.shape
    assert (m_spark == m_arrow).all()


def test_fit_caches_and_matches_sample(spark):
    fit = sim.ivf_fit(SF_DIR)
    assert sim.ivf_fit(SF_DIR) is fit
    n, nprobe, cents, _cal = fit
    assert n == 500 and nprobe >= 2
    # centroids are unit vectors (spherical k-means contract)
    for _cid, vec in cents:
        assert abs(float(np.sqrt(np.dot(vec, vec))) - 1.0) < 1e-9


def test_fit_on_degenerate_single_vector_corpus(tmp_path):
    """n=1 → k=1: the adaptive calibration must degrade (nprobe floored at
    2, harmless — the probe slice truncates at k) instead of crashing on
    the k-length recall curve."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0], pa.int64()),
                "embedding": pa.array([[1.0] * 8], pa.list_(pa.float64())),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    d = str(tmp_path)
    n, nprobe, cents, cal = sim.ivf_fit(d)
    assert n == 1 and len(cents) == 1 and nprobe == 2
    assert cal["mode"] == "adaptive"
