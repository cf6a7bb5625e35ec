"""The recall/cost frontier claim, measured: the provided embeddings table
is ISOTROPIC (near-random directions), the worst case for list-pruning
ANN — BENCH.md discloses ~60-70% candidate fractions at 0.9 recall there.
This test builds a CLUSTERED corpus (the realistic shape of model
embeddings) and shows the SAME dataflows hit ≥0.9 recall@5 at an order of
magnitude smaller probe fraction, which is the whole point of the index.
"""

from __future__ import annotations

import hashlib
import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

N_VECS = 2000
N_CLUSTERS = 20
DIM = 64


def _unit(vals: list[float]) -> list[float]:
    n = math.sqrt(sum(v * v for v in vals))
    return [v / n for v in vals]


def _hash_floats(tag: str, n: int) -> list[float]:
    """n deterministic floats in [-0.5, 0.5) from md5 bytes."""
    out: list[float] = []
    i = 0
    while len(out) < n:
        h = hashlib.md5(f"{tag}|{i}".encode()).digest()
        out.extend(b / 256.0 - 0.5 for b in h)
        i += 1
    return out[:n]


def _clustered_embeddings() -> list[tuple[int, list[float]]]:
    centers = [_unit(_hash_floats(f"c{c}", DIM)) for c in range(N_CLUSTERS)]
    rows = []
    for vid in range(N_VECS):
        c = vid % N_CLUSTERS
        noise = _hash_floats(f"v{vid}", DIM)
        vec = [centers[c][d] + 0.15 * noise[d] for d in range(DIM)]
        rows.append((vid, [float(f"{v:.6f}") for v in vec]))
    return rows


@pytest.fixture(scope="module")
def clustered_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("clustered_sf")
    rows = _clustered_embeddings()
    table = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float64())),
            "label": pa.array([str(r[0] % N_CLUSTERS) for r in rows]),
        }
    )
    pq.write_table(table, str(d / "embeddings.parquet"))
    return str(d)


def test_clustered_recall_at_small_probe_fraction(spark, clustered_dir):
    """The adaptive fit probes at most a tenth of the lists on clustered
    data, and both ANN dataflows still clear 0.9 mean recall@5 there
    (measured: 2 of 45 lists, ivf recall 0.94, lsh recall 1.0)."""
    import pdf_craft_spark.queries.similarity as sim

    n, nprobe, cents, _cal = sim.ivf_fit(clustered_dir)
    k = len(cents)
    assert n == N_VECS and k == math.ceil(math.sqrt(N_VECS))
    assert nprobe / k <= 0.1

    rows = sim.sim_recall(spark, clustered_dir).collect()
    by_method: dict[str, list[float]] = {}
    for r in rows:
        by_method.setdefault(r.method, []).append(r.recall_at_k)
    assert set(by_method) == {"ivf", "lsh"}
    for method, vals in by_method.items():
        mean = sum(vals) / len(vals)
        # isotropic corpus needs 0.65k probes for 0.9; clustered data
        # clears it at under 0.1k — the index is doing its job
        assert mean >= 0.9, f"{method} clustered recall {mean:.2f} < 0.9"


def test_clustered_adaptive_calibration_picks_small_fraction(clustered_dir):
    """The round-5 adaptive calibration must DISCOVER the cluster
    structure on its own: the fit picks a small probe budget on clustered
    data (measured: 2 of 45 lists) while still clearing the recall target
    on its sample."""
    import pdf_craft_spark.queries.similarity as sim

    _n, nprobe, cents, cal = sim.ivf_fit(clustered_dir)
    assert cal["mode"] == "adaptive"
    assert nprobe / len(cents) <= 0.15, cal
    assert cal["sample_recall"] >= sim.IVF_RECALL_TARGET
