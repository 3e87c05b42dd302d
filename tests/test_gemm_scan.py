"""Batched-GEMM centroid assignment (`operators/gemm_scan.py`):
agreement with the fold-based exact path on margin-separated data,
zero-norm and exact-tie conventions."""

from __future__ import annotations

from data_integration_openfoodfacts_spark.operators.gemm_scan import (
    gemm_assign,
)
from data_integration_openfoodfacts_spark.operators.similarity import (
    assign_to_centroids,
)


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def _vecs(n, d, seed):
    """Deterministic margin-separated vectors (no near-ties, so the
    GEMM/fold ulp divergence cannot flip a rank)."""
    out = []
    for i in range(n):
        v = [0.0] * d
        v[i % d] = 1.0 + (i * 7 % 13)  # distinct magnitudes
        v[(i + seed) % d] = 0.5
        out.append((i, v))
    return out


def test_gemm_assign_matches_fold_assignment(spark):
    """`gemm_assign` must reproduce `assign_to_centroids` exactly on
    margin-separated data (no near-ties, so BLAS ulp order cannot
    flip an argmax), including the zero-norm -> lowest-centroid-id
    convention and exact-tie -> lowest-centroid-id."""
    rows = _vecs(40, 8, seed=2) + [(100, [0.0] * 8)]  # + zero-norm row
    emb = _emb(spark, rows).repartition(4)
    cents = spark.createDataFrame(
        [(i, v) for i, v in enumerate([r[1] for r in rows[:5]])],
        "centroid_id long, centroid_vec array<float>",
    )
    got = {
        (r["vec_id"], r["centroid_id"])
        for r in gemm_assign(emb, cents).collect()
    }
    ref = {
        (r["vec_id"], r["centroid_id"])
        for r in assign_to_centroids(emb, cents).collect()
    }
    assert got == ref
    # duplicate centroids: exact tie resolves to the LOWEST id
    dup_cents = spark.createDataFrame(
        [(7, rows[0][1]), (3, rows[0][1])],
        "centroid_id long, centroid_vec array<float>",
    )
    one = gemm_assign(_emb(spark, rows[:1]), dup_cents).collect()[0]
    assert one["centroid_id"] == 3
