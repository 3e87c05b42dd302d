"""Two-level coarse-quantizer assignment
(`operators/coarse_quantizer.py`) — the round-13 scale path for the
k∝n SemDeDup fit (VERDICT r12 #1)."""

from __future__ import annotations

import numpy as np
import pytest

from data_integration_openfoodfacts_spark.operators.coarse_quantizer import (
    block_partition,
    blocked_assign,
)
from data_integration_openfoodfacts_spark.operators.gemm_scan import (
    gemm_assign,
)


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def _cents(spark, rows):
    return spark.createDataFrame(
        rows, "centroid_id long, centroid_vec array<float>"
    )


def _random_rows(n, dim, seed, id0=0):
    rng = np.random.default_rng(seed)
    return [
        (id0 + i, [float(x) for x in rng.normal(size=dim)])
        for i in range(n)
    ]


def test_block_partition_is_deterministic_and_covers():
    rng = np.random.default_rng(7)
    C = rng.normal(size=(40, 8))
    a1 = block_partition(C, 6)
    a2 = block_partition(C, 6)
    assert (a1 == a2).all()
    assert a1.min() >= 0 and a1.max() < 6 and len(a1) == 40


def test_blocked_assign_probe_all_equals_gemm_assign(spark):
    """With n_probe >= n_blocks every block is probed, so the blocked
    path degenerates to the exact flat argmax — bit-identical ids to
    gemm_assign (same BLAS, same tie rule)."""
    emb = _emb(spark, _random_rows(60, 8, seed=1))
    cents = _cents(spark, _random_rows(9, 8, seed=2))
    flat = {
        r["vec_id"]: r["centroid_id"]
        for r in gemm_assign(emb, cents).collect()
    }
    blocked = {
        r["vec_id"]: r["centroid_id"]
        for r in blocked_assign(
            emb, cents, n_probe=99, n_blocks=3
        ).collect()
    }
    assert blocked == flat


def test_blocked_assign_high_recall_on_clustered_vectors(spark):
    """Default probe budget on data WITH cluster structure (the
    SemDeDup fit's regime — centers come from the data): >=95% of
    vectors get their exact nearest center. 30 cluster directions in
    16 dims, members = direction + small noise, centers = the
    directions themselves."""
    rng = np.random.default_rng(11)
    dirs = rng.normal(size=(30, 16))
    dirs /= np.linalg.norm(dirs, axis=1)[:, None]
    rows = []
    for i in range(600):
        c = i % 30
        v = dirs[c] + rng.normal(scale=0.08, size=16)
        rows.append((i, [float(x) for x in v]))
    emb = _emb(spark, rows)
    cents = _cents(
        spark,
        [(j, [float(x) for x in dirs[j]]) for j in range(30)],
    )
    flat = {
        r["vec_id"]: r["centroid_id"]
        for r in gemm_assign(emb, cents).collect()
    }
    blocked = {
        r["vec_id"]: r["centroid_id"]
        for r in blocked_assign(emb, cents, n_probe=4).collect()
    }
    agree = sum(1 for k, v in flat.items() if blocked[k] == v)
    assert agree / len(flat) >= 0.95


def test_blocked_assign_degrades_gracefully_on_unclustered(spark):
    """Adversarial regime — random centers over near-orthogonal
    vectors, every cosine near-tied (no cluster structure, so block
    pruning has nothing to exploit): agreement drops but stays well
    above the m/B probe fraction (measured 0.816 at n_probe=4 with
    B=16 vs 0.25 blind), catching any regression that breaks the
    coarse ranking outright."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    dim = len(emb.select("embedding").first()["embedding"])
    cents = _cents(spark, _random_rows(64, dim, seed=5))
    flat = {
        r["vec_id"]: r["centroid_id"]
        for r in gemm_assign(emb, cents).collect()
    }
    blocked = {
        r["vec_id"]: r["centroid_id"]
        for r in blocked_assign(emb, cents, n_probe=4).collect()
    }
    agree = sum(1 for k, v in flat.items() if blocked[k] == v)
    assert agree / len(flat) >= 0.6


def test_blocked_assign_zero_norm_conventions(spark):
    """A zero-norm vector assigns the globally lowest centroid id; a
    zero-norm centroid never beats a real match — the gemm_assign
    conventions, preserved through the block detour."""
    emb = _emb(
        spark,
        [(1, [0.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
    )
    cents = _cents(
        spark,
        [
            (3, [1.0, 0.0, 0.0, 0.0]),
            (5, [0.0, 0.0, 0.0, 0.0]),  # zero-norm centroid
            (7, [0.0, 1.0, 0.0, 0.0]),
        ],
    )
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in blocked_assign(
            emb, cents, n_probe=1, n_blocks=3
        ).collect()
    }
    assert got[1] == 3  # zero-norm vector -> lowest centroid id
    assert got[2] == 7  # exact match wins; zero centroid ignored


def test_blocked_assign_plan_is_arrow_only(spark):
    """scan -> MapInPandas, like gemm_assign: no join, no exchange —
    neither the n×B block scores nor the per-block GEMMs ever exist
    as Spark rows."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    dim = len(emb.select("embedding").first()["embedding"])
    cents = _cents(spark, _random_rows(16, dim, seed=3))
    plan = (
        blocked_assign(emb, cents, n_probe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_blocked_assign_validates(spark):
    emb = _emb(spark, _random_rows(4, 4, seed=1))
    cents = _cents(spark, _random_rows(2, 4, seed=2))
    with pytest.raises(ValueError):
        blocked_assign(emb, cents, n_probe=0)
    from data_integration_openfoodfacts_spark.functions.localframe import (
        local_rows_df,
    )

    with pytest.raises(ValueError, match="empty"):
        blocked_assign(
            emb,
            local_rows_df(
                spark, [], "centroid_id long, centroid_vec array<float>"
            ),
        )


def test_semantic_dedup_blocked_probe_path(spark):
    """semantic_dedup(blocked_probe=m): same schema/verdicts as the
    GEMM path when every block is probed (the within-cluster prune is
    fold-based either way), and the Arrow-only assignment rides the
    same operator the probes measured."""
    from data_integration_openfoodfacts_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    cents = emb.limit(8).select(
        emb.vec_id.alias("centroid_id"),
        emb.embedding.alias("centroid_vec"),
    )
    gemm = {
        (r["vec_id"], r["kept"])
        for r in semantic_dedup(
            emb, cents, gemm_assignment=True
        ).collect()
    }
    blocked = {
        (r["vec_id"], r["kept"])
        for r in semantic_dedup(emb, cents, blocked_probe=99).collect()
    }
    assert blocked == gemm


def test_centroid_collect_budget_guard(spark):
    """Round-14 pin (VERDICT r13 #7): the kernel's centroid collect is
    BOUNDED — the k x d float64 matrix lives on the driver and ships
    in every task closure, so an over-budget table must raise a clear
    error instead of silently OOMing the driver at 100 TB k. The row
    cap is enforced via limit() BEFORE the collect; the float budget
    right after."""
    import pytest as _pytest

    from data_integration_openfoodfacts_spark.operators import (
        coarse_quantizer as cq,
    )

    # row-cap branch: shrink the cap instead of building 2^20 rows
    orig_rows = cq.MAX_CENTROID_ROWS
    cq.MAX_CENTROID_ROWS = 3
    try:
        cents = spark.createDataFrame(
            [(i, [float(i), 0.0]) for i in range(5)],
            "centroid_id long, centroid_vec array<double>",
        )
        with _pytest.raises(ValueError, match="rows"):
            cq._collect_centroids(
                cents, ("centroid_id", "centroid_vec")
            )
    finally:
        cq.MAX_CENTROID_ROWS = orig_rows

    # float-budget branch
    orig_floats = cq.MAX_CENTROID_FLOATS
    cq.MAX_CENTROID_FLOATS = 7  # 4 rows x 2 dims = 8 > 7
    try:
        cents = spark.createDataFrame(
            [(i, [float(i), 0.0]) for i in range(4)],
            "centroid_id long, centroid_vec array<double>",
        )
        with _pytest.raises(ValueError, match="budget"):
            cq._collect_centroids(
                cents, ("centroid_id", "centroid_vec")
            )
    finally:
        cq.MAX_CENTROID_FLOATS = orig_floats

    # in-budget table passes through unchanged
    cents = spark.createDataFrame(
        [(1, [0.5, 0.5]), (0, [1.0, 0.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    rows = cq._collect_centroids(cents, ("centroid_id", "centroid_vec"))
    assert {r[0] for r in rows} == {0, 1}
