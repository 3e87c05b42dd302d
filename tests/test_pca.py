"""Distributed PCA invariants: the single-pass sufficient statistics
must reproduce numpy's exact PCA on the collected data, and the
projection must satisfy the spectral properties that define PCA."""

from __future__ import annotations

import numpy as np
import pytest

from data_integration_openfoodfacts_spark.operators.pca import (
    fit_pca,
    project_pca,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_fit_matches_local_numpy(spark, emb_df):
    comps, mean, evals = fit_pca(emb_df, n_components=4)
    x = np.stack(
        [r.embedding for r in emb_df.select("embedding").collect()]
    ).astype(np.float64)
    assert np.allclose(mean, x.mean(0), atol=1e-9)
    cov = np.cov(x, rowvar=False, bias=True)
    lev = np.linalg.eigvalsh(cov)[::-1][:4]
    assert np.allclose(np.sort(evals)[::-1], lev, rtol=1e-8)
    # components are eigenvectors: Cv = lambda v
    for k in range(4):
        assert np.allclose(cov @ comps[k], evals[k] * comps[k], atol=1e-8)


def test_components_orthonormal(spark, emb_df):
    comps, _, evals = fit_pca(emb_df, n_components=6)
    assert np.allclose(comps @ comps.T, np.eye(6), atol=1e-9)
    assert (np.diff(evals) <= 1e-12).all(), "eigenvalues must descend"


def test_projection_variance_matches_eigenvalues(spark, emb_df):
    comps, mean, evals = fit_pca(emb_df, n_components=3)
    proj = np.stack(
        [
            r.pca
            for r in project_pca(emb_df, comps, mean)
            .select("pca")
            .collect()
        ]
    ).astype(np.float64)
    assert np.allclose(proj.var(0), evals, rtol=1e-3)
    # projections are centered
    assert np.allclose(proj.mean(0), 0, atol=1e-3)


def test_fit_deterministic_across_partitionings(spark, emb_df):
    c1, m1, e1 = fit_pca(emb_df.repartition(7), n_components=3)
    c2, m2, e2 = fit_pca(emb_df.repartition(2), n_components=3)
    # partial-sum order differs -> tiny float drift allowed, signs fixed
    assert np.allclose(m1, m2, atol=1e-12)
    assert np.allclose(e1, e2, rtol=1e-9)
    assert np.allclose(np.abs(c1), np.abs(c2), atol=1e-7)
