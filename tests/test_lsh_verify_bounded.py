"""LSH dedup verification must be candidate-bounded (round-2 fix).

The round-1 implementation verified LSH candidates by recomputing the
FULL exact shingle self-join — the quadratic-ish work LSH exists to
avoid. These tests pin the fixed cost model: the shingle table feeding
the verify join contains ONLY candidate documents' shingles, and the
degenerate-bucket cap actually drops hot buckets.
"""

from __future__ import annotations

import pytest

from data_integration_openfoodfacts_spark.operators.graph import (
    connected_components,
)
from data_integration_openfoodfacts_spark.operators.similarity_dedup import (
    exact_jaccard_pairs_from_shingles,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    word_shingles,
)

# 2 genuine near-dups (doc 1/2) in a sea of documents that all share the
# stopword shingle "in the end" — co-shingled, but not LSH candidates.
CORPUS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta in the end"),
    (2, "alpha beta gamma delta epsilon zeta eta iota in the end"),
] + [
    (i, f"unique{i} word{i} token{i} stuff{i} filler{i} in the end")
    for i in range(3, 40)
]


def test_bucket_cap_drops_degenerate_buckets(spark):
    # 30 identical docs: every band bucket has size 30 -> capped away
    dup = [(i, "same words repeated across every single document here") for i in range(30)]
    df = spark.createDataFrame(dup, ["doc_id", "text"])
    uncapped = minhash_lsh_pairs(df, "doc_id", "text", n=3)
    capped = minhash_lsh_pairs(df, "doc_id", "text", n=3, max_bucket_size=10)
    assert uncapped.count() == 30 * 29 // 2
    assert capped.count() == 0


def test_hot_shingle_cap_keeps_jaccard_exact(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    # "in the end" appears in every doc; capping doc-freq at 5 removes it
    # from pair generation, but (1,2) still share rare shingles and their
    # jaccard must be computed over FULL shingle sets
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=5
    ).collect()
    full = ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.5
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(1, 2)}
    assert capped[0]["jaccard"] == full[0]["jaccard"]
    assert capped[0]["common"] == full[0]["common"]


def test_exact_jaccard_from_shingles_matches_wrapper(spark):
    df = spark.createDataFrame(CORPUS[:10], ["doc_id", "text"])
    sh = word_shingles(df, "doc_id", "text", n=3)
    a = {
        tuple(r)
        for r in exact_jaccard_pairs_from_shingles(sh, "doc_id", 0.2).collect()
    }
    b = {
        tuple(r)
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 3, 0.2).collect()
    }
    assert a == b


def test_connected_components_raises_when_unconverged(spark):
    # a 6-node chain has diameter 5; min-label propagation moves the min
    # one hop per round, so max_iter=2 cannot converge.
    # driver_max_edges=0 forces the DISTRIBUTED star contraction this
    # test pins (round 14: the hybrid would otherwise union-find a
    # 6-edge toy graph on the driver and trivially "converge").
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2, driver_max_edges=0)
    labels = connected_components(edges, max_iter=20, driver_max_edges=0)
    assert {r["component"] for r in labels.collect()} == {0}
