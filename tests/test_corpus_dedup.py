"""Incremental MinHash near-duplicate removal against a band index."""

from __future__ import annotations


def test_incremental_minhash_dedup_drops_known_dup(spark):
    from data_integration_openfoodfacts_spark.operators.similarity_dedup import (
        incremental_minhash_dedup,
        minhash_band_signatures,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different text about spark shuffle behavior"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog tonight"),
            (11, "novel content that matches nothing in the index at all"),
        ],
        "doc_id long, text string",
    )
    idx = minhash_band_signatures(corpus, "doc_id", "text")
    survivors, updated = incremental_minhash_dedup(
        batch, idx, "doc_id", "text"
    )
    assert [r.doc_id for r in survivors.collect()] == [11]
    ids = {r.doc_id for r in updated.select("doc_id").distinct().collect()}
    assert ids == {1, 2, 11}, "index grows by survivors only"


def test_incremental_dedup_is_batch_sequential(spark):
    """Feeding batch A then batch B through the updated index equals
    deduping the concatenation corpus-first (order-respecting)."""
    from data_integration_openfoodfacts_spark.operators.similarity_dedup import (
        incremental_minhash_dedup,
        minhash_band_signatures,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    a = spark.createDataFrame(
        [(10, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [
            (20, "one two three four five six seven eight"),
            (21, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    idx = minhash_band_signatures(corpus, "doc_id", "text")
    sa, idx2 = incremental_minhash_dedup(a, idx, "doc_id", "text")
    sb, _ = incremental_minhash_dedup(b, idx2, "doc_id", "text")
    assert [r.doc_id for r in sa.collect()] == [10]
    # 20 collides with the A-survivor now in the index; 21 with corpus
    assert sb.count() == 0


def test_incremental_dedup_drops_intra_batch_dup(spark):
    """Two copies arriving in ONE batch: keep-first must drop the
    higher id, and only the survivor's signature enters the index."""
    from data_integration_openfoodfacts_spark.operators.similarity_dedup import (
        incremental_minhash_dedup,
        minhash_band_signatures,
    )

    corpus = spark.createDataFrame(
        [(1, "totally unrelated corpus text about warehouse engines")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the same exact duplicated sentence appears here twice"),
            (11, "the same exact duplicated sentence appears here twice"),
            (12, "a genuinely unique document with its own content"),
        ],
        "doc_id long, text string",
    )
    idx = minhash_band_signatures(corpus, "doc_id", "text")
    survivors, updated = incremental_minhash_dedup(
        batch, idx, "doc_id", "text"
    )
    assert sorted(r.doc_id for r in survivors.collect()) == [10, 12]
    ids = {r.doc_id for r in updated.select("doc_id").distinct().collect()}
    assert ids == {1, 10, 12}
