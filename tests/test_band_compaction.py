"""MinHash band width: a wider band is the AND of its narrower
constituents, so widening bands can only raise precision."""

from __future__ import annotations

import pyspark.sql.functions as F

from data_integration_openfoodfacts_spark.operators.similarity_dedup import (
    minhash_band_signatures,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog tonight again"),
    (2, "pack my box with five dozen liquor jugs again today folks"),
    (3, "sphinx of black quartz judge my vow right now folks please"),
    (4, "the quick brown fox jumps over the lazy cat tonight again"),
    (5, "how vexingly quick daft zebras jump over the fence today"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_wide_collisions_subset_of_narrow(spark):
    """Width-4 collisions require both constituent width-2 bands to
    collide: widening can only RAISE precision, never admit a pair
    the narrow index rejected."""
    docs = _docs(spark, DOCS)
    def pairs(band_size):
        b = minhash_band_signatures(
            docs, "doc_id", "text", num_hashes=8, band_size=band_size
        )
        o = b.selectExpr("doc_id as other", "band", "sig")
        return {
            (r["doc_id"], r["other"])
            for r in b.join(o, ["band", "sig"])
            .filter(F.col("doc_id") < F.col("other"))
            .collect()
        }
    assert pairs(4) <= pairs(2)
