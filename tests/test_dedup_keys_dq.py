"""Unit tests for dedup, surrogate keys, validation, and DQ checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.dedup import (
    dedup_keep_latest,
)
from data_integration_openfoodfacts_spark.operators.dq import assert_unique
from data_integration_openfoodfacts_spark.operators.keys import add_surrogate_key
from data_integration_openfoodfacts_spark.operators.validation import (
    bounded_expr,
)


def test_dedup_keep_latest_reference_semantics(spark):
    # quality_report.md:158-165: keep the max-last_modified row per code
    df = spark.createDataFrame(
        [("a", 10, "old"), ("a", 20, "new"), ("b", 5, "only")],
        ["code", "last_modified_t", "payload"],
    )
    out = dedup_keep_latest(
        df, ["code"], [F.col("last_modified_t").desc(), F.col("payload")]
    )
    got = {r["code"]: r["payload"] for r in out.collect()}
    assert got == {"a": "new", "b": "only"}


def test_dedup_keep_latest_tiebreaker_is_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 10, "z"), ("a", 10, "y")], ["code", "t", "p"]
    )
    out = dedup_keep_latest(df, ["code"], [F.col("t").desc(), F.col("p").asc()])
    assert out.first()["p"] == "y"


def test_surrogate_keys_row_number_deterministic(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",)], ["name"])
    out = add_surrogate_key(df, "sk", ["name"]).orderBy("sk").collect()
    assert [(r["sk"], r["name"]) for r in out] == [(1, "a"), (2, "b"), (3, "c")]


def test_surrogate_keys_hash_unique_on_testdata(spark):
    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    keyed = add_surrogate_key(part, "sk", ["p_partkey"], strategy="hash")
    assert assert_unique(keyed, ["sk"]) == 0


def test_bounded_expr_keeps_edges(spark):
    # edges survive; out-of-range and NULL values become NULL
    df = spark.createDataFrame(
        [(0.0,), (100.0,), (-1.0,), (1500.0,), (None,)], "v double"
    )
    vals = [r["o"] for r in df.select(bounded_expr("v", 0, 100).alias("o")).collect()]
    assert vals == [0.0, 100.0, None, None, None]


def test_assert_unique_detects_dupes(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], ["k"])
    assert assert_unique(df, ["k"]) == 1
