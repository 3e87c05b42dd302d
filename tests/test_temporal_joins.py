"""As-of join and range join unit tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.temporal import (
    asof_join,
    range_join_broadcast,
    range_join_bucketed,
)


def _frames(spark):
    left = spark.createDataFrame(
        [(1, "u", 100, "p1"), (2, "u", 205, "p2"), (3, "v", 50, "p3")],
        "id long, k string, t long, payload string",
    )
    right = spark.createDataFrame(
        [("u", 90, 1.0), ("u", 100, 2.0), ("u", 200, 3.0), ("w", 10, 9.0)],
        "k string, t long, rv double",
    )
    return left, right


def test_asof_inclusive_match_and_null(spark):
    left, right = _frames(spark)
    out = {
        r["id"]: r["rv"]
        for r in asof_join(left, right, on="t", by=["k"], right_cols=["rv"]).collect()
    }
    assert out[1] == 2.0  # t=100 matches right t=100 inclusively
    assert out[2] == 3.0  # latest <= 205 is t=200
    assert out[3] is None  # key v has no right rows


def test_asof_tolerance(spark):
    left, right = _frames(spark)
    out = {
        r["id"]: r["rv"]
        for r in asof_join(
            left, right, on="t", by=["k"], right_cols=["rv"], tolerance=F.lit(5)
        ).collect()
    }
    assert out[1] == 2.0  # gap 0 <= 5
    assert out[2] == 3.0  # gap 5 <= 5
    assert out[3] is None


def test_asof_preserves_left_rowcount(spark):
    left, right = _frames(spark)
    assert asof_join(left, right, on="t", by=["k"], right_cols=["rv"]).count() == 3


def test_range_join_bucketed_equals_broadcast(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_extendedprice"
    )
    bands = spark.createDataFrame(
        [("a", 900.0, 7300.0), ("b", 7300.0, 33333.0), ("c", 33333.0, 120000.0)],
        "band string, lo double, hi double",
    )
    a = (
        range_join_broadcast(li, bands, "l_extendedprice", "lo", "hi")
        .groupBy("band")
        .count()
        .collect()
    )
    b = (
        range_join_bucketed(li, bands, "l_extendedprice", "lo", "hi", 5000.0)
        .groupBy("band")
        .count()
        .collect()
    )
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_asof_null_payload_is_not_skipped(spark):
    """The LATEST right row wins even when its payload is NULL — a
    staler non-null row must NOT be resurrected (true ASOF semantics)."""
    left = spark.createDataFrame([(1, "u", 100)], "id long, k string, t long")
    right = spark.createDataFrame(
        [("u", 90, 1.0), ("u", 100, None)], "k string, t long, rv double"
    )
    out = asof_join(left, right, on="t", by=["k"], right_cols=["rv"]).collect()
    assert out[0]["rv"] is None


def test_asof_null_right_ts_never_matches(spark):
    left = spark.createDataFrame([(1, "u", 50)], "id long, k string, t long")
    right = spark.createDataFrame(
        [("u", None, 9.0)], "k string, t long, rv double"
    )
    out = asof_join(left, right, on="t", by=["k"], right_cols=["rv"]).collect()
    assert out[0]["rv"] is None


def test_asof_null_keys_never_match(spark):
    left = spark.createDataFrame([(1, None, 100)], "id long, k string, t long")
    right = spark.createDataFrame(
        [(None, 90, 1.0)], "k string, t long, rv double"
    )
    out = asof_join(left, right, on="t", by=["k"], right_cols=["rv"]).collect()
    assert len(out) == 1 and out[0]["rv"] is None


def test_range_join_bucketed_hi_near_bucket_boundary(spark):
    """Band hi just above a bucket edge: values between the edge and hi
    must still match (the old epsilon under-covered this bucket)."""
    vals = spark.createDataFrame([(5.0000000001,)], "v double")
    bands = spark.createDataFrame(
        [("x", 0.0, 5.0000000005)], "band string, lo double, hi double"
    )
    got = range_join_bucketed(vals, bands, "v", "lo", "hi", 1.0).collect()
    assert len(got) == 1


def test_range_join_boundary_semantics(spark):
    vals = spark.createDataFrame([(900.0,), (5000.0,), (4999.99,)], "v double")
    bands = spark.createDataFrame(
        [("x", 900.0, 5000.0)], "band string, lo double, hi double"
    )
    got = {
        r["v"]
        for r in range_join_bucketed(
            vals, bands, "v", "lo", "hi", 1000.0
        ).collect()
    }
    assert got == {900.0, 4999.99}  # lo inclusive, hi exclusive
