"""Materialized summary maintenance: merged sketch and histogram
state must match a single pass, in any batch order."""

from __future__ import annotations

from pyspark.sql import functions as F


SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_distinct_summary_merge_handles_overlap(spark):
    """COUNT(DISTINCT) via HLL sketch state: merging two OVERLAPPING
    batches must track the single-pass sketch of the union within the
    error bound (register merge is lossless and idempotent per item,
    but DataSketches estimates merged sketches with the composite
    estimator vs HIP for unmerged — see build_distinct_summary) — the
    case where the algebraic pattern (summing per-batch exact
    distincts) overcounts outright."""
    from data_integration_openfoodfacts_spark.operators.matview import (
        build_distinct_summary,
        finalize_distinct_summary,
        merge_distinct_summaries,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    # overlapping halves: keys 0..2/3 and 1/3..end share the middle third
    a = orders.filter(F.col("o_orderkey") % 3 != 2)
    b = orders.filter(F.col("o_orderkey") % 3 != 0)
    keys, dcols = ["o_orderpriority"], ["o_custkey"]
    merged = finalize_distinct_summary(
        merge_distinct_summaries(
            build_distinct_summary(a, keys, dcols),
            build_distinct_summary(b, keys, dcols),
            keys,
            dcols,
        ),
        dcols,
    )
    single = finalize_distinct_summary(
        build_distinct_summary(a.unionByName(b), keys, dcols), dcols
    )
    m = {
        r["o_orderpriority"]: r["approx_distinct_o_custkey"]
        for r in merged.collect()
    }
    s = {
        r["o_orderpriority"]: r["approx_distinct_o_custkey"]
        for r in single.collect()
    }
    for k in s:
        assert abs(m[k] - s[k]) <= max(1.0, 0.05 * s[k]), (k, m[k], s[k])
    # and the estimate tracks the exact distinct within 5%
    exact = {
        r["o_orderpriority"]: r["d"]
        for r in a.unionByName(b)
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("d"))
        .collect()
    }
    for k, d in exact.items():
        assert abs(m[k] - d) <= 0.05 * d, (k, m[k], d)


def test_distinct_summary_merge_order_invariant(spark):
    from data_integration_openfoodfacts_spark.operators.matview import (
        build_distinct_summary,
        finalize_distinct_summary,
        merge_distinct_summaries,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    a = orders.filter(F.col("o_orderkey") % 2 == 0)
    b = orders.filter(F.col("o_orderkey") % 2 == 1)
    keys, dcols = ["o_orderpriority"], ["o_custkey"]
    sa, sb = (
        build_distinct_summary(x, keys, dcols) for x in (a, b)
    )
    ab = _rows(
        finalize_distinct_summary(
            merge_distinct_summaries(sa, sb, keys, dcols), dcols
        )
    )
    ba = _rows(
        finalize_distinct_summary(
            merge_distinct_summaries(sb, sa, keys, dcols), dcols
        )
    )
    assert ab == ba


def test_histogram_merge_is_lossless_and_order_independent(spark):
    from data_integration_openfoodfacts_spark.operators.matview import (
        build_histogram_summary,
        merge_histogram_summaries,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    keys = ["o_orderpriority"]
    a = build_histogram_summary(
        orders.filter(F.col("o_orderkey") % 2 == 0),
        keys, "o_totalprice", 50000.0, 10,
    )
    b = build_histogram_summary(
        orders.filter(F.col("o_orderkey") % 2 == 1),
        keys, "o_totalprice", 50000.0, 10,
    )
    single = _rows(
        build_histogram_summary(orders, keys, "o_totalprice", 50000.0, 10)
    )
    assert _rows(merge_histogram_summaries(a, b, keys)) == single
    assert _rows(merge_histogram_summaries(b, a, keys)) == single


def test_histogram_quantile_bounds_known_values(spark):
    from data_integration_openfoodfacts_spark.operators.matview import (
        build_histogram_summary,
        histogram_quantile_bounds,
    )

    # 10 values in group g: 1..10 → width-2 bins [0,2),[2,4),...
    # p50 rank = ceil(0.5*10) = 5 → value 5 → bin 2 ([4,6));
    # p90 rank = 9 → value 9 → bin 4 ([8,10)).
    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 11)], ["k", "v"]
    )
    state = build_histogram_summary(df, ["k"], "v", 2.0, 5)
    got = {
        r["q_label"]: (r["rank_idx"], r["bin_idx"], r["lo"], r["hi"])
        for r in histogram_quantile_bounds(
            state, ["k"], [("0.5", 1, 2), ("0.9", 9, 10)], 2.0
        ).collect()
    }
    assert got["0.5"] == (5, 2, 4.0, 6.0)
    assert got["0.9"] == (9, 4, 8.0, 10.0)


def test_histogram_clamps_out_of_domain_values(spark):
    from data_integration_openfoodfacts_spark.operators.matview import (
        build_histogram_summary,
    )

    df = spark.createDataFrame(
        [("g", -5.0), ("g", 0.5), ("g", 999.0)], ["k", "v"]
    )
    got = {
        r["__bin"]: r["__cnt"]
        for r in build_histogram_summary(df, ["k"], "v", 1.0, 3).collect()
    }
    assert got == {0: 2, 2: 1}
