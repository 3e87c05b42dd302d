"""Plan and hypothesis property tests for the core cleaning/dedup
operators."""

from __future__ import annotations

import unicodedata

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.functions.text_normalize import (
    ascii_fold,
)
from data_integration_openfoodfacts_spark.operators.cleaning import (
    clean_text_chain,
)
from data_integration_openfoodfacts_spark.operators.dedup import dedup_keep_latest


def test_dedup_keep_latest_plan_has_partial_window_group_limit(spark):
    """Pin the map-side skew protection SKEW.md measures: if a Spark
    upgrade or conf change drops InferWindowGroupLimit, fail here, not
    in production on the first hot key."""
    df = spark.createDataFrame(
        [("a", 1, 0), ("a", 2, 1), ("b", 3, 2)], "k string, t long, uid long"
    )
    out = dedup_keep_latest(df, ["k"], [F.col("t").desc(), F.col("uid").desc()])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan


# ---- hypothesis property tests (driver-side batches through Spark) ----

text_strategy = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=text_strategy)
def test_normalized_text_is_ascii_and_idempotent(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "v string")
    out = [
        r["o"]
        for r in df.select(clean_text_chain(ascii_fold(F.col("v"))).alias("o")).collect()
    ]
    for s in out:
        assert s is None or s.isascii()
        # idempotence: folding folded text is a no-op
    df2 = spark.createDataFrame([(s,) for s in out], "v string")
    out2 = [
        r["o"]
        for r in df2.select(clean_text_chain(ascii_fold(F.col("v"))).alias("o")).collect()
    ]
    # NFKC can expand (e.g. ™ -> tm) but a second pass must be stable
    assert out2 == [
        None if s is None else s for s in out2
    ]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_dedup_keep_latest_properties(spark, rows):
    df = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(rows)], "k string, t long, uid long"
    )
    out = dedup_keep_latest(
        df, ["k"], [F.col("t").desc(), F.col("uid").desc()]
    ).collect()
    # exactly one row per key
    keys = [r["k"] for r in out]
    assert len(keys) == len(set(keys)) == len({k for k, _ in rows})
    # the survivor has the max t for its key
    by_key = {}
    for k, t in rows:
        by_key.setdefault(k, []).append(t)
    for r in out:
        assert r["t"] == max(by_key[r["k"]])
