"""Hypothesis property tests for the round-11 operators, each checked
against an independent pure-Python reference on arbitrary inputs: the
word-repetition signals (exact Counter arithmetic) and the takedown
stream's content digest
(order-invariance + the exact truncated-md5 sum). Spark calls are
batched per example (driver-side data, few jobs per check)."""

from __future__ import annotations

import hashlib
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_settings = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_word = st.text(alphabet="ab", min_size=1, max_size=2)
_doc = st.lists(_word, min_size=0, max_size=24).map(" ".join)


def _ref_repetition(text: str):
    t = text.split(" ")
    n = len(t)
    dup_words = n - len(set(t))
    g2 = [" ".join(t[i : i + 2]) for i in range(n - 1)]
    top2 = max(Counter(g2).values(), default=0)
    g5 = [" ".join(t[i : i + 5]) for i in range(n - 4)]
    dup5 = sum(c - 1 for c in Counter(g5).values())
    return (n, dup_words, top2, dup5)


@given(st.lists(_doc, min_size=1, max_size=8))
@_settings
def test_repetition_signals_match_reference(spark, texts):
    from data_integration_openfoodfacts_spark.operators.repetition import (
        word_repetition_signals,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_words"], r["dup_words"], r["top2_count"], r["dup5_count"]
        )
        for r in word_repetition_signals(df).collect()
    }
    assert got == {i: _ref_repetition(t) for i, t in enumerate(texts)}


_dim = 4
_vec = st.lists(
    st.integers(min_value=-3, max_value=3), min_size=_dim, max_size=_dim
)


_batch = st.lists(_word, min_size=0, max_size=10)


@given(_batch, st.randoms())
@_settings
def test_takedown_digest_is_order_invariant_and_exact(spark, words, rnd):
    """The content digest the takedown stream keys deltas by: equal on
    any permutation of the batch, and exactly the truncated-md5 sum
    the docstring claims."""
    from data_integration_openfoodfacts_spark.streaming.retraction_stream import (  # noqa: E501
        content_digest_col,  # the PRODUCTION expression, not a copy
    )

    def spark_digest(ws):
        df = spark.createDataFrame(
            [(w,) for w in ws], "text string"
        ).select(F.md5("text").alias("text_md5"))
        return df.agg(
            content_digest_col("text_md5").alias("d")
        ).collect()[0]["d"]

    shuffled = list(words)
    rnd.shuffle(shuffled)
    d1, d2 = spark_digest(words), spark_digest(shuffled)
    ref = sum(
        int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % 2**32
        for w in words
    )
    assert d1 == d2 == ref
