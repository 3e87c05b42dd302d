"""Hypothesis property tests for the round-4 tokenizer: dense vocab
ids and in-range encodings. Spark calls are batched per example
(driver-side data, one job per property check)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_settings = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_settings
@given(
    docs=st.lists(
        st.text(alphabet="ab c", max_size=30),
        min_size=1,
        max_size=6,
    )
)
def test_vocab_ids_dense_and_encoding_in_range(spark, docs):
    from data_integration_openfoodfacts_spark.functions.tokenize import (
        build_vocab,
        encode_tokens,
    )

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    vocab = build_vocab(df, "doc_id", "text", vocab_size=4).collect()
    ids = sorted(r.token_id for r in vocab)
    assert ids == list(range(len(ids))), "vocab ids must be dense 0..n-1"
    enc = encode_tokens(
        df, build_vocab(df, "doc_id", "text", 4), "doc_id", "text", unk_id=4
    ).collect()
    n_tokens = sum(
        1 for d in docs for t in d.split(" ") if t != ""
    )
    assert len(enc) == n_tokens
    assert all(0 <= r.token_id <= 4 for r in enc)
