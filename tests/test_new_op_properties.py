"""Hypothesis property tests for the round-4 operators: Morton
interleave bijectivity and tokenizer determinism. Spark calls are
batched per example (driver-side data, one job per property check)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.layout import (
    _interleave,
)

_settings = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_settings
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_interleave_is_injective_and_monotone_per_axis(spark, pairs):
    """Distinct (a, b) bucket pairs map to distinct z-values, and
    growing one axis with the other fixed never decreases z."""
    df = spark.createDataFrame(pairs, "a long, b long")
    rows = df.select(
        "a", "b", _interleave([F.col("a"), F.col("b")], 8).alias("z")
    ).collect()
    zs = {(r.a, r.b): r.z for r in rows}
    assert len(set(zs.values())) == len(zs), "collision in Morton code"
    by_b: dict[int, list] = {}
    for (a, b), z in zs.items():
        by_b.setdefault(b, []).append((a, z))
    for _b, az in by_b.items():
        az.sort()
        z_seq = [z for _a, z in az]
        assert z_seq == sorted(z_seq), "z not monotone in a for fixed b"


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
