"""Hypothesis property tests for the round-6 operators: span-corruption
round-trip over arbitrary token streams and DSIR importance totals.
Spark calls are batched per example (driver-side data, one job per
property check)."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_integration_openfoodfacts_spark.operators.masking import (
    span_corruption,
)

_settings = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# tokens that cannot collide with the sentinel alphabet
_token = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=6
)


def _reconstruct(input_text: str, target_text: str) -> str:
    spans: dict[str, str] = {}
    parts = re.split(r"(<X_\d+>)", target_text)
    for i in range(1, len(parts), 2):
        spans[parts[i]] = parts[i + 1].strip()
    out = []
    for tok in input_text.split(" "):
        out.append(spans[tok] if tok in spans else tok)
    return " ".join(x for x in out if x != "")


@_settings
@given(
    docs=st.lists(
        st.lists(_token, min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    ),
    block=st.integers(min_value=2, max_value=7),
    rate=st.integers(min_value=0, max_value=1000),
)
def test_span_corruption_round_trip_any_tokens(spark, docs, block, rate):
    """For ANY token stream and any block/rate config: substituting
    each sentinel with its target span reproduces the original text,
    and n_masked tokens is consistent with the target length."""
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = span_corruption(
        df,
        block=block,
        rate_permille=rate,
        max_span=min(3, block),
        fingerprint_input=False,
    ).collect()
    originals = {i: " ".join(t for t in toks if t) for i, toks in enumerate(docs)}
    for r in out:
        assert _reconstruct(r["input_text"], r["target_text"]) == originals[
            r["doc_id"]
        ]
        n_sent = len(re.findall(r"<X_\d+>", r["target_text"]))
        assert n_sent == r["n_spans"]
        if r["n_spans"]:
            assert (
                len(r["target_text"].split()) - n_sent == r["n_masked"]
            )
        if rate == 0:
            assert r["n_spans"] == 0
