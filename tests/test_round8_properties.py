"""Hypothesis property tests for the round-8 changes, each checked
against an independent pure-Python reference on arbitrary inputs: the
flipped membership-probe direction (collision_ids), the persisted
bucket-partitioned novelty scorer, and the kb bucketing function's
cross-consistency with Python's md5. Spark calls are batched per
example (driver-side data, few jobs per property check)."""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_settings = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_word = st.text(alphabet="abcdef", min_size=1, max_size=4)
_doc = st.lists(_word, min_size=0, max_size=24).map(" ".join)


def _shingles(text: str, n: int = 8) -> set[str]:
    toks = text.split(" ") if text else []
    return {
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    } if len(toks) >= n else set()


@given(
    st.lists(_doc, min_size=1, max_size=10),
    st.lists(_doc, min_size=1, max_size=10),
)
@_settings
def test_collision_ids_matches_set_semantics(spark, corpus_texts, batch_texts):
    """The flipped probe keeps the EXACT collision semantics: a batch
    doc collides iff any of its (band, sig) rows is in the corpus
    index OR matches a lower-id same-batch doc's row."""
    from data_integration_openfoodfacts_spark.operators.similarity_dedup import (
        collision_ids,
        minhash_band_signatures,
    )

    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus_texts)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(batch_texts)],
        "doc_id long, text string",
    )
    corpus_bands = minhash_band_signatures(corpus, "doc_id", "text")
    new_bands = minhash_band_signatures(batch, "doc_id", "text")
    got = {
        r["doc_id"]
        for r in collision_ids(new_bands, corpus_bands, "doc_id").collect()
    }
    # pure-set reference from the same band rows
    c_keys = {
        (r["band"], r["sig"]) for r in corpus_bands.collect()
    }
    b_rows = sorted(
        (r["doc_id"], r["band"], r["sig"]) for r in new_bands.collect()
    )
    want = set()
    earlier: dict[tuple, int] = {}
    for did, band, sig in b_rows:
        if (band, sig) in c_keys:
            want.add(did)
        prev = earlier.get((band, sig))
        if prev is not None and prev < did:
            want.add(did)
        if prev is None or did < prev:
            earlier[(band, sig)] = did
    assert got == want


@given(
    st.lists(_doc, min_size=1, max_size=8),
    st.lists(_doc, min_size=1, max_size=8),
)
@_settings
def test_partitioned_scorer_matches_python_reference(
    spark, tmp_path_factory, t1_texts, t2_texts
):
    """Two tranches through the PERSISTED bucketed ledger equal a
    pure-Python first-occurrence computation (the q157 semantics)."""
    from data_integration_openfoodfacts_spark.operators.novelty import (
        doc_shingle_keys,
    )
    from data_integration_openfoodfacts_spark.operators.novelty_ledger import (
        append_ledger_delta,
        score_shingled_tranche_against_ledger,
    )

    tmp = str(tmp_path_factory.mktemp("ledger_prop"))
    ledger_path = f"{tmp}/ledger"
    tranches = [
        [(i, t) for i, t in enumerate(t1_texts)],
        [(100 + i, t) for i, t in enumerate(t2_texts)],
    ]
    seen: dict[str, int] = {}  # shingle -> global first doc
    for rows in tranches:
        df = spark.createDataFrame(rows, "doc_id long, text string")
        per_doc, new_firsts = score_shingled_tranche_against_ledger(
            doc_shingle_keys(df, n=3), ledger_path
        )
        # python reference for THIS tranche against accumulated `seen`
        want_per_doc = {}
        tranche_first: dict[str, int] = {}
        for did, text in rows:
            sh = _shingles(text, 3)
            if not sh:
                continue
            want_per_doc[did] = [len(sh), 0]
            for s in sh:
                if s not in seen and (
                    s not in tranche_first or did < tranche_first[s]
                ):
                    tranche_first[s] = did
        for s, did in tranche_first.items():
            want_per_doc[did][1] += 1
        got = {
            r["doc_id"]: [r["n_shingles"], r["n_novel"]]
            for r in per_doc.collect()
        }
        assert got == want_per_doc, (rows, got, want_per_doc)
        got_firsts = {
            (r["shingle_md5"], r["first_doc"]) for r in new_firsts.collect()
        }
        want_firsts = {
            (hashlib.md5(s.encode()).hexdigest(), did)
            for s, did in tranche_first.items()
        }
        assert got_firsts == want_firsts
        append_ledger_delta(new_firsts, ledger_path, n_buckets=8)
        seen.update(
            {s: d for s, d in tranche_first.items() if s not in seen}
        )


@given(st.lists(st.text(alphabet="xyz ", min_size=0, max_size=12),
                min_size=1, max_size=10))
@_settings
def test_kb_bucketing_matches_python_md5(spark, keys):
    """kb_of == int(md5_hex[:15], 16) % B for arbitrary key strings —
    the layout invariant every writer and reader depends on."""
    from data_integration_openfoodfacts_spark.operators.novelty_ledger import (
        kb_of,
    )

    hexes = [hashlib.md5(k.encode()).hexdigest() for k in keys]
    df = spark.createDataFrame([(h,) for h in hexes], "shingle_md5 string")
    got = [
        r[0]
        for r in df.select(kb_of("shingle_md5", 64)).collect()
    ]
    want = [int(h[:15], 16) % 64 for h in hexes]
    assert got == want
