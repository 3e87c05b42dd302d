"""The shared bucketed-ledger layout helper (round-9 VERDICT #4 +
round-8 ADVICE): log-recorded bucket counts, loud refusal of
mismatched appends, probe-side self-derivation, and re-bucketing
compaction."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.bucketed_ledger import (
    compact_bucketed,
)
from data_integration_openfoodfacts_spark.operators.novelty import (
    doc_shingle_keys,
)
from data_integration_openfoodfacts_spark.operators.novelty_ledger import (
    KB_COL,
    append_ledger_delta,
    kb_of,
    score_shingled_tranche_against_ledger,
)
from data_integration_openfoodfacts_spark.storage import (
    LayoutError,
    read_state,
)


def _firsts(spark, rows):
    return spark.createDataFrame(
        rows, "shingle_md5 string, first_doc long"
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _score(docs, path):
    return score_shingled_tranche_against_ledger(
        doc_shingle_keys(docs), path
    )


FIRSTS = [("a" * 32, 1), ("b" * 32, 2), ("c" * 32, 3), ("d" * 32, 4)]


def test_append_stamps_sidecar_and_mismatch_refused(spark, tmp_path):
    """First append commits the header {bucket_col, n_buckets, data};
    a second append with a different count raises LayoutError instead
    of silently corrupting the layout (round-8 ADVICE: mismatches were
    silently-wrong, not loudly-failing). Appends add no log entry."""
    path = str(tmp_path / "ledger")
    append_ledger_delta(_firsts(spark, FIRSTS), path, n_buckets=16)
    append_ledger_delta(_firsts(spark, [("f" * 32, 6)]), path, n_buckets=16)
    assert read_state(spark, path) == (
        0, {"bucket_col": KB_COL, "n_buckets": 16, "data": "v0"}
    )
    with pytest.raises(LayoutError, match="n_buckets"):
        append_ledger_delta(
            _firsts(spark, [("e" * 32, 5)]), path, n_buckets=256
        )
    # the refused append wrote nothing
    assert spark.read.parquet(path).count() == len(FIRSTS) + 1


def test_probe_derives_bucket_count_from_store(spark, tmp_path):
    """The round-8 ADVICE scenario: a 16-bucket ledger (q163's gate
    scale) probed without the caller knowing its count. The probe must
    derive 16 from the log and score correctly — with the old
    caller-trusted stream default (256) it pruned to the WRONG buckets
    and re-reported seen shingles as novel."""
    path = str(tmp_path / "ledger")
    docs = _docs(spark, [(1, "a b c d e f g h"), (2, "p q r s t u v w")])
    _, nf = _score(docs, path)
    append_ledger_delta(nf, path, n_buckets=16)
    # replay the same docs: everything is already in the ledger, so
    # nothing may score novel
    per_doc, nf2 = _score(docs, path)
    assert nf2.count() == 0
    assert per_doc.agg(F.sum("n_novel")).first()[0] == 0


def test_compact_rewrites_sidecar_and_can_rebucket(spark, tmp_path):
    """Compaction is the ONE operation allowed to change the bucket
    count: it rewrites every row under the new modulus into a new
    directory, logs it, and deletes the old one; reads before ==
    after; appends under the OLD count are refused afterwards."""
    path = str(tmp_path / "ledger")
    append_ledger_delta(_firsts(spark, FIRSTS), path, n_buckets=16)
    before = {
        tuple(r)
        for r in spark.read.parquet(path)
        .select("shingle_md5", "first_doc")
        .collect()
    }
    compact_bucketed(
        spark, path, KB_COL, lambda nb: kb_of("shingle_md5", nb), 4
    )
    assert read_state(spark, path) == (
        1, {"bucket_col": KB_COL, "n_buckets": 4, "data": "v1"}
    )
    assert glob.glob(f"{path}/v*") == [f"{path}/v1"]
    after = {
        tuple(r)
        for r in spark.read.parquet(path)
        .select("shingle_md5", "first_doc")
        .collect()
    }
    assert after == before
    buckets = glob.glob(f"{path}/v1/{KB_COL}=*")
    assert buckets
    for d in buckets:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d
    with pytest.raises(LayoutError):
        append_ledger_delta(
            _firsts(spark, [("e" * 32, 5)]), path, n_buckets=16
        )
