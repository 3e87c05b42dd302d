"""The shared bucketed-ledger layout helper (round-9 VERDICT #4 +
round-8 ADVICE): sidecar-recorded bucket counts, loud refusal of
mismatched appends, probe-side self-derivation, and re-bucketing
compaction."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.bucketed_ledger import (
    BucketLayoutError,
    compact_bucketed,
    read_meta,
    store_n_buckets,
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


def _firsts(spark, rows):
    return spark.createDataFrame(
        rows, "shingle_md5 string, first_doc long"
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _score(docs, path, n_buckets):
    return score_shingled_tranche_against_ledger(
        doc_shingle_keys(docs), path, n_buckets=n_buckets
    )


FIRSTS = [("a" * 32, 1), ("b" * 32, 2), ("c" * 32, 3), ("d" * 32, 4)]


def test_append_stamps_sidecar_and_mismatch_refused(spark, tmp_path):
    """First append records {bucket_col, n_buckets}; a second append
    with a different count raises BucketLayoutError instead of
    silently corrupting the layout (round-8 ADVICE: mismatches were
    silently-wrong, not loudly-failing)."""
    path = str(tmp_path / "ledger")
    append_ledger_delta(_firsts(spark, FIRSTS), path, n_buckets=16)
    meta = read_meta(spark, path)
    assert meta == {"bucket_col": KB_COL, "n_buckets": 16}
    with pytest.raises(BucketLayoutError, match="n_buckets"):
        append_ledger_delta(
            _firsts(spark, [("e" * 32, 5)]), path, n_buckets=256
        )
    # the refused append wrote nothing
    assert spark.read.parquet(path).count() == len(FIRSTS)


def test_probe_derives_bucket_count_from_store(spark, tmp_path):
    """The exact round-8 ADVICE scenario: a 16-bucket ledger (q163's
    gate scale) probed by a caller passing the stream default (256).
    The probe must derive 16 from the sidecar and score correctly —
    with the old caller-trusted modulus it pruned to the WRONG buckets
    and re-reported seen shingles as novel."""
    path = str(tmp_path / "ledger")
    docs = _docs(spark, [(1, "a b c d e f g h"), (2, "p q r s t u v w")])
    _, nf = _score(docs, path, 16)
    append_ledger_delta(nf, path, n_buckets=16)
    # replay the same docs with the WRONG caller constant: everything
    # is already in the ledger, so nothing may score novel
    per_doc, nf2 = _score(docs, path, 256)
    assert nf2.count() == 0
    assert per_doc.agg(F.sum("n_novel")).first()[0] == 0


def test_legacy_store_sample_validation(spark, tmp_path):
    """A ledger WITHOUT the sidecar (pre-round-9 layout) is validated
    by sample recomputation: probing/appending with a wrong bucket
    count is refused; the correct count passes."""
    path = str(tmp_path / "ledger")
    append_ledger_delta(_firsts(spark, FIRSTS), path, n_buckets=16)
    os.remove(f"{path}/_bucket_meta.json")
    assert read_meta(spark, path) is None
    assert store_n_buckets(spark, path, KB_COL, 99) == 99  # fallback
    with pytest.raises(BucketLayoutError, match="different bucket"):
        append_ledger_delta(
            _firsts(spark, [("e" * 32, 5)]), path, n_buckets=256
        )
    append_ledger_delta(
        _firsts(spark, [("e" * 32, 5)]), path, n_buckets=16
    )
    assert spark.read.parquet(path).count() == len(FIRSTS) + 1
    # ... and the successful append re-stamped the sidecar
    assert read_meta(spark, path) == {
        "bucket_col": KB_COL, "n_buckets": 16,
    }


def test_truncated_sidecar_degrades_to_legacy_validation(spark, tmp_path):
    """Round-10 ADVICE: a crash mid-write used to leave truncated JSON
    at the canonical sidecar name, bricking every subsequent read_meta
    with a raw JSONDecodeError. Now (a) writes stage-then-rename so the
    canonical name is never half-written, and (b) a corrupt sidecar —
    however it got there — reads as None and the store degrades to
    legacy sample validation: wrong counts still refused, correct
    appends succeed and re-stamp a good sidecar."""
    path = str(tmp_path / "ledger")
    append_ledger_delta(_firsts(spark, FIRSTS), path, n_buckets=16)
    # no staging residue from the normal append path
    assert not glob.glob(f"{path}/*_bucket_meta.json.tmp")
    # simulate the crash artifact: truncated JSON at the canonical name
    # (drop the local-FS checksum sidecar too — an out-of-band truncation
    # invalidates it, and this test is about the JSON layer)
    with open(f"{path}/_bucket_meta.json", "w") as f:
        f.write('{"bucket_col": "kb", "n_bu')
    crc = f"{path}/._bucket_meta.json.crc"
    if os.path.exists(crc):
        os.remove(crc)
    assert read_meta(spark, path) is None  # not a raised JSONDecodeError
    with pytest.raises(BucketLayoutError, match="different bucket"):
        append_ledger_delta(
            _firsts(spark, [("e" * 32, 5)]), path, n_buckets=256
        )
    append_ledger_delta(
        _firsts(spark, [("e" * 32, 5)]), path, n_buckets=16
    )
    assert spark.read.parquet(path).count() == len(FIRSTS) + 1
    assert read_meta(spark, path) == {
        "bucket_col": KB_COL, "n_buckets": 16,
    }


def test_compact_rewrites_sidecar_and_can_rebucket(spark, tmp_path):
    """Compaction is the ONE operation allowed to change the bucket
    count: it rewrites every row under the new modulus and re-stamps
    the sidecar; reads before == after; appends under the OLD count
    are refused afterwards."""
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
    assert read_meta(spark, path)["n_buckets"] == 4
    after = {
        tuple(r)
        for r in spark.read.parquet(path)
        .select("shingle_md5", "first_doc")
        .collect()
    }
    assert after == before
    for d in glob.glob(f"{path}/{KB_COL}=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d
    with pytest.raises(BucketLayoutError):
        append_ledger_delta(
            _firsts(spark, [("e" * 32, 5)]), path, n_buckets=16
        )
