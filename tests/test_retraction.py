"""Key retraction from bucketed stores (`operators/retraction.py`,
round 10): touched-bucket-only rewrites, byte-identical untouched
buckets, replay idempotence, whole-bucket deletion, and the
novelty-ledger takedown semantics (retracted shingles score novel
again)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.novelty import (
    doc_shingle_keys,
)
from data_integration_openfoodfacts_spark.operators.novelty_ledger import (
    KB_COL,
    append_ledger_delta,
    score_shingled_tranche_against_ledger,
)
from data_integration_openfoodfacts_spark.operators.retraction import (
    retract_from_novelty_ledger,
)
from data_integration_openfoodfacts_spark.storage import read_state

FIRSTS = [(c * 32, i) for i, c in enumerate("abcdef")]


def _firsts(spark, rows):
    return spark.createDataFrame(rows, "shingle_md5 string, first_doc long")


def _keys(spark, md5s):
    return spark.createDataFrame([(k,) for k in md5s], "shingle_md5 string")


def _file_state(path):
    out = {}
    for d in glob.glob(f"{path}/v0/{KB_COL}=*"):
        for f in glob.glob(f"{d}/*.parquet"):
            st = os.stat(f)
            out[f] = (st.st_size, st.st_mtime_ns)
    return out


def test_retract_rewrites_only_touched_buckets(spark, tmp_path):
    path = str(tmp_path / "ledger")
    append_ledger_delta(_firsts(spark, FIRSTS), path, n_buckets=16)
    before = _file_state(path)
    assert before
    kept_keys = {r["shingle_md5"] for r in spark.read.parquet(path).collect()}
    assert kept_keys == {c * 32 for c in "abcdef"}
    removed = retract_from_novelty_ledger(
        spark, path, _keys(spark, ["a" * 32, "b" * 32])
    )
    assert removed == 2
    after_rows = {
        tuple(r)
        for r in spark.read.parquet(path)
        .select("shingle_md5", "first_doc")
        .collect()
    }
    assert after_rows == {(c * 32, i) for i, c in enumerate("abcdef") if c not in "ab"}
    # untouched buckets: files byte-identical (same path/size/mtime)
    from data_integration_openfoodfacts_spark.operators.novelty_ledger import (
        kb_of,
    )

    touched = {
        r[0]
        for r in spark.createDataFrame(
            [("a" * 32,), ("b" * 32,)], "shingle_md5 string"
        )
        .select(kb_of("shingle_md5", 16))
        .collect()
    }
    after = _file_state(path)
    for f, st in before.items():
        b = int(f.split(f"{KB_COL}=")[1].split("/")[0])
        if b not in touched:
            assert after.get(f) == st, f
    # log untouched: layout survives
    assert read_state(spark, path) == (
        0, {"bucket_col": KB_COL, "n_buckets": 16, "data": "v0"}
    )


def test_retract_is_idempotent_and_noop_on_absent_keys(spark, tmp_path):
    path = str(tmp_path / "ledger")
    append_ledger_delta(_firsts(spark, FIRSTS), path, n_buckets=16)
    assert retract_from_novelty_ledger(
        spark, path, _keys(spark, ["c" * 32])
    ) == 1
    before = _file_state(path)
    # replay: key already gone -> 0 removed, zero files rewritten
    assert retract_from_novelty_ledger(
        spark, path, _keys(spark, ["c" * 32])
    ) == 0
    assert _file_state(path) == before
    # absent key -> same
    assert retract_from_novelty_ledger(
        spark, path, _keys(spark, ["9" * 32])
    ) == 0
    assert _file_state(path) == before


def test_whole_bucket_deletion_leaves_readable_store(spark, tmp_path):
    """Retracting every key of some bucket must remove the bucket dir
    (no staged survivors exist for it) and leave the store readable."""
    path = str(tmp_path / "ledger")
    append_ledger_delta(_firsts(spark, FIRSTS), path, n_buckets=2)
    removed = retract_from_novelty_ledger(
        spark, path, _keys(spark, [c * 32 for c in "abcdef"])
    )
    assert removed == 6
    # an all-bucket deletion can leave a marker-only directory that a
    # bare spark.read cannot infer a schema from; the engine's own
    # reader is the canonical probe for that state:
    from data_integration_openfoodfacts_spark.storage import (
        read_parquet_if_exists,
    )

    got = read_parquet_if_exists(spark, path)
    assert got is None or got.count() == 0


def test_retracted_shingles_score_novel_again(spark, tmp_path):
    """The takedown semantics end-to-end: after a doc's shingle keys
    are retracted, re-scoring the SAME doc reports its shingles novel
    (the ledger forgot it); an unrelated doc's keys are unaffected."""
    path = str(tmp_path / "ledger")
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "p q r s t u v w")],
        "doc_id long, text string",
    )
    _, nf = score_shingled_tranche_against_ledger(
        doc_shingle_keys(docs), path
    )
    append_ledger_delta(nf, path, n_buckets=16)
    # replay scores zero novel while ledgered
    per_doc, _ = score_shingled_tranche_against_ledger(
        doc_shingle_keys(docs), path
    )
    assert per_doc.agg(F.sum("n_novel")).first()[0] == 0
    # retract doc 1's keys (its ledgered shingle_md5 rows)
    doc1_keys = (
        spark.read.parquet(path)
        .filter(F.col("first_doc") == 1)
        .select("shingle_md5")
    ).localCheckpoint(eager=True)
    n1 = doc1_keys.count()
    assert retract_from_novelty_ledger(spark, path, doc1_keys) == n1
    per_doc2, _ = score_shingled_tranche_against_ledger(
        doc_shingle_keys(docs), path
    )
    got = {r["doc_id"]: r["n_novel"] for r in per_doc2.collect()}
    assert got[1] == n1  # forgotten -> novel again
    assert got[2] == 0   # unrelated doc untouched


def test_failed_bucket_swap_parks_outside_the_store(
    spark, tmp_path, monkeypatch
):
    """A bucket swap whose publish AND restore both fail leaves the old
    bucket parked in trash NEXT TO the store: the error names the trash
    path, the store still reads (a parked ``kb=N`` dir inside it would
    fail every read with a conflicting partition column), and no row is
    lost between the two."""
    import re

    import pytest

    from data_integration_openfoodfacts_spark import storage

    class ParkOnlyFS:
        """Delegates to the real FileSystem; every rename except the
        park into trash fails."""

        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            return "__trash_" in str(dst) and self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real = storage.hadoop_fs

    def fake_hadoop_fs(spark_, path_):
        fs, hpath, jvm = real(spark_, path_)
        return ParkOnlyFS(fs), hpath, jvm

    path = str(tmp_path / "ledger")
    # two buckets: the retracted key's bucket keeps survivors, so the
    # swap has a staged dir to publish
    append_ledger_delta(_firsts(spark, FIRSTS), path, n_buckets=2)
    monkeypatch.setattr(storage, "hadoop_fs", fake_hadoop_fs)
    with pytest.raises(IOError, match="__trash_") as err:
        retract_from_novelty_ledger(spark, path, _keys(spark, ["a" * 32]))
    trash = re.search(r"preserved at (\S+)", str(err.value)).group(1)
    live = {r["shingle_md5"] for r in spark.read.parquet(path).collect()}
    parked = {r["shingle_md5"] for r in spark.read.parquet(trash).collect()}
    assert "a" * 32 in parked
    assert live | parked == {c * 32 for c in "abcdef"}
    assert not live & parked
