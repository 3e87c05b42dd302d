"""Incremental embedding near-dup ingest
(`operators/embedding_ingest.py`, round-9 continuation): planted
collision semantics, replay idempotence, the shared bucketed-ledger
layout, and the scale-safe probe plan."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.bucketed_ledger import (
    compact_bucketed,
)
from data_integration_openfoodfacts_spark.operators.embedding_ingest import (
    EB_COL,
    _eb_of_buckets,
    append_embedding_bands,
    embedding_band_signatures,
    incremental_embedding_dedup,
)
from data_integration_openfoodfacts_spark.storage import read_state

DIM = 8


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )


def _base_vecs():
    # three well-separated directions in 8-d
    a = [1, 0, 0, 0, 1, 0, 0, 0]
    b = [0, 1, 0, 0, 0, -1, 0, 0]
    c = [0, 0, 1, 0, 0, 0, 1, 0]
    return a, b, c


def test_planted_collision_and_survival(spark, tmp_path):
    """A batch vector IDENTICAL to a corpus vector collides (every
    band matches); a well-separated new direction survives; a batch
    vector identical to a LOWER-id batch vector is dropped while the
    lower id survives (in-batch leg)."""
    a, b, c = _base_vecs()
    path = str(tmp_path / "bands")
    corpus = _emb(spark, [(1, a), (2, b)])
    append_embedding_bands(
        embedding_band_signatures(corpus, DIM), path, n_buckets=8
    )
    batch = _emb(
        spark,
        [(10, a), (11, c), (12, c)],  # dup-of-corpus, new, dup-of-11
    )
    survivors, delta = incremental_embedding_dedup(
        batch, path, DIM, n_buckets=8
    )
    assert {r["vec_id"] for r in survivors.collect()} == {11}
    # the delta appended exactly the survivor's band rows
    assert {r["vec_id"] for r in delta.collect()} == {11}
    ledgered = {
        r["vec_id"]
        for r in spark.read.parquet(path).select("vec_id").distinct().collect()
    }
    assert ledgered == {1, 2, 11}


def test_replay_is_idempotent(spark, tmp_path):
    """Re-ingesting the same batch after its append: every vector now
    collides with its own ledgered signatures — zero survivors, zero
    delta, ledger unchanged."""
    a, b, c = _base_vecs()
    path = str(tmp_path / "bands")
    batch = _emb(spark, [(1, a), (2, b), (3, c)])
    s1, _ = incremental_embedding_dedup(batch, path, DIM, n_buckets=8)
    assert s1.count() == 3  # empty ledger: all survive
    before = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select("vec_id", "band", "sig")
        .collect()
    )
    s2, d2 = incremental_embedding_dedup(batch, path, DIM, n_buckets=8)
    assert s2.count() == 0 and d2.count() == 0
    after = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select("vec_id", "band", "sig")
        .collect()
    )
    assert after == before


def test_ledger_layout_and_compaction(spark, tmp_path):
    """The ledger rides the shared bucketed layout: header logged,
    appends one file per touched bucket, compaction leaves one file
    per bucket with identical contents."""
    a, b, c = _base_vecs()
    path = str(tmp_path / "bands")
    for i, v in enumerate((a, b, c)):
        append_embedding_bands(
            embedding_band_signatures(_emb(spark, [(i, v)]), DIM),
            path,
            n_buckets=8,
        )
    assert read_state(spark, path) == (
        0, {"bucket_col": EB_COL, "n_buckets": 8, "data": "v0"}
    )
    before = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select("vec_id", "band", "sig")
        .collect()
    )
    compact_bucketed(
        spark, path, EB_COL, _eb_of_buckets, 8,
        columns=["vec_id", "band", "sig"],
    )
    after = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select("vec_id", "band", "sig")
        .collect()
    )
    assert after == before
    buckets = glob.glob(f"{path}/v1/{EB_COL}=*")
    assert buckets
    for d in buckets:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d


def test_probe_prunes_and_never_moves_ledger(spark, tmp_path):
    """Scale-posture plan pin (the band-ledger contract applied to the
    embedding ledger): the collision probe shows PartitionFilters on
    eb at the ledger FileScan, reads only (band, sig), and the only
    exchange is the bounded seen-sigs distinct — the ledger is never
    shuffled or broadcast."""
    from data_integration_openfoodfacts_spark.operators.bucketed_ledger import (
        prune_to_buckets,
        touched_buckets,
    )
    from data_integration_openfoodfacts_spark.operators.embedding_ingest import (
        _eb_of_buckets,
    )
    from data_integration_openfoodfacts_spark.operators.similarity_dedup import (
        collision_ids,
    )

    a, b, c = _base_vecs()
    path = str(tmp_path / "bands")
    append_embedding_bands(
        embedding_band_signatures(_emb(spark, [(1, a), (2, b)]), DIM),
        path,
        n_buckets=8,
    )
    new_bands = embedding_band_signatures(
        _emb(spark, [(10, a)]), DIM
    ).localCheckpoint(eager=True)
    ledger = spark.read.parquet(path)
    probe = prune_to_buckets(
        ledger, EB_COL, touched_buckets(new_bands, _eb_of_buckets, 8)
    ).select("vec_id", "band", "sig")
    plan = (
        collision_ids(new_bands, probe, "vec_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [eb" in plan, plan
    assert "ReadSchema: struct<band:bigint,sig:string>" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
