"""Streaming Bloom novelty screen (`streaming/bloom_ingest.py`,
round 10): seeded-store routing, replay idempotence and geometry
refusals."""

from __future__ import annotations

import shutil

import pytest

from data_integration_openfoodfacts_spark.storage import (
    LayoutError,
    read_state,
)
from data_integration_openfoodfacts_spark.streaming.bloom_ingest import (
    screen_keys_batch,
    seed_bloom,
)

NW, K = 64, 5


def _keys(spark, names):
    return spark.createDataFrame([(n,) for n in names], "k string")


def _totals(spark, results):
    return {
        r["batch_id"]: (r["n_keys"], r["n_definitely_new"], r["n_maybe"])
        for r in spark.read.parquet(results).collect()
    }


def _words(spark, bp):
    """The word table the store log currently names."""
    data = read_state(spark, bp)[1]["data"]
    return {tuple(r) for r in spark.read.parquet(f"{bp}/{data}").collect()}


def test_seed_screen_routing_and_replay(spark, tmp_path):
    """Planted overlap routes exactly: seeded keys probe maybe, fresh
    keys probe definitely-new and their bits merge in; a REPLAY of the
    same batch finds everything seen, appends nothing, and
    first-writer-wins keeps the original totals row."""
    bp, res = str(tmp_path / "bloom"), str(tmp_path / "res")
    seed_bloom(_keys(spark, ["a", "b", "c"]), "k", bp, NW, K)
    assert read_state(spark, bp) == (1, {"n_words": NW, "k": K, "data": "v1"})
    screen_keys_batch(
        _keys(spark, ["b", "c", "d", "e", "e"]), "k", bp, res,
        batch_id=7, n_words=NW, k=K,
    )
    # 4 distinct keys: b,c seen; d,e new (64*63 bits vs 3 keys: the
    # planted legs are deterministic md5 arithmetic, FPR ~0 here)
    assert _totals(spark, res) == {7: (4, 2, 2)}
    words_after = _words(spark, bp)
    # replay: everything (incl. d,e) is now ledgered
    screen_keys_batch(
        _keys(spark, ["b", "c", "d", "e", "e"]), "k", bp, res,
        batch_id=8, n_words=NW, k=K,
    )
    assert _totals(spark, res)[8] == (4, 0, 4)
    assert _words(spark, bp) == words_after
    # totals replay protection: rewriting batch 7 is ignored
    screen_keys_batch(
        _keys(spark, ["zz"]), "k", bp, res, batch_id=7, n_words=NW, k=K,
    )
    assert _totals(spark, res)[7] == (4, 2, 2)


def test_geometry_sidecar_refusals(spark, tmp_path):
    """Wrong (n_words, k) is refused loudly; an existing store without
    a log is refused outright (no per-row redundancy to validate a
    guess against); seeding over an existing store is refused."""
    bp = str(tmp_path / "bloom")
    seed_bloom(_keys(spark, ["a"]), "k", bp, NW, K)
    with pytest.raises(LayoutError, match="geometry"):
        screen_keys_batch(
            _keys(spark, ["b"]), "k", bp, str(tmp_path / "r"),
            batch_id=0, n_words=NW * 2, k=K,
        )
    with pytest.raises(LayoutError, match="refusing to seed"):
        seed_bloom(_keys(spark, ["b"]), "k", bp, NW, K)
    shutil.rmtree(f"{bp}/_log")
    with pytest.raises(LayoutError, match="no _log"):
        screen_keys_batch(
            _keys(spark, ["b"]), "k", bp, str(tmp_path / "r"),
            batch_id=0, n_words=NW, k=K,
        )
