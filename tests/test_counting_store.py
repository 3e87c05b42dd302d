"""Persisted counting-Bloom store (`streaming/counting_store.py`,
round 10): delta-layout idempotence (replay before AND after
compaction), takedown-by-negative-delta semantics, geometry and
missing-log refusals, compaction invariance, and stream==batch parity through a
real availableNow drain."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.storage import LayoutError
from data_integration_openfoodfacts_spark.streaming.counting_store import (
    compact_counting,
    probe_counting,
    read_counts,
    retract_counting,
    run_counting_screen_stream,
    screen_keys_batch,
    store_versions,
    write_counting_delta,
)

NW, K = 64, 5


def _keys(spark, names):
    return spark.createDataFrame([(n,) for n in names], "k string")


def _counts(spark, path):
    return {(r["p"], r["cnt"]) for r in read_counts(spark, path).collect()}


def _members(spark, path, names):
    flags = probe_counting(_keys(spark, names), "k", path, NW, K)
    return {r["k"] for r in flags.collect() if r["maybe_member"]}


def test_delta_replay_is_idempotent(spark, tmp_path):
    """Writing the same delta_id twice appends nothing: the second
    write finds the partition directory and returns False."""
    p = str(tmp_path / "cnt")
    assert write_counting_delta(
        _keys(spark, ["a", "b"]), "k", p, "batch-1", NW, K
    )
    before = _counts(spark, p)
    assert not write_counting_delta(
        _keys(spark, ["a", "b"]), "k", p, "batch-1", NW, K
    )
    assert _counts(spark, p) == before


def test_takedown_unsets_only_last_owner(spark, tmp_path):
    """Two owners insert overlapping keys; retracting one owner's
    occurrences keeps the shared key a member and drops the key only
    that owner held."""
    p = str(tmp_path / "cnt")
    write_counting_delta(_keys(spark, ["shared", "only1"]), "k", p,
                         "batch-1", NW, K)
    write_counting_delta(_keys(spark, ["shared", "only2"]), "k", p,
                         "batch-2", NW, K)
    assert retract_counting(
        _keys(spark, ["shared", "only1"]), "k", p, "t1", NW, K
    )
    got = _members(spark, p, ["shared", "only1", "only2"])
    assert "shared" in got and "only2" in got
    assert "only1" not in got
    # takedown replay: same takedown_id writes nothing
    assert not retract_counting(
        _keys(spark, ["shared", "only1"]), "k", p, "t1", NW, K
    )


def test_compaction_invariant_and_tombstones_replays(spark, tmp_path):
    """Compaction leaves the live table bit-identical, and a replay of
    an ABSORBED batch (its directory is gone) is refused by the
    absorbed-id tombstone instead of silently double-counting."""
    p = str(tmp_path / "cnt")
    write_counting_delta(_keys(spark, ["a", "b"]), "k", p, "batch-1", NW, K)
    write_counting_delta(_keys(spark, ["b", "c"]), "k", p, "batch-2", NW, K)
    retract_counting(_keys(spark, ["a"]), "k", p, "t9", NW, K)
    before = _counts(spark, p)
    compact_counting(spark, p, NW, K)
    assert _counts(spark, p) == before
    assert store_versions(spark, p)["absorbed"] == [
        "batch-1", "batch-2", "takedown-t9"
    ]
    assert not write_counting_delta(
        _keys(spark, ["a", "b"]), "k", p, "batch-1", NW, K
    )
    assert _counts(spark, p) == before
    # a genuinely NEW delta still lands after compaction
    assert write_counting_delta(_keys(spark, ["d"]), "k", p, "batch-3",
                                NW, K)
    assert _members(spark, p, ["b", "c", "d"]) == {"b", "c", "d"}


def test_geometry_refusals(spark, tmp_path):
    """Wrong caller geometry raises; an existing store without a log is
    refused outright; the reserved base ids are rejected."""
    import shutil

    p = str(tmp_path / "cnt")
    write_counting_delta(_keys(spark, ["a"]), "k", p, "batch-1", NW, K)
    with pytest.raises(LayoutError, match="geometry"):
        write_counting_delta(_keys(spark, ["b"]), "k", p, "batch-2",
                             NW + 1, K)
    with pytest.raises(LayoutError, match="geometry"):
        probe_counting(_keys(spark, ["a"]), "k", p, NW, K + 1)
    for reserved in ("base", "base-3"):
        with pytest.raises(LayoutError, match="reserved"):
            write_counting_delta(_keys(spark, ["a"]), "k", p, reserved,
                                 NW, K)
    shutil.rmtree(os.path.join(p, "_log"))
    with pytest.raises(LayoutError, match="no _log"):
        probe_counting(_keys(spark, ["a"]), "k", p, NW, K)


def test_screen_totals_first_writer_wins(spark, tmp_path):
    """Batch totals are computed against the pre-batch state and kept
    across replays: replaying batch 3 after its delta landed would
    recompute all-maybe totals, which mode('ignore') discards."""
    p, res = str(tmp_path / "cnt"), str(tmp_path / "res")
    screen_keys_batch(_keys(spark, ["a", "b"]), "k", p, res, 3, NW, K)
    first = {
        r["batch_id"]: (r["n_keys"], r["n_definitely_new"], r["n_maybe"])
        for r in spark.read.parquet(res).collect()
    }
    assert first == {3: (2, 2, 0)}
    screen_keys_batch(_keys(spark, ["a", "b"]), "k", p, res, 3, NW, K)
    again = {
        r["batch_id"]: (r["n_keys"], r["n_definitely_new"], r["n_maybe"])
        for r in spark.read.parquet(res).collect()
    }
    assert again == first
    assert _counts(spark, p) == _counts(spark, p)  # no double insert
    # occurrences inserted ONCE despite the replay: retracting one
    # occurrence of 'a' must fully remove it
    retract_counting(_keys(spark, ["a"]), "k", p, "t1", NW, K)
    assert _members(spark, p, ["a", "b"]) == {"b"}


def test_stream_matches_batch_trajectory(spark, tmp_path):
    """A real availableNow drain (1 file per trigger, in-stream
    compaction) reaches the same store state as sequential batch
    calls over the same files."""
    src = str(tmp_path / "src")
    rows = [
        (1, "alpha"), (2, "beta"),       # file 0
        (3, "beta"), (4, "gamma"),       # file 1
        (5, "gamma"), (6, "delta"),      # file 2
    ]
    for i in range(3):
        spark.createDataFrame(
            rows[2 * i: 2 * i + 2], "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")
    # flatten: read_docs_stream lists files recursively per trigger
    files = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(src) for f in fs if f.endswith(".parquet")
    )
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(files):
        os.link(f, os.path.join(flat, f"part-{i}.parquet"))

    sp, sres = str(tmp_path / "scnt"), str(tmp_path / "sres")
    run_counting_screen_stream(
        spark, flat, sp, sres, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, n_words=NW, k=K, compact_every=2,
    )
    bp, bres = str(tmp_path / "bcnt"), str(tmp_path / "bres")
    batches = [
        spark.read.parquet(f).select(F.md5("text").alias("text_md5"))
        for f in files
    ]
    for bid, b in enumerate(batches):
        screen_keys_batch(b, "text_md5", bp, bres, bid, NW, K)
    assert _counts(spark, sp) == _counts(spark, bp)
    # totals trajectories match as multisets of rows (stream batch ids
    # follow file order, same as the sequential loop)
    s_tot = sorted(
        (r["n_keys"], r["n_definitely_new"], r["n_maybe"])
        for r in spark.read.parquet(sres).collect()
    )
    b_tot = sorted(
        (r["n_keys"], r["n_definitely_new"], r["n_maybe"])
        for r in spark.read.parquet(bres).collect()
    )
    assert s_tot == b_tot


def test_batched_append_matches_sequential(spark, tmp_path):
    """Round-14 `append_counting_deltas`: the pooled batch append must
    leave a store byte-equivalent to the sequential calls — same live
    counts, same applied LOG ORDER (the caller's list order, so every
    time-travel version cut is unchanged) — with mixed-sign deltas in
    one transaction."""
    from data_integration_openfoodfacts_spark.streaming.counting_store import (  # noqa: E501
        append_counting_deltas,
        read_counts_as_of,
        store_versions,
    )

    seq = str(tmp_path / "seq")
    bat = str(tmp_path / "bat")
    a, b = _keys(spark, ["a1", "a2"]), _keys(spark, ["a2", "b1"])
    neg = _keys(spark, ["a2"])
    write_counting_delta(a, "k", seq, "d0", NW, K)
    write_counting_delta(b, "k", seq, "d1", NW, K)
    write_counting_delta(neg, "k", seq, "t0", NW, K, sign=-1)
    applied = append_counting_deltas(
        spark, [("d0", a, 1), ("d1", b, 1), ("t0", neg, -1)],
        "k", bat, NW, K,
    )
    assert applied == {"d0": True, "d1": True, "t0": True}
    assert _counts(spark, seq) == _counts(spark, bat)
    assert store_versions(spark, seq)["log"] == \
        store_versions(spark, bat)["log"] == ["d0", "d1", "t0"]
    for v in (1, 2, 3):
        sv = {(r["p"], r["cnt"])
              for r in read_counts_as_of(spark, seq, v).collect()}
        bv = {(r["p"], r["cnt"])
              for r in read_counts_as_of(spark, bat, v).collect()}
        assert sv == bv, f"version {v} diverged"


def test_batched_append_replay_and_tombstone(spark, tmp_path):
    """Batched-append idempotence contracts: a replayed batch writes
    nothing (logged ids refused), and post-compaction replays are refused by the tombstone — the
    same guarantees `write_counting_delta` gives one delta at a time."""
    from data_integration_openfoodfacts_spark.streaming.counting_store import (  # noqa: E501
        append_counting_deltas,
        store_versions,
    )

    p = str(tmp_path / "store")
    items = [
        ("d0", _keys(spark, ["a1"]), 1),
        ("d1", _keys(spark, ["b1"]), 1),
    ]
    first = append_counting_deltas(spark, items, "k", p, NW, K)
    assert first == {"d0": True, "d1": True}
    before = _counts(spark, p)
    replay = append_counting_deltas(spark, items, "k", p, NW, K)
    assert replay == {"d0": False, "d1": False}
    assert _counts(spark, p) == before
    assert store_versions(spark, p)["log"] == ["d0", "d1"]
    compact_counting(spark, p, NW, K)
    post = append_counting_deltas(spark, items, "k", p, NW, K)
    assert post == {"d0": False, "d1": False}
    assert _counts(spark, p) == before
    # duplicate ids within one batch and the reserved id are refused
    with pytest.raises(LayoutError):
        append_counting_deltas(
            spark, [("x", items[0][1], 1), ("x", items[1][1], 1)],
            "k", p, NW, K,
        )
    with pytest.raises(LayoutError):
        append_counting_deltas(
            spark, [("base", items[0][1], 1)], "k", p, NW, K,
        )


def test_batched_append_heals_unlogged_directory(spark, tmp_path, monkeypatch):
    """The crash window between a batch's delta writes and its log
    entry: the landed directories stay invisible (the store still reads
    as before the batch), and a replay of the batch rewrites them and
    logs them in LIST order."""
    from data_integration_openfoodfacts_spark.streaming import counting_store
    from data_integration_openfoodfacts_spark.streaming.counting_store import (  # noqa: E501
        append_counting_deltas,
    )

    p = str(tmp_path / "store")
    write_counting_delta(_keys(spark, ["a0"]), "k", p, "d0", NW, K)
    before = _counts(spark, p)
    items = [
        ("d2", _keys(spark, ["c1"]), 1),
        ("d1", _keys(spark, ["b1"]), 1),
    ]

    def crash(*_a, **_k):
        raise RuntimeError("crash before the log entry")

    monkeypatch.setattr(counting_store, "commit", crash)
    with pytest.raises(RuntimeError, match="crash"):
        append_counting_deltas(spark, items, "k", p, NW, K)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(p, "delta_id=d1"))
    assert _counts(spark, p) == before
    assert store_versions(spark, p)["log"] == ["d0"]
    replay = append_counting_deltas(spark, items, "k", p, NW, K)
    assert replay == {"d2": True, "d1": True}
    assert store_versions(spark, p)["log"] == ["d0", "d2", "d1"]
    assert _members(spark, p, ["a0", "b1", "c1"]) == {"a0", "b1", "c1"}
