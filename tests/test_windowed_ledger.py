"""Windowed ledger (`operators/windowed_ledger.py`): epoch-partitioned
layout, O(1) expiry semantics, resurrection/replay guards, torn-write
repair, doubly-pruned probe plan, and query-side window narrowing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.windowed_ledger import (
    append_window_epoch,
    expire_through,
    score_tranche_windowed,
)
from data_integration_openfoodfacts_spark.storage import (
    LayoutError,
    read_state,
)

NB = 8


def _keys(spark, names):
    return spark.createDataFrame(
        [(n,) for n in names], "k string"
    ).select(F.md5("k").alias("k"))


def _seen(spark, path, names, min_epoch=None, max_epoch=None):
    flags = score_tranche_windowed(
        _keys(spark, names), "k", path,
        min_epoch=min_epoch, max_epoch=max_epoch,
    )
    got = {r["k"]: r["seen_in_window"] for r in flags.collect()}
    import hashlib

    return {
        n: got[hashlib.md5(n.encode()).hexdigest()] for n in names
    }


def test_window_semantics_and_expiry(spark, tmp_path):
    p = str(tmp_path / "win")
    assert append_window_epoch(_keys(spark, ["a", "b"]), "k", p, 0, NB)
    assert append_window_epoch(_keys(spark, ["b", "c"]), "k", p, 1, NB)
    assert append_window_epoch(_keys(spark, ["d"]), "k", p, 2, NB)
    assert _seen(spark, p, ["a", "b", "c", "d", "z"]) == {
        "a": True, "b": True, "c": True, "d": True, "z": False,
    }
    assert expire_through(spark, p, 0) == [0]
    # 'a' aged out ('a' only lived in epoch 0); 'b' survives via epoch 1
    assert _seen(spark, p, ["a", "b", "c", "d"]) == {
        "a": False, "b": True, "c": True, "d": True,
    }
    assert read_state(spark, p)[1]["expired_through"] == 0
    # physical: the epoch directory is gone
    assert not os.path.exists(os.path.join(p, "epoch=0"))


def test_resurrection_and_replay_guards(spark, tmp_path):
    p = str(tmp_path / "win")
    assert append_window_epoch(_keys(spark, ["a"]), "k", p, 0, NB)
    assert append_window_epoch(_keys(spark, ["b"]), "k", p, 1, NB)
    # replay of a completed live epoch: no-op
    assert not append_window_epoch(_keys(spark, ["ZZZ"]), "k", p, 1, NB)
    assert _seen(spark, p, ["ZZZ"]) == {"ZZZ": False}
    expire_through(spark, p, 0)
    # replayed pre-expiry batch must not resurrect expired keys
    assert not append_window_epoch(_keys(spark, ["a"]), "k", p, 0, NB)
    assert _seen(spark, p, ["a"]) == {"a": False}


def test_torn_epoch_write_is_repaired(spark, tmp_path, monkeypatch):
    """A crash after an epoch's rows land but before the log lists it
    leaves a directory no probe reads; the replay overwrites it."""
    from data_integration_openfoodfacts_spark.operators import (
        windowed_ledger,
    )

    p = str(tmp_path / "win")
    assert append_window_epoch(_keys(spark, ["a"]), "k", p, 0, NB)

    def crash(*_a, **_k):
        raise RuntimeError("crash before the log entry")

    monkeypatch.setattr(windowed_ledger, "commit", crash)
    with pytest.raises(RuntimeError, match="crash"):
        append_window_epoch(_keys(spark, ["torn"]), "k", p, 1, NB)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(p, "epoch=1"))
    assert _seen(spark, p, ["a", "torn"]) == {"a": True, "torn": False}
    assert append_window_epoch(_keys(spark, ["b"]), "k", p, 1, NB)
    assert _seen(spark, p, ["a", "b", "torn"]) == {
        "a": True, "b": True, "torn": False,
    }


def test_bucket_count_mismatch_refused(spark, tmp_path):
    p = str(tmp_path / "win")
    append_window_epoch(_keys(spark, ["a"]), "k", p, 0, NB)
    with pytest.raises(LayoutError, match="n_buckets"):
        append_window_epoch(_keys(spark, ["b"]), "k", p, 1, NB * 2)


def test_query_side_window_narrowing(spark, tmp_path):
    """min_epoch narrows the probe window without expiring anything."""
    p = str(tmp_path / "win")
    append_window_epoch(_keys(spark, ["old"]), "k", p, 0, NB)
    append_window_epoch(_keys(spark, ["new"]), "k", p, 5, NB)
    assert _seen(spark, p, ["old", "new"], min_epoch=1) == {
        "old": False, "new": True,
    }
    assert _seen(spark, p, ["old", "new"]) == {
        "old": True, "new": True,
    }


def test_as_of_epoch_reads(spark, tmp_path):
    """max_epoch is the as-of read: the screen's state after that
    epoch landed. An as-of point at/below the expiry watermark raises
    (fully vacuumed) instead of answering from partial state."""
    p = str(tmp_path / "win")
    append_window_epoch(_keys(spark, ["a"]), "k", p, 0, NB)
    append_window_epoch(_keys(spark, ["b"]), "k", p, 1, NB)
    append_window_epoch(_keys(spark, ["c"]), "k", p, 2, NB)
    assert _seen(spark, p, ["a", "b", "c"], max_epoch=1) == {
        "a": True, "b": True, "c": False,
    }
    expire_through(spark, p, 0)
    assert _seen(spark, p, ["a", "b", "c"], max_epoch=1) == {
        "a": False, "b": True, "c": False,
    }
    with pytest.raises(LayoutError, match="vacuumed"):
        score_tranche_windowed(_keys(spark, ["a"]), "k", p, max_epoch=0)


def test_orphan_heal_cannot_resurrect_expired_epochs(
    spark, tmp_path, monkeypatch
):
    """A crash inside expiry AFTER the watermark is logged leaves the
    expired epochs' directories behind as orphans. They are invisible
    to probes, a replayed append of an expired epoch is still refused,
    and the next expiry deletes them without resurrecting a key."""
    from data_integration_openfoodfacts_spark.operators import (
        windowed_ledger,
    )

    p = str(tmp_path / "win")
    append_window_epoch(_keys(spark, ["gone"]), "k", p, 0, NB)
    append_window_epoch(_keys(spark, ["live"]), "k", p, 1, NB)

    def crash(*_a, **_k):
        raise RuntimeError("crash before the directories are deleted")

    monkeypatch.setattr(windowed_ledger, "vacuum", crash)
    with pytest.raises(RuntimeError, match="crash"):
        expire_through(spark, p, 0)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(p, "epoch=0"))
    assert read_state(spark, p)[1]["expired_through"] == 0
    assert _seen(spark, p, ["gone", "live"]) == {
        "gone": False, "live": True,
    }
    assert not append_window_epoch(_keys(spark, ["gone"]), "k", p, 0, NB)
    assert expire_through(spark, p, 0) == []
    assert not os.path.exists(os.path.join(p, "epoch=0"))
    assert _seen(spark, p, ["gone", "live"]) == {
        "gone": False, "live": True,
    }
    # the store keeps working: new epochs append fine
    assert append_window_epoch(_keys(spark, ["new"]), "k", p, 2, NB)
    assert _seen(spark, p, ["new"]) == {"new": True}


def test_probe_scan_is_doubly_pruned(spark, tmp_path):
    """The probe's store scan carries PartitionFilters on BOTH the
    epoch range and the touched buckets."""
    p = str(tmp_path / "win")
    append_window_epoch(_keys(spark, ["a", "b", "c"]), "k", p, 0, NB)
    append_window_epoch(_keys(spark, ["d"]), "k", p, 1, NB)
    expire_through(spark, p, 0)
    flags = score_tranche_windowed(_keys(spark, ["d"]), "k", p)
    plan = flags._jdf.queryExecution().executedPlan().toString()
    import re
    pf = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert pf and "epoch" in pf.group(0) and "kb" in pf.group(0), plan
