"""Versioned snapshot store: commit protocol, time travel, rollback,
and version diff."""

from __future__ import annotations

import os


from data_integration_openfoodfacts_spark.sources.versioned import (
    latest_version,
    read_snapshot,
    rollback,
    snapshot_diff,
    write_snapshot,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_write_read_time_travel(spark, tmp_path):
    root = str(tmp_path / "tbl")
    assert latest_version(spark, root) is None
    v0 = write_snapshot(_df(spark, [(1, "a"), (2, "b")]), root, note="init")
    v1 = write_snapshot(_df(spark, [(1, "a"), (2, "B"), (3, "c")]), root)
    assert (v0, v1) == (0, 1)
    assert read_snapshot(spark, root).count() == 3  # latest
    old = {r.k: r.v for r in read_snapshot(spark, root, version=0).collect()}
    assert old == {1: "a", 2: "b"}  # time travel


def test_rollback_is_metadata_only_and_reversible(spark, tmp_path):
    root = str(tmp_path / "tbl")
    write_snapshot(_df(spark, [(1, "a")]), root)
    write_snapshot(_df(spark, [(1, "WRONG")]), root)
    v2 = rollback(spark, root, 0)
    assert v2 == 2
    assert {r.v for r in read_snapshot(spark, root).collect()} == {"a"}
    # history intact: the bad version is still readable, and we can
    # roll forward again
    assert {r.v for r in read_snapshot(spark, root, 1).collect()} == {"WRONG"}
    rollback(spark, root, 1)
    assert {r.v for r in read_snapshot(spark, root).collect()} == {"WRONG"}


def test_uncommitted_snapshot_is_invisible(spark, tmp_path):
    """Data without a manifest (crashed writer) must not be served."""
    root = str(tmp_path / "tbl")
    write_snapshot(_df(spark, [(1, "a")]), root)
    # simulate a crash: data dir exists, no manifest
    _df(spark, [(9, "half")]).write.parquet(os.path.join(root, "v=1"))
    assert latest_version(spark, root) == 0
    assert read_snapshot(spark, root).count() == 1
    # the next successful commit skips over the orphan dir (never
    # collides with or resurrects it)
    v = write_snapshot(_df(spark, [(2, "b")]), root)
    assert v == 2
    assert {r.k for r in read_snapshot(spark, root).collect()} == {2}
    assert latest_version(spark, root) == 2


def test_snapshot_diff_statuses(spark, tmp_path):
    root = str(tmp_path / "tbl")
    write_snapshot(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), root)
    write_snapshot(_df(spark, [(1, "a"), (2, "B"), (4, "d")]), root)
    st = {
        r.k: r.status
        for r in snapshot_diff(spark, root, 0, 1, ["k"], ["v"]).collect()
    }
    assert st == {1: "same", 2: "changed", 3: "removed", 4: "added"}
