"""The store commit primitives (`storage.py`): the directory swap
under every failure a rename can report, and the create-only store
log (entries never overwritten, populated stores without a log
refused, vacuum keeps exactly the live directories)."""

from __future__ import annotations

import pytest

from data_integration_openfoodfacts_spark.storage import (
    LayoutError,
    commit,
    open_store,
    overwrite_parquet_atomically,
    read_state,
    swap_dir,
    vacuum,
)


class FakeFS:
    """In-memory stand-in for a Hadoop FileSystem: ``dirs`` maps a
    path to its contents; renames listed in ``fail`` as (src, dst)
    return False the way Hadoop reports a failed rename."""

    def __init__(self, dirs, fail=()):
        self.dirs = dict(dirs)
        self.fail = set(fail)

    def exists(self, p):
        return p in self.dirs

    def rename(self, src, dst):
        if (src, dst) in self.fail or src not in self.dirs or dst in self.dirs:
            return False
        self.dirs[dst] = self.dirs.pop(src)
        return True

    def delete(self, p, recursive):
        return self.dirs.pop(p, None) is not None


PARK = ("live", "trash")
PUBLISH = ("staged", "live")
RESTORE = ("trash", "live")


def _swap(fs):
    swap_dir(fs, "live", "staged", "trash")


def test_swap_publishes_and_drops_trash():
    fs = FakeFS({"live": "old", "staged": "new"})
    _swap(fs)
    assert fs.dirs == {"live": "new"}


def test_swap_park_failure_leaves_everything_in_place():
    fs = FakeFS({"live": "old", "staged": "new"}, fail=[PARK])
    with pytest.raises(IOError, match="could not park live -> trash"):
        _swap(fs)
    assert fs.dirs == {"live": "old", "staged": "new"}


def test_swap_publish_failure_restores_target():
    fs = FakeFS({"live": "old", "staged": "new"}, fail=[PUBLISH])
    with pytest.raises(IOError, match="previous target restored"):
        _swap(fs)
    assert fs.dirs == {"live": "old", "staged": "new"}


def test_swap_publish_and_restore_failure_names_trash():
    fs = FakeFS({"live": "old", "staged": "new"}, fail=[PUBLISH, RESTORE])
    with pytest.raises(IOError, match="preserved at trash"):
        _swap(fs)
    assert fs.dirs == {"trash": "old", "staged": "new"}


def test_swap_without_target_publishes():
    fs = FakeFS({"staged": "new"})
    _swap(fs)
    assert fs.dirs == {"live": "new"}


def test_swap_without_staged_dir_deletes_target():
    fs = FakeFS({"live": "old"})
    _swap(fs)
    assert fs.dirs == {}


def test_log_is_create_only_and_reads_the_newest_entry(spark, tmp_path):
    d = str(tmp_path / "store")
    assert read_state(spark, d) is None
    assert open_store(spark, d, {"n": 1}, {"live": []}) == (
        0, {"n": 1, "live": []}
    )
    commit(spark, d, 1, {"n": 1, "live": ["a"]})
    assert read_state(spark, d) == (1, {"n": 1, "live": ["a"]})
    with pytest.raises(LayoutError, match="log entry 1"):
        commit(spark, d, 1, {"n": 1, "live": ["b"]})
    assert read_state(spark, d) == (1, {"n": 1, "live": ["a"]})
    # the refused commit leaves no staged entry behind
    assert sorted(p.name for p in (tmp_path / "store" / "_log").iterdir()
                  if not p.name.startswith(".")) == ["0.json", "1.json"]
    with pytest.raises(LayoutError, match="n=1, caller passed 2"):
        open_store(spark, d, {"n": 2}, {"live": []})


def test_populated_store_without_log_is_refused(spark, tmp_path):
    d = str(tmp_path / "store")
    spark.range(3).coalesce(1).write.parquet(f"{d}/v0")
    with pytest.raises(LayoutError, match="no _log"):
        read_state(spark, d)
    # markers alone are not data: the store is still absent
    marker_only = tmp_path / "markers"
    (marker_only / "v0").mkdir(parents=True)
    (marker_only / "v0" / "_SUCCESS").touch()
    assert read_state(spark, str(marker_only)) is None


def test_vacuum_keeps_only_live_directories(spark, tmp_path):
    d = tmp_path / "store"
    for name in ("epoch=1", "epoch=2", "epoch=3"):
        (d / name).mkdir(parents=True)
    commit(spark, str(d), 0, {"epochs": [2]})
    assert sorted(vacuum(spark, str(d), {"epoch=2"})) == [
        "epoch=1", "epoch=3"
    ]
    assert sorted(p.name for p in d.iterdir()) == ["_log", "epoch=2"]


def test_overwrite_leaves_no_staged_or_trash_siblings(spark, tmp_path):
    path = tmp_path / "t"
    overwrite_parquet_atomically(spark.range(2), str(path))
    overwrite_parquet_atomically(spark.range(5), str(path))
    assert spark.read.parquet(str(path)).count() == 5
    assert sorted(p.name for p in tmp_path.iterdir()) == ["t"]
