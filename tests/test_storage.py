"""The store commit primitives (`storage.py`): the directory swap
under every failure a rename can report, the partition claim in each
of its three states, and the sidecar read's corrupt-as-absent rule."""

from __future__ import annotations

import pytest

from data_integration_openfoodfacts_spark.storage import (
    claim_partition,
    overwrite_parquet_atomically,
    read_json_sidecar,
    swap_dir,
    write_json_sidecar,
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


def test_claim_partition_states(spark, tmp_path):
    missing = tmp_path / "missing"
    assert claim_partition(spark, str(missing))
    assert not missing.exists()

    torn = tmp_path / "torn"
    torn.mkdir()
    (torn / "part-00000.parquet").write_bytes(b"half a file")
    assert claim_partition(spark, str(torn))
    assert not torn.exists()

    committed = str(tmp_path / "committed")
    spark.range(3).coalesce(1).write.parquet(committed)
    assert not claim_partition(spark, committed)
    assert spark.read.parquet(committed).count() == 3


def test_sidecar_round_trip_and_corrupt_reads_as_none(spark, tmp_path):
    d = str(tmp_path)
    assert read_json_sidecar(spark, d, "_meta.json") is None
    write_json_sidecar(spark, d, "_meta.json", {"n": 1})
    assert read_json_sidecar(spark, d, "_meta.json") == {"n": 1}
    (tmp_path / "_torn.json").write_text('{"n": ')
    assert read_json_sidecar(spark, d, "_torn.json") is None


def test_overwrite_leaves_no_staged_or_trash_siblings(spark, tmp_path):
    path = tmp_path / "t"
    overwrite_parquet_atomically(spark.range(2), str(path))
    overwrite_parquet_atomically(spark.range(5), str(path))
    assert spark.read.parquet(str(path)).count() == 5
    assert sorted(p.name for p in tmp_path.iterdir()) == ["t"]
