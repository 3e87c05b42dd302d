"""Counting-store time travel (round 10 continuation): the applied
log, as-of prefix reconstruction (pre- and post-compaction),
vacuum-horizon refusals, and the refusal of a store without a log."""

from __future__ import annotations

import shutil

import pytest

from data_integration_openfoodfacts_spark.operators.bloom import (
    counting_build,
)
from data_integration_openfoodfacts_spark.storage import LayoutError
from data_integration_openfoodfacts_spark.streaming.counting_store import (
    compact_counting,
    read_counts,
    read_counts_as_of,
    retract_counting,
    store_versions,
    write_counting_delta,
)

NW, K = 64, 5


def _keys(spark, names):
    return spark.createDataFrame([(n,) for n in names], "k string")


def _state(df):
    return {(r["p"], r["cnt"]) for r in df.collect()}


def _rebuild(spark, batches):
    """Ground truth: counting_build over the concatenated prefix."""
    names = [n for b in batches for n in b]
    return _state(
        counting_build(_keys(spark, names), "k", NW, K).filter("cnt != 0")
    )


BATCHES = [["a", "b"], ["b", "c"], ["c", "d", "d"]]


def _seed(spark, p):
    for i, b in enumerate(BATCHES):
        write_counting_delta(_keys(spark, b), "k", p, f"batch-{i}", NW, K)


def test_as_of_matches_prefix_rebuild(spark, tmp_path):
    """Every version's as-of state equals a fresh counting_build over
    the log prefix, and the last version equals read_counts."""
    p = str(tmp_path / "cnt")
    _seed(spark, p)
    for v in range(1, 4):
        assert _state(read_counts_as_of(spark, p, v)) == _rebuild(
            spark, BATCHES[:v]
        ), f"version {v}"
    assert _state(read_counts_as_of(spark, p, 3)) == _state(
        read_counts(spark, p)
    )


def test_takedown_is_a_version(spark, tmp_path):
    """A retraction appends to the log like any delta: the version
    before it still sees the retracted key's counts."""
    p = str(tmp_path / "cnt")
    _seed(spark, p)
    retract_counting(_keys(spark, ["a"]), "k", p, "t1", NW, K)
    vs = store_versions(spark, p)
    assert vs["log"] == ["batch-0", "batch-1", "batch-2", "takedown-t1"]
    assert vs["latest"] == 4 and vs["min_readable"] == 1
    assert _state(read_counts_as_of(spark, p, 3)) == _rebuild(
        spark, BATCHES
    )
    inserted = dict(_rebuild(spark, BATCHES))
    for pp, c in _state(counting_build(_keys(spark, ["a"]), "k", NW, K)):
        inserted[pp] = inserted.get(pp, 0) - c
    expected = {(pp, c) for pp, c in inserted.items() if c != 0}
    assert _state(read_counts_as_of(spark, p, 4)) == expected
    assert _state(read_counts(spark, p)) == expected


def test_compaction_vacuums_history(spark, tmp_path):
    """Post-compaction: versions >= horizon read base+surviving deltas
    and match the prefix rebuild; versions < horizon raise."""
    p = str(tmp_path / "cnt")
    for i, b in enumerate(BATCHES[:2]):
        write_counting_delta(_keys(spark, b), "k", p, f"batch-{i}", NW, K)
    compact_counting(spark, p, NW, K)
    write_counting_delta(_keys(spark, BATCHES[2]), "k", p, "batch-2",
                         NW, K)
    vs = store_versions(spark, p)
    assert vs["min_readable"] == 2 and vs["latest"] == 3
    assert _state(read_counts_as_of(spark, p, 2)) == _rebuild(
        spark, BATCHES[:2]
    )
    assert _state(read_counts_as_of(spark, p, 3)) == _rebuild(
        spark, BATCHES
    )
    with pytest.raises(LayoutError, match="horizon"):
        read_counts_as_of(spark, p, 1)


def test_version_bounds_and_legacy_refusals(spark, tmp_path):
    """Out-of-range versions raise; a populated store without a log
    (the pre-log layout) refuses every read instead of guessing which
    of its directories are live."""
    p = str(tmp_path / "cnt")
    _seed(spark, p)
    for bad in (0, 4):
        with pytest.raises(LayoutError, match="out of range"):
            read_counts_as_of(spark, p, bad)
    shutil.rmtree(f"{p}/_log")
    with pytest.raises(LayoutError, match="no _log"):
        read_counts_as_of(spark, p, 1)
    with pytest.raises(LayoutError, match="no _log"):
        read_counts(spark, p)


def test_as_of_scan_prunes_partitions(spark, tmp_path):
    """The as-of read is a partition-column filter: the parquet scan
    must carry a delta_id PartitionFilter (pruned at planning time),
    not a post-scan filter over every delta file."""
    p = str(tmp_path / "cnt")
    _seed(spark, p)
    plan = read_counts_as_of(spark, p, 2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "delta_id" in plan, plan
