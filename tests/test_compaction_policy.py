"""State-based compaction triggers (`operators/compaction_policy.py`):
threshold semantics, metadata-only probes, stream-runner wiring and
the vacuum interaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.compaction_policy import (
    counting_delta_count,
    maybe_compact_counting,
)
from data_integration_openfoodfacts_spark.streaming.counting_store import (
    read_counts,
    read_counts_as_of,
    store_versions,
    write_counting_delta,
)

NW, K = 64, 3
def _keys(spark, names):
    return spark.createDataFrame([(n,) for n in names], "k string")


def _state(spark, p):
    return {(r["p"], r["cnt"]) for r in read_counts(spark, p).collect()}


def test_counting_threshold_and_state_preserved(spark, tmp_path):
    p = str(tmp_path / "cnt")
    assert counting_delta_count(spark, p) == 0
    for i, b in enumerate([["a"], ["b"], ["c", "c"]]):
        write_counting_delta(_keys(spark, b), "k", p, f"d{i}", NW, K)
    assert counting_delta_count(spark, p) == 3
    before = _state(spark, p)
    # under the bound: no-op
    assert not maybe_compact_counting(spark, p, NW, K, 3)
    assert counting_delta_count(spark, p) == 3
    # over the bound: compacts to the single base partition
    assert maybe_compact_counting(spark, p, NW, K, 2)
    assert counting_delta_count(spark, p) == 1
    assert _state(spark, p) == before
    # the vacuum interaction: pre-horizon versions are gone
    assert store_versions(spark, p)["min_readable"] == 3
    from data_integration_openfoodfacts_spark.storage import LayoutError

    with pytest.raises(LayoutError, match="horizon"):
        read_counts_as_of(spark, p, 1)
    with pytest.raises(ValueError, match="max_deltas"):
        maybe_compact_counting(spark, p, NW, K, 0)


def test_stream_runner_state_based_trigger(spark, tmp_path):
    """run_counting_screen_stream(compact_max_deltas=2): the drain
    compacts whenever live deltas exceed the bound, so the store ends
    bounded regardless of trigger count."""
    from data_integration_openfoodfacts_spark.streaming.counting_store import (
        run_counting_screen_stream,
    )

    src = str(tmp_path / "src")
    for i in range(4):
        spark.createDataFrame(
            [(i, f"text-{i}", "en", "s", 6)],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.parquet(f"{tmp_path}/part{i}")
    os.makedirs(src)
    for i in range(4):
        part = f"{tmp_path}/part{i}"
        f = next(x for x in os.listdir(part) if x.endswith(".parquet"))
        os.link(os.path.join(part, f), os.path.join(src, f"p{i}.parquet"))
    p = str(tmp_path / "store")
    run_counting_screen_stream(
        spark, src, p, str(tmp_path / "res"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1, n_words=NW, k=K,
        compact_max_deltas=2,
    )
    # 4 deltas landed; every time the count hit 3 it compacted
    assert counting_delta_count(spark, p) <= 2
    # all four docs' keys are present in the final state
    from data_integration_openfoodfacts_spark.operators.bloom import (
        bloom_probe_keys,
        counting_to_words,
    )

    keys = spark.createDataFrame(
        [(f"text-{i}",) for i in range(4)], "t string"
    ).select(F.md5("t").alias("k"))
    flags = bloom_probe_keys(
        keys, "k", counting_to_words(read_counts(spark, p)), NW, K
    )
    assert all(r["maybe_member"] for r in flags.collect())
