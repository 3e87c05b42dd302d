"""State-based compaction triggers — compact when the store NEEDS it.

The stream runners compact on CADENCE (``compact_every=N`` batches):
simple, predictable, but blind — a quiet stream compacts stores that
accumulated nothing, a bursty one lets layout debt pile up between
ticks. The state-based trigger reads the store's ACTUAL debt and
compacts exactly when it crosses a threshold:

- **counting store**: the number of live delta partitions — every
  probe sums across all of them, so read amplification is linear in
  delta count. Trigger: ``live deltas > max_deltas``.
- **bucketed ledgers** (novelty / band / corpus / windowed epochs all
  share the layout): files in the WORST bucket — every pruned probe
  opens all of a touched bucket's files, so the debt that matters is
  per-bucket, not the store-wide average (one hot bucket with 50
  files hurts every probe that touches it even when 63 cold buckets
  hold one file each). Trigger: ``max files in any single bucket >
  max_files_per_bucket``.

Both probes read FILESYSTEM METADATA only (one directory listing; no
data scan, no shuffle) — at 100 TB the check is O(partitions) driver
work against the namenode/object listing, the same class as the
stores' own existence checks. The compactions they dispatch are the
stores' OWN atomic passes (`compact_counting`, `compact_bucketed`),
so crash contracts are unchanged.

VACUUM WARNING (counting store): compaction is also the time-travel
vacuum — absorbed deltas' versions become unreadable
(`read_counts_as_of` refuses below the horizon). A state-based
trigger therefore bounds read amplification AND history retention
together; pick ``max_deltas`` as "how many versions back I must be
able to travel", not just as a performance knob.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..storage import hadoop_fs

__all__ = [
    "counting_delta_count",
    "maybe_compact_counting",
    "bucket_file_stats",
    "maybe_compact_bucketed",
]


def counting_delta_count(spark: SparkSession, path: str) -> int:
    """Live delta partitions of a counting store (``delta_id=*``
    directories, the compacted base included — it is one of the
    partitions every read sums). 0 for a store that doesn't exist."""
    fs, root, _jvm = hadoop_fs(spark, path)
    if not fs.exists(root):
        return 0
    return sum(
        1
        for st in fs.listStatus(root)
        if st.isDirectory()
        and st.getPath().getName().startswith("delta_id=")
    )


def maybe_compact_counting(
    spark: SparkSession,
    path: str,
    n_words: int,
    k: int,
    max_deltas: int,
) -> bool:
    """Compact the counting store iff its live delta count exceeds
    ``max_deltas``. Returns whether a compaction ran. Remember the
    vacuum warning in the module docstring: this retires time-travel
    history up to the new horizon."""
    if max_deltas < 1:
        raise ValueError("max_deltas must be >= 1")
    if counting_delta_count(spark, path) <= max_deltas:
        return False
    from ..streaming.counting_store import compact_counting

    compact_counting(spark, path, n_words, k)
    return True


def bucket_file_stats(
    spark: SparkSession, path: str, bucket_col: str
) -> tuple[int, int, int]:
    """(parquet files, bucket directories, max files in one bucket) of
    a hive-bucketed store — one recursive metadata listing, no data
    read. (0, 0, 0) when the store doesn't exist or has no bucket
    directories (legacy flat stores report 0 buckets; compaction is
    also their migration)."""
    fs, root, _jvm = hadoop_fs(spark, path)
    if not fs.exists(root):
        return (0, 0, 0)
    n_files = 0
    n_buckets = 0
    max_in_bucket = 0
    for st in fs.listStatus(root):
        if not (
            st.isDirectory()
            and st.getPath().getName().startswith(f"{bucket_col}=")
        ):
            continue
        n_buckets += 1
        here = sum(
            1
            for f in fs.listStatus(st.getPath())
            if f.getPath().getName().endswith(".parquet")
        )
        n_files += here
        max_in_bucket = max(max_in_bucket, here)
    return (n_files, n_buckets, max_in_bucket)


def maybe_compact_bucketed(
    spark: SparkSession,
    path: str,
    bucket_col: str,
    compact: "callable",
    max_files_per_bucket: int,
) -> bool:
    """Run ``compact()`` (the store's own compaction pass, e.g. a
    ``bucketed_ledger.compact_bucketed`` call) iff any single bucket
    holds more than ``max_files_per_bucket`` parquet files —
    the per-bucket worst case is what a pruned probe actually pays.
    Returns whether a compaction ran; a legacy FLAT store (no bucket
    dirs) with any files always triggers, since compaction is also its
    migration into the layout."""
    if max_files_per_bucket < 1:
        raise ValueError("max_files_per_bucket must be >= 1")
    _n_files, n_dirs, max_in_bucket = bucket_file_stats(
        spark, path, bucket_col
    )
    if n_dirs == 0:
        # flat legacy store: any parquet file means it should migrate
        fs, root, _jvm = hadoop_fs(spark, path)
        if not fs.exists(root):
            return False
        flat_files = sum(
            1
            for st in fs.listStatus(root)
            if st.getPath().getName().endswith(".parquet")
        )
        if flat_files == 0:
            return False
    elif max_in_bucket <= max_files_per_bucket:
        return False
    compact()
    return True
