"""State-based compaction trigger — compact when the store NEEDS it.

The stream runners compact on CADENCE (``compact_every=N`` batches):
simple, predictable, but blind — a quiet stream compacts stores that
accumulated nothing, a bursty one lets layout debt pile up between
ticks. The state-based trigger reads the counting store's ACTUAL debt,
the number of live delta partitions (every probe sums across all of
them, so read amplification is linear in delta count), and compacts
exactly when ``live deltas > max_deltas``.

The probe reads the store's newest log entry only (no data scan, no
shuffle): the live deltas are the ones that entry lists. The
compaction it dispatches is the store's OWN pass (`compact_counting`),
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

from ..storage import read_state

__all__ = [
    "counting_delta_count",
    "maybe_compact_counting",
]


def counting_delta_count(spark: SparkSession, path: str) -> int:
    """Live delta partitions of a counting store (the ones its log
    lists, the compacted base included — it is one of the partitions
    every read sums). 0 for a store that doesn't exist."""
    from ..streaming.counting_store import live_deltas

    found = read_state(spark, path)
    return len(live_deltas(found[1])) if found else 0


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
