"""Bucketed persistent tables — the shuffle-free co-located join path.

At 100 TB the dominant cost of a repeated fact↔fact equi-join is the
exchange: both sides re-shuffle on the key EVERY time the join runs.
Hive-style bucketing moves that shuffle to WRITE time, once: each table
is hash-partitioned into a fixed number of buckets on the join key and
persisted that way, so any later equi-join between two tables bucketed
on the same key with the same bucket count is planned WITHOUT an
Exchange on either side — Spark's sort-merge join reads bucket i of A
against bucket i of B directly (`SortMergeJoin` over two bucketed
scans). Filters on the bucket key also prune at planning time
(`SelectedBucketsCount: 1 out of N` — the point-lookup path).

Mechanics (all standard Spark, no table format required):
- ``bucketBy`` is only valid through ``saveAsTable`` — bucket metadata
  lives in the session catalog, so readers must go through
  ``spark.table(...)``, not ``spark.read.parquet(path)`` (a path read
  sees plain parquet and re-shuffles; the metadata IS the contract).
- The writer repartitions by the bucketing hash first so each bucket
  is a single file per write — Spark's ``repartition(n, col)`` and its
  bucketing use the same Murmur3 hash, which also lets the bucketed
  scan report the per-bucket sort and skip the merge-join's Sort.
- Bucket counts must MATCH across join sides (Spark joins equal-count
  bucketed tables exchange-free; mismatched counts re-shuffle one
  side). Pick the count once per subject area and keep it — the same
  discipline as `operators/bucketed_ledger.py`'s log-pinned
  layouts, enforced here by the catalog instead of a store log.

Cite: reference has no bucketing surface (its MySQL sink re-indexes
instead); this is the Spark-native answer to the same "avoid repaying
the join setup" need (Sevlac/data-integration-openfoodfacts
pipeline_etl.ipynb's indexed Gold tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "create_bucketed_database",
    "write_bucketed_table",
    "colocated_join",
]


def create_bucketed_database(
    spark: SparkSession, db: str, location: str
) -> None:
    """A named database at an explicit LOCATION, so bucketed tables
    land where the caller controls retention (a temp dir in tests and
    gated queries, a governed path in production) instead of the
    session's default warehouse."""
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{location}'"
    )


def write_bucketed_table(
    df: DataFrame, table: str, key: str, buckets: int
) -> None:
    """Persist ``df`` bucketed (and per-bucket sorted) by ``key``.
    One shuffle now — repartition on the bucketing hash — buys every
    future equi-join on ``key`` its exchange back."""
    (
        df.repartition(buckets, F.col(key))
        .write.format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .saveAsTable(table)
    )


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join two same-count bucketed tables through the catalog.
    The ``merge`` hint pins sort-merge join — without it a small side
    would broadcast, which is also shuffle-free but leaves the bucketed
    layout unexercised and regresses to a real exchange the day both
    sides outgrow the broadcast threshold."""
    left = spark.table(left_table)
    right = spark.table(right_table).hint("merge")
    if right_key is None or right_key == left_key:
        return left.join(right, left_key, how)
    return left.join(
        right, left[left_key] == right[right_key], how
    )
