"""Slowly-changing-dimension Type 2 history — the reference's designed
future work (vincent_valentin/docs/architecture_notes.md:263-331,
docs/data_dictionary.md:456-464): keep every attribute version with
``effective_from`` / ``effective_to`` / ``is_current`` instead of the
Type-1 keep-latest the batch pipeline performs.

Spark-first shape: pure window functions (lag for change detection,
lead for interval close), no Python, one hash shuffle on the business
key. Change detection and interval assignment shuffle once on the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(
    changes: DataFrame,
    keys: list[str],
    order_col: str,
    tracked_cols: list[str],
) -> DataFrame:
    """Build full Type-2 history from a change log with exactly one row
    per (keys, order_col).

    A new version starts at the first row per key and whenever any
    tracked column differs (null-safely) from the previous row; runs of
    identical attribute values collapse into one version. Output adds:

    - ``effective_from``: the change's ``order_col`` value;
    - ``effective_to``: the next version's start (NULL = open);
    - ``is_current``: ``effective_to IS NULL``;
    - ``version``: 1-based per-key ordinal.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    changed = F.lit(False)
    for c in tracked_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    first = F.row_number().over(w) == 1
    versions = (
        changes.withColumn("__new_version", first | changed)
        .filter(F.col("__new_version"))
        .drop("__new_version")
    )
    wv = Window.partitionBy(*keys).orderBy(order_col)
    return (
        versions.withColumn("effective_from", F.col(order_col))
        .withColumn("effective_to", F.lead("effective_from").over(wv))
        .withColumn("is_current", F.col("effective_to").isNull())
        .withColumn("version", F.row_number().over(wv).cast("bigint"))
    )
