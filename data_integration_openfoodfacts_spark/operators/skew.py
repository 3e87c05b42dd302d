"""Partition-balance operators.

AQE's skew-join splitting (on by default in ``session.get_spark``)
handles hot keys at runtime. What AQE can't fix is the inverse
problem, too FEW partitions, which ``spread_partitions`` addresses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread_partitions(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition ``df`` up to the session shuffle parallelism if
    its scan produced fewer partitions — the inverse problem of skew:
    not enough partitions rather than imbalanced ones.

    Why: a small single-file parquet scan yields ONE input partition, so
    every narrow-but-CPU-heavy downstream expression (LSH sign bits,
    brute-force cosine against a broadcast side) runs serially on one
    core no matter how many cores exist — and AQE compounds it by
    coalescing small-bytes/high-CPU shuffle stages. At real scale the
    scan already has thousands of partitions and this is a no-op (the
    condition fails), so the extra shuffle is paid exactly when it buys
    parallelism.
    """
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key_col))
