"""Sinks: managed-table writers, run-metrics JSON, JDBC passthrough.

Replaces the reference's MySQL JDBC sinks (S2-S4, pipeline_etl.ipynb:
469-474,553-556,630,691) and its metrics dump (S7, :708-744).
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..storage import hadoop_fs, overwrite_parquet_atomically


def write_table(
    df: DataFrame,
    table: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
) -> None:
    """Parquet managed-table sink. ``partition_by`` enables partition
    pruning (e.g. fact by year); ``bucket_by`` pre-shuffles on the join
    key so later joins/aggs on that key skip their exchange entirely —
    the 100 TB co-located-join tool."""
    w = df.write.mode(mode).format("parquet")
    if partition_by:
        w = w.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        w = w.bucketBy(n, *cols).sortBy(*cols)
    w.saveAsTable(table)


def write_metrics_json(metrics: dict[str, Any], out_dir: str) -> str:
    """Reference metrics sink (S7): one timestamped JSON per run."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"metrics_{time.strftime('%Y%m%d_%H%M%S')}.json"
    )
    with open(path, "w", encoding="utf-8") as f:
        json.dump(metrics, f, indent=2, default=str)
    return path


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
) -> int:
    """Small-files compaction: rewrite a parquet directory into files of
    roughly ``target_file_mb``. Streaming sinks and per-batch upserts
    accumulate small files; at 100 TB, scan throughput dies on file-open
    overhead and the NameNode/listing cost long before CPU matters.
    Returns the new file count. The old files stay live until the
    rewrite is fully written (`storage.overwrite_parquet_atomically`).
    (On Delta/Iceberg this is OPTIMIZE / rewrite_data_files; this is
    the plain-parquet equivalent.)"""
    fs, hpath, _ = hadoop_fs(spark, path)
    total_bytes = fs.getContentSummary(hpath).getLength()
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    overwrite_parquet_atomically(
        spark.read.parquet(path).repartition(n_files), path
    )
    return n_files


def read_jdbc(
    spark: SparkSession, url: str, table: str, properties: dict[str, str]
) -> DataFrame:
    """JDBC scan (reference S4). Needs the driver jar on the classpath;
    kept as a thin passthrough — Spark handles partitioned reads via
    ``partitionColumn/lowerBound/upperBound/numPartitions`` properties."""
    return spark.read.jdbc(url, table, properties=properties)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str],
    mode: str = "overwrite",
) -> None:
    """JDBC sink (reference S2/S3)."""
    df.write.jdbc(url, table, mode=mode, properties=properties)
