"""Sinks: managed-table writer and run-metrics JSON.

Replaces the reference's MySQL JDBC sinks (S2-S4, pipeline_etl.ipynb:
469-474,553-556,630,691) and its metrics dump (S7, :708-744).
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame


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
