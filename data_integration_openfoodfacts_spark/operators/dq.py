"""Data-quality check operators.

The reference's PK/FK/UNIQUE constraints live in MySQL DDL
(tools/database.py:81-151) and its validation tests are ad-hoc notebook
assertions (docs/quality_report.md:516-572). Spark cannot enforce
constraints, so the pipeline's uniqueness test (T1) is an executable
check returning the violation count (0 == pass): a single aggregation,
no collect of data rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assert_unique(df: DataFrame, keys: Sequence[str]) -> int:
    """T1: number of duplicated key groups (quality_report.md:520-528)."""
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
