"""Environment-gated integration test for the Delta/Iceberg
transactional-table formats, the swap-in point for the engine's
plain-parquet store commits (round-7 VERDICT #5).

This sandbox has no lakehouse jars, so the test SKIPS with a visible
reason — the moment an environment provides the jars, the path is
exercised for real with zero code change.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _format_available(spark, fmt: str) -> bool:
    """True iff the table format's classes are on the session's
    classpath (jar check, not a config check)."""
    cls = {
        "delta": "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        "iceberg": "org.apache.iceberg.spark.SparkCatalog",
    }[fmt]
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(cls)
        return True
    except Exception:  # noqa: BLE001 — Py4J wraps ClassNotFound
        return False


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_transactional_format_write_if_jars_present(spark, tmp_path, fmt):
    if not _format_available(spark, fmt):
        pytest.skip(
            f"{fmt} jars not on the classpath in this environment — "
            "the stores keep committing plain parquet through "
            "storage.py"
        )
    df = spark.range(10).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    path = str(tmp_path / f"tbl_{fmt}")
    df.write.format(fmt).save(path)
    assert spark.read.format(fmt).load(path).count() == 10
