"""Parquet table source for the test star schema.

The driver's synthetic tables (TESTDATA.md) are one parquet file per
table. At 100 TB each "file" becomes a partitioned parquet/Delta
directory; ``spark.read.parquet`` handles both transparently, and the
scan benefits from column pruning + predicate pushdown (filters appear
as ``PushedFilters`` in ``.explain``), so all engine operators are
written against these loaders rather than raw paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The testdata timestamps are timezone-naive; date/calendar functions
    # resolve through the session timezone, so a non-UTC caller session
    # would silently shift dates (SURVEY.md §7 "Timezone-sensitive date
    # math"). Pin UTC — runtime-settable, idempotent.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Some testdata generations store events.ts as TIMESTAMP(NANOS),
        # which the vectorized reader rejects; this conf makes those read
        # as raw int64 nanos and is a no-op for micro-precision files.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` normalized to TimestampType (microsecond
    precision — matches the DuckDB oracle) plus epoch nanos in
    ``ts_ns``, regardless of the physical parquet type.

    The driver's generator has shipped events.ts both as TIMESTAMP(NANOS)
    (read as int64 nanos, see load_table) and as plain timestamp[us]
    (read as TIMESTAMP_NTZ). Every engine operator goes through this
    adapter so the physical encoding is invisible downstream — the same
    posture a 100 TB lake needs when files span writer versions.
    """
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type == "bigint":  # TIMESTAMP(NANOS) read as raw int64 nanos
        ts = F.timestamp_micros(F.expr("ts div 1000"))
        ts_ns = F.col("ts")
    else:  # timestamp[us] / timestamp_ntz[us]; session tz pinned UTC
        ts = F.col("ts").cast("timestamp")
        ts_ns = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
    return ev.select(
        "event_id",
        ts.alias("ts"),
        ts_ns.cast("long").alias("ts_ns"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
