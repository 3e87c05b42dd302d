"""Schema-drift queries (round 10 continuation): multi-generation
parquet read + conformance to a target contract
(`sources/schema_evolution.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.parquet_source import load_table


def q182_schema_drift_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A corpus store written in two schema GENERATIONS, read back as
    one conformed table: generation 1 (even doc_ids) predates the
    n_chars column and carries none; generation 2 (odd doc_ids) has
    n_chars — written NARROWED to int to model type drift — plus an
    extra quality column the contract never adopted. The merged read
    unions the footers; `conform_schema` materializes gen-1's n_chars
    as typed NULLs, widens gen-2's int back to the contract's bigint,
    drops the stray column, and the query asserts (inside the gated
    path) that the narrowing direction is REFUSED without allow_lossy.
    Output: per-lang doc counts, how many rows carry chars, and their
    sum — the oracle rebuilds the same split from the documents table,
    pinning that two-generation storage + conformance is semantically
    just 'n_chars IS NULL for even ids'."""
    import shutil
    import tempfile

    from ..sources.schema_evolution import (
        conform_schema,
        read_evolving_parquet,
        schema_drift,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    tmp = tempfile.mkdtemp(prefix="q182_gen_")
    store = f"{tmp}/docs"
    try:
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "lang"
        ).write.parquet(f"{store}/gen=1")
        docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang",
            F.col("n_chars").cast("int").alias("n_chars"),
            (F.col("doc_id") % 5).cast("int").alias("quality"),
        ).write.parquet(f"{store}/gen=2")
        merged = read_evolving_parquet(spark, store)
        target = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ])
        drift = schema_drift(merged, target)
        if (
            drift["widened"] != [("n_chars", "int", "bigint")]
            or drift["dropped"] != ["gen", "quality"]
        ):
            raise AssertionError(f"unexpected schema drift: {drift}")
        # a narrowing contract (bigint doc_id -> int) must refuse loudly
        narrow = T.StructType([
            T.StructField("doc_id", T.IntegerType()),
            T.StructField("n_chars", T.IntegerType()),
        ])
        try:
            conform_schema(merged, narrow)
            raise AssertionError("narrowing drift must be refused")
        except ValueError:
            pass
        out = (
            conform_schema(merged, target)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.count("n_chars").alias("n_with_chars"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


Q182_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_chars,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
         AS sum_chars
FROM documents
GROUP BY lang
"""


SCHEMA_DRIFT_QUERIES = {
    "q182_schema_drift_read": q182_schema_drift_read,
}

SCHEMA_DRIFT_ORACLES = {
    "q182_schema_drift_read": Q182_ORACLE,
}
