"""Bucketed-table queries (round 10 continuation): the write-once
shuffle-forever-free co-located join (`sources/bucketed_tables.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

_DB = "q181db"
_BUCKETS = 16


def q181_bucketed_colocated_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Doc↔embedding star join through persisted bucketed tables: both
    sides are written bucketed on their join key (16 buckets each) into
    a temp-located database, and the join is planned WITHOUT an
    Exchange on either side — asserted on the plan inside the gated
    path, not just claimed — because bucket i of one table can only
    match bucket i of the other. This is the 100 TB posture for a join
    both of whose sides are too big to broadcast and which runs often
    enough to amortize one write-time shuffle; the oracle is the plain
    join SQL, pinning that the physical layout is semantically
    invisible. Output: per (lang, label) doc counts and char volume —
    the downstream mixture-planning shape."""
    import shutil
    import tempfile

    from ..sources.bucketed_tables import (
        colocated_join,
        create_bucketed_database,
        write_bucketed_table,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    tmp = tempfile.mkdtemp(prefix="q181_bt_")
    spark.sql(f"DROP DATABASE IF EXISTS {_DB} CASCADE")
    create_bucketed_database(spark, _DB, tmp)
    try:
        write_bucketed_table(docs, f"{_DB}.docs", "doc_id", _BUCKETS)
        write_bucketed_table(emb, f"{_DB}.emb", "vec_id", _BUCKETS)
        joined = colocated_join(
            spark, f"{_DB}.docs", f"{_DB}.emb", "doc_id", "vec_id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            raise AssertionError(
                "bucketed join must plan without a shuffle:\n" + plan
            )
        if plan.count("Bucketed: true") != 2:
            raise AssertionError(
                "both join sides must scan bucketed:\n" + plan
            )
        out = (
            joined.groupBy("lang", "label")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .select(
                "lang",
                F.col("label").cast("long").alias("label"),
                "n_docs", "sum_chars",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {_DB} CASCADE")
        shutil.rmtree(tmp, ignore_errors=True)
    return out


Q181_ORACLE = """
SELECT d.lang,
       CAST(e.label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
GROUP BY 1, 2
"""


BUCKETED_QUERIES = {
    "q181_bucketed_colocated_join": q181_bucketed_colocated_join,
}

BUCKETED_ORACLES = {
    "q181_bucketed_colocated_join": Q181_ORACLE,
}
