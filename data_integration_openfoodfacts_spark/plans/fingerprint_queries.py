"""Weighted-fingerprint queries (round 10):
`operators/weighted_fingerprint.py` gated against a DuckDB replay.
q20's unweighted twin lives in llm_queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.parquet_source import load_table


def q174_tf_weighted_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit tf-weighted SimHash per document — q20's fingerprint
    with per-token term-frequency vote weights (the Manku web-dedup
    form): repeated-phrase documents fingerprint by their dominant
    content instead of giving one-off tokens equal say. The oracle
    replays tf counting, the ±tf votes and the strict-positive bit
    rule exactly."""
    from ..operators.weighted_fingerprint import tf_weighted_simhash

    docs = load_table(spark, sf_dir, "documents")
    return tf_weighted_simhash(docs, "doc_id", "text", bits=16)


Q174_ORACLE = """
WITH tok AS (
  SELECT doc_id, u.t AS tok, COUNT(*) AS tf
  FROM documents, LATERAL (SELECT UNNEST(string_split(text, ' ')) AS t) u
  WHERE u.t <> ''
  GROUP BY doc_id, u.t
),
h AS (
  SELECT doc_id, tf,
         CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT)
           % 65536 AS h16
  FROM tok
),
votes AS (
  SELECT doc_id, b, SUM((((h16 >> b) & 1) * 2 - 1) * tf) AS s
  FROM h, LATERAL (SELECT UNNEST(range(0, 16)) AS b) v
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN 1 << b ELSE 0 END) AS BIGINT)
         AS simhash
FROM votes GROUP BY doc_id
"""


FINGERPRINT_QUERIES = {
    "q174_tf_weighted_simhash": q174_tf_weighted_simhash,
}

FINGERPRINT_ORACLES = {
    "q174_tf_weighted_simhash": Q174_ORACLE,
}
