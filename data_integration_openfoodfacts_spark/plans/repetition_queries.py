"""Repetition-rule queries (round 11): the Gopher repetition family
(`operators/repetition.py`) — looping/boilerplate documents that the
static rule battery (q158) cannot see because its signals are
per-token, not per-recurrence.

Relation to q61 (sampling_queries.py): q61 emits RAW per-document
unigram/bigram fractions via per-row higher-order counters — the
inspection surface, O(distinct x n) per row, fine at bigram scale.
This module is the SCREENING surface: integer-threshold flags over a
cross-tab, plus the duplicate-5-GRAM family q61 doesn't compute —
where per-row HOF counting would blow up (5-gram distinct counts
approach n), so the plan switches to the explode + doc-keyed
aggregation shape that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table


def q195_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-repetition screening over the corpus: per-document
    duplicate-word, top-2-gram and duplicate-5-gram counts with their
    integer-threshold flags, cross-tabbed (flag combination ->
    document count + summed offending counts). The sums make the hash
    sensitive to every document's exact signal values, not just the
    flag buckets. Plan: one narrow array pass + one tagged gram
    explode -> two doc-keyed aggregations — nothing quadratic, output
    one row per flag combination."""
    from ..operators.repetition import (
        repetition_flags,
        word_repetition_signals,
    )

    docs = load_table(spark, sf_dir, "documents")
    flags = repetition_flags(
        word_repetition_signals(docs, "doc_id", "text")
    )
    return flags.groupBy(
        F.col("r_top_2gram").cast("long").alias("r_top_2gram"),
        F.col("r_dup_5gram").cast("long").alias("r_dup_5gram"),
        F.col("r_dup_words").cast("long").alias("r_dup_words"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("top2_count").alias("sum_top2"),
        F.sum("dup5_count").alias("sum_dup5"),
        F.sum("dup_words").alias("sum_dup_words"),
    )


Q195_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
base AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         CAST(len(t) - len(list_distinct(t)) AS BIGINT) AS dup_words
  FROM toks
),
g2 AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(t))) AS i) u
  WHERE len(t) >= 2
),
g5 AS (
  SELECT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
              || ' ' || t[i+4] AS gram
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(t) - 3)) AS i) u
  WHERE len(t) >= 5
),
c2 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
c5 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g5 GROUP BY 1, 2),
top2 AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top2_count
         FROM c2 GROUP BY 1),
dup5 AS (SELECT doc_id, CAST(SUM(c - 1) AS BIGINT) AS dup5_count
         FROM c5 GROUP BY 1),
sig AS (
  SELECT b.doc_id, b.n_words, b.dup_words,
         COALESCE(t.top2_count, 0) AS top2_count,
         COALESCE(d.dup5_count, 0) AS dup5_count
  FROM base b
  LEFT JOIN top2 t USING (doc_id)
  LEFT JOIN dup5 d USING (doc_id)
),
flags AS (
  SELECT doc_id, top2_count, dup5_count, dup_words,
         CASE WHEN top2_count * 5
                   <= GREATEST(n_words - 1, 0) * 1
              THEN 1 ELSE 0 END AS r_top_2gram,
         CASE WHEN dup5_count * 20
                   <= GREATEST(n_words - 4, 0) * 3
              THEN 1 ELSE 0 END AS r_dup_5gram,
         CASE WHEN dup_words * 2 <= n_words * 1
              THEN 1 ELSE 0 END AS r_dup_words
  FROM sig
)
SELECT CAST(r_top_2gram AS BIGINT) AS r_top_2gram,
       CAST(r_dup_5gram AS BIGINT) AS r_dup_5gram,
       CAST(r_dup_words AS BIGINT) AS r_dup_words,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(top2_count) AS BIGINT) AS sum_top2,
       CAST(SUM(dup5_count) AS BIGINT) AS sum_dup5,
       CAST(SUM(dup_words) AS BIGINT) AS sum_dup_words
FROM flags
GROUP BY 1, 2, 3
"""


REPETITION_QUERIES = {
    "q195_repetition_rules": q195_repetition_rules,
}

REPETITION_ORACLES = {
    "q195_repetition_rules": Q195_ORACLE,
}
