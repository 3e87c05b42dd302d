"""Drift-monitor queries (round 11): snapshot-vs-reference
distribution drift (`operators/drift.py`) — the check a 100 TB ingest
runs BEFORE admitting a new crawl window into the training corpus.

The gated output is deliberately ln-free (measured one-ulp JVM/DuckDB
``ln`` divergence — see the operator docstring); the PSI's log factor
is reader-side over the 10-row profile.

It composes the q134 scorer machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

_NB_CLS = 4096
_BANDS = 10
_CHAR_BAND_WIDTH = 64


def q197_source_drift_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two drift profiles in one result, labeled by metric: the
    classifier-score distribution and the document-length (n_chars)
    distribution of the odd-numbered sources (the "new snapshot")
    against the even-numbered sources (the "reference corpus").
    Columns per (metric, band): raw counts on both sides,
    Laplace-smoothed shares (exact int/int divisions) and their gap —
    everything the reader-side PSI needs, nothing an engine can
    disagree on. Cost: the scorer's one token pass + two banded
    groupBy counts per metric; output 2 x 10 rows regardless of
    corpus size."""
    from ..operators.drift import drift_profile
    from ..operators.quality_classifier import (
        hashed_linear_score,
        synthetic_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("long")
    docs = docs.withColumn("__is_ref", src_num % 2 == 0)

    scored = hashed_linear_score(
        docs, synthetic_weights(spark, _NB_CLS), num_buckets=_NB_CLS
    ).join(docs.select("doc_id", "__is_ref"), "doc_id")
    score_band = F.least(
        F.lit(_BANDS - 1), F.floor(F.col("score") * _BANDS).cast("long")
    )
    score_prof = drift_profile(
        scored.filter(F.col("__is_ref")),
        scored.filter(~F.col("__is_ref")),
        score_band, _BANDS,
    ).select(F.lit("score").alias("metric"), "*")

    len_band = F.least(
        F.lit(_BANDS - 1),
        F.floor(F.col("n_chars") / _CHAR_BAND_WIDTH).cast("long"),
    )
    len_prof = drift_profile(
        docs.filter(F.col("__is_ref")),
        docs.filter(~F.col("__is_ref")),
        len_band, _BANDS,
    ).select(F.lit("n_chars").alias("metric"), "*")

    return score_prof.unionByName(len_prof)


Q197_ORACLE = f"""
WITH src AS (
  SELECT doc_id, n_chars,
         CAST(substring(source, 4) AS BIGINT) % 2 = 0 AS is_ref
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
feats AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT)
           % {_NB_CLS} AS bucket
  FROM toks
),
w AS (
  SELECT i AS bucket,
         CAST(concat('0x', substring(md5('qw' || i), 1, 15)) AS BIGINT)
           % 2001 - 1000 AS w_milli
  FROM range({_NB_CLS}) t(i)
),
agg AS (
  SELECT f.doc_id,
         CAST(SUM(w.w_milli) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM feats f JOIN w USING (bucket)
  GROUP BY 1
),
scored AS (
  SELECT a.doc_id,
         LEAST({_BANDS - 1}, CAST(floor(
           (1.0 / (1.0 + exp(-(CAST(s AS DOUBLE)
              / (CAST(n_tokens AS DOUBLE) * 1000.0))))) * {_BANDS}
         ) AS BIGINT)) AS band,
         src.is_ref
  FROM agg a JOIN src USING (doc_id)
),
lenb AS (
  SELECT doc_id,
         LEAST({_BANDS - 1},
               CAST(floor(CAST(n_chars AS DOUBLE)
                          / {_CHAR_BAND_WIDTH}) AS BIGINT)) AS band,
         is_ref
  FROM src
),
bands AS (SELECT UNNEST(range({_BANDS})) AS band),
prof AS (
  SELECT 'score' AS metric, b.band,
         CAST(COALESCE(SUM(CASE WHEN s.is_ref THEN 1 END), 0)
              AS BIGINT) AS n_ref,
         CAST(COALESCE(SUM(CASE WHEN NOT s.is_ref THEN 1 END), 0)
              AS BIGINT) AS n_cur
  FROM bands b LEFT JOIN scored s ON s.band = b.band
  GROUP BY 1, 2
  UNION ALL
  SELECT 'n_chars' AS metric, b.band,
         CAST(COALESCE(SUM(CASE WHEN l.is_ref THEN 1 END), 0)
              AS BIGINT) AS n_ref,
         CAST(COALESCE(SUM(CASE WHEN NOT l.is_ref THEN 1 END), 0)
              AS BIGINT) AS n_cur
  FROM bands b LEFT JOIN lenb l ON l.band = b.band
  GROUP BY 1, 2
),
tot AS (
  SELECT metric, SUM(n_ref) AS tr, SUM(n_cur) AS tc
  FROM prof GROUP BY 1
)
SELECT p.metric, CAST(p.band AS BIGINT) AS band, p.n_ref, p.n_cur,
       (p.n_ref + 1) / (t.tr + {_BANDS}) AS p_ref,
       (p.n_cur + 1) / (t.tc + {_BANDS}) AS p_cur,
       (p.n_ref + 1) / (t.tr + {_BANDS})
         - (p.n_cur + 1) / (t.tc + {_BANDS}) AS gap
FROM prof p JOIN tot t USING (metric)
"""


DRIFT_QUERIES = {
    "q197_source_drift_monitor": q197_source_drift_monitor,
}

DRIFT_ORACLES = {
    "q197_source_drift_monitor": Q197_ORACLE,
}
