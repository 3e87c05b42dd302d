"""Rank-fusion queries (round 10 continuation): scale-free ensembling
of heterogeneous quality signals (`operators/rank_fusion.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.parquet_source import load_table

_TOP_K = 3


def q183_quality_rank_fusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language quality leaderboard by rank fusion: three
    incompatible-scale signals (char volume, token count, distinct
    token count) are fused by Borda count and fixed-point RRF instead
    of value-averaging, so no signal's units dominate. Ranks are dense
    (ties share a rank — no arbitrary intra-tie order leaks into the
    scores), fusion arithmetic is integer-exact in both engines, and
    the final top-3 per language breaks borda ties with the md5
    convention. Partitioned ranking (per-lang windows) is also the
    100 TB posture — every language sorts in parallel; only a GLOBAL
    dense_rank would funnel through one reducer."""
    from ..operators.rank_fusion import rank_fuse

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.split("text", " ").alias("__t")
    )
    sig = docs.select(
        "doc_id", "lang", "n_chars",
        F.size("__t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("__t")).cast("long").alias(
            "n_distinct_tokens"
        ),
    )
    fused = rank_fuse(
        sig, "doc_id",
        [("n_chars", True), ("n_tokens", True),
         ("n_distinct_tokens", True)],
        partition_by="lang",
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("borda").asc(), F.md5(F.col("doc_id").cast("string"))
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _TOP_K)
        .select("lang", "rank", "doc_id", "borda", "rrf_fp")
    )


Q183_ORACLE = """
WITH sig AS (
  SELECT doc_id, lang, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
           AS n_distinct_tokens
  FROM documents
),
rk AS (
  SELECT doc_id, lang,
         CAST(DENSE_RANK() OVER (PARTITION BY lang
                                 ORDER BY n_chars DESC) AS BIGINT) AS r1,
         CAST(DENSE_RANK() OVER (PARTITION BY lang
                                 ORDER BY n_tokens DESC) AS BIGINT) AS r2,
         CAST(DENSE_RANK() OVER (PARTITION BY lang
                                 ORDER BY n_distinct_tokens DESC)
              AS BIGINT) AS r3
  FROM sig
),
fused AS (
  SELECT doc_id, lang,
         r1 + r2 + r3 AS borda,
         CAST(FLOOR(10000.0 / (60 + r1)) AS BIGINT)
         + CAST(FLOOR(10000.0 / (60 + r2)) AS BIGINT)
         + CAST(FLOOR(10000.0 / (60 + r3)) AS BIGINT) AS rrf_fp
  FROM rk
)
SELECT lang,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY borda ASC, md5(CAST(doc_id AS VARCHAR))
       ) AS BIGINT) AS rank,
       doc_id, borda, rrf_fp
FROM fused
QUALIFY rank <= 3
"""


FUSION_QUERIES = {
    "q183_quality_rank_fusion": q183_quality_rank_fusion,
}

FUSION_ORACLES = {
    "q183_quality_rank_fusion": Q183_ORACLE,
}
