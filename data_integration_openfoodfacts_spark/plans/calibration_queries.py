"""Dedup-calibration queries (round 10 continuation): the threshold
calibration profile — how many near-dup pairs (and docs) each Jaccard
band holds, i.e. exactly the marginal-cost curve a pipeline owner
reads before picking a dedup threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

# Local copy of the 3-gram shingle CTE (fingerprint isolation).
_SH_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(t) - 1)) AS i) u
  WHERE len(t) >= 3
)
"""

_FLOOR_T = 0.05  # scan floor: bands below this are noise, not signal
_BANDS = 20      # bucket = (BANDS * common) div union -> 1/BANDS-wide


def q190_dedup_threshold_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The threshold-calibration curve: every 3-gram Jaccard pair at or
    above the scan floor (0.05), banded into 1/20-wide similarity
    buckets — per band, the pair count and the distinct documents
    involved. Reading this histogram IS how a threshold gets chosen
    (where does the marginal band stop adding real duplicates?); this
    corpus shows the classic bimodal shape — a low-similarity haze and
    a near-identical template spike — so the bands between them are
    the safe thresholds. Determinism: the band index is EXACT integer
    division ``(20*common) div union`` (floor of 20*jaccard without
    ever computing the double — a double at a band boundary could
    round across it differently per engine). Cost: one capped pair
    scan + one banded agg + one exploded distinct-doc agg — no CC, no
    iteration."""
    from ..operators.similarity_dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=_FLOOR_T
    ).select(
        "id_a", "id_b",
        F.expr(
            f"({_BANDS} * common) div (size_a + size_b - common)"
        ).cast("long").alias("band"),
    ).localCheckpoint(eager=True)
    per_pair = pairs.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    per_doc = (
        pairs.select("band", F.col("id_a").alias("doc_id"))
        .unionByName(
            pairs.select("band", F.col("id_b").alias("doc_id"))
        )
        .groupBy("band")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    return per_pair.join(per_doc, "band")


Q190_ORACLE = f"""
WITH {_SH_CTE.strip()},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
banded AS MATERIALIZED (
  SELECT id_a, id_b,
         CAST(({_BANDS} * common) // (sa.sz + sb.sz - common)
              AS BIGINT) AS band
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= {_FLOOR_T}
)
SELECT p.band, p.n_pairs, d.n_docs
FROM (
  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM banded GROUP BY band
) p
JOIN (
  SELECT band, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM (
    SELECT band, id_a AS doc_id FROM banded
    UNION ALL
    SELECT band, id_b FROM banded
  ) GROUP BY band
) d ON d.band = p.band
"""


CALIBRATION_QUERIES = {
    "q190_dedup_threshold_profile": q190_dedup_threshold_profile,
}

CALIBRATION_ORACLES = {
    "q190_dedup_threshold_profile": Q190_ORACLE,
}
