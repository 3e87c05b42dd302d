"""Containment-join queries (round 10 continuation): asymmetric
"A inside B" near-dup detection (`operators/containment.py`) — the
subsumption case the symmetric Jaccard family (q18/q19/q85) cannot
see, because a short doc quoted inside a long one has low Jaccard and
LSH band collisions track Jaccard, not containment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

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

_T_PCT = 90


def q180_containment_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Subsumption attribution: every ordered document pair where >=90%
    of the contained side's 3-gram shingles also appear in the host —
    quote-expansion / wrapper-page duplicates that keep low Jaccard.
    Prefix-filtered with the asymmetric bound (only the contained
    side's rare-first prefix enters the candidate join; the host side
    is length-filtered postings), exact pair-bounded verify, recall 1.0
    by construction (no posting cap here — the oracle is the exhaustive
    exact join, so the screen must be provably invisible)."""
    from ..operators.containment import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(
        docs, "doc_id", "text", n=3, threshold_pct=_T_PCT
    )


Q180_ORACLE = f"""
WITH {_SH_CTE.strip()},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
          FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle
                     AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, common, sa.sz AS size_a, sb.sz AS size_b,
       CAST(common AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE 100 * common >= {_T_PCT} * sa.sz
"""


CONTAINMENT_QUERIES = {
    "q180_containment_pairs": q180_containment_pairs,
}

CONTAINMENT_ORACLES = {
    "q180_containment_pairs": Q180_ORACLE,
}
