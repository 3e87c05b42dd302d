"""Subsumption-pruning queries (round 10 continuation): act on the
containment join — drop documents that live (almost) entirely inside a
bigger host, attributing each drop to its best host. q180 FINDS the
asymmetric pairs; this is the curation decision on top of them, the
same find->act pattern as q188 over the symmetric clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

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


def q191_subsumption_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drop-and-attribute over the containment graph: a document is
    SUBSUMED when >=90% of its shingles live inside a host that is
    either strictly larger or — for mutually-containing near-identical
    docs — wins the md5 tiebreak, so exactly one of every mutual pair
    survives and no doc is ever its own host. Each dropped doc is
    attributed to its single BEST host (largest, then md5) — one row
    per drop, the take-down-notice shape. Attribution is one level
    deep by design: if the host is itself subsumed elsewhere, its own
    row says so (chains resolve by following rows, not by an iterative
    job). Cost: the prefix-filtered containment join + one per-doc
    top-1 window over its candidate hosts."""
    from ..operators.containment import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = containment_pairs(
        docs, "doc_id", "text", n=3, threshold_pct=_T_PCT
    )
    hosts = pairs.filter(
        (F.col("size_b") > F.col("size_a"))
        | (
            (F.col("size_b") == F.col("size_a"))
            & (
                F.md5(F.col("id_b").cast("string"))
                < F.md5(F.col("id_a").cast("string"))
            )
        )
    )
    w = Window.partitionBy("id_a").orderBy(
        F.col("size_b").desc(), F.md5(F.col("id_b").cast("string"))
    )
    return (
        hosts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("id_a").alias("doc_id"),
            F.col("id_b").alias("host_id"),
            "common", "size_a", "size_b",
        )
    )


Q191_ORACLE = f"""
WITH {_SH_CTE.strip()},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
          FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle
                     AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
hosts AS (
  SELECT id_a, id_b, common, sa.sz AS size_a, sb.sz AS size_b
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE 100 * common >= {_T_PCT} * sa.sz
    AND (sb.sz > sa.sz
         OR (sb.sz = sa.sz
             AND md5(CAST(id_b AS VARCHAR)) < md5(CAST(id_a AS VARCHAR))))
)
SELECT id_a AS doc_id, id_b AS host_id, common, size_a, size_b
FROM hosts
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY id_a
    ORDER BY size_b DESC, md5(CAST(id_b AS VARCHAR))
) = 1
"""


SUBSUMPTION_QUERIES = {
    "q191_subsumption_pruning": q191_subsumption_pruning,
}

SUBSUMPTION_ORACLES = {
    "q191_subsumption_pruning": Q191_ORACLE,
}
