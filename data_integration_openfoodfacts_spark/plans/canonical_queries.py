"""Quality-canonical dedup queries (round 10 continuation): keep the
BEST member of each near-dup cluster, not the arbitrary min-id one —
the composition of connected components (q150's clustering) with rank
fusion (q183's scale-free quality ensemble).
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

_T = 0.2


def q188_quality_canonical_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Survivor selection that production dedup actually wants: within
    each near-dup cluster (connected components over the 3-gram
    Jaccard graph at 0.2), keep the member with the BEST fused quality
    rank — Borda over char volume, token count and distinct-token
    count, ranked WITHIN the cluster (each cluster fuses in parallel;
    q150's min-id canonical is the arbitrary-choice baseline this
    replaces). Ties break by the md5 convention. Output labels every
    clustered doc with its cluster, its chosen canonical and whether
    it survives — the attribution shape a dedup audit consumes."""
    from ..operators.graph import connected_components
    from ..operators.rank_fusion import rank_fuse
    from ..operators.similarity_dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=_T
    )
    cc = connected_components(pairs.select("id_a", "id_b"), "id_a", "id_b")
    sig = docs.select(
        "doc_id", "n_chars", F.split("text", " ").alias("__t")
    ).select(
        "doc_id", "n_chars",
        F.size("__t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("__t")).cast("long").alias(
            "n_distinct_tokens"
        ),
    )
    members = cc.join(sig, cc["node"] == sig["doc_id"]).select(
        "doc_id", "component", "n_chars", "n_tokens", "n_distinct_tokens"
    )
    fused = rank_fuse(
        members, "doc_id",
        [("n_chars", True), ("n_tokens", True),
         ("n_distinct_tokens", True)],
        partition_by="component",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("borda").asc(), F.md5(F.col("doc_id").cast("string"))
    )
    # round 13: the canonical is `first(doc_id)` over the quality
    # window — every row's running frame starts at its cluster's
    # rank-1 member, so this IS the old rn==1 doc_id, computed on the
    # partitioning rank_fuse already established (no new shuffle),
    # replacing the old filter(rn=1) self-join whose double-lineage
    # forced an eager checkpoint of the whole pairs->CC->fusion
    # pipeline.
    return (
        fused.withColumn("canonical_id", F.first("doc_id").over(w))
        .select(
            "doc_id", "component", "canonical_id", "borda",
            (F.col("doc_id") == F.col("canonical_id"))
            .cast("long")
            .alias("kept"),
        )
    )


Q188_ORACLE = f"""
WITH RECURSIVE {_SH_CTE.strip()},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= {_T}
),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
walk(n, m) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM sym)
  UNION
  SELECT e.s, w.m FROM sym e JOIN walk w ON e.d = w.n
),
comp AS MATERIALIZED (SELECT n AS doc_id, MIN(m) AS component FROM walk GROUP BY n),
sig AS (
  SELECT doc_id, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
           AS n_distinct_tokens
  FROM documents
),
rk AS MATERIALIZED (
  SELECT c.doc_id, c.component,
         CAST(DENSE_RANK() OVER (PARTITION BY c.component
                                 ORDER BY s.n_chars DESC) AS BIGINT)
         + CAST(DENSE_RANK() OVER (PARTITION BY c.component
                                   ORDER BY s.n_tokens DESC) AS BIGINT)
         + CAST(DENSE_RANK() OVER (PARTITION BY c.component
                                   ORDER BY s.n_distinct_tokens DESC)
                AS BIGINT) AS borda
  FROM comp c JOIN sig s ON s.doc_id = c.doc_id
),
rn AS MATERIALIZED (
  SELECT doc_id, component, borda,
         ROW_NUMBER() OVER (
             PARTITION BY component
             ORDER BY borda ASC, md5(CAST(doc_id AS VARCHAR))
         ) AS r
  FROM rk
),
can AS (SELECT component, doc_id AS canonical_id FROM rn WHERE r = 1)
SELECT rn.doc_id, rn.component, can.canonical_id, rn.borda,
       CAST(CASE WHEN rn.doc_id = can.canonical_id THEN 1 ELSE 0 END
            AS BIGINT) AS kept
FROM rn JOIN can ON can.component = rn.component
"""


CANONICAL_QUERIES = {
    "q188_quality_canonical_dedup": q188_quality_canonical_dedup,
}

CANONICAL_ORACLES = {
    "q188_quality_canonical_dedup": Q188_ORACLE,
}
