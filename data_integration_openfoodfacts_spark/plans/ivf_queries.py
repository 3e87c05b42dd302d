"""IVF multi-probe queries (round 10 continuation): the nprobe recall
knob on the inverted-file ANN path (`operators/similarity.py::ivf_topk`
already takes nprobe; q25 pins nprobe=1 — this pins the multi-probe
setting, completing the probe-more-buckets story on the IVF side the
way q186 did for hyperplane LSH).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

_DIM = 64
_NPROBE = 3


def _dot_sql(a: str, b: str, dim: int = _DIM) -> str:
    """Unrolled left-nested dot product (q43-oracle convention; local
    copy for fingerprint isolation)."""
    return "(" + " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    ) + ")"


def q189_ivf_multiprobe_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF top-10 with nprobe=3: the query scans its three nearest
    inverted lists instead of one, trading ~3x the scanned fraction
    for the recall the single-list search loses when the true
    neighbors straddle a Voronoi boundary — the standard IVF recall
    knob, here with the same deterministic fixed centroids as q25 so
    the two gate entries differ ONLY in nprobe. Cost shape unchanged:
    broadcast centroids, one assignment pass, candidate scan bounded
    by the probed lists, TakeOrdered top-k."""
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    return ivf_topk(emb, centroids, query_vec_id=0, k=10, nprobe=_NPROBE)


Q189_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
  WHERE vec_id < 8
),
scored AS MATERIALIZED (
  SELECT e.vec_id, c.centroid_id,
         COALESCE({_dot_sql('e.embedding', 'c.cv')}
         / NULLIF(sqrt({_dot_sql('e.embedding', 'e.embedding')})
            * sqrt({_dot_sql('c.cv', 'c.cv')}), 0.0), -2.0) AS cs
  FROM embeddings e, cents c
),
best AS (
  SELECT vec_id, centroid_id FROM scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY cs DESC, centroid_id ASC) = 1
),
qc AS (
  SELECT centroid_id FROM scored WHERE vec_id = 0
  QUALIFY ROW_NUMBER() OVER (ORDER BY cs DESC, centroid_id ASC)
          <= {_NPROBE}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       {_dot_sql('e.embedding', 'q.qv')}
       / NULLIF(sqrt({_dot_sql('e.embedding', 'e.embedding')})
          * sqrt({_dot_sql('q.qv', 'q.qv')}), 0.0) AS cosine
FROM embeddings e
JOIN best b ON b.vec_id = e.vec_id
JOIN qc ON qc.centroid_id = b.centroid_id, q
WHERE e.vec_id <> 0
ORDER BY cosine DESC, e.vec_id ASC
LIMIT 10
"""


IVF_QUERIES = {
    "q189_ivf_multiprobe_topk": q189_ivf_multiprobe_topk,
}

IVF_ORACLES = {
    "q189_ivf_multiprobe_topk": Q189_ORACLE,
}
