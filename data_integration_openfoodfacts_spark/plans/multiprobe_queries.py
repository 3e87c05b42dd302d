"""Multi-probe LSH queries (round 10 continuation): query-side recall
for embedding retrieval with zero extra index
(`operators/multiprobe.py`).

The single-probe family lives in llm_queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

_DIM = 64
_RPB = 8
_NB = 4
_T = 0.3
_QMOD = 23


def _dot_sql(a: str, b: str, dim: int = _DIM) -> str:
    """Unrolled left-nested dot product — the q43 oracle's bit-exact
    IEEE evaluation order (local copy: fingerprint isolation)."""
    return "(" + " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    ) + ")"


def q186_multiprobe_retrieval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding retrieval with Hamming-1 multi-probe: every 23rd
    vector plays the query workload against the remaining corpus
    index, probing its own (band, sig) bucket PLUS the 8 one-bit-flip
    buckets per band — 4x(1+8) probes per query buying ~6x the
    verified recall of single-probe at this banding (27 vs 4 pairs at
    sf0.01) with ZERO extra index: the corpus side is tagged exactly
    once, identically to single-probe LSH, and only the (small) query
    side explodes. Verified with the engine's standard exact cosine
    (>= 0.3); the oracle replays hyperplanes, packed signatures, bit
    flips and the verify bit-for-bit."""
    from ..operators.multiprobe import multiprobe_align

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % _QMOD == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = emb.filter(F.col("vec_id") % _QMOD != 0).select(
        F.col("vec_id").alias("c_id"), "embedding"
    )
    return multiprobe_align(
        q, c, _DIM, _T,
        rows_per_band=_RPB, num_bands=_NB,
    )


def _q186_oracle() -> str:
    from ..operators.similarity import rademacher_hyperplanes

    planes = rademacher_hyperplanes(_RPB * _NB, _DIM)
    rows = ",\n".join(
        f"({p}, {p // _RPB}, [{', '.join(str(v) for v in row)}]::DOUBLE[])"
        for p, row in enumerate(planes)
    )
    flips = ", ".join(["(-1)"] + [f"({i})" for i in range(_RPB)])
    cos = (
        f"{_dot_sql('a.embedding', 'b.embedding')}"
        " / NULLIF(a.nrm * b.nrm, 0.0)"
    )
    return f"""
WITH planes(p, band, pv) AS (VALUES {rows}),
bits AS MATERIALIZED (
  SELECT e.vec_id, pl.p, pl.band,
         CASE WHEN {_dot_sql('e.embedding', 'pl.pv')} >= 0
              THEN 1 ELSE 0 END AS bit
  FROM embeddings e, planes pl
),
sig AS MATERIALIZED (
  SELECT vec_id, band, SUM(bit << (p % {_RPB})) AS sig
  FROM bits GROUP BY vec_id, band
),
flips(f) AS (VALUES {flips}),
qprobe AS (
  SELECT s.vec_id, s.band,
         CASE WHEN fl.f < 0 THEN s.sig
              ELSE xor(s.sig, CAST(1 << fl.f AS BIGINT)) END AS sig
  FROM sig s CROSS JOIN flips fl
  WHERE s.vec_id % {_QMOD} = 0
),
cand AS (
  SELECT DISTINCT qp.vec_id AS q_id, cs.vec_id AS c_id
  FROM qprobe qp
  JOIN sig cs ON cs.band = qp.band AND cs.sig = qp.sig
  WHERE cs.vec_id % {_QMOD} <> 0
),
emb AS MATERIALIZED (
  SELECT vec_id, embedding,
         sqrt({_dot_sql('e.embedding', 'e.embedding')}) AS nrm
  FROM embeddings e
)
SELECT q_id, c_id, cosine FROM (
  SELECT c.q_id, c.c_id, {cos} AS cosine
  FROM cand c
  JOIN emb a ON a.vec_id = c.q_id
  JOIN emb b ON b.vec_id = c.c_id
)
WHERE cosine >= {_T}
"""


Q186_ORACLE = _q186_oracle()


MULTIPROBE_QUERIES = {
    "q186_multiprobe_retrieval": q186_multiprobe_retrieval,
}

MULTIPROBE_ORACLES = {
    "q186_multiprobe_retrieval": Q186_ORACLE,
}
