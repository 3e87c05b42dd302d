"""Incremental embedding-ingest queries (round 9, continuation):
`operators/embedding_ingest.py` as a first-class gated query — the
q128 crawl-ingestion pattern on the embedding modality, end-to-end
through a PERSISTED eb-bucketed hyperplane-signature ledger.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

_DIM = 64
# 8 bands of 16 bits: at this corpus size the chance-collision floor
# (0.5^16 per band) is negligible, so collisions mean genuinely
# similar vectors — 20/167 batch vectors collide at sf0.01, 249/667
# at sf0.1 (both legs non-zero: the gate discriminates). The 8x8
# default collided EVERYTHING by chance at n=500 (0.5^8 = 1/256 per
# band x 333 corpus vectors x 8 bands). 128 planes also exercises the
# band-aligned multi-long signature packing (bands_per_long = 4).
_RPB = 16
_NB = 8


def q167_incremental_embedding_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus (vec_id % 3 != 0) hyperplane signatures persist into the
    eb-bucketed ledger; the "next crawl snapshot" (vec_id % 3 == 0)
    then ingests against that parquet ledger — batch signatures in one
    Arrow pass, membership via the pruned broadcast-batch collision
    probe, survivors = vectors colliding with neither the corpus nor a
    lower-id batch vector. Returns the survivors' vec_ids; the oracle
    replays the full trajectory (64 sign bits per vector, 8-bit band
    packing, both collision legs) in SQL, so the gate pins the
    signature arithmetic AND the dedup semantics.

    Production-selective 8x16 banding (see _RPB note), not q43's
    near-random 0.35 fixture — collisions here mean genuinely
    near-duplicate vectors. The temp ledger is deleted before
    returning (survivors' plan reads only the checkpointed collision
    frame and the source parquet)."""
    from ..operators.embedding_ingest import (
        append_embedding_bands,
        embedding_band_signatures,
        incremental_embedding_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    tmp = tempfile.mkdtemp(prefix="q167_ledger_")
    path = f"{tmp}/bands"
    try:
        append_embedding_bands(
            embedding_band_signatures(
                corpus, _DIM, rows_per_band=_RPB, num_bands=_NB
            ),
            path,
            n_buckets=16,
        )
        survivors, _ = incremental_embedding_dedup(
            batch, path, _DIM,
            rows_per_band=_RPB, num_bands=_NB,
            n_buckets=16, append=False,
        )
        # localCheckpoint RETURNS the checkpointed frame — assign it, so
        # the returned plan provably reads only checkpointed blocks and
        # survives the rmtree below without leaning on the operator's
        # internal checkpoint of `collided` (round-10 ADVICE fix).
        out = survivors.select("vec_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _dot_sql(a: str, b: str, dim: int = _DIM) -> str:
    # llm_queries._dot_sql's exact left-nested form (local copy — a
    # cross-module import would couple the two fingerprints): SQL +
    # is left-associative, matching the Spark side's _fold_dots
    # element-order IEEE rounding bit-for-bit.
    return "(" + " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    ) + ")"


def _q167_oracle() -> str:
    from ..operators.similarity import rademacher_hyperplanes

    planes = rademacher_hyperplanes(_RPB * _NB, _DIM)
    rows = ",\n".join(
        f"({p}, [{', '.join(str(v) for v in row)}]::DOUBLE[])"
        for p, row in enumerate(planes)
    )
    return f"""
WITH planes(p, pv) AS (VALUES {rows}),
sig AS (
  SELECT e.vec_id, pl.p // {_RPB} AS band,
         SUM(CASE WHEN {_dot_sql('e.embedding', 'pl.pv')} >= 0
                  THEN 1 ELSE 0 END << (pl.p % {_RPB})) AS s
  FROM embeddings e, planes pl
  GROUP BY 1, 2
),
corpus AS (SELECT * FROM sig WHERE vec_id % 3 <> 0),
batch AS (SELECT * FROM sig WHERE vec_id % 3 = 0),
coll AS (
  SELECT b.vec_id
  FROM batch b JOIN corpus c ON b.band = c.band AND b.s = c.s
  UNION
  SELECT b.vec_id
  FROM batch b JOIN batch b2
    ON b.band = b2.band AND b.s = b2.s AND b2.vec_id < b.vec_id
)
SELECT e.vec_id
FROM embeddings e
LEFT JOIN coll ON coll.vec_id = e.vec_id
WHERE e.vec_id % 3 = 0 AND coll.vec_id IS NULL
"""


EMBEDDING_INGEST_QUERIES = {
    "q167_incremental_embedding_dedup": q167_incremental_embedding_dedup,
}

EMBEDDING_INGEST_ORACLES = {
    "q167_incremental_embedding_dedup": _q167_oracle(),
}
