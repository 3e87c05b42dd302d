"""tf-weighted MinHash queries (round 10): the Jaccard-side twin of
q174's tf-weighted SimHash — multiset-faithful near-dup pairs via
integer-weight consistent sampling (`operators/weighted_minhash.py`;
the ICWS float-draw rejection is argued in that module's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

_CAP = 8           # sublinear-tf damping: weights are min(tf, 8)
_NUM_HASHES = 8
_BAND_SIZE = 4     # 2 bands x 4 rows: strict banding for unigram sigs
_MAX_BUCKET = 16   # template buckets die; clusters re-surface elsewhere
_THRESHOLD = 0.7


def q177_weighted_jaccard_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """tf-weighted near-duplicate pairs: capped unigram tf vectors,
    8 replication-expanded min-hashes in 2 bands of 4, bucket-capped
    LSH candidates, exact weighted-Jaccard verify at 0.7. ONE token-tf
    pass feeds both the sketch and the verify (checkpointed — the tf
    table is sketch-independent). The verify ratio is a single IEEE
    division of exact BIGINTs, so the oracle hash-matches it."""
    from ..operators.weighted_minhash import (
        token_tf,
        verify_weighted_jaccard,
        weighted_minhash_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tf = token_tf(docs, "doc_id", "text", cap=_CAP).localCheckpoint(
        eager=True
    )
    cands = weighted_minhash_pairs(
        tf, "doc_id",
        num_hashes=_NUM_HASHES,
        band_size=_BAND_SIZE,
        max_bucket_size=_MAX_BUCKET,
    )
    return verify_weighted_jaccard(tf, cands, "doc_id", _THRESHOLD)


def _q177_oracle() -> str:
    from ..operators.similarity_dedup import MINHASH_P, minhash_params

    a_c, b_c = minhash_params(_NUM_HASHES)
    min_cols = ",\n         ".join(
        f"MIN(({a_c[j]} * h0 + {b_c[j]}) % {MINHASH_P}) AS m{j}"
        for j in range(_NUM_HASHES)
    )
    band_rows = ", ".join(
        "({k}, {sig})".format(
            k=k,
            sig=" || ',' || ".join(
                f"m{k * _BAND_SIZE + i}" for i in range(_BAND_SIZE)
            ),
        )
        for k in range(_NUM_HASHES // _BAND_SIZE)
    )
    return f"""
WITH tf AS (
  SELECT doc_id, u.t AS tok, LEAST(COUNT(*), {_CAP}) AS ctf
  FROM documents, LATERAL (SELECT UNNEST(string_split(text, ' ')) AS t) u
  WHERE u.t <> ''
  GROUP BY doc_id, u.t
),
expanded AS (
  SELECT doc_id, tok, r.j
  FROM tf, LATERAL (SELECT UNNEST(range(ctf)) AS j) r
),
hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(tok || '#' || j), 1, 15))
              AS BIGINT) % {MINHASH_P} AS h0
  FROM expanded
),
mins AS (
  SELECT doc_id,
         {min_cols}
  FROM hashed GROUP BY doc_id
),
bands0 AS (
  SELECT doc_id, CAST(t.band AS BIGINT) AS band, t.sig
  FROM mins, LATERAL (VALUES {band_rows}) t(band, sig)
),
keep AS (
  SELECT band, sig FROM bands0
  GROUP BY band, sig HAVING COUNT(*) <= {_MAX_BUCKET}
),
bands AS (
  SELECT b.* FROM bands0 b JOIN keep k ON k.band = b.band AND k.sig = b.sig
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, CAST(SUM(ctf) AS BIGINT) AS sz FROM tf GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b,
         CAST(SUM(LEAST(ta.ctf, tb.ctf)) AS BIGINT) AS i
  FROM cand c
  JOIN tf ta ON ta.doc_id = c.id_a
  JOIN tf tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) AS w_jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) >= {_THRESHOLD}
"""


Q177_ORACLE = _q177_oracle()


WEIGHTED_MINHASH_QUERIES = {
    "q177_weighted_jaccard_pairs": q177_weighted_jaccard_pairs,
}

WEIGHTED_MINHASH_ORACLES = {
    "q177_weighted_jaccard_pairs": Q177_ORACLE,
}
