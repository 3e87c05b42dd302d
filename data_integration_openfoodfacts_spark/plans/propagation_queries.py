"""Label-propagation queries (round 10): semi-supervised expansion of
sparse quality labels through the near-duplicate graph
(`operators/propagation.py`).

The shingle/pair SQL is a local copy of the established 3-gram
recipe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

_SEED_MOD = 7      # doc_id % 7 == 0 carries an audited label
_N_ITERS = 2
_PRIOR = 500_000

_PAIR_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(t) - 1)) AS i) u
  WHERE len(t) >= 3
),
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
  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.2
)
"""


def q172_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-label bootstrapping: audited labels on the doc_id % 7
    seed slice expand 2 hops through the 3-gram Jaccard near-dup graph
    (q150's edge recipe) — near-identical documents inherit their
    audited twin's verdict, everything unreachable keeps the 0.5
    prior. Clamped-seed Jacobi iteration in integer micros; the oracle
    unrolls both rounds (SUM // COUNT floor means), so every
    propagated value hash-matches."""
    from ..operators.propagation import propagate_labels
    from ..operators.similarity_dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    seeds = docs.filter(F.col("doc_id") % _SEED_MOD == 0).select(
        F.col("doc_id").alias("node"),
        ((F.col("doc_id") % 2) * 1_000_000).cast("long").alias(
            "label_micros"
        ),
    )
    out = propagate_labels(
        pairs.select("id_a", "id_b"), seeds, n_iters=_N_ITERS,
        prior_micros=_PRIOR,
    )
    return out.select(
        F.col("node").alias("doc_id"), "label_micros", "is_seed"
    )


Q172_ORACLE = f"""
WITH {_PAIR_CTE.strip()},
sym AS (SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
seeds AS (
  SELECT doc_id AS node,
         CAST((doc_id % 2) * 1000000 AS BIGINT) AS seed_lab
  FROM documents WHERE doc_id % {_SEED_MOD} = 0
),
nodes AS (
  SELECT u AS node FROM sym
  UNION SELECT v FROM sym
  UNION SELECT node FROM seeds
),
st0 AS (
  SELECT n.node, COALESCE(s.seed_lab, {_PRIOR}) AS lab,
         s.seed_lab IS NOT NULL AS seeded
  FROM nodes n LEFT JOIN seeds s ON s.node = n.node
),
m1 AS (
  SELECT e.u AS node, SUM(st.lab) // COUNT(*) AS nbr_mean
  FROM sym e JOIN st0 st ON st.node = e.v GROUP BY e.u
),
st1 AS (
  SELECT st0.node,
         CASE WHEN st0.seeded THEN st0.lab
              ELSE COALESCE(m1.nbr_mean, st0.lab) END AS lab,
         st0.seeded
  FROM st0 LEFT JOIN m1 ON m1.node = st0.node
),
m2 AS (
  SELECT e.u AS node, SUM(st.lab) // COUNT(*) AS nbr_mean
  FROM sym e JOIN st1 st ON st.node = e.v GROUP BY e.u
),
st2 AS (
  SELECT st1.node,
         CASE WHEN st1.seeded THEN st1.lab
              ELSE COALESCE(m2.nbr_mean, st1.lab) END AS lab,
         st1.seeded
  FROM st1 LEFT JOIN m2 ON m2.node = st1.node
)
SELECT node AS doc_id, CAST(lab AS BIGINT) AS label_micros,
       seeded AS is_seed
FROM st2
"""


PROPAGATION_QUERIES = {
    "q172_label_propagation": q172_label_propagation,
}

PROPAGATION_ORACLES = {
    "q172_label_propagation": Q172_ORACLE,
}
