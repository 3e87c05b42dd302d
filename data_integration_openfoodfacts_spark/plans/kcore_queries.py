"""k-core queries (round 10 continuation): dense-subgraph extraction
on the near-dup graph (`operators/kcore.py`).

q82's triangle counts share this module's edge recipe but live in
llm_queries.
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

_K = 2
_T = 0.2
#: oracle unroll depth — the Spark side asserts the peel converged in
#: strictly fewer rounds, so the oracle's extra rounds are no-ops
#: (q172's Jacobi-unroll precedent; measured depth is 2 at both SFs).
_R = 6


def q185_kcore_template_rings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Template-ring extraction: the 2-core of the 3-gram Jaccard
    near-dup graph (threshold 0.2) — documents that remain similar to
    >= 2 others AFTER all fringe peeling cascades, i.e. members of
    mirror/boilerplate RINGS rather than incidental pairs (q82's
    triangle counts score the same phenomenon locally; the core is the
    global fixpoint). Distributed peel: two semi-joins + one degree
    count per round, lineage truncated per round, one driver long per
    round for convergence; the in-query check pins convergence
    strictly inside the oracle's unroll depth so the fixed-depth SQL
    replay is exact."""
    from ..operators.kcore import k_core
    from ..operators.similarity_dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=_T
    ).select("id_a", "id_b")
    core, rounds = k_core(edges, "id_a", "id_b", k=_K)
    if rounds >= _R:
        raise AssertionError(
            f"peel took {rounds} rounds; raise the oracle unroll depth {_R}"
        )
    return core.withColumnRenamed("node", "doc_id")


def _unrolled_peel(rounds: int, k: int) -> str:
    blocks = ["n0 AS MATERIALIZED (SELECT DISTINCT u FROM sym)"]
    for r in range(1, rounds + 1):
        blocks.append(
            f"d{r} AS MATERIALIZED (SELECT s.u, CAST(COUNT(*) AS BIGINT) AS c "
            f"FROM sym s JOIN n{r-1} a ON a.u = s.u "
            f"JOIN n{r-1} b ON b.u = s.v GROUP BY s.u)"
        )
        blocks.append(
            f"n{r} AS MATERIALIZED (SELECT u FROM d{r} WHERE c >= {k})"
        )
    return ",\n".join(blocks)


Q185_ORACLE = f"""
WITH {_SH_CTE.strip()},
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
sym AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
{_unrolled_peel(_R, _K)}
SELECT u AS doc_id, c AS core_degree
FROM d{_R} WHERE c >= {_K}
"""


KCORE_QUERIES = {
    "q185_kcore_template_rings": q185_kcore_template_rings,
}

KCORE_ORACLES = {
    "q185_kcore_template_rings": Q185_ORACLE,
}
