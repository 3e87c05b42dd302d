"""Phrase-search queries (round 10 continuation): positional exact
phrase retrieval (`operators/phrase_search.py`).

BM25 keyword search (q96) lives in llm_queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.parquet_source import load_table

_PHRASES = ["table scan", "hash join", "sort merge"]
_K = 10


def q187_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-query retrieval over the corpus: top-10 documents for
    each of three fixed two-word phrases, ranked by exact phrase term
    frequency (adjacent whitespace tokens, in order) with the md5
    unique tiebreak, plus the first hit position — the audit shape for
    boilerplate sentences and exact prompt-contamination strings. All
    three phrases are matched in ONE narrow pass over the corpus (no
    explode-join, no UDF — token-wise JVM expression matching); only
    the per-phrase top-k and the toy-input repartition shuffle."""
    from ..operators.phrase_search import phrase_topk

    docs = load_table(spark, sf_dir, "documents")
    # testdata is one small parquet file -> one scan partition, which
    # would serialize the (interpreted-HOF) match; a 100 TB corpus has
    # scan parallelism for free (measured 6.8s -> 1.9s at sf0.1)
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return phrase_topk(docs, "doc_id", "text", _PHRASES, _K)


def _phrase_block(phrase: str) -> str:
    # DuckDB range(lo, hi) is stop-EXCLUSIVE: starts 1..len(t)-n+1
    # need hi = len(t) - (n - 2); len(t)-(n-1) would drop hits that end
    # at the last token (Spark's F.sequence is stop-inclusive).
    n = len(phrase.split(" "))
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n)).replace(
        "t[i+0]", "t[i]"
    )
    sq = phrase.replace("'", "''")
    return f"""
SELECT '{sq}' AS phrase, doc_id,
       CAST(COUNT(*) AS BIGINT) AS tf,
       CAST(MIN(i) AS BIGINT) AS first_pos
FROM toks, LATERAL (SELECT UNNEST(range(1, len(t) - {n - 2})) AS i) u
WHERE len(t) >= {n} AND {gram} = '{sq}'
GROUP BY doc_id
"""


Q187_ORACLE = (
    """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents),
hits AS (
"""
    + "\nUNION ALL\n".join(_phrase_block(p) for p in _PHRASES)
    + f"""
)
SELECT phrase,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY phrase
           ORDER BY tf DESC, md5(CAST(doc_id AS VARCHAR))
       ) AS BIGINT) AS rank,
       doc_id, tf, first_pos
FROM hits
QUALIFY rank <= {_K}
"""
)


PHRASE_QUERIES = {
    "q187_phrase_search": q187_phrase_search,
}

PHRASE_ORACLES = {
    "q187_phrase_search": Q187_ORACLE,
}
