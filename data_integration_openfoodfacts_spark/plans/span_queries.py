"""Span-granular exact-substring removal queries (round 9, VERDICT
#7): `operators/substring_dedup.py::remove_duplicate_spans` as a
first-class gated query — the removal half of Lee et al. substring
dedup at TOKEN-SPAN grain (q139 counts the duplicated spans; q140
removes at chunk grain; q166 cuts the exact spans and reassembles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.parquet_source import load_table

_W = 8


def q166_duplicate_span_removal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cut every maximal cross-document duplicated run of >= 8 tokens
    from every document and reassemble the text
    (`substring_dedup.remove_duplicate_spans`). The oracle replays
    the same pipeline in SQL — duplicated-window detection, lag-gap
    interval merge, positional anti-join, ordered reassembly — so the
    gate pins the exact spans AND the rebuilt strings. Invariant
    vs q139: removed_tokens == duplicate_window_stats().dup_tokens
    (same interval union, counted there / cut here; pinned by
    tests/test_substring_dedup.py)."""
    from ..operators.substring_dedup import remove_duplicate_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return remove_duplicate_spans(docs, window=_W)


_WIN_TERMS = " || ' ' || ".join(f"t[i+{k}]" for k in range(1, _W))

Q166_ORACLE = f"""
WITH d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
pos AS (
  SELECT doc_id, i, t[i] AS tok
  FROM d, LATERAL (SELECT UNNEST(range(1, len(t) + 1)) AS i) u
),
wins AS (
  SELECT doc_id, i AS pos, md5(t[i] || ' ' || {_WIN_TERMS}) AS h
  FROM d, LATERAL (SELECT UNNEST(range(1, len(t) - {_W - 2})) AS i) u
  WHERE len(t) >= {_W}
),
dup AS (
  SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
dw AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (h)),
flg AS (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(LAG(pos) OVER (PARTITION BY doc_id
                                                 ORDER BY pos),
                                  -1152921504606846976) + {_W}
              THEN 1 ELSE 0 END AS f
  FROM dw
),
grp AS (
  SELECT doc_id, pos,
         SUM(f) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS g
  FROM flg
),
ivs AS (
  SELECT doc_id, g, MIN(pos) AS s, MAX(pos) + {_W - 1} AS e
  FROM grp GROUP BY 1, 2
),
kept AS (
  SELECT p.doc_id, p.i, p.tok
  FROM pos p
  LEFT JOIN ivs v ON v.doc_id = p.doc_id AND p.i BETWEEN v.s AND v.e
  WHERE v.doc_id IS NULL
),
agg AS (
  SELECT doc_id, COUNT(*) AS kept_n,
         string_agg(tok, ' ' ORDER BY i) AS clean_text
  FROM kept GROUP BY 1
),
nn AS (SELECT doc_id, len(t) AS n_tokens FROM d)
SELECT nn.doc_id,
       CAST(nn.n_tokens AS BIGINT) AS n_tokens,
       CAST(nn.n_tokens - COALESCE(agg.kept_n, 0) AS BIGINT)
         AS removed_tokens,
       COALESCE(agg.clean_text, '') AS clean_text
FROM nn LEFT JOIN agg USING (doc_id)
"""

SPAN_QUERIES = {
    "q166_duplicate_span_removal": q166_duplicate_span_removal,
}

SPAN_ORACLES = {
    "q166_duplicate_span_removal": Q166_ORACLE,
}
