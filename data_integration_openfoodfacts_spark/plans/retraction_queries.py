"""Retraction queries (round 10): the takedown path
(`operators/retraction.py`) gated end-to-end through the persisted
novelty ledger.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

_TAKEDOWN_MOD = 11  # docs with doc_id % 11 == 0 get retracted


def q175_ledger_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten through the persisted shingle ledger,
    end-to-end: the corpus seeds the kb-bucketed ledger, every key
    ATTRIBUTED to a takedown doc (first_doc % 11 == 0) is retracted —
    rewriting only the touched buckets — and the SAME corpus re-scores
    against the post-takedown ledger. A forgotten doc's shingles score
    novel again (attributed back to their global first owner, which IS
    the takedown doc on an identical corpus); every shingle first
    owned by a surviving doc stays ledgered and scores zero. The
    oracle replays that fixed point in pure SQL — per-doc novelty
    equals the doc's first-owned-shingle count for takedown docs and
    zero otherwise — so the gate pins the retraction's exact semantics
    without seeing the filesystem. Results are checkpointed before the
    temp ledger dies."""
    from ..operators.novelty import doc_shingle_keys
    from ..operators.novelty_ledger import (
        append_ledger_delta,
        read_ledger,
        score_shingled_tranche_against_ledger,
    )
    from ..operators.retraction import retract_from_novelty_ledger

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE shingle pass feeds both the seed and the re-score (q163's
    # gate-wall trim — shingling is ledger-independent)
    sh = doc_shingle_keys(docs, "doc_id", "text", n=8).localCheckpoint(
        eager=True
    )
    tmp = tempfile.mkdtemp(prefix="q175_ledger_")
    path = f"{tmp}/ledger"
    try:
        _, new_firsts = score_shingled_tranche_against_ledger(sh, path)
        append_ledger_delta(new_firsts, path, n_buckets=16)
        takedown_keys = (
            read_ledger(spark, path)
            .filter(F.col("first_doc") % _TAKEDOWN_MOD == 0)
            .select("shingle_md5")
            .localCheckpoint(eager=True)
        )
        retract_from_novelty_ledger(spark, path, takedown_keys)
        per_doc, _ = score_shingled_tranche_against_ledger(sh, path)
        out = per_doc.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# the post-takedown fixed point in pure SQL (8-gram recipe:
# curation_queries._SHINGLE8_CTE's local copy — cross-module imports
# couple fingerprints)
Q175_ORACLE = f"""
WITH toks8 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh8 AS (
  SELECT DISTINCT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
         t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS shingle
  FROM toks8, LATERAL (SELECT UNNEST(range(1, len(t) - 6)) AS i) u
  WHERE len(t) >= 8
),
firsts AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh8 GROUP BY shingle)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id
                      AND f.first_doc % {_TAKEDOWN_MOD} = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
FROM sh8 s JOIN firsts f USING (shingle)
GROUP BY s.doc_id
"""


RETRACTION_QUERIES = {
    "q175_ledger_retraction": q175_ledger_retraction,
}

RETRACTION_ORACLES = {
    "q175_ledger_retraction": Q175_ORACLE,
}
