"""Persisted-ledger queries (round 8): the key-bucket-partitioned
novelty ledger (`operators/novelty_ledger.py`) exercised end-to-end —
write, prune, score, append — as a first-class gated query.

Reference-parity note: the reference (Sevlac/data-integration-
openfoodfacts) has no novelty machinery — this extends the engine
along the LLM-training-data axis the build brief calls for.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table


def q163_partitioned_novelty_ledger(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot-vs-corpus novelty through the PERSISTED
    bucket-partitioned ledger (`operators/novelty_ledger.py`, round-7
    VERDICT #1), end-to-end: the corpus (the lower-doc_id half)
    scores against an EMPTY ledger and
    appends its first-occurrences under their key buckets; the
    "next crawl snapshot" (upper half) then scores against that
    parquet ledger — its membership scan prunes to the snapshot's
    touched buckets (PartitionFilters) with the snapshot's keys
    broadcast. The full write/prune/score/append loop a production
    crawl pays, not q159's in-session shortcut; the 10-round decile
    form of the same persisted path is exercised (and reconciled
    against the batch curve) by tests/test_novelty.py's streaming
    drain, which shares this module's operator.

    Oracle: the batch novelty curve over doc_id HALVES — passing the
    gate IS the persisted-incremental-equals-batch reconciliation.

    Determinism/cleanup: every tranche's totals are eagerly
    checkpointed, so the returned frame reads block-manager state,
    never the temp ledger — which is deleted before returning.
    Gate-scale bucket count 16 (the layout is what the query pins;
    production sizes B as ledger_bytes / bucket_bytes — the
    operators/novelty_ledger.py sizing rule).

    Gate-wall trims (round-9 VERDICT #2, 14.4s -> ~7s at sf0.1):
    both tranches' shingles come from ONE shingle pass over the corpus
    (checkpointed with a tranche tag; shingling is
    tranche-independent, so this changes no semantics — the persisted
    prune/probe/append loop per tranche is untouched), and the totals
    are aggregated DIRECTLY from the shingle frame + the checkpointed
    new-firsts (n_novel is by construction the new-firsts row count)
    instead of materializing the per-doc breakdown first."""
    from ..operators.novelty import doc_shingle_keys
    from ..operators.novelty_ledger import (
        append_ledger_delta,
        score_shingled_tranche_against_ledger,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = docs.agg(F.max("doc_id")).first()[0]
    sh_all = (
        doc_shingle_keys(docs, "doc_id", "text", n=8)
        .withColumn(
            "tranche",
            F.floor(F.col("doc_id") * 2 / (hi + 1)).cast("int"),
        )
        .localCheckpoint(eager=True)
    )
    tmp = tempfile.mkdtemp(prefix="q163_ledger_")
    ledger_path = f"{tmp}/ledger"
    try:
        parts = []
        for t in range(2):
            sh = sh_all.filter(F.col("tranche") == t).select(
                "doc_id", "shingle_md5"
            )
            _, new_firsts = score_shingled_tranche_against_ledger(
                sh, ledger_path
            )
            # totals ride the checkpointed frames; collect happens
            # after the temp ledger is gone
            parts.append(
                sh.agg(
                    F.countDistinct("doc_id").alias("n_docs"),
                    F.count(F.lit(1)).alias("n_shingles"),
                )
                .crossJoin(
                    new_firsts.agg(F.count(F.lit(1)).alias("n_novel"))
                )
                .select(F.lit(t).cast("long").alias("tranche"), "*")
                .localCheckpoint(eager=True)
            )
            append_ledger_delta(new_firsts, ledger_path, n_buckets=16)
        out = parts[0].unionByName(parts[1])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # a half whose docs are all too short to shingle emits no per_doc
    # rows — and no row in the batch oracle either
    return out.filter(F.col("n_docs") > 0).select(
        "tranche",
        "n_docs",
        "n_shingles",
        "n_novel",
        (
            F.col("n_novel").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("novelty_rate"),
    )


# reconciliation contract: the batch novelty curve over halves —
# q157's oracle SQL with the decile split swapped for halves
from .curation_queries import _SHINGLE8_CTE  # noqa: E402

Q163_ORACLE = f"""
WITH {_SHINGLE8_CTE},
firsts AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh8 GROUP BY shingle),
per_doc AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_sh,
         CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
           AS BIGINT) AS n_novel
  FROM sh8 s JOIN firsts f USING (shingle)
  GROUP BY s.doc_id
),
hi AS (SELECT MAX(doc_id) AS max_id FROM documents)
SELECT CAST(FLOOR(p.doc_id * 2.0 / (h.max_id + 1)) AS BIGINT) AS tranche,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
       CAST(SUM(n_novel) AS BIGINT) AS n_novel,
       CAST(SUM(n_novel) AS DOUBLE) / CAST(SUM(n_sh) AS DOUBLE)
         AS novelty_rate
FROM per_doc p CROSS JOIN hi h
GROUP BY 1
"""

LEDGER_QUERIES = {
    "q163_partitioned_novelty_ledger": q163_partitioned_novelty_ledger,
}

LEDGER_ORACLES = {
    "q163_partitioned_novelty_ledger": Q163_ORACLE,
}
