"""q203: takedown × component ledger, the round-13 semantics GATED
(VERDICT r12 #8 made the gate query optional; the property tests pin
the mechanics, this pins the DOCUMENTED semantics against SQL).

Retraction removes MEMBERSHIP, not connectivity evidence: docs that
were clustered through a now-retracted doc stay in one component
(the edges existed when clustering ran — C4-style dedup must not
resurrect near-duplicates because the doc that linked them was taken
down), and after `compact_component_ledger(relabel_dangling=True)`
every component's label is its min SURVIVING member. That is exactly
expressible in SQL: the full-corpus recursive walk, minus the
retracted docs, relabelled per component with a window MIN — so the
oracle pins both halves of the contract (partition preserved, label
= min survivor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import connected_components
from ..operators.similarity_dedup import minhash_lsh_pairs
from ..sources.parquet_source import load_table
from .incremental_cc_queries import Q200_ORACLE

_Q200_TAIL = """SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
FROM documents d LEFT JOIN comp c USING (doc_id)"""


def q203_component_ledger_takedown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster the corpus, persist the labels, take down every
    doc_id % 7 == 0 (bucket-pruned membership delete), then
    relabel-compact. Output: (doc_id, component) for the SURVIVING
    docs — components preserved through the takedown, labels
    re-anchored to the min surviving member."""
    import shutil
    import tempfile

    from ..operators.component_ledger import (
        compact_component_ledger,
        init_component_ledger,
        read_component_labels,
        retract_component_nodes,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_hashes=8, band_size=2
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    cc = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    labels = (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .withColumn("component", F.coalesce("component", F.col("doc_id")))
    )
    tmp = tempfile.mkdtemp(prefix="q203_ledger_")
    try:
        init_component_ledger(
            labels, tmp, n_buckets=8, node_col="doc_id"
        )
        retract_component_nodes(
            spark, tmp, docs.filter(F.col("doc_id") % 7 == 0)
            .select(F.col("doc_id").alias("node")),
        )
        compact_component_ledger(spark, tmp, relabel_dangling=True)
        out = (
            read_component_labels(spark, tmp)
            .select(F.col("node").alias("doc_id"), "component")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _q203_oracle() -> str:
    # the q200 full-corpus walk, survivors only, relabelled to the
    # min surviving member per ORIGINAL component — spliced into the
    # walk's final SELECT (WITH RECURSIVE must stay top-level)
    if _Q200_TAIL not in Q200_ORACLE:
        raise AssertionError("q200 oracle tail drifted")
    return Q200_ORACLE.replace(
        _Q200_TAIL,
        "SELECT doc_id,\n"
        "       MIN(doc_id) OVER (PARTITION BY component)"
        " AS component\n"
        "FROM (\n"
        "  SELECT d.doc_id,"
        " COALESCE(c.component, d.doc_id) AS component\n"
        "  FROM documents d LEFT JOIN comp c USING (doc_id)\n"
        "  WHERE d.doc_id % 7 <> 0\n"
        ")",
    )


TAKEDOWN_LEDGER_QUERIES = {
    "q203_component_ledger_takedown": q203_component_ledger_takedown,
}

TAKEDOWN_LEDGER_ORACLES = {
    "q203_component_ledger_takedown": _q203_oracle(),
}
