"""q200: incremental connected-components merge, gated against a
FULL-recompute oracle.

The production shape of near-dup clustering at 100 TB: yesterday's
(doc, component) labels persist; today's tranche contributes only NEW
candidate edges (q128's incremental matcher), and
`operators/graph_incremental.merge_components` folds them in at
new-edge cost. The gate splits the corpus into an "existing" half
(even doc_ids — batch-clustered, the persisted-ledger stand-in) and a
"new" half, feeds ONLY the edges touching new docs to the merge, and
the DuckDB oracle recursively walks the FULL pair graph — the
incremental result must equal the from-scratch clustering exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import connected_components
from ..operators.graph_incremental import merge_components
from ..operators.similarity_dedup import (
    MINHASH_P,
    minhash_lsh_pairs,
    minhash_params,
)
from ..sources.parquet_source import load_table
from .llm_queries import _SHINGLE_CTE


def q200_incremental_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-corpus incremental clustering lifecycle: batch CC over
    the even-doc_id half's LSH pairs builds the persisted labels
    (singletons included — every ledger row is a doc), the odd half
    arrives as the new tranche, and ONLY edges with at least one odd
    endpoint go through `merge_components`. Output: (doc_id,
    component) for the full corpus — hash-equal to the oracle's
    from-scratch recursive walk over ALL pairs, which is the whole
    point: the incremental path may never diverge from the batch
    answer."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_hashes=8, band_size=2
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    is_old = lambda c: F.col(c) % 2 == 0  # noqa: E731
    old_pairs = pairs.filter(is_old("id_a") & is_old("id_b"))
    new_pairs = pairs.filter(~(is_old("id_a") & is_old("id_b")))
    old_docs = docs.filter(is_old("doc_id")).select("doc_id")
    cc_old = connected_components(old_pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    labels_old = (
        old_docs.join(cc_old, "doc_id", "left")
        .withColumn("component", F.coalesce("component", F.col("doc_id")))
        .localCheckpoint(eager=True)  # the persisted-ledger stand-in
    )
    merged = merge_components(
        labels_old, new_pairs,
        node_col="doc_id", comp_col="component", src="id_a", dst="id_b",
    )
    # odd docs with no edge at all never reach the merge: singletons
    return (
        docs.select("doc_id")
        .join(merged, "doc_id", "left")
        .withColumn("component", F.coalesce("component", F.col("doc_id")))
    )


def _q200_oracle() -> str:
    # q151's banded-pair walk, labels only (no split column): the
    # from-scratch clustering the incremental merge must reproduce
    a_c, b_c = minhash_params(8)
    min_cols = ",\n         ".join(
        f"MIN(({a_c[j]} * h0 + {b_c[j]}) % {MINHASH_P}) AS m{j}"
        for j in range(8)
    )
    band_rows = ", ".join(
        f"({k}, m{2 * k} || ',' || m{2 * k + 1})" for k in range(4)
    )
    return f"""
WITH RECURSIVE {_SHINGLE_CTE},
hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
           % {MINHASH_P} AS h0
  FROM sh
),
mins AS (
  SELECT doc_id,
         {min_cols}
  FROM hashed GROUP BY doc_id
),
bands AS (
  SELECT doc_id, CAST(t.band AS BIGINT) AS band, t.sig
  FROM mins, LATERAL (VALUES {band_rows}) t(band, sig)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.sig = b.sig
             AND a.doc_id < b.doc_id
),
sym AS (SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
walk(n, m) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM sym)
  UNION
  SELECT e.s, w.m FROM sym e JOIN walk w ON e.d = w.n
),
comp AS (SELECT n AS doc_id, MIN(m) AS component FROM walk GROUP BY n)
SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


Q200_ORACLE = _q200_oracle()


def q201_component_ledger_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PERSISTED incremental clusterer end to end
    (`operators/component_ledger.py`): tranche 0 (doc_id % 3 == 0)
    batch-clusters into the node-bucketed store, tranche 1's edges
    merge at delta cost (retired components -> the canonical alias
    table), the ledger COMPACTS (aliases applied into the store,
    table cleared), and tranche 2's edges merge on the compacted
    store. Output: resolved (doc_id, component) for the full corpus,
    hash-equal to the same from-scratch recursive walk as q200 —
    through persistence, aliasing and compaction, the incremental
    path may never diverge from batch. (The replay-is-a-no-op
    contract is pytest-pinned in tests/test_component_ledger.py — a
    third in-query merge cycle busted the 15s oracle budget.)"""
    import shutil
    import tempfile
    from functools import partial

    from ..concurrency import overlap
    from ..operators.component_ledger import (
        compact_component_ledger,
        init_component_ledger,
        merge_ledger_components,
        read_component_labels,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_hashes=8, band_size=2
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    tr = lambda c: F.col(c) % 3  # noqa: E731
    arrival = F.greatest(tr("id_a"), tr("id_b"))
    t0_pairs = pairs.filter(arrival == 0)
    t0_docs = docs.filter(tr("doc_id") == 0).select("doc_id")
    cc0 = connected_components(t0_pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    labels0 = (
        t0_docs.join(cc0, "doc_id", "left")
        .withColumn("component", F.coalesce("component", F.col("doc_id")))
    )
    tmp = tempfile.mkdtemp(prefix="q201_ledger_")
    try:
        # the tranche-1/2 delta checkpoints and the tranche-0 seed
        # (batch CC + store init) all derive from the ONE checkpointed
        # pair frame and are mutually independent — overlap them on
        # driver threads (round 14, guide §2.6) instead of running
        # three chains back to back
        t1_pairs, t2_pairs, _ = overlap(
            spark,
            lambda: pairs.filter(arrival == 1).localCheckpoint(eager=True),
            lambda: pairs.filter(arrival == 2).localCheckpoint(eager=True),
            partial(
                init_component_ledger, labels0, tmp,
                n_buckets=8, node_col="doc_id",
            ),
        )
        merge_ledger_components(
            spark, tmp, t1_pairs, src="id_a", dst="id_b"
        )
        compact_component_ledger(spark, tmp)
        merge_ledger_components(
            spark, tmp, t2_pairs, src="id_a", dst="id_b"
        )
        merged = read_component_labels(spark, tmp).select(
            F.col("node").alias("doc_id"), "component"
        )
        out = (
            docs.select("doc_id")
            .join(merged, "doc_id", "left")
            .withColumn(
                "component", F.coalesce("component", F.col("doc_id"))
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


INCREMENTAL_CC_QUERIES = {
    "q200_incremental_components": q200_incremental_components,
    "q201_component_ledger_lifecycle": q201_component_ledger_lifecycle,
}

INCREMENTAL_CC_ORACLES = {
    "q200_incremental_components": Q200_ORACLE,
    # same from-scratch walk: persistence must be invisible in values
    "q201_component_ledger_lifecycle": Q200_ORACLE,
}
