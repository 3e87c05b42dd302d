"""q202: near-dup ingestion wired into the persisted component ledger
end to end (round 13, VERDICT r12 #4).

The missing composition: q128's incremental matcher produces per-batch
collision evidence, q201's component ledger consumes edge deltas — but
no gated query ran the WHOLE ingest loop. This one does, tranche by
tranche, exactly the 100 TB crawl shape:

  batch band signatures  ->  bucket-pruned band-ledger probe
    ->  collision STAR edges (`operators/collision_edges.py`)
    ->  `merge_ledger_components` (delta-cost persisted merge)
    ->  append the batch's signatures to the band ledger

with the batch's own docs registered through self-edges (every doc is
an endpoint, so singletons land in the ledger too). The oracle is the
same from-scratch recursive walk as q200/q201 over ALL banded pairs —
the induction the star edges rely on ("every (band, sig) group is
connected through its minimum because earlier tranches connected it
when they arrived") is exactly what the full-corpus comparison pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.collision_edges import collision_star_edges
from ..operators.similarity_dedup import minhash_band_signatures
from ..sources.parquet_source import load_table
from .incremental_cc_queries import Q200_ORACLE


def q202_neardup_ingest_component_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Three doc_id%3 tranches stream through the ingest loop above:
    tranches 0 and 1 seed the component ledger through the IN-MEMORY
    merge (`merge_components` — same star-edge path, no store
    round-trip yet), tranche 2 runs the PERSISTED loop end to end:
    pruned band-ledger probe, star edges, `merge_ledger_components`
    at delta cost, signature append. Output: (doc_id, component,
    is_canonical) for the full corpus — component labels hash-equal
    to the from-scratch walk over all banded pairs, and is_canonical
    marks the min-id survivor each cluster keeps."""
    import shutil
    import tempfile
    from functools import partial

    from ..concurrency import overlap
    from ..operators.bucketed_ledger import (
        prune_to_buckets,
        read_bucketed,
        touched_buckets,
    )
    from ..operators.component_ledger import (
        init_component_ledger,
        merge_ledger_components,
        read_component_labels,
    )
    from ..streaming.corpus_ingest import (
        SB_COL,
        _sb_of_buckets,
        append_bands,
    )
    from ..functions.localframe import local_rows_df

    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="q202_ledger_")
    comp_path = f"{tmp}/components"
    bands_path = f"{tmp}/bands"

    # ONE signature pass feeds all three tranches (round 13
    # optimization, the q178/q179 precedent: a MinHash signature is a
    # per-document function — independent of both the ledger state and
    # the rest of the batch — so hoisting it is value-invisible; the
    # per-tranche PROBE/append loop below is unchanged). Before the
    # hoist each tranche re-ran shingle+md5+groupBy over its third of
    # the corpus: 3 scan+shuffle jobs -> 1.
    all_bands = minhash_band_signatures(
        docs.select("doc_id", "text"),
        "doc_id", "text", n=3, num_hashes=8, band_size=2,
    ).localCheckpoint(eager=True)

    def _tranche(t: int):
        batch = docs.filter(F.col("doc_id") % 3 == t).select("doc_id")
        new_bands = all_bands.filter(F.col("doc_id") % 3 == t)
        ledger, sb_eff = read_bucketed(spark, bands_path)
        if ledger is None:
            ledger = local_rows_df(
                spark, [], "doc_id long, band long, sig string"
            )
        else:
            sbs = touched_buckets(new_bands, _sb_of_buckets, sb_eff)
            ledger = prune_to_buckets(ledger, SB_COL, sbs)
        edges = collision_star_edges(
            new_bands, ledger.select("doc_id", "band", "sig")
        )
        # self-edges register every batch doc as a merge endpoint, so
        # shingle-less docs still get (singleton) ledger rows
        self_edges = batch.select(
            F.col("doc_id").alias("u"), F.col("doc_id").alias("v")
        )
        return new_bands, edges.unionByName(self_edges)

    try:
        # tranches 0 and 1 run the INGEST half of the loop (signatures,
        # pruned band-ledger probe, star edges, band append) and fold
        # their edges through ONE in-memory batch CC seeding the
        # component store (round 14: `connected_components`' hybrid IS
        # the driver union-find the old merge-over-empty-labels took —
        # identical min-id labels, self-edge singletons included —
        # minus that path's per-merge checkpoint/count actions; edge
        # generation depends only on the BAND ledger, so deferring the
        # component-store seed costs nothing and keeps the query
        # inside the oracle budget).
        bands0, edges0 = _tranche(0)
        append_bands(bands0, bands_path, n_buckets=8)
        bands1, edges1 = _tranche(1)

        def _seed_components() -> None:
            # edges0/edges1's band-ledger scans froze their file
            # listing when `_tranche` built them (pre-bands1-append),
            # so materializing them here reads exactly the pre-append
            # state the sequential order read
            init_component_ledger(
                connected_components(
                    edges0.unionByName(edges1), "u", "v"
                ).select(
                    F.col("node").alias("doc_id"), "component"
                ),
                comp_path, n_buckets=8, node_col="doc_id",
            )

        # guide §2.6: the tranche-1 band append and the component-store
        # seed touch DIFFERENT stores (each with its one writer) — two
        # independent action chains, overlapped on the driver
        overlap(
            spark,
            partial(append_bands, bands1, bands_path, n_buckets=8),
            _seed_components,
        )
        # tranche 2 exercises the PERSISTED loop end to end: pruned
        # band probe, star edges, delta-cost component merge
        # (retirements -> the canonical alias table), band append —
        # the merge and the band append are again independent stores,
        # overlapped (VERDICT r13 #1 named exactly this pair)
        bands2, edges2 = _tranche(2)
        overlap(
            spark,
            partial(merge_ledger_components, spark, comp_path, edges2),
            partial(append_bands, bands2, bands_path, n_buckets=8),
        )
        merged = read_component_labels(spark, comp_path).select(
            F.col("node").alias("doc_id"), "component"
        )
        out = (
            docs.select("doc_id")
            .join(merged, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("component", F.col("doc_id")).alias(
                    "component"
                ),
            )
            .withColumn(
                "is_canonical", F.col("component") == F.col("doc_id")
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


_Q200_TAIL = """SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
FROM documents d LEFT JOIN comp c USING (doc_id)"""


def _q202_oracle() -> str:
    # the q200 walk plus the canonical flag — persistence, star edges
    # and tranche ordering must be value-invisible. Spliced into the
    # walk's final SELECT (not nested as a CTE: the walk is WITH
    # RECURSIVE and splicing keeps it top-level).
    if _Q200_TAIL not in Q200_ORACLE:
        raise AssertionError("q200 oracle tail drifted")
    return Q200_ORACLE.replace(
        _Q200_TAIL,
        "SELECT d.doc_id,"
        " COALESCE(c.component, d.doc_id) AS component,\n"
        "       COALESCE(c.component, d.doc_id) = d.doc_id"
        " AS is_canonical\n"
        "FROM documents d LEFT JOIN comp c USING (doc_id)",
    )


NEARDUP_LEDGER_QUERIES = {
    "q202_neardup_ingest_component_lifecycle": (
        q202_neardup_ingest_component_lifecycle
    ),
}

NEARDUP_LEDGER_ORACLES = {
    "q202_neardup_ingest_component_lifecycle": _q202_oracle(),
}
