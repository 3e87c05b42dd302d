"""The persisted MinHash band ledger's collision probe
(similarity_dedup.collision_ids over streaming/corpus_ingest's
bucketed band ledger): bucket pruning and the broadcast-batch join
direction."""

from __future__ import annotations

import pyspark.sql.functions as F


# Texts engineered so batch 2 carries a NEAR duplicate (one word
# changed, not md5-equal) of a batch-1 doc — the case the exact path
# cannot catch.
B1 = [
    (1, "the quick brown fox jumps over the lazy dog tonight"),
    (2, "pack my box with five dozen liquor jugs again today"),
    (3, "sphinx of black quartz judge my vow right now folks"),
]
B2 = [
    (4, "the quick brown fox jumps over the lazy cat tonight"),  # near-dup of 1
    (5, "how vexingly quick daft zebras jump over the fence"),
    (6, "pack my box with five dozen liquor jugs again today"),  # exact dup of 2
]


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_band_ledger_probe_prunes_and_never_moves_ledger(spark, tmp_path):
    """Round-8 band-ledger layout pin (the novelty_ledger recipe): the
    collision probe against a persisted sb-bucketed ledger must show
    (a) PartitionFilters pruning on sb at the ledger FileScan, (b) a
    (band, sig)-only ReadSchema, (c) the ledger never shuffled — the
    only hashpartitioning exchange is the bounded seen-sigs distinct;
    the old direction broadcast the whole index per batch."""
    from data_integration_openfoodfacts_spark.operators.similarity_dedup import (
        collision_ids,
        minhash_band_signatures,
    )
    from data_integration_openfoodfacts_spark.streaming.corpus_ingest import (
        SB_COL,
        append_bands,
        band_bucket,
    )

    bands_path = str(tmp_path / "bands")
    append_bands(
        minhash_band_signatures(_docs(spark, B1), "doc_id", "text"),
        bands_path,
    )
    # probe = a near-dup of doc 1: its buckets exist in the ledger, so
    # the pruned scan survives planning (an all-pruned read would be
    # empty-relation-optimized away and show no FileScan at all)
    new_bands = minhash_band_signatures(
        _docs(spark, [(42, B2[0][1])]), "doc_id", "text"
    ).localCheckpoint(eager=True)
    sbs = [
        r[0]
        for r in new_bands.select(
            band_bucket(F.col("band"), F.col("sig")).alias(SB_COL)
        ).distinct().collect()
    ]
    probe = (
        spark.read.parquet(bands_path)
        .filter(F.col(SB_COL).isin(sbs))
        .select("doc_id", "band", "sig")
    )
    plan = (
        collision_ids(new_bands, probe, "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [sb" in plan, plan
    assert "ReadSchema: struct<band:bigint,sig:string>" in plan, plan
    # exactly one ledger scan, streamed IN PLACE through its LeftSemi
    # probe: no Exchange/Sort sits between the FileScan and its first
    # enclosing join (the bounded post-scan seen-sigs distinct and the
    # batch's ExistingRDD self-join may shuffle; the ledger must not)
    assert plan.count("FileScan parquet") == 1
    lines = plan.splitlines()
    (scan_i,) = [
        i for i, ln in enumerate(lines) if "FileScan parquet" in ln
    ]

    def depth(ln: str) -> int:
        for marker in ("+- ", ":- "):
            if marker in ln:
                return ln.index(marker)
        return -1

    d = depth(lines[scan_i])
    join_seen = False
    for i in range(scan_i - 1, -1, -1):
        di = depth(lines[i])
        if di < 0 or di >= d:
            continue
        d = di
        if "Join" in lines[i]:
            assert "BroadcastHashJoin" in lines[i], lines[i]
            assert "LeftSemi, BuildRight" in lines[i], lines[i]
            join_seen = True
            break
        assert "Exchange" not in lines[i], lines[i]
        assert "Sort" not in lines[i], lines[i]
    assert join_seen, plan
