"""Incremental shingle-novelty ledger (operators/novelty.py,
operators/novelty_ledger.py, plans/hygiene_queries.q159) — round-6
VERDICT #1. The reconciliation contract: tranche-incremental totals
equal batch q157 exactly; the persisted, bucket-pruned scorer equals
the in-memory one."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.novelty import (
    doc_shingle_keys,
    empty_ledger,
    tranche_novelty_update,
)
from data_integration_openfoodfacts_spark.operators.novelty_ledger import (
    append_ledger_delta,
    score_shingled_tranche_against_ledger,
)

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_operator_basics_and_duplicate_tranche_scores_zero(spark):
    t1 = _docs(
        spark,
        [
            (1, "a b c d e f g h i"),     # 2 shingles, both novel
            (2, "a b c d e f g h"),       # 1 shingle, dup of doc 1's first
            (3, "x " * 4),                # too short: no row
        ],
    )
    per_doc, new = tranche_novelty_update(t1, empty_ledger(spark))
    got = {r["doc_id"]: (r["n_shingles"], r["n_novel"]) for r in per_doc.collect()}
    assert got == {1: (2, 2), 2: (1, 0)}
    ledger = new
    assert ledger.count() == 2
    # the SAME tranche replayed against the grown ledger: nothing novel
    per2, new2 = tranche_novelty_update(t1, ledger)
    got2 = {r["doc_id"]: (r["n_shingles"], r["n_novel"]) for r in per2.collect()}
    assert got2 == {1: (2, 0), 2: (1, 0)}
    assert new2.count() == 0


def test_q159_reconciles_with_batch_q157(spark):
    """Engine-vs-engine: the incremental ledger query equals the batch
    novelty curve row-for-row (their cross-engine equality is also
    enforced by sharing q157's oracle SQL)."""
    from data_integration_openfoodfacts_spark.plans.curation_queries import (
        q157_novelty_curve,
    )
    from data_integration_openfoodfacts_spark.plans.hygiene_queries import (
        q159_incremental_novelty_ledger,
    )

    batch = {tuple(r) for r in q157_novelty_curve(spark, SF).collect()}
    incr = {
        tuple(r) for r in q159_incremental_novelty_ledger(spark, SF).collect()
    }
    assert incr == batch
    assert len(incr) > 0


def test_partitioned_ledger_equals_in_memory_scorer(spark, tmp_path):
    """The persisted bucket-partitioned scorer
    (operators/novelty_ledger.py) returns exactly the in-memory
    operator's results, tranche by tranche."""
    from data_integration_openfoodfacts_spark.sources.parquet_source import (
        load_table,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    t1 = docs.filter(F.col("doc_id") % 2 == 0)
    t2 = docs.filter(F.col("doc_id") % 2 == 1)

    led_path = str(tmp_path / "ledger")
    mem_ledger = empty_ledger(spark)
    for tranche in (t1, t2):
        pd_mem, nf_mem = tranche_novelty_update(
            tranche, mem_ledger, checkpoint_shingles=True
        )
        pd_part, nf_part = score_shingled_tranche_against_ledger(
            doc_shingle_keys(tranche), led_path
        )
        assert sorted(tuple(r) for r in pd_part.collect()) == sorted(
            tuple(r) for r in pd_mem.collect()
        )
        assert sorted(tuple(r) for r in nf_part.collect()) == sorted(
            tuple(r) for r in nf_mem.collect()
        )
        mem_ledger = mem_ledger.unionByName(
            nf_mem.localCheckpoint(eager=True)
        )
        append_ledger_delta(nf_part, led_path, n_buckets=64)


def test_partitioned_ledger_plan_prunes_and_never_moves_ledger(
    spark, tmp_path
):
    """Round-7 VERDICT #1's done-criterion plan pin. The tranche
    membership probe against the persisted ledger must show, in ONE
    physical plan: (a) PartitionFilters bucket pruning on kb at the
    ledger FileScan, (b) a key-column-only ReadSchema, (c) ZERO
    shuffle exchanges — the ledger is scanned in place with the
    tranche broadcast (LeftSemi BuildRight), and the final anti-join
    broadcasts the bounded seen-set (LeftAnti BuildRight). The
    pre-round-8 shape (tranche left_anti ledger) broadcast the whole
    O(corpus-shingles) ledger instead."""
    from data_integration_openfoodfacts_spark.sources.parquet_source import (
        load_table,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    led_path = str(tmp_path / "ledger")
    firsts = (
        doc_shingle_keys(docs)
        .groupBy("shingle_md5")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    append_ledger_delta(firsts, led_path, n_buckets=256)

    tranche = docs.limit(3).localCheckpoint(eager=True)
    _, new_firsts = score_shingled_tranche_against_ledger(
        doc_shingle_keys(tranche), led_path,
        checkpoint=False,
    )
    plan = new_firsts._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [kb" in plan and "INSET" in plan
    assert "ReadSchema: struct<shingle_md5:string>" in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "LeftSemi, BuildRight" in plan
    assert "LeftAnti, BuildRight" in plan
    # pruning actually bit: a 3-doc tranche touches a strict subset of
    # the 256 buckets, so at least one ledger file was skipped
    from data_integration_openfoodfacts_spark.operators.novelty_ledger import (
        kb_of,
    )

    touched = (
        doc_shingle_keys(tranche)
        .select(kb_of("shingle_md5", 256).alias("kb"))
        .distinct()
        .count()
    )
    assert touched < 256


def test_ledger_compaction_preserves_answers(spark, tmp_path):
    """compact_bucketed rewrites the ledger to one file per bucket
    without changing any scoring result."""
    import glob

    from data_integration_openfoodfacts_spark.operators.bucketed_ledger import (
        compact_bucketed,
    )
    from data_integration_openfoodfacts_spark.operators.novelty_ledger import (
        KB_COL,
        kb_of,
    )

    def score(docs):
        return score_shingled_tranche_against_ledger(
            doc_shingle_keys(docs), led_path
        )

    led_path = str(tmp_path / "ledger")
    batches = [
        _docs(spark, [(1, "a b c d e f g h i"), (2, "j k l m n o p q r")]),
        _docs(spark, [(3, "a b c d e f g h i z"), (4, "s t u v w x y z a")]),
    ]
    for b in batches:
        _, nf = score(b)
        append_ledger_delta(nf, led_path, n_buckets=8)
    probe = _docs(spark, [(9, "a b c d e f g h i"), (10, "q r s t u v w x y")])
    before_pd, before_nf = score(probe)
    before = (
        sorted(tuple(r) for r in before_pd.collect()),
        sorted(tuple(r) for r in before_nf.collect()),
    )
    compact_bucketed(
        spark, led_path, KB_COL, lambda nb: kb_of("shingle_md5", nb), 8
    )
    after_pd, after_nf = score(probe)
    assert before == (
        sorted(tuple(r) for r in after_pd.collect()),
        sorted(tuple(r) for r in after_nf.collect()),
    )
    buckets = glob.glob(f"{led_path}/v*/kb=*")
    assert buckets
    for d in buckets:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d
