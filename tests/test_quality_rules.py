"""Gopher/C4 rule battery (operators/quality_rules.py) + the
observe-based corpus-pipeline ledger (plans/corpus_pipeline.py).

The ledger test is the round-6 VERDICT #2 "one pass" pin: the counts
the single noop-write execution observed must equal an independent
direct recomputation of every stage (the same shape as the streaming
run-ledger test in test_neardup_ingest.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.quality_rules import (
    rule_pass_filter,
    rule_quality_signals,
)

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_signals_on_crafted_documents(spark):
    good = "the cat sat of the mat and " + " ".join(
        ["word"] * 50
    )  # >= 50 words, stopwords present, all-alpha
    rows = _docs(
        spark,
        [
            (1, good),
            (2, "short text"),  # fails word count
            (3, None),  # NULL text -> all-false, never NULL
            (4, "- one\n- two\n- three\nthe a of and to in " + " ".join(["w"] * 50)),
            (5, "the a trailing line...\nand another one…\nplain\nplain\n" + " ".join(["w"] * 50)),
        ],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in rule_quality_signals(rows).collect()
    }
    assert out[1]["pass_rules"] is True
    assert out[1]["n_words"] == 57
    assert out[1]["n_stopwords"] == 3  # the, of, and
    assert out[2]["r_word_count"] is False and out[2]["pass_rules"] is False
    # NULL text: flags are False, not None
    assert out[3]["pass_rules"] is False
    assert out[3]["n_words"] == 1  # the single empty token, by convention
    # 3 of 4 lines bulleted = 0.75 <= 0.9 -> passes bullet rule
    assert out[4]["n_bullet_lines"] == 3
    assert out[4]["n_lines"] == 4
    assert out[4]["r_bullet"] is True
    # 2 of 5 ellipsis lines = 0.4 > 0.3 -> fails
    assert out[5]["n_ellipsis_lines"] == 2
    assert out[5]["r_ellipsis"] is False


def test_bullet_ratio_rule_fails_bullet_soup(spark):
    soup = "\n".join(f"- {w}" for w in ["the a of and to in item"] * 20)
    out = rule_quality_signals(_docs(spark, [(1, soup)])).collect()[0]
    assert out["n_bullet_lines"] == out["n_lines"] == 20
    assert out["r_bullet"] is False and out["pass_rules"] is False


def test_symbol_ratio_and_mean_word_len(spark):
    symbols = "# # # # # # the a " + " ".join(["w"] * 44)
    out = rule_quality_signals(_docs(spark, [(1, symbols)])).collect()[0]
    assert out["n_symbols"] == 6
    assert out["n_words"] == 52
    assert out["r_symbol_ratio"] is False  # 60 >= 52
    long_words = "the a " + " ".join(["superlongwordhere"] * 50)
    out2 = rule_quality_signals(_docs(spark, [(1, long_words)])).collect()[0]
    assert out2["r_mean_word_len"] is False  # mean ~16 > 10


def test_rule_pass_filter_matches_signals(spark):
    """The one-column predicate and the signal frame agree doc-by-doc
    on real testdata."""
    from data_integration_openfoodfacts_spark.sources.parquet_source import (
        load_table,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    via_signals = {
        r["doc_id"]: r["pass_rules"]
        for r in rule_quality_signals(docs).select(
            "doc_id", "pass_rules"
        ).collect()
    }
    via_filter = {
        r["doc_id"]
        for r in docs.filter(rule_pass_filter("text")).collect()
    }
    assert via_filter == {d for d, p in via_signals.items() if p}
    assert 0 < len(via_filter) < len(via_signals)  # rules actually split


def test_battery_plan_is_narrow(spark):
    """The whole battery rides the scan: no Exchange in the plan."""
    from data_integration_openfoodfacts_spark.sources.parquet_source import (
        load_table,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = (
        rule_quality_signals(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_pipeline_observed_ledger_matches_direct_recomputation(spark):
    """One-pass pin (round-6 VERDICT #2): the ledger counts collected
    via observe during the single noop-write execution equal a direct
    independent recomputation of every stage."""
    from data_integration_openfoodfacts_spark.operators.mixture import (
        domain_cap_and_mix,
    )
    from data_integration_openfoodfacts_spark.operators.quality_classifier import (
        hashed_linear_score,
        synthetic_weights,
    )
    from data_integration_openfoodfacts_spark.operators.similarity_dedup import (
        benchmark_contamination,
        md5_long,
    )
    from data_integration_openfoodfacts_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )
    from data_integration_openfoodfacts_spark.sources.parquet_source import (
        load_table,
    )

    ledger = {
        r["stage"]: r["n_docs"]
        for r in run_corpus_pipeline(spark, SF).collect()
    }

    docs = load_table(spark, SF, "documents")
    s1 = docs.filter(F.col("lang") == "en")
    s2 = s1.filter(rule_pass_filter("text"))
    keep_q = (
        hashed_linear_score(
            s2, synthetic_weights(spark, 4096), num_buckets=4096,
            threshold=0.5,
        )
        .filter(F.col("keep"))
        .select("doc_id")
    )
    s3 = s2.join(keep_q, "doc_id")
    keep_d = (
        s3.groupBy(F.md5("text").alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s4 = s3.join(keep_d, "doc_id")
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    s4b = s4.filter(F.col("doc_id") % 50 != 0)
    cont = benchmark_contamination(
        s4b, benchmark, "doc_id", "text", n=3, min_shared=5
    ).select("doc_id")
    s5 = s4b.join(cont, "doc_id", "left_anti")
    rates = (
        s5.select("source")
        .distinct()
        .select(
            "source",
            (
                F.lit(100)
                + F.pmod(
                    md5_long(F.concat(F.lit("mix"), F.col("source"))),
                    F.lit(9),
                )
                * 100
            ).cast("long").alias("rate_permille"),
        )
    )
    s6 = domain_cap_and_mix(s5, rates, cap=15).filter(F.col("selected"))

    direct = {
        "loaded": docs.count(),
        "lang_en": s1.count(),
        "rule_quality": s2.count(),
        "quality_keep": s3.count(),
        "exact_dedup": s4.count(),
        "decontaminated": s5.count(),
        "domain_mixture": s6.count(),
    }
    assert ledger == direct


def test_token_budget_fill_prefix_property(spark):
    """Per source: selected docs form exactly the draw-ordered prefix
    that fits the budget; the first unselected doc would overflow."""
    from data_integration_openfoodfacts_spark.operators.budget_fill import (
        token_budget_fill,
    )
    from data_integration_openfoodfacts_spark.sources.parquet_source import (
        load_table,
    )

    docs = load_table(spark, SF, "documents")
    # src0/src1: real sources (25 docs x ~50 tokens each, so a
    # 600-token budget both selects a prefix AND cuts); src2 absent
    # from the table -> budget 0
    budgets = spark.createDataFrame(
        [("src0", 600), ("src1", 600)],
        "source string, token_budget long",
    )
    docs = docs.filter(F.col("source").isin("src0", "src1", "src2"))
    out = token_budget_fill(docs, budgets).collect()
    by_src: dict = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    saw_selected = saw_cut = False
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r["cum_tokens"])
        budget = rows[0]["token_budget"]
        running = 0
        cut = False
        for r in rows:
            running += r["n_tokens"]
            assert r["cum_tokens"] == running
            want = running <= budget
            assert r["selected"] == want, (src, r)
            if want:
                saw_selected = True
            else:
                cut = True
        saw_cut = saw_cut or cut
        # sources absent from the budget table -> budget 0, nothing
        # selected
        if src == "src2":
            assert budget == 0 and not any(r["selected"] for r in rows)
    assert saw_selected and saw_cut  # both outcomes exercised


def test_token_budget_fill_single_window_shuffle_and_broadcast(spark):
    from data_integration_openfoodfacts_spark.operators.budget_fill import (
        token_budget_fill,
    )
    from data_integration_openfoodfacts_spark.sources.parquet_source import (
        load_table,
    )

    docs = load_table(spark, SF, "documents")
    budgets = spark.createDataFrame(
        [("web", 1000)], "source string, token_budget long"
    )
    plan = (
        token_budget_fill(docs, budgets)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # two exchanges total: ONE on the docs side (the window partition)
    # and one over the source-sized budgets aggregate (the round-7
    # ADVICE key-dedup guard — bounded by n_sources, never doc-scaled).
    # The docs-side contract is the load-bearing one: exactly one
    # exchange partitioned on the window key __src.
    assert plan.count("Exchange hashpartitioning") == 2
    # the budgets-side exchange feeds the broadcast (grouping expr on
    # the bounded frame); the docs-side one is the window partition
    assert plan.count("Exchange hashpartitioning(_w0") == 1
    assert plan.count("Exchange hashpartitioning(_groupingexpression") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_drop_attribution_reconciles_with_ledger(spark):
    """q161's per-doc attribution counts equal q148's ledger stage
    deltas (benchmark_heldout + decontaminated together make up the
    exact_dedup -> decontaminated delta: the ledger folds the heldout
    slice's exit into that stage; the attribution splits it out)."""
    from data_integration_openfoodfacts_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )
    from data_integration_openfoodfacts_spark.plans.hygiene_queries import (
        q161_drop_attribution,
    )

    ledger = {
        r["stage"]: r["n_docs"]
        for r in run_corpus_pipeline(spark, SF).collect()
    }
    att: dict = {}
    for r in q161_drop_attribution(spark, SF).collect():
        att[r["dropped_at"]] = att.get(r["dropped_at"], 0) + 1
    assert sum(att.values()) == ledger["loaded"]
    assert att.get("lang_en", 0) == ledger["loaded"] - ledger["lang_en"]
    assert att.get("rule_quality", 0) == (
        ledger["lang_en"] - ledger["rule_quality"]
    )
    assert att.get("quality_keep", 0) == (
        ledger["rule_quality"] - ledger["quality_keep"]
    )
    assert att.get("exact_dedup", 0) == (
        ledger["quality_keep"] - ledger["exact_dedup"]
    )
    assert att.get("benchmark_heldout", 0) + att.get(
        "decontaminated", 0
    ) == ledger["exact_dedup"] - ledger["decontaminated"]
    assert att.get("domain_mixture", 0) == (
        ledger["decontaminated"] - ledger["domain_mixture"]
    )
    assert att.get("selected", 0) == ledger["domain_mixture"]


def test_round7_queries_partition_invariant(spark):
    """q158-q161 produce identical rows under different shuffle
    fan-outs (the suite-wide 32-vs-200 invariance claim, pinned in
    pytest for the round-7 additions)."""
    from data_integration_openfoodfacts_spark.plans.hygiene_queries import (
        HYGIENE_QUERIES,
    )

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for n in ("4", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            results[n] = {
                name: canon(fn(spark, SF))
                for name, fn in HYGIENE_QUERIES.items()
            }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for name in HYGIENE_QUERIES:
        assert results["4"][name] == results["17"][name], name
        assert len(results["4"][name]) > 0, name


def test_dataset_card_coherent(spark):
    """tools/dataset_card.py assembles the card from the verified
    queries and the pieces agree: drop-attribution totals sum to the
    loaded count, and 'selected' equals the ledger's final stage."""
    from tools.dataset_card import build_card

    card = build_card(spark, SF)
    ledger = {e["stage"]: e["n_docs"] for e in card["curation"]}
    drops = {e["dropped_at"]: e["n_docs"] for e in card["drop_attribution"]}
    assert sum(drops.values()) == ledger["loaded"]
    assert drops.get("selected", 0) == ledger["domain_mixture"]
    assert sum(e["n_docs"] for e in card["composition"]) == ledger["loaded"]
    assert 0 < len(card["novelty"]) <= 10


def test_token_budget_fill_colliding_null_and_empty_source(spark):
    """A budgets table carrying BOTH a NULL-source and an ''-source row
    coalesces them onto one __src key: the join must see ONE budget row
    (max wins), never fan empty-source documents into duplicates
    (round-7 ADVICE)."""
    from data_integration_openfoodfacts_spark.operators.budget_fill import (
        token_budget_fill,
    )

    docs = spark.createDataFrame(
        [(1, None, "a b c"), (2, "", "d e"), (3, "web", "f g h i")],
        "doc_id long, source string, text string",
    )
    budgets = spark.createDataFrame(
        [(None, 2), ("", 5), ("web", 100)],
        "source string, token_budget long",
    )
    out = token_budget_fill(docs, budgets)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 3  # no fan-out
    # both colliding rows resolve to max(2, 5) = 5
    assert rows[1]["token_budget"] == 5
    assert rows[2]["token_budget"] == 5
