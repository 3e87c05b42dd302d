"""Domain cap + mixture sampling (operators/mixture.py) — cap
semantics, rate fallback, determinism, plan shape. Cross-engine
exactness pinned by q145's DuckDB oracle."""

from __future__ import annotations

import pyspark.sql.functions as F

from data_integration_openfoodfacts_spark.operators.mixture import (
    domain_cap_and_mix,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string")


def _rates(spark, pairs):
    return spark.createDataFrame(
        pairs, "source string, rate_permille long"
    )


def test_cap_limits_each_domain_and_keeps_all_rows(spark):
    docs = _docs(
        spark,
        [(i, "big") for i in range(30)] + [(100 + i, "small") for i in range(3)],
    )
    out = domain_cap_and_mix(
        docs, _rates(spark, [("big", 1000), ("small", 1000)]), cap=10
    ).collect()
    assert len(out) == 33  # audit trail: every input row present
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["source"], []).append(r)
    assert sum(r["kept_cap"] for r in by_dom["big"]) == 10
    assert sum(r["kept_cap"] for r in by_dom["small"]) == 3
    # ranks are 1..n within each domain, no gaps
    assert sorted(r["domain_rank"] for r in by_dom["big"]) == list(range(1, 31))
    # rate 1000 -> every cap survivor selected
    for r in out:
        assert r["selected"] == r["kept_cap"]


def test_unknown_domain_falls_back_to_default_rate(spark):
    docs = _docs(spark, [(1, "known"), (2, "mystery")])
    out = {
        r["doc_id"]: r
        for r in domain_cap_and_mix(
            docs, _rates(spark, [("known", 700)]), cap=5, default_rate=250
        ).collect()
    }
    assert out[1]["rate_permille"] == 700
    assert out[2]["rate_permille"] == 250


def test_capped_subset_is_deterministic_and_layout_independent(spark):
    docs = _docs(spark, [(i, f"s{i % 3}") for i in range(200)])
    rates = _rates(spark, [(f"s{j}", 1000) for j in range(3)])

    def survivors(df):
        return sorted(
            r["doc_id"]
            for r in domain_cap_and_mix(df, rates, cap=20).collect()
            if r["kept_cap"]
        )

    a = survivors(docs)
    b = survivors(docs.repartition(17))  # different physical layout
    assert a == b
    assert len(a) == 60


def test_rate_zero_selects_nothing_cap_still_ranked(spark):
    docs = _docs(spark, [(i, "d") for i in range(10)])
    out = domain_cap_and_mix(
        docs, _rates(spark, [("d", 0)]), cap=5
    ).collect()
    assert not any(r["selected"] for r in out)
    assert sum(r["kept_cap"] for r in out) == 5


def test_plan_single_window_shuffle_broadcast_rates(spark):
    docs = _docs(spark, [(i, f"s{i % 4}") for i in range(40)])
    rates = _rates(spark, [(f"s{j}", 500) for j in range(4)])
    plan = (
        domain_cap_and_mix(docs, rates, cap=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan  # rates never shuffle the corpus
    assert plan.count("Exchange hashpartitioning(source") == 1


def test_null_domain_rows_kept_with_default_rate(spark):
    """A NULL source must not vanish: it ranks within the NULL
    partition and falls back to default_rate (the q145 oracle mirrors
    this with LEFT JOIN + COALESCE — round-6 review finding)."""
    docs = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "doc_id long, source string"
    )
    out = {
        r["doc_id"]: r
        for r in domain_cap_and_mix(
            docs, _rates(spark, [("a", 700)]), cap=10, default_rate=250
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[2]["rate_permille"] == 250
    assert out[3]["rate_permille"] == 250
    assert sorted(
        (out[i]["domain_rank"] for i in (2, 3))
    ) == [1, 2]  # NULLs rank together as one domain


def test_corpus_pipeline_ledger_monotone(spark):
    """The curation ledger shrinks (or holds) at every stage and ends
    non-empty at sf0.001; stage names/order are the dataset-card
    contract."""
    from data_integration_openfoodfacts_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )

    rows = run_corpus_pipeline(spark, "/root/testdata/sf0.001").collect()
    assert [r["stage"] for r in rows] == [
        "loaded", "lang_en", "rule_quality", "quality_keep",
        "exact_dedup", "decontaminated", "domain_mixture",
    ]
    counts = [r["n_docs"] for r in rows]
    assert all(a >= b for a, b in zip(counts, counts[1:])), counts
    assert counts[0] > 0 and counts[-1] > 0
    assert counts[-1] < counts[0]  # the pipeline actually curates


def test_temperature_rates_alpha_half_semantics(spark):
    """rate ~ 1/sqrt(count): the smallest domain keeps 1000 permille;
    a domain 4x larger keeps ~half; monotone non-increasing in size."""
    from data_integration_openfoodfacts_spark.operators.mixture import (
        temperature_rates,
    )

    docs = spark.createDataFrame(
        [(i, "small") for i in range(10)]
        + [(100 + i, "mid") for i in range(40)]
        + [(1000 + i, "big") for i in range(90)],
        "doc_id long, source string",
    )
    rates = {
        r["source"]: r for r in temperature_rates(docs).collect()
    }
    assert rates["small"]["rate_permille"] == 1000
    assert rates["mid"]["rate_permille"] == 500   # floor(1000*sqrt(10/40))
    assert rates["big"]["rate_permille"] == 333   # floor(1000*sqrt(10/90))
    assert rates["small"]["n_docs"] == 10
    # expected selected volume ~ sqrt-balanced: big keeps ~30 of 90
    # (deterministic md5 draw — just sanity-check the ordering)
    assert (
        rates["small"]["rate_permille"]
        > rates["mid"]["rate_permille"]
        > rates["big"]["rate_permille"]
    )
